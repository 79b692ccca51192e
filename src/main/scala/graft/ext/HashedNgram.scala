package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Hashed bag-of-ngrams linear classifier — the fastText/CCNet-class
  * quality model: a logistic regression over HASHED word n-gram
  * features, the standard recipe for "train a quality classifier on
  * a few labeled documents, score the corpus" where the signal lives
  * in VOCABULARY, not in the engineered surface statistics
  * [[QualityModel]] uses (CCNet trains exactly this shape against
  * Wikipedia; FineWeb-Edu's filter is its descendant).
  *
  * The hashing trick makes the feature space fixed-size with no vocab
  * table: gram → bucket via the PORTABLE 32-bit md5 Horner hash
  * ([[MinHashLsh.portableHash32]] mod D) — no engine-private hash
  * constants, so an external system (or the DuckDB oracle, gate q188)
  * reproduces the features from the text alone. Features are
  * L1-normalized bucket counts x_j = n_j / Σn (the fastText mean).
  *
  * Training is [[Logistic.descend]], the gradient kernel
  * [[QualityTrain]] shares: gradient terms (σ(z)−y)·x_j quantize to
  * DECIMAL(38,6) before exact, order-invariant decimal sums, so the
  * fit is partition-invariant and cross-engine reproducible; fixed
  * `iters`, never a convergence test. The per-(doc, bucket) margin
  * terms w_j·x_j quantize to DECIMAL(38,12) before the per-document
  * sum, in both feature layouts [[fit]] chooses between.
  *
  * Scale shape: the text scan runs ONCE (features persist as the
  * kernel's releasable cut). At the gates' literal-sized D each
  * gradient pass is one global aggregation of a dense x-vector per
  * document; past D = 64 the long format takes over, (doc, bucket, x)
  * rows with one per-doc margin aggregation and one per-weight
  * gradient aggregation per pass. Weights are D+1 doubles of driver
  * state; at D = 2²¹ (fastText's default) they enter the margin as a
  * broadcast TABLE and nothing else changes, where a wide-column
  * design ([[QualityTrain]]'s 5 fixed features) would need a
  * 2-million-column schema.
  */
object HashedNgram {

  /** Long-format hashed features: (doc_id, bucket, x) — word unigrams
    * and adjacent bigrams over the kept-token sequence (the
    * [[Keywords.termFrequency]] grammar: lowercased whitespace
    * tokens matching `^[a-z]{3,}$`), bucket =
    * portableHash32(gram) mod D, x = bucket count / total gram count.
    * Documents with no kept tokens produce no rows (their margin is
    * the intercept alone).
    */
  def features(df: DataFrame, id: Column, text: Column, d: Int): DataFrame = {
    require(d >= 2 && d <= (1 << 21), s"d in [2, 2^21], got $d")
    val bk = bucketStream(df, id, text, d)
    // per-doc total as a WINDOW over the (doc, bucket) counts, not a
    // second groupBy + join: the join formulation duplicated the
    // explode subtree (text tokenized TWICE — the dominant cost at
    // blowup scale) and re-exchanged the counts for the join; this
    // scans once, exchanges twice (gram→(doc,bucket), counts→doc),
    // and leaves the output hash-partitioned by doc_id — exactly what
    // fit's per-iteration doc_id aggregations/joins want. x is an
    // exact integer ratio either way (identical results).
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    bk.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("__c"))
      .select(col("doc_id"), col("bucket"),
        (col("__c").cast("double") /
          sum(col("__c")).over(wDoc).cast("double")).as("x"))
  }

  /** The shared gram→bucket stream: (doc_id, bucket), one row per
    * word unigram/bigram occurrence. Extracted so [[features]] (the
    * long format) and [[fit]]'s dense small-D path hash the exact
    * same gram sequence through the exact same expressions.
    */
  private def bucketStream(df: DataFrame, id: Column, text: Column,
                           d: Int): DataFrame = {
    // materialize the kept-token array in its OWN projection: the
    // filter(split(...), rlike) tree is referenced three times by the
    // gram expression (unigrams + both bigram slices) and higher-order
    // functions are interpreted with no subexpression elimination —
    // inlined, every document was tokenized and regex-screened three
    // times. CollapseProject keeps a multiply-referenced non-cheap
    // alias materialized, so this is one tokenize pass per document.
    val kt = col("__kt")
    val bigrams = zip_with(
      slice(kt, lit(1), greatest(size(kt) - 1, lit(0))),
      slice(kt, lit(2), greatest(size(kt) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    df.select(id.as("doc_id"),
        filter(split(lower(trim(text)), "\\s+"),
          t => t.rlike("^[a-z]{3,}$")).as("__kt"))
      .select(col("doc_id"),
        explode(concat(kt, bigrams)).as("__g"))
      .select(col("doc_id"),
        pmod(MinHashLsh.portableHash32(col("__g")), lit(d.toLong)).as("bucket"))
  }

  /** Fit the D+1 weights by `iters` batch-gradient steps of
    * [[Logistic.descend]]. Returns (bucket, weight) rows: bucket −1 is
    * the intercept, then buckets 0..D−1 (zero-gradient buckets keep
    * weight 0) — exactly what [[score]] consumes.
    *
    * Two bit-identical feature layouts (pinned in HashedNgramSpec): at
    * literal-sized D (≤ 64) the features pivot to ONE dense x-vector
    * per document and each gradient step is a single global
    * aggregation with a row-local sigmoid — no per-iteration join, no
    * per-doc re-aggregation (guide §2.4: the long format re-scans a
    * ~D·N-row cut every step). Past 64 buckets dense rows and the
    * D-wide aggregate stop fitting codegen, and the long format
    * ([[fitLong]]) takes over. Equality of the two is exact, not
    * approximate: the margin terms quantize to DECIMAL(38,12) and
    * gradient terms to DECIMAL(38,6) before order-invariant exact
    * decimal sums, and the dense path's extra x=0 terms add exact
    * decimal zeros.
    */
  def fit(df: DataFrame, id: Column, text: Column, label: Column,
          d: Int = 16, iters: Int = 2, lr: Double = 0.5): Seq[(Long, Double)] = {
    require(d >= 2 && d <= (1 << 21), s"d in [2, 2^21], got $d")
    if (d <= 64) fitDense(df, id, text, label, d, iters, lr)
    else fitLong(df, id, text, label, d, iters, lr)
  }

  /** Dense small-D layout: one (y, x[0..D)) cut, one aggregation per
    * iteration. Bit-identical to [[fitLong]].
    */
  private def fitDense(df: DataFrame, id: Column, text: Column, label: Column,
                       d: Int, iters: Int, lr: Double): Seq[(Long, Double)] = {
    val dfS = GraftBridge.spreadForMapWork(df.toDF(), id)
    // dense per-doc features in ONE aggregation from the gram stream
    // (the long path pays a second exchange + window for the per-doc
    // total): counts are exact longs, x_j = c_j / Σc is the same
    // long→double division [[features]] performs, and absent buckets
    // get x = 0.0/Σc = 0.0 — margin/gradient terms over them quantize
    // to exact decimal zeros, leaving every sum value-identical to
    // the sparse long format.
    val cnts = (0 until d).map(j =>
      sum(when(col("bucket") === j.toLong, 1L).otherwise(0L)).as(s"__c$j"))
    val dense = bucketStream(dfS, id, text, d)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"), cnts: _*)
      .select(col("doc_id"), array((0 until d).map(j =>
        col(s"__c$j").cast("double") / col("__n").cast("double")): _*).as("__xs"))
    // labels join once, up front — docs with no kept tokens carry a
    // null vector (margin = intercept alone, gradient terms 0)
    val train = dfS.select(id.as("doc_id"), label.cast("double").as(Logistic.Label))
      .join(dense, Seq("doc_id"), "left")
      .select(col(Logistic.Label), col("__xs"))
    val x = lit(1.0) +: (1 to d).map(j => coalesce(element_at(col("__xs"), j), lit(0.0)))
    table(Logistic.descend(Seq(train), d + 1, iters, lr) { (cuts, w) =>
      // margin: the same w_j·x_j terms the long path sums per doc.
      // Quantizing double→(20,12) rounds HALF_UP to scale 12 exactly
      // as the long path's (38,12) cast does — precision only bounds
      // magnitude, and |x·w| ≤ lr·iters ≪ 10^8 always fits. The
      // partial sums re-narrow to (20,12) each add: without that the
      // chained adds' result type outgrows precision 38 and Spark's
      // adjustPrecisionScale silently shaves SCALE digits off the
      // partial sums, breaking bit-identity with the long path's
      // aggregate SUM. Each (20,12)+(20,12) add computes exactly in
      // (21,12) before the value-preserving recast, so every step is
      // exact decimal arithmetic.
      val z = (1 to d).map(j => (x(j) * lit(w(j))).cast("decimal(20,12)"))
        .reduce((a, b) => (a + b).cast("decimal(20,12)"))
      Logistic.Pass(cuts.head.withColumn(Logistic.P, Logistic.sigmoid(lit(w(0)) +
        coalesce(z.cast("double"), lit(0.0)))), x)
    })
  }

  /** Long-format layout: the (doc, bucket, x) features and the labels
    * are two cuts, both hash-partitioned by doc_id, and each pass is
    * [[predict]]'s per-doc margin plus one per-weight gradient
    * aggregation. [[fit]] dispatches here for D > 64; callable so the
    * spec pins dense ≡ long bit for bit.
    */
  private[ext] def fitLong(df: DataFrame, id: Column, text: Column, label: Column,
          d: Int = 16, iters: Int = 2, lr: Double = 0.5): Seq[(Long, Double)] = {
    // spread the labeled frame before the gram explode (single-file
    // local scans serialize the md5-hash map stage onto one core —
    // no-op on an already-parallel input); downstream sums are all
    // decimal-grid / exact-integer, so partitioning cannot move bits
    val dfS = GraftBridge.spreadForMapWork(df.toDF(), id)
    // both cuts come out hash-partitioned by doc_id (features
    // naturally, labels via the explicit repartition), and the kernel
    // keeps that partitioning on its cuts: where the plan reports it
    // (an AQE-coalesced small cut does not), each pass's per-doc
    // margin and joins plan no new corpus-proportional Exchange
    val train = Seq(features(dfS, id, text, d),
      dfS.select(id.as("doc_id"), label.cast("double").as(Logistic.Label))
        .repartition(col("doc_id")))
    table(Logistic.descend(train, d + 1, iters, lr) { (cuts, w) =>
      val Seq(feats, labels) = cuts
      val pd = predict(feats, labels, table(w))
      // weight 0 (the intercept) takes one row per document with
      // feature 1.0; weight bucket+1 one row per (doc, bucket). Both
      // branches recompute pd from the cuts instead of cutting it,
      // which would cost a job per pass. The shuffle-hash build is the
      // per-doc side: a sort-merge join would re-SORT the
      // corpus-proportional feature cut every pass.
      val y = col(Logistic.Label)
      val p = col(Logistic.P)
      val rows = pd.select(lit(0L).as("__j"), y, p, lit(1.0).as("__x"))
        .unionByName(pd.hint("shuffle_hash").join(feats, "doc_id")
          .select((col("bucket") + 1L).as("__j"), y, p, col("x").as("__x")))
      Logistic.Pass(rows, Seq(col("__x")), Some(col("__j")))
    })
  }

  /** The kernel's weight vector (intercept first) as (bucket, weight)
    * rows, intercept at bucket −1. */
  private def table(w: Seq[Double]): Seq[(Long, Double)] =
    w.zipWithIndex.map { case (v, j) => (j - 1L, v) }

  /** `docs` (doc_id plus any columns) with `__p` = σ(w0 + Σ w_j·x_j):
    * the long `feats` join the broadcast weight table, the margin
    * terms quantize to DECIMAL(38,12) and sum per document; a document
    * with no feature rows scores the intercept alone. The one margin
    * of the long-format trainer and of [[score]].
    */
  private def predict(feats: DataFrame, docs: DataFrame,
                      weights: Seq[(Long, Double)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w0 = weights.collectFirst { case (-1L, v) => v }.get
    val zs = feats.join(broadcast(weights.filter(_._1 >= 0L).toDF("bucket", "__wt")), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum((col("x") * col("__wt")).cast("decimal(38,12)")).as("__zs"))
    docs.join(zs, Seq("doc_id"), "left")
      .withColumn(Logistic.P, Logistic.sigmoid(lit(w0) +
        coalesce(col("__zs").cast("double"), lit(0.0))))
      .drop("__zs")
  }

  /** Persist / reload fitted weights as parquet model state. Longs
    * and doubles round-trip parquet exactly, so scoring through the
    * reloaded state is bit-identical (pinned in HashedNgramSpec).
    */
  def writeWeights(weights: Seq[(Long, Double)], spark: org.apache.spark.sql.SparkSession,
                   dir: String): Unit = {
    import spark.implicits._
    weights.toDF("bucket", "weight").write.mode("overwrite").parquet(dir)
  }

  def readWeights(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Seq[(Long, Double)] = {
    import spark.implicits._
    spark.read.parquet(dir).select($"bucket", $"weight")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
  }

  /** Score documents with fitted weights: (doc_id, score) where
    * score = σ(w0 + Σ w_j·x_j) through the identical expression tree
    * the trainer used — training-time predictions and serving-time
    * scores are the same IEEE arithmetic.
    */
  def score(df: DataFrame, id: Column, text: Column,
            weights: Seq[(Long, Double)]): DataFrame = {
    require(weights.exists(_._1 == -1L),
      "weights must carry the intercept row (bucket = -1)")
    // The hash modulus D is structural model state, not a row count
    // (ADVICE r12): fit emits dense 0..D-1 rows, so D = max bucket + 1
    // — and any GAP in the bucket ids (zero-weight rows dropped in
    // persistence, or a sparse cut at the documented D = 2^21 scale)
    // would silently change the modulus and mis-bucket every gram.
    // Fail loudly instead of inferring from a corrupted table.
    val buckets = weights.map(_._1).filter(_ >= 0L).sorted
    require(buckets.size >= 2, s"weights must carry >= 2 bucket rows, got ${buckets.size}")
    val d = (buckets.last + 1).toInt
    require(buckets == (0L until d.toLong),
      s"weights must carry a DENSE bucket range 0..${d - 1}: " +
        s"got ${buckets.size} rows (gaps change the hash modulus; " +
        "persist zero-weight rows rather than dropping them)")
    predict(features(df, id, text, d), df.select(id.as("doc_id")), weights)
      .withColumnRenamed(Logistic.P, "score")
  }
}
