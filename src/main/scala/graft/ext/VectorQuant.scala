package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.GraftBridge.CutFrame
import org.apache.spark.sql.functions._

/** Vector compression for ANN serving state — the 100 TB memory bill.
  *
  * A 10⁹-vector corpus at dim 64 float32 is 256 GB of raw vectors; the
  * IVF index ([[EmbeddingSearch.IvfIndex]]) deliberately stores only
  * (id, cell) and reads vectors from the corpus parquet, but a probe
  * still has to FETCH those vectors for the rerank. Product
  * quantization replaces them with m one-byte codes per vector
  * (dim 64, m=8 → 32× smaller rerank state, codebook amortized), so
  * the whole serving path — route, rerank, top-k — runs from the
  * compressed index alone; full vectors are only touched by the
  * optional exact re-rank of the top survivors.
  *
  * Spark shapes, chosen per stage:
  *  - TRAIN: per-subspace Lloyd rounds in ONE DataFrame pass per
  *    iteration — all m subspaces assign and update together, keyed by
  *    (sub, code); sums go through DECIMAL(38,6) (order-invariant →
  *    partition-invariant, the [[EmbeddingSearch.kmeansCentroids]]
  *    discipline). Codebooks are bounded driver state (m·ksub rows —
  *    the BPE merge-table contract); the rounds run on [[Rounds]].
  *  - ENCODE: broadcast the codebook, `min(struct(d2, code))` partial
  *    aggregation — map-side combine, no window sort, never more than
  *    one shuffle of n·m grouped rows.
  *  - DECODE / SERVE: a pure per-row expression over the codebook
  *    embedded as a literal ([[EmbeddingSearch.probeCellsExpr]]
  *    pattern) — zero shuffle, zero join, runs inside the probe
  *    projection.
  *
  * Correctness contract (gate q100): with `iters = 0` and `ksub` ≥ the
  * number of distinct sub-vectors, the codebook IS the distinct
  * sub-vector set, every vector's reconstruction is bit-identical to
  * the original, and the quantized probe ≡ the exact probe (q89's
  * oracle discipline: the oracle is the exact computation). The
  * d2 = |s|² − 2·s·c + |c|² expansion evaluates to exactly 0.0 in IEEE
  * arithmetic when s == c (a − 2a + a), so the degenerate argmin is
  * exact, not approximately exact. RecallSpec pins the lossy
  * operating points: recall@10 with and without an exact rerank, and
  * RQ's reconstruction error against PQ's.
  */
object VectorQuant {

  /** Trained product-quantization codebook.
    *
    * @param m        number of subspaces
    * @param dsub     dimensions per subspace
    * @param codebook (sub, code, centroid array<float>) — m·ksub rows
    */
  final case class PqCodebook(m: Int, dsub: Int, codebook: DataFrame)

  /** IVF index with PQ-coded vectors: the complete serving state.
    * `assignments` carries (id, cell, codes array<int>) — routing AND
    * rerank data in one table; the corpus is not needed at probe time.
    */
  final case class PqIvfIndex(centroids: DataFrame, assignments: DataFrame,
                              book: PqCodebook)

  /** (id, sub, subvec) rows — one per (vector, subspace). `dim` must be
    * divisible by `m`; validated against the first row at plan time is
    * impossible, so the caller contract is documented instead and the
    * slice simply truncates/underfills on violation.
    */
  private def subVectors(df: DataFrame, id: String, vec: String, m: Int,
                         dsub: Int): DataFrame =
    df.select(col(id).as("__id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col(vec), s * dsub + 1, lit(dsub)))).as(Seq("__sub", "__sv")))
      .select(col("__id"), col("__sub"), col("__sv"))

  /** Squared L2 distance via the expanded form — three codegen'd
    * ordered-fold dot products ([[EmbeddingSearch.dot]]); exactly 0.0
    * when the operands are bit-identical (see object doc).
    */
  private def dist2(a: Column, b: Column): Column =
    EmbeddingSearch.dot(a, a) - lit(2.0) * EmbeddingSearch.dot(a, b) +
      EmbeddingSearch.dot(b, b)

  /** Nearest-code assignment per (vector, subspace): broadcast the
    * m·ksub codebook, join on sub, keep `min(struct(d2, code))` — a
    * hash aggregation with map-side partial combine (deterministic
    * tie-break: lowest code), never a window sort.
    * Output: (__id, __sub, __code, __sv).
    */
  private def assignCodes(sv: DataFrame, book: DataFrame): DataFrame =
    sv.join(broadcast(book.select(col("sub").as("__sub"),
        col("code").as("__bc"), col("centroid").as("__bv"))), Seq("__sub"))
      .withColumn("__d2", dist2(col("__sv"), col("__bv")))
      .groupBy(col("__id"), col("__sub"))
      .agg(min(struct(col("__d2"), col("__bc"))).as("__best"),
        first(col("__sv")).as("__sv"))
      .select(col("__id"), col("__sub"),
        col("__best").getField("__bc").as("__code"), col("__sv"))

  /** Train a PQ codebook: deterministic init (per subspace, the first
    * `ksub` DISTINCT sub-vectors ordered by the lowest vector id that
    * carries them), then `iters` Lloyd rounds over all m subspaces in
    * one pass each. `iters = 0` returns the init as-is — the
    * exact-reconstruction degenerate path when ksub covers every
    * distinct sub-vector (gate q100).
    *
    * 100 TB note: training cost is corpus × m × ksub distance kernels
    * per round — run it on a corpus SAMPLE (PQ codebooks converge on
    * thousands of points; pass `corpus.sample(...)`), then [[pqEncode]]
    * the full corpus once. The encode is the only full pass.
    */
  def pqTrain(corpus: DataFrame, id: String, vec: String,
              m: Int, ksub: Int, iters: Int, dim: Int): PqCodebook = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(ksub >= 1 && iters >= 0, s"bad ksub=$ksub / iters=$iters")
    val dsub = dim / m
    val sv = subVectors(corpus, id, vec, m, dsub)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(col("__fid"), col("centroid"))
    val init = sv.groupBy(col("__sub").as("sub"), col("__sv").as("centroid"))
      .agg(min(col("__id")).as("__fid"))
      .withColumn("code", row_number().over(w).cast("int") - 1)
      .filter(col("code") < ksub)
      .select(col("sub"), col("code"), col("centroid"))
    // centroids keep the INPUT element type: float corpora get float
    // codebooks (unchanged), double corpora (the residual-quantization
    // stage-2 path) keep full double precision
    val elemType = sv.schema("__sv").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val book = Rounds.run(CutFrame(init), iters) { (book, _) =>
      // per-(sub, code, dim) decimal means — the kmeansCentroids
      // update, generalized to m subspaces in one aggregation
      EmbeddingSearch.decimalMeans(assignCodes(sv, book), Seq("__sub", "__code"), col("__sv"))
        .select(col("__sub").as("sub"), col("__code").as("code"),
          transform(col("__mean"), x => x.cast(elemType)).as("centroid"))
    }
    // pin the trained book as a LocalRelation: the codebook is bounded
    // m·ksub driver state by contract (collectBook collects it anyway),
    // but as a raw plan every downstream broadcast/collect re-EXECUTES
    // it — with iters = 0 that re-runs the corpus-wide init aggregation
    // once per consumer (encode, residual, probe: ~5 executions per
    // composed RQ gate). One collect here, job-free LocalTableScan
    // everywhere after; rows/schema preserved exactly.
    val pinned = GraftBridge.localFrame(book.df.sparkSession, book.df.schema,
      GraftBridge.collectInternal(book.df))
    book.release()
    PqCodebook(m, dsub, pinned)
  }

  /** Encode every corpus vector to its m-code array: one assignment
    * pass + one (id)-grouped sort-collect. Output: (id, codes
    * array<int>) with codes ordered by subspace.
    */
  def pqEncode(corpus: DataFrame, id: String, vec: String,
               book: PqCodebook): DataFrame =
    assignCodes(subVectors(corpus, id, vec, book.m, book.dsub), book.codebook)
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__sub"), col("__code")))).as("__sc"))
      .select(col("__id").as("id"),
        transform(col("__sc"), s => s.getField("__code")).as("codes"))

  /** Codebook as bounded driver state: [sub][code] → centroid floats.
    * m·ksub rows — the same contract as
    * [[EmbeddingSearch.collectCentroids]] / the BPE merge table.
    */
  def collectBook(book: PqCodebook): Array[Array[Array[Float]]] = {
    val rows = book.codebook.select(col("sub"), col("code"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    (0 until book.m).toArray.map { s =>
      val subRows = rows.filter(_._1 == s)
      require(subRows.nonEmpty, s"codebook has no entries for subspace $s")
      // indexed by ORIGINAL code id — Lloyd rounds can drop empty
      // codes, and a dense re-pack here would silently shift every
      // later code's decode target. Holes decode to an empty slot no
      // encode output can reference.
      val slots = Array.fill(subRows.map(_._2).max + 1)(Array.empty[Float])
      subRows.foreach { case (_, c, v) => slots(c) = v }
      slots
    }
  }

  /** Per-row reconstruction: codes → concatenated codebook centroids,
    * as a pure projection over the embedded codebook literal. The
    * reconstructed vector is array<float> with the exact bits the
    * codebook holds — which, under the degenerate codebook, are the
    * original vector's bits (gate q100's identity).
    */
  def pqDecodeExpr(collected: Array[Array[Array[Float]]], codes: Column): Column = {
    val bookLit = array(collected.map(sub =>
      array(sub.map(cw => typedLit(cw)): _*)): _*)
    flatten(zip_with(bookLit, codes, (sub, code) => element_at(sub, code + 1)))
  }

  /** In-row PQ encode against the collected codebook literal — the
    * zero-shuffle sibling of [[pqEncode]]: per subspace,
    * codes[s] = argmin over the ksub entries of the expanded-form d²,
    * with the identical lowest-code tie-break (`array_min` over
    * (d², code) structs ≡ the join form's `min(struct(d², code))`), so
    * the codes are bit-identical (pinned in VectorQuantSpec). Being a
    * pure projection, this is the encode for STREAMING admission
    * ([[graft.streaming.EmbedStream.admitVectors]]) — the join+agg
    * form's (id, sub)-grouped aggregation would be unbounded stream
    * state — and for batch callers whose codebook is already driver
    * state it removes the encode's shuffle entirely. Cost is
    * m·ksub distance kernels per row, the same arithmetic the join
    * form distributes.
    */
  def pqEncodeExpr(collected: Array[Array[Array[Float]]], vec: Column): Column = {
    require(collected.nonEmpty && collected.head.nonEmpty, "empty codebook")
    val dsub = collected.head.head.length
    array(collected.indices.map { s =>
      val bookLit = typedLit(collected(s))
      val sv = slice(vec, s * dsub + 1, dsub)
      val scored = transform(sequence(lit(0), lit(collected(s).length - 1)),
        c => struct(dist2(sv, element_at(bookLit, c + 1)).as("d"), c.as("c")))
      array_min(scored).getField("c")
    }: _*)
  }

  /** Quantize an IVF index: same centroids, assignments augmented with
    * the PQ codes — (id, cell, codes). This table IS the serving state;
    * at m=8/dim=64 it is ~32× smaller than carrying float vectors.
    */
  def quantizeIndex(index: EmbeddingSearch.IvfIndex, corpus: DataFrame,
                    id: String, vec: String, book: PqCodebook): PqIvfIndex =
    PqIvfIndex(index.centroids,
      index.assignments.join(pqEncode(corpus, id, vec, book), Seq("id")),
      book)

  /** Persist / reload the quantized index as parquet state. */
  def writePqIndex(index: PqIvfIndex, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    index.assignments.write.mode("overwrite").parquet(s"$dir/assignments")
    index.book.codebook.write.mode("overwrite").parquet(s"$dir/codebook")
  }

  def readPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  m: Int, dsub: Int): PqIvfIndex = {
    val cb = spark.read.parquet(s"$dir/codebook")
    PqIvfIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assignments"), PqCodebook(m, dsub, cb))
  }

  /** Probe-only approximate top-k served ENTIRELY from quantized state:
    * route each query to its nprobe nearest centroids
    * ([[EmbeddingSearch.ivfProbe]] shape), then rerank candidates
    * against their RECONSTRUCTED vectors — a per-row decode expression,
    * no corpus join anywhere in the plan. With the degenerate codebook
    * the output is bit-identical to the exact probe (gate q100); at
    * lossy operating points RecallSpec pins its recall@10.
    */
  def ivfProbePq(index: PqIvfIndex,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int, nprobe: Int = 4): DataFrame = {
    val collected = collectBook(index.book)
    val q = queries.select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("__ccos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("__ccos", EmbeddingSearch.cosine(col("__qvec"), col("centroid")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("__qid"), col("__qvec"), col("cell"))
    val cand = index.assignments.withColumnRenamed("id", "__cid")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("__rvec", pqDecodeExpr(collected, col("codes")))
      .withColumn("cos", EmbeddingSearch.cosine(col("__qvec"), col("__rvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("neighbor_id"),
        col("rank"), col("cos"))
  }

  /** Two-stage serving: PQ probe keeps `rerankK` approximate survivors
    * per query, then ONLY those join the full-precision corpus for an
    * exact re-score — the standard ADC-then-rerank pipeline. The
    * full-vector fetch touches k'·|Q| rows instead of every candidate
    * in every probed cell.
    */
  def ivfProbePqRerank(index: PqIvfIndex, corpus: DataFrame,
                       corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       k: Int, rerankK: Int, nprobe: Int = 4): DataFrame = {
    require(rerankK >= k, s"rerankK $rerankK must be >= k $k")
    val survivors = ivfProbePq(index, queries, queryId, queryVec, rerankK, nprobe)
      .select(col(queryId).as("__qid"), col("neighbor_id").as("__cid"))
    val q = queries.select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
    val c = corpus.select(col(corpusId).as("__cid"), col(corpusVec).as("__cvec"))
    val exact = survivors
      .join(c, Seq("__cid"))
      .join(broadcast(q), Seq("__qid"))
      .withColumn("cos", EmbeddingSearch.cosine(col("__qvec"), col("__cvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("neighbor_id"),
        col("rank"), col("cos"))
  }

  /** Corpus-scale hard-negative mining served from QUANTIZED state:
    * [[EmbeddingSearch.hardNegativesIvf]]'s plan shape — probe-cell
    * routing is an IN-ROW expression over the embedded centroid
    * table, candidates come from a shuffle join on cell with NO
    * broadcast of the pairs side, so |Q| can be corpus-sized — but
    * the candidate side is the (id, cell, codes) table with a per-row
    * decode expression instead of a join against the full-precision
    * corpus. At 10⁹+ embeddings that swaps the mining pass's biggest
    * input (4d bytes/vector) for m bytes/vector; the positives
    * exclusion sits below the ranking window exactly like the exact
    * variant. With the degenerate codebook and nprobe = nlist the
    * output is row-identical to [[EmbeddingSearch.hardNegativesIvf]]
    * (gate q106, the q100/q105 discipline); at lossy operating points
    * feed the survivors to a full-precision re-score the
    * [[ivfProbePqRerank]] way if exact margins matter.
    */
  def hardNegativesIvfPq(index: PqIvfIndex,
                         pairs: DataFrame, queryId: String, queryVec: String,
                         positiveId: String, k: Int, nprobe: Int = 4): DataFrame = {
    val collected = collectBook(index.book)
    val cents = index.centroids.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(cents.nonEmpty, "index has no centroids")
    val probes = pairs
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"),
        col(positiveId).as("__pos"))
      .withColumn("__qn", EmbeddingSearch.norm(col("__qvec")))
      .withColumn("cell", explode(
        EmbeddingSearch.probeCellsExpr(cents, col("__qvec"), col("__qn"), nprobe)))
    val cand = index.assignments.withColumnRenamed("id", "__cid")
      .join(probes, Seq("cell"))
      .filter(col("__cid") =!= col("__qid") && col("__cid") =!= col("__pos"))
      .withColumn("__rvec", pqDecodeExpr(collected, col("codes")))
      .withColumn("cos", EmbeddingSearch.dot(col("__qvec"), col("__rvec")) /
        (col("__qn") * EmbeddingSearch.norm(col("__rvec"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("negative_id"),
        col("rank"), col("cos"))
  }

  // ---- residual (two-stage) quantization ---------------------------

  /** Double-codebook twin of [[collectBook]] — stage-2 (residual)
    * codebooks live in doubles (see [[rqResidualExpr]] for why).
    */
  def collectBookD(book: PqCodebook): Array[Array[Array[Double]]] = {
    val rows = book.codebook.select(col("sub"), col("code"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    (0 until book.m).toArray.map { s =>
      val subRows = rows.filter(_._1 == s)
      require(subRows.nonEmpty, s"codebook has no entries for subspace $s")
      val slots = Array.fill(subRows.map(_._2).max + 1)(Array.empty[Double])
      subRows.foreach { case (_, c, v) => slots(c) = v }
      slots
    }
  }

  /** [[pqDecodeExpr]] over a double codebook. */
  def pqDecodeExprD(collected: Array[Array[Array[Double]]], codes: Column): Column = {
    val bookLit = array(collected.map(sub =>
      array(sub.map(cw => typedLit(cw)): _*)): _*)
    flatten(zip_with(bookLit, codes, (sub, code) => element_at(sub, code + 1)))
  }

  /** [[pqEncodeExpr]] over a double codebook / double vector. */
  def pqEncodeExprD(collected: Array[Array[Array[Double]]], vec: Column): Column = {
    require(collected.nonEmpty && collected.head.nonEmpty, "empty codebook")
    val dsub = collected.head.head.length
    array(collected.indices.map { s =>
      val bookLit = typedLit(collected(s))
      val sv = slice(vec, s * dsub + 1, dsub)
      val scored = transform(sequence(lit(0), lit(collected(s).length - 1)),
        c => struct(dist2(sv, element_at(bookLit, c + 1)).as("d"), c.as("c")))
      array_min(scored).getField("c")
    }: _*)
  }

  /** Per-row stage-1 residual in DOUBLE precision:
    * r[i] = double(x[i]) − double(x̂₁[i]), where x̂₁ is the in-row
    * stage-1 reconstruction. Doubles are load-bearing, not a
    * convenience: a float difference x − c is always EXACTLY
    * representable in double, and the later double add c + (x − c)
    * rounds to the true sum — which is x. So a stage-2 codebook that
    * represents the residuals exactly reconstructs the ORIGINAL float
    * bits (gate q187's identity); float residuals would lose that to
    * double rounding both ways. Pure projection — zero shuffle.
    */
  def rqResidualExpr(collected1: Array[Array[Array[Float]]], vec: Column): Column = {
    val codes1 = pqEncodeExpr(collected1, vec)
    zip_with(vec, pqDecodeExpr(collected1, codes1),
      (x, c) => x.cast("double") - c.cast("double"))
  }

  /** Two-stage (residual) quantization state: a coarse stage-1 PQ
    * codebook plus a stage-2 codebook trained on the stage-1
    * residuals. At the same total code budget this refines where
    * plain PQ truncates — the classic RQ/two-level ADC layout.
    * RecallSpec pins that 8 + 8 codes reconstruct with lower error
    * than the 8-code PQ they refine.
    */
  final case class RqBooks(book1: PqCodebook, book2: PqCodebook)

  /** IVF index whose assignments carry BOTH code arrays:
    * (id, cell, codes1, codes2) — the complete two-stage serving
    * state; the corpus is not needed at probe time.
    */
  final case class RqIvfIndex(centroids: DataFrame, assignments: DataFrame,
                              books: RqBooks)

  /** Train the two stages: stage 1 on the vectors, stage 2 on the
    * double-precision residuals (computed in-row against the
    * collected stage-1 codebook — one projection, no shuffle, no
    * second corpus materialization). The q100 degenerate contract
    * composes: with a stage-2 codebook covering every distinct
    * residual sub-vector (iters2 = 0, ksub2 large enough), decode₁ +
    * decode₂ reproduces the input bits exactly even when stage 1 is
    * LOSSY — gate q187 pins that end to end.
    */
  /** Stage-1 residual frame via the BATCH path: join+agg encode
    * (codegen'd hash aggregation, not the interpreted in-row argmin
    * kernel — the expr form costs ~40 ms/row interpreted and is for
    * streaming admission only), then the cheap per-row decode lookup
    * and the exact double subtraction. Output: (id-named-`outId`,
    * `__resid` array<double>).
    */
  private def residualFrame(corpus: DataFrame, id: String, vec: String,
                            book1: PqCodebook, outId: String): DataFrame = {
    val c1 = collectBook(book1)
    val enc1 = pqEncode(corpus, id, vec, book1)
      .select(col("id").as(outId), col("codes"))
    corpus.select(col(id).as(outId), col(vec).as("__v"))
      .join(enc1, Seq(outId))
      .select(col(outId),
        zip_with(col("__v"), pqDecodeExpr(c1, col("codes")),
          (x, c) => x.cast("double") - c.cast("double")).as("__resid"))
  }

  def rqTrain(corpus: DataFrame, id: String, vec: String,
              m: Int, ksub1: Int, iters1: Int,
              ksub2: Int, iters2: Int, dim: Int): RqBooks = {
    val book1 = pqTrain(corpus, id, vec, m, ksub1, iters1, dim)
    // stage-2 training reads the residuals once per init/Lloyd pass —
    // materialize them as a releasable cut instead of recomputing the
    // stage-1 encode every pass
    val cut = GraftBridge.persistCutFrame(
      residualFrame(corpus, id, vec, book1, "__rid"), eager = true)
    // pqTrain pins the trained codebook as a LocalRelation, so book2
    // survives the residual cut's release with no extra handling
    try RqBooks(book1,
      pqTrain(cut.df, "__rid", "__resid", m, ksub2, iters2, dim))
    finally cut.release()
  }

  /** Encode every vector to its two code arrays — both stages run the
    * BATCH join+agg encode (pinned bit-identical to the in-row expr
    * form in VectorQuantSpec); for streaming admission compose
    * [[pqEncodeExpr]] / [[rqResidualExpr]] / [[pqEncodeExprD]]
    * in-row instead.
    */
  def rqEncode(corpus: DataFrame, id: String, vec: String,
               books: RqBooks): DataFrame = {
    // ONE stage-1 encode pass: the old shape planned pqEncode(corpus)
    // twice (once inside residualFrame, once as the codes1 side), so
    // the corpus was sub-vectorized and assigned TWICE. Compute the
    // (id, codes1, residual) frame once, cut it (session-sweep
    // released), and derive both the stage-2 encode input and the
    // codes1 output column from the cut — the stage-2 codes and the
    // final rows are bit-identical (same arithmetic, same joins).
    val c1 = collectBook(books.book1)
    val enc1 = pqEncode(corpus, id, vec, books.book1)
      .select(col("id"), col("codes").as("codes1"))
    val withResid = GraftBridge.persistCut(
      corpus.select(col(id).as("id"), col(vec).as("__v"))
        .join(enc1, Seq("id"))
        .select(col("id"), col("codes1"),
          zip_with(col("__v"), pqDecodeExpr(c1, col("codes1")),
            (x, c) => x.cast("double") - c.cast("double")).as("__resid")))
    val enc2 = pqEncode(withResid, "id", "__resid", books.book2)
      .select(col("id"), col("codes").as("codes2"))
    withResid.select(col("id"), col("codes1")).join(enc2, Seq("id"))
  }

  /** Two-stage reconstruction: x̂[i] = float(double(x̂₁[i]) + r̂[i]).
    * Exact when stage 2 is degenerate (see [[rqResidualExpr]]).
    */
  def rqDecodeExpr(collected1: Array[Array[Array[Float]]],
                   collected2: Array[Array[Array[Double]]],
                   codes1: Column, codes2: Column): Column =
    zip_with(pqDecodeExpr(collected1, codes1), pqDecodeExprD(collected2, codes2),
      (c, r) => (c.cast("double") + r).cast("float"))

  /** Quantize an IVF index with both stages: same centroids,
    * assignments augmented to (id, cell, codes1, codes2).
    */
  def quantizeIndexRq(index: EmbeddingSearch.IvfIndex, corpus: DataFrame,
                      id: String, vec: String, books: RqBooks): RqIvfIndex =
    RqIvfIndex(index.centroids,
      index.assignments.join(rqEncode(corpus, id, vec, books), Seq("id")),
      books)

  /** Probe-only approximate top-k served entirely from two-stage
    * quantized state — [[ivfProbePq]] with the refined decode; no
    * corpus join anywhere in the plan.
    */
  def ivfProbeRq(index: RqIvfIndex,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int, nprobe: Int = 4): DataFrame = {
    val c1 = collectBook(index.books.book1)
    val c2 = collectBookD(index.books.book2)
    val q = queries.select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("__ccos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("__ccos", EmbeddingSearch.cosine(col("__qvec"), col("centroid")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("__qid"), col("__qvec"), col("cell"))
    val cand = index.assignments.withColumnRenamed("id", "__cid")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("__rvec", rqDecodeExpr(c1, c2, col("codes1"), col("codes2")))
      .withColumn("cos", EmbeddingSearch.cosine(col("__qvec"), col("__rvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("neighbor_id"),
        col("rank"), col("cos"))
  }

  // ---- int8 scalar quantization ------------------------------------

  /** Per-dimension affine int8 parameters over the corpus: (pos, lo,
    * scale) with scale = (hi − lo)/255 — exact min/max aggregation, one
    * pass. dim rows of driver state.
    */
  def int8Params(corpus: DataFrame, vec: String): Array[(Double, Double)] =
    corpus.select(posexplode(col(vec)).as(Seq("__pos", "__v")))
      .groupBy(col("__pos"))
      .agg(min(col("__v").cast("double")).as("__lo"),
        max(col("__v").cast("double")).as("__hi"))
      .orderBy(col("__pos"))
      .collect()
      .map { r =>
        val lo = r.getDouble(1); val hi = r.getDouble(2)
        (lo, if (hi > lo) (hi - lo) / 255.0 else 1.0)
      }

  /** codes[i] = round((x[i] − lo[i]) / scale[i]) clamped to [0, 255] —
    * a pure per-row expression over the dim-sized parameter literals.
    * 4× smaller than float32; values already ON the grid round-trip
    * exactly — arbitrary floats do NOT, so the oracle gate (q104)
    * plants a DYADIC grid corpus (v = k/256, per-dim lo 0 and hi
    * 255/256 ⇒ scale exactly 2⁻⁸) where encode→decode is bit-exact
    * and the int8-served probe must equal brute force, the PQ
    * degenerate-codebook (q100) discipline.
    */
  def int8EncodeExpr(params: Array[(Double, Double)], vec: Column): Column = {
    val lo = typedLit(params.map(_._1))
    val sc = typedLit(params.map(_._2))
    zip_with(vec, sequence(lit(0), lit(params.length - 1)), (x, i) =>
      least(greatest(round((x.cast("double") - element_at(lo, i + 1)) /
        element_at(sc, i + 1)).cast("int"), lit(0)), lit(255)))
  }

  /** x̂[i] = lo[i] + codes[i]·scale[i], back to float. */
  def int8DecodeExpr(params: Array[(Double, Double)], codes: Column): Column = {
    val lo = typedLit(params.map(_._1))
    val sc = typedLit(params.map(_._2))
    zip_with(codes, sequence(lit(0), lit(params.length - 1)), (c, i) =>
      (element_at(lo, i + 1) + c.cast("double") * element_at(sc, i + 1))
        .cast("float"))
  }

  // ---- sign random projection over int8 codes ----------------------

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix: entry (j, i)
    * is +1 iff the first hex nibble of md5("seed:i:j") is 0-7. Driver
    * computes it once (outDim×dim ints) and ships it as a literal —
    * and because md5 is md5 everywhere, an external system (or the
    * oracle) reproduces the identical matrix from the seed alone; no
    * matrix file to version or ship.
    */
  def signMatrix(dim: Int, outDim: Int, seed: String): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, dim) { (j, i) =>
      val h = md.digest(s"$seed:$i:$j".getBytes("UTF-8"))
      // first hex char = high nibble of byte 0
      if (((h(0) >> 4) & 0xF) < 8) 1 else -1
    }
  }

  /** Project centered int8 codes through [[signMatrix]]:
    * out[j] = Σ_i (codes[i] − 128) · sign(j, i). All-integer, so the
    * projection is EXACT — order-free, partition-invariant, and
    * oracle-checkable bit for bit, which a float JL projection can
    * never be (distributed float sums round by order). Dimensionality
    * reduction for the compressed ANN path: 4× fewer dimensions before
    * banding/bucketing at the cost of JL distortion, on top of int8's
    * 4× — per-row codegen'd HOF fold, zero shuffle. Distance ranking
    * under the projection approximates centered-code ranking with the
    * usual JL guarantee (unit-measured, not asserted).
    */
  def signProjectExpr(signs: Array[Array[Int]], codes: Column): Column = {
    val s = typedLit(signs.map(_.toSeq).toSeq)
    transform(sequence(lit(0), lit(signs.length - 1)), j =>
      aggregate(
        zip_with(codes, element_at(s, j + 1), (c, sg) =>
          (c.cast("long") - 128L) * sg.cast("long")),
        lit(0L), (acc, x) => acc + x))
  }
}
