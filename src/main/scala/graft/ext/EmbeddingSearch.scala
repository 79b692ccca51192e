package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.GraftBridge.CutFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) query
  * set against the corpus, codegen'd dot product via zip_with/aggregate
  * (a strict left fold — deterministic IEEE summation order, which is
  * what makes the DuckDB oracle bit-exact), per-query top-k via
  * row_number. Cost: |Q|·|C| — right for reranking and small query
  * batches.
  *
  * `lshTopK` is the scale path: b-bit signed-random-projection (SimHash
  * for vectors) bucketing. Hyperplanes are pseudo-random but
  * DETERMINISTIC (seeded by xxhash64 of (plane, dim)), so signatures are
  * reproducible across runs and clusters. Candidates = same bucket;
  * exact cosine rerank inside the bucket. Linear shuffle, tunable
  * recall via bits/bands.
  */
object EmbeddingSearch {

  /** Ordered left-fold dot product over float vectors — the native
    * codegen'd expression (graft.functions.VecDot); bit-identical to
    * the aggregate(zip_with(...)) formulation and to a sequential
    * oracle, without the interpreted higher-order-function overhead.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Chunk→document embedding pooling: the element-wise mean of the
    * member vectors per group — how a pipeline that embeds CHUNKS
    * (the only thing an encoder's context window fits) derives the
    * document-level vector its dedup/retrieval state is keyed on.
    * Same determinism discipline as [[kmeansCentroids]]'s centroid
    * step: per-dimension sums go through DECIMAL(38,6) so the plan
    * may re-partition freely, then ONE IEEE division — mirrorable in
    * ANSI SQL (gate q149). One shuffle, keyed (group, dim),
    * map-side-combined; output (group_id, pooled array<double>).
    */
  def meanPool(df: DataFrame, group: Column, vec: Column): DataFrame =
    decimalMeans(df.select(group.as("group_id"), vec.as("__vec")),
        Seq("group_id"), col("__vec"))
      .select(col("group_id"), col("__mean").as("pooled"))

  /** Per-group, per-dimension mean of the array column `vec` — the
    * centroid update of the Lloyd loops ([[kmeansCentroids]],
    * [[VectorQuant.pqTrain]]) and [[meanPool]]. Sums go through
    * DECIMAL(38,6), so the plan may re-partition freely, then ONE IEEE
    * division per dimension. One shuffle keyed (keys, dim),
    * map-side-combined, then one keyed by `keys` to assemble the array.
    * Output: `keys`, `__n` (member rows), `__mean` array<double>.
    */
  private[ext] def decimalMeans(df: DataFrame, keys: Seq[String], vec: Column): DataFrame = {
    val k = keys.map(col)
    df.select(k :+ posexplode(vec).as(Seq("__pos", "__v")): _*)
      .groupBy(k :+ col("__pos"): _*)
      .agg(sum(col("__v").cast("double").cast("decimal(38,6)")).as("__s"),
        count(lit(1)).as("__n"))
      .select(k ++ Seq(col("__pos"),
        (col("__s").cast("double") / col("__n")).as("__m"), col("__n")): _*)
      .groupBy(k: _*)
      .agg(max(col("__n")).as("__n"),
        array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__pm"))
      .select(k ++ Seq(col("__n"),
        transform(col("__pm"), s => s.getField("__m")).as("__mean")): _*)
  }

  /** Unit-normalize a vector (float or double elements): the norm is
    * a sequential left fold of squares — the same evaluation order as
    * DuckDB's `list_inner_product`, so the result is bit-exact
    * cross-engine — and an all-zero vector passes through unchanged
    * rather than dividing by zero. The HOFs are interpreted;
    * acceptable here because they run once per pooled DOC row over
    * dim elements, the same trade [[kmeansCentroids]] makes for its
    * k centroid rows (the per-chunk hot path stays on [[dot]]).
    */
  def l2Normalized(vec: Column): Column = {
    val n = sqrt(aggregate(vec, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    when(n === 0.0, vec).otherwise(transform(vec, x => x.cast("double") / n))
  }

  /** Rename the id/vec pair to internal aliases BEFORE any join — the
    * corpus and query sides may share column names (both "embedding"),
    * and resolving by bare name across a crossJoin would be ambiguous
    * or silently mis-bind.
    */
  private def aliased(df: DataFrame, id: String, vec: String,
                      idAs: String, vecAs: String): DataFrame =
    df.select(col(id).as(idAs), col(vec).as(vecAs))

  private def topKOut(cand: DataFrame, queryId: String, k: Int): DataFrame = {
    val w = Window.partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("neighbor_id"),
        col("rank"), col("cos"))
  }

  /** Exact cosine top-k neighbors for each query vector.
    *
    * @param corpus  (id, vec) — the full corpus
    * @param queries (qid, qvec) — small; broadcast
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, excludeSelf: Boolean = true): DataFrame = {
    // norms precomputed per vector BEFORE the product join — one norm
    // per row instead of one per pair, bit-identical (pure function)
    val c = aliased(corpus, corpusId, corpusVec, "__cid", "__cvec")
      .withColumn("__cn", norm(col("__cvec")))
    val q = aliased(queries, queryId, queryVec, "__qid", "__qvec")
      .withColumn("__qn", norm(col("__qvec")))
    val joined = c.crossJoin(broadcast(q))
      .withColumn("cos", dot(col("__qvec"), col("__cvec")) / (col("__qn") * col("__cn")))
    val filtered = if (excludeSelf) joined.filter(col("__qid") =!= col("__cid")) else joined
    topKOut(filtered, queryId, k)
  }

  /** Margin-based bitext scoring over a PRECOMPUTED candidate pair
    * frame `(src_id, tgt_id, cos)` — the ratio-margin criterion of
    * Artetxe & Schwenk 2019 ("Margin-based Parallel Corpus Mining with
    * Multilingual Sentence Embeddings"): keep (x, y) iff y is x's best
    * target, x is y's best source, and
    *
    *   margin = cos(x,y) / ((avgK(x) + avgK(y)) / 2) ≥ minMargin
    *
    * where avgK is the mean cosine of the side's top-k candidates —
    * the normalization that kills hub vectors (globally-similar
    * sentences that would flood a raw-cosine threshold).
    *
    * Exactness: the top-k means route per-pair cosines through
    * DECIMAL(38,6) at ×10⁶ (the meanPool/q111 discipline — decimal
    * addition is associative, so the plan may re-partition freely),
    * then exactly two IEEE divisions and one IEEE ratio reproduce the
    * margin bit-for-bit in any engine. Ranks tiebreak on id.
    *
    * Scale shape: this face never builds pairs — feed it brute-force
    * pairs ([[mineBitext]]) at verification scale and IVF-probed
    * candidates ([[searchIvf]]-style) at corpus scale; the scorer is
    * two window ranks + two decimal aggregates + three slim joins,
    * all keyed by pair endpoints. avgK is then over the PROBED
    * candidate set, the standard approximation in production miners.
    *
    * Short-candidate discipline: each endpoint OF A SURVIVING
    * mutual-best pair must carry ≥ k candidates (raises otherwise — a
    * silent short mean would inflate exactly that pair's margin);
    * endpoints that never enter a mutual-best pair are simply dropped
    * with their pairs. With precomputed IVF candidates this is what a
    * straggler wants: one under-probed target somewhere in the frame
    * must not abort the whole mining job unless a mined pair actually
    * depends on its mean (ADVICE r14).
    */
  def bitextMarginFromPairs(pairs: DataFrame, k: Int,
                            minMargin: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val wS = Window.partitionBy("__sid").orderBy(col("cos").desc, col("__tid"))
    val wT = Window.partitionBy("__tid").orderBy(col("cos").desc, col("__sid"))
    val ranked = GraftBridge.persistCut(pairs
      .select(col("src_id").as("__sid"), col("tgt_id").as("__tid"), col("cos"))
      .withColumn("__rs", row_number().over(wS))
      .withColumn("__rt", row_number().over(wT)))
    // no raise here: the guard applies AFTER the mutual-best join, so
    // only endpoints a surviving pair depends on can abort the job
    def avgK(key: String, rank: String, as: String, n: String): DataFrame =
      ranked.filter(col(rank) <= k).groupBy(col(key))
        .agg(((sum((col("cos") * 1e6).cast("decimal(38,6)")).cast("double") /
          k) / 1e6).as(as), count(lit(1)).as(n))
    def guarded(as: String, n: String): Column =
      when(col(n) === k, col(as))
        .otherwise(raise_error(lit(
          s"bitextMargin: a mined pair's side has fewer than k=$k candidates")))
    val bestS = ranked.filter(col("__rs") === 1)
    val bestT = ranked.filter(col("__rt") === 1)
      .select(col("__tid"), col("__sid").as("__back"))
    bestS
      .join(bestT, "__tid")
      .filter(col("__back") === col("__sid"))
      .join(avgK("__sid", "__rs", "__avgs", "__ns"), "__sid")
      .join(avgK("__tid", "__rt", "__avgt", "__nt"), "__tid")
      .withColumn("margin",
        col("cos") / ((guarded("__avgs", "__ns") + guarded("__avgt", "__nt")) / 2.0))
      .filter(col("margin") >= minMargin)
      .select(col("__sid").as("src_id"), col("__tid").as("tgt_id"),
        col("cos"), col("margin"))
  }

  /** Brute-force margin-based bitext mining: all (src × tgt) cosines
    * (norms precomputed per vector, fold-ordered dot — the
    * [[bruteForceTopK]] discipline), scored by
    * [[bitextMarginFromPairs]]. The exact face for verification-scale
    * probe sets; at corpus scale produce candidates with the IVF index
    * and feed the scorer directly.
    */
  def mineBitext(src: DataFrame, srcId: String, srcVec: String,
                 tgt: DataFrame, tgtId: String, tgtVec: String,
                 k: Int, minMargin: Double): DataFrame = {
    val s = aliased(src, srcId, srcVec, "__a", "__avec")
      .withColumn("__an", norm(col("__avec")))
    val t = aliased(tgt, tgtId, tgtVec, "__b", "__bvec")
      .withColumn("__bn", norm(col("__bvec")))
    val pairs = t.crossJoin(broadcast(s))
      .select(col("__a").as("src_id"), col("__b").as("tgt_id"),
        (dot(col("__avec"), col("__bvec")) /
          (col("__an") * col("__bn"))).as("cos"))
    bitextMarginFromPairs(pairs, k, minMargin)
  }

  /** b-bit signed-projection signature of a vector (bit i = sign of the
    * dot product with pseudo-random plane i, components derived from
    * xxhash64(plane, dim)), as a long. Native codegen'd expression
    * (graft.functions.SrpSignature) — one fused loop; the previous
    * aggregate(zip_with(...)) formulation did bits×dim work through
    * interpreted HOF dispatch (same fix as VecDot/TokenSetCount).
    */
  def srpSignature(vec: Column, bits: Int): Column =
    graft.functions.SrpSignature(vec, bits)

  /** IVF (inverted-file) approximate top-k: partition the corpus into
    * `nlist` cells around coarse centroids, probe the `nprobe` cells
    * closest to each query, exact-rerank inside the probed cells.
    *
    * Centroids here are the `nlist` lowest-id corpus vectors —
    * deterministic and adequate for a randomized corpus; a production
    * build swaps in sampled k-means centroids without touching the
    * plan shape. Cost: one corpus×nlist assignment pass (linear, nlist
    * constant, broadcast centroids) + rerank over probed cells only.
    * With nprobe == nlist this degrades gracefully to exact brute
    * force (pinned by the spec).
    */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = aliased(corpus, corpusId, corpusVec, "__cid", "__cvec")
    val q = aliased(queries, queryId, queryVec, "__qid", "__qvec")
    val cents = c.orderBy(col("__cid")).limit(nlist)
      .select(col("__cid").as("__ctr_id"), col("__cvec").as("__ctr_vec"))

    // cell assignment: nearest centroid per corpus vector
    val wAssign = Window.partitionBy("__cid")
      .orderBy(col("__ccos").desc, col("__ctr_id").asc)
    val assigned = c.crossJoin(broadcast(cents))
      .withColumn("__ccos", cosine(col("__cvec"), col("__ctr_vec")))
      .withColumn("__rn", row_number().over(wAssign))
      .filter(col("__rn") === 1)
      .select(col("__cid"), col("__cvec"), col("__ctr_id"))

    // probe list: nprobe nearest centroids per query
    val wProbe = Window.partitionBy("__qid")
      .orderBy(col("__ccos").desc, col("__ctr_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("__ccos", cosine(col("__qvec"), col("__ctr_vec")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("__qid"), col("__qvec"), col("__ctr_id"))

    // exact rerank within probed cells
    val cand = assigned.join(broadcast(probes), Seq("__ctr_id"))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("cos", cosine(col("__qvec"), col("__cvec")))
    topKOut(cand, queryId, k)
  }

  /** Persistent IVF index state: `centroids` (cell, centroid
    * array<float>) and `assignments` (id, cell) — the cell structure
    * WITHOUT the vectors (the corpus parquet already stores those;
    * duplicating them in the index would double at-rest footprint for
    * nothing). The [[MinHashLsh.portableSignatures]] pattern applied to
    * embeddings: build once, persist as parquet, then PROBE-ONLY query
    * batches — daily ingest never re-clusters the corpus.
    */
  final case class IvfIndex(centroids: DataFrame, assignments: DataFrame)

  /** Nearest-centroid cell per corpus vector (cosine, centroid-id
    * tie-break — the ivfTopK assignment rule).
    */
  private def assignCells(c: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("__cid").orderBy(col("__ccos").desc, col("cell").asc)
    c.crossJoin(broadcast(cents))
      .withColumn("__ccos", cosine(col("__cvec"), col("centroid")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__cid").as("id"), col("cell"))
  }

  /** Build the index: `refineIters` = 0 uses the `nlist` lowest-id
    * corpus vectors as centroids (bit-identical cells to [[ivfTopK]],
    * pinned by spec); ≥ 1 refines them with deterministic Lloyd rounds
    * ([[kmeansCentroids]]) for better-balanced cells. One corpus
    * assignment pass either way.
    */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String,
                    nlist: Int, refineIters: Int = 0): IvfIndex = {
    val c = aliased(corpus, id, vec, "__cid", "__cvec")
    val cents =
      if (refineIters == 0)
        c.orderBy(col("__cid")).limit(nlist)
          .select(col("__cid").as("cell"), col("__cvec").as("centroid"))
      else
        kmeansCentroids(corpus, id, vec, nlist, refineIters)
          .select(col("cell"),
            transform(col("centroid"), x => x.cast("float")).as("centroid"))
    // centroids are nlist rows of bounded driver state by contract
    // (collectCentroids collects them anyway); as a raw plan every
    // broadcast — the build's own assignCells, then EVERY probe batch —
    // re-executes the corpus orderBy-limit (or the Lloyd rounds' last
    // aggregation). Pin once; downstream broadcasts become job-free
    // LocalTableScans with identical rows.
    val pinned = GraftBridge.pinLocalRelation(cents)
    IvfIndex(pinned, assignCells(c, pinned))
  }

  /** Persist / reload the index as parquet state. */
  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    index.assignments.write.mode("overwrite").parquet(s"$dir/assignments")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assignments"))

  /** Fold a new document batch into the index WITHOUT re-clustering:
    * assign new vectors to the stored centroids, union the assignment
    * table. Cells drift from optimal as the corpus shifts — rebuild
    * with refineIters ≥ 1 when probe recall degrades (measured via
    * RecallCheck), exactly the rebuild cadence a production IVF runs.
    */
  def extendIvfIndex(index: IvfIndex, newDocs: DataFrame,
                     id: String, vec: String): IvfIndex = {
    val c = aliased(newDocs, id, vec, "__cid", "__cvec")
    IvfIndex(index.centroids,
      index.assignments.unionAll(assignCells(c, index.centroids)))
  }

  /** Rebuild-on-advice: re-refine an index's CURRENT centroids with
    * `refineIters` deterministic Lloyd rounds over the (current) corpus
    * and remap every assignment — the repair [[ivfRebuildAdvice]]'s
    * `rebuild` flag calls for, closing the accretion loop
    * ([[extendIvfIndex]] appends assignments to a frozen cell layout;
    * drift or mass deletion eventually unbalances it).
    *
    * Seeding from the current centroids (not from scratch) keeps the
    * rebuild warm — cells move toward their member means, so a mild
    * drift costs one or two rounds, and stable regions of the corpus
    * keep (numerically nudged) versions of their cells. Cells that end
    * a Lloyd round with no members DROP OUT (they were costing every
    * probe a centroid product for nothing — the advice's n_empty
    * signal); cell ids of surviving cells are retained, so persisted
    * per-cell telemetry remains comparable across the rebuild. The
    * probe CONTRACT is preserved — same centroids/assignments schema,
    * [[ivfProbe]]/[[hardNegativesIvf]] run unchanged — but routing
    * changes by design: that is what a rebuild is for (RecallCheck
    * measures the recovery on a drifted fixture).
    */
  def rebuildIvfIndex(index: IvfIndex, corpus: DataFrame, id: String, vec: String,
                      refineIters: Int = 2): IvfIndex = {
    require(refineIters >= 1, s"refineIters must be >= 1, got $refineIters")
    val c = aliased(corpus, id, vec, "__cid", "__cvec")
    val init = index.centroids.select(col("cell").as("__ctr_id"),
      transform(col("centroid"), x => x.cast("float")).as("__ctr_vec"))
    // pinned for the same reason as buildIvfIndex: the raw lloydRefine
    // plan would re-run its final corpus-wide round once per consumer
    val refined = GraftBridge.pinLocalRelation(
      lloydRefine(c, init, refineIters)
        .select(col("cell"),
          transform(col("centroid"), x => x.cast("float")).as("centroid")))
    IvfIndex(refined, assignCells(c, refined))
  }

  /** Probe-only approximate top-k against a prebuilt index: route each
    * query to its `nprobe` nearest stored centroids, exact-rerank the
    * corpus vectors assigned to those cells. NO corpus-wide assignment
    * pass — the per-batch cost is |Q|·nlist centroid products plus the
    * rerank inside probed cells, vs [[ivfTopK]]'s additional
    * corpus×nlist assignment every call.
    *
    * `corpus` supplies the vectors for the rerank (joined by id to the
    * stored assignments); with the same corpus and centroid rule this
    * returns bit-identical rows to ivfTopK (pinned by spec).
    */
  def ivfProbe(index: IvfIndex, corpus: DataFrame, corpusId: String, corpusVec: String,
               queries: DataFrame, queryId: String, queryVec: String,
               k: Int, nprobe: Int = 4): DataFrame = {
    val c = aliased(corpus, corpusId, corpusVec, "__cid", "__cvec")
    val q = aliased(queries, queryId, queryVec, "__qid", "__qvec")
    val wProbe = Window.partitionBy("__qid")
      .orderBy(col("__ccos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("__ccos", cosine(col("__qvec"), col("centroid")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("__qid"), col("__qvec"), col("cell"))
    val assigned = c.join(index.assignments.withColumnRenamed("id", "__cid"), "__cid")
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("cos", cosine(col("__qvec"), col("__cvec")))
    topKOut(cand, queryId, k)
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * (query, positive) pair, the top-k corpus vectors by cosine that
    * are NEITHER the query itself NOR its labeled positive — the
    * highest-scoring wrong answers, which is exactly what contrastive
    * losses need as negatives (random negatives are too easy; the
    * near-misses carry the gradient).
    *
    * Composition of the [[bruteForceTopK]] kernel with the exclusion
    * pushed BELOW the ranking window (excluding after rank ≤ k would
    * under-fill): same broadcast-queries shape, |Q|·|C| scored pairs,
    * bit-exact ordered-fold cosine so the operator is oracle-checkable.
    * For corpus-scale mining swap the candidate source to [[ivfProbe]]
    * cells and rerank — the plan shape is unchanged.
    *
    * @param pairs (qid, qvec, pos_id) — labeled query/positive pairs
    */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
                    pairs: DataFrame, queryId: String, queryVec: String,
                    positiveId: String, k: Int): DataFrame = {
    val c = aliased(corpus, corpusId, corpusVec, "__cid", "__cvec")
      .withColumn("__cn", norm(col("__cvec")))
    val q = pairs.select(col(queryId).as("__qid"), col(queryVec).as("__qvec"),
        col(positiveId).as("__pos"))
      .withColumn("__qn", norm(col("__qvec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("__cid") =!= col("__qid") && col("__cid") =!= col("__pos"))
      .withColumn("cos", dot(col("__qvec"), col("__cvec")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("negative_id"),
        col("rank"), col("cos"))
  }

  /** [[hardNegatives]] with NEAR-DUP LEAKAGE screening: a mined
    * negative that is a near-duplicate of the query (or of its
    * labeled positive) is not a hard negative — it is an UNLABELED
    * POSITIVE, and contrastive losses trained against it actively
    * push the representation the wrong way. The standard mining loop
    * (top-k wrong answers by cosine) surfaces exactly these first,
    * because near-duplicates score highest of all wrong answers —
    * the miner and the failure mode are the same ranking.
    *
    * `labels` is a (id, component) near-dup labeling — the
    * [[DedupClusters.connectedComponents]] output, or any membership
    * table with the same shape; ids absent from it are their own
    * singleton component (left join + coalesce to the id, consistent
    * with the min-member component convention). The exclusion sits
    * BELOW the ranking window (the [[hardNegatives]] under-fill
    * argument), so every query still gets k true negatives.
    *
    * Scale shape: one corpus-sized equi-join to attach component
    * labels, then the broadcast-pairs scoring kernel unchanged —
    * the screen adds a digest-table join, never a second corpus pass.
    * The membership table is deduplicated on (id, component) before
    * any join: a labels table carrying repeated rows per id (e.g. one
    * row per evidence pair) would otherwise fan out the corpus/query
    * joins, and each duplicated candidate row would take its own
    * row_number rank — repeated negative_ids crowding out true
    * negatives from the top-k.
    */
  def leakageSafeHardNegatives(corpus: DataFrame, corpusId: String,
                               corpusVec: String, pairs: DataFrame,
                               queryId: String, queryVec: String,
                               positiveId: String, labels: DataFrame,
                               labelId: String, labelComp: String,
                               k: Int): DataFrame = {
    val lab = labels.select(col(labelId).as("__lid"),
      col(labelComp).as("__lcomp")).distinct()
    val c = aliased(corpus, corpusId, corpusVec, "__cid", "__cvec")
      .withColumn("__cn", norm(col("__cvec")))
      .join(lab.select(col("__lid").as("__cid"), col("__lcomp").as("__ccomp")),
        Seq("__cid"), "left")
      .withColumn("__ccomp", coalesce(col("__ccomp"), col("__cid")))
    val q = pairs.select(col(queryId).as("__qid"), col(queryVec).as("__qvec"),
        col(positiveId).as("__pos"))
      .withColumn("__qn", norm(col("__qvec")))
      .join(lab.select(col("__lid").as("__qid"), col("__lcomp").as("__qcomp")),
        Seq("__qid"), "left")
      .withColumn("__qcomp", coalesce(col("__qcomp"), col("__qid")))
      .join(lab.select(col("__lid").as("__pos"), col("__lcomp").as("__pcomp")),
        Seq("__pos"), "left")
      .withColumn("__pcomp", coalesce(col("__pcomp"), col("__pos")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("__cid") =!= col("__qid") && col("__cid") =!= col("__pos") &&
        col("__ccomp") =!= col("__qcomp") && col("__ccomp") =!= col("__pcomp"))
      .withColumn("cos",
        dot(col("__qvec"), col("__cvec")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("negative_id"),
        col("rank"), col("cos"))
  }

  /** Cell-occupancy profile of an IVF index: one row per CENTROID cell
    * — `(cell, n_members)` — including empty cells (a cell with no
    * members still costs every query a centroid product and signals
    * drift just as loudly as a hot one). One grouped count over the
    * assignment table joined to the centroid list; |nlist| rows out.
    */
  def ivfCellProfile(index: IvfIndex): DataFrame = {
    val counts = index.assignments.groupBy("cell").agg(count(lit(1)).as("__n"))
    index.centroids.select(col("cell"))
      .join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("__n"), lit(0L)).as("n_members"))
  }

  /** Maintenance telemetry for an accreting index ([[extendIvfIndex]]
    * appends assignments but nothing watches balance): one summary row
    * — `(n_cells, n_empty, n_vectors, max_cell, mean_cell, skew,
    * rebuild)` — where `skew` = max cell size / mean cell size and
    * `rebuild` fires when skew exceeds `maxSkew` or any cell is
    * empty-while-others-overflow. A firing row is the signal to
    * rebuild with `refineIters >= 1` (Lloyd-refined centroids) —
    * probe cost is proportional to the cells actually probed, so a
    * cell holding `skew`× the mean makes every query that probes it
    * pay `skew`× the intended rerank, and empty cells make nprobe
    * smaller than the caller asked. The [[graft.ops.Expectations]]
    * profile→decision pattern applied to index state.
    */
  def ivfRebuildAdvice(index: IvfIndex, maxSkew: Double = 4.0): DataFrame = {
    require(maxSkew > 1.0, s"maxSkew must exceed 1, got $maxSkew")
    ivfCellProfile(index).agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("n_members") === 0L, 1L).otherwise(0L)).as("n_empty"),
        sum(col("n_members")).as("n_vectors"),
        max(col("n_members")).as("max_cell"))
      .withColumn("mean_cell",
        col("n_vectors").cast("double") / greatest(col("n_cells"), lit(1L)))
      .withColumn("skew",
        col("max_cell").cast("double") / greatest(col("mean_cell"), lit(1e-9)))
      .withColumn("rebuild",
        col("skew") > maxSkew || (col("n_empty") > 0 && col("skew") > lit(1.5)))
  }

  /** The `nprobe` nearest stored cells per row, as a PURE PER-ROW
    * EXPRESSION over the centroid table embedded as a literal
    * (`cents` is nlist rows of bounded driver state — the BPE
    * merge-table contract): score every centroid in-row, sort by
    * (cos desc, cell asc) via ascending struct(negcos, cell) —
    * array_sort's lexicographic struct order reproduces the window
    * formulation's ordering exactly — and slice. NO shuffle: routing
    * a corpus-sized query set through the crossJoin+window form
    * shuffles |Q|·nlist rows (64× the corpus at nlist=64); this form
    * shuffles nothing and is what [[hardNegativesIvf]] and
    * [[graft.streaming.EmbedStream.streamingIvfProbe]] route with.
    */
  private[graft] def probeCellsExpr(cents: Array[(Long, Array[Float])],
                                    qvec: Column, qn: Column, nprobe: Int): Column = {
    val centLit = array(cents.map { case (cell, vec) =>
      struct(lit(cell).as("cell"), typedLit(vec).as("vec"))
    }: _*)
    val scored = array_sort(transform(centLit, c =>
      struct((-(dot(qvec, c.getField("vec")) /
        (qn * norm(c.getField("vec"))))).as("negcos"),
        c.getField("cell").as("cell"))))
    transform(slice(scored, 1, nprobe), s => s.getField("cell"))
  }

  /** Collect an index's centroids as the bounded driver-state form
    * [[probeCellsExpr]] embeds. nlist rows.
    */
  private[graft] def collectCentroids(index: IvfIndex): Array[(Long, Array[Float])] =
    index.centroids.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Corpus-scale hard-negative mining: [[hardNegatives]] semantics
    * with candidates drawn from the `nprobe` IVF cells nearest each
    * query instead of the full corpus — and, critically, NO broadcast
    * of the pairs side, so |Q| can be corpus-sized (the real
    * contrastive-mining regime, where every training query mines its
    * own negatives).
    *
    * Plan shape: probe routing is a PER-ROW expression over the
    * embedded centroid table ([[probeCellsExpr]] — zero shuffle; the
    * crossJoin+window alternative shuffles |Q|·nlist rows, 64× the
    * corpus at nlist=64) followed by one explode to |Q|·nprobe probe
    * rows; the candidate join is a SHUFFLE join on `cell` between the
    * assignment-joined corpus and the probe list — both sides
    * corpus-proportional, co-partitioned by cell, never a cross
    * product (pinned in PlanSpec). Exclusion of the query itself and
    * its labeled positive sits BELOW the ranking window (same
    * reasoning as [[hardNegatives]]: excluding after rank ≤ k would
    * under-fill).
    *
    * With nprobe == nlist every cell is probed and the output is
    * row-identical to [[hardNegatives]] (pinned by the q92 oracle);
    * at nprobe < nlist negatives-recall vs brute force is measured in
    * RecallCheck — cells that cover the true top-k make the two
    * equal, the planted-neighbor property the spec pins.
    *
    * @param pairs (qid, qvec, pos_id) — corpus-sized is fine
    */
  def hardNegativesIvf(index: IvfIndex, corpus: DataFrame,
                       corpusId: String, corpusVec: String,
                       pairs: DataFrame, queryId: String, queryVec: String,
                       positiveId: String, k: Int, nprobe: Int = 4): DataFrame = {
    val cents = collectCentroids(index)
    require(cents.nonEmpty, "index has no centroids")
    val c = aliased(corpus, corpusId, corpusVec, "__cid", "__cvec")
      .withColumn("__cn", norm(col("__cvec")))
    val probes = pairs
      .select(col(queryId).as("__qid"), col(queryVec).as("__qvec"),
        col(positiveId).as("__pos"))
      .withColumn("__qn", norm(col("__qvec")))
      .withColumn("cell",
        explode(probeCellsExpr(cents, col("__qvec"), col("__qn"), nprobe)))
    val assigned = c.join(index.assignments.withColumnRenamed("id", "__cid"), "__cid")
    // shuffle join on cell — NO broadcast hint: the probe side carries
    // |Q|·nprobe rows and |Q| may be corpus-sized
    val cand = assigned.join(probes, Seq("cell"))
      .filter(col("__cid") =!= col("__qid") && col("__cid") =!= col("__pos"))
      .withColumn("cos", dot(col("__qvec"), col("__cvec")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("__qid").orderBy(col("cos").desc, col("__cid").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col("__cid").as("negative_id"),
        col("rank"), col("cos"))
  }

  /** Deterministic Lloyd k-means refinement over an embedding column —
    * the clustering primitive behind IVF cell layouts and corpus topic
    * bucketing. Initialization is the first k vectors by id (the same
    * deterministic choice ivfTopK makes), assignment is cosine with
    * centroid-id tie-break, and each refined centroid is the per-
    * dimension mean of its members.
    *
    * Determinism discipline: per-dimension sums go through
    * DECIMAL(38,6) (order-independent, so the plan may re-partition
    * freely — and the repo-wide proven scale for cross-engine
    * decimal→double conversion: at scale 18 the conversion itself
    * differs in the last ulp between engines, measured on q57), the
    * mean is ONE IEEE division, and the assignment ordering reuses the
    * bit-exact ordered-fold cosine — the whole step is a pure function
    * of the data, reproducible on any cluster and mirrorable in ANSI
    * SQL.
    *
    * Scale: assignment is a broadcast of k centroid vectors against a
    * single corpus scan (k·dim multiply-adds per row); the mean is one
    * (cell, dim)-keyed aggregation, partial-aggregated map-side —
    * k·dim groups total, no corpus-proportional state. The rounds run
    * on [[Rounds]]: round N reads round N-1's centroids once, through
    * the broadcast, so the plan grows linearly and stays one lazy
    * query — one corpus pass per round, no eager job per round — until
    * it outgrows the plan budget and is cut.
    *
    * Output: (cell, n_members, centroid array<double>), one row per
    * non-empty cell.
    */
  def kmeansCentroids(corpus: DataFrame, id: String, vec: String,
                      k: Int, iters: Int = 1): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val c = aliased(corpus, id, vec, "__cid", "__cvec")
    val init = c.orderBy(col("__cid")).limit(k)
      .select(col("__cid").as("__ctr_id"), col("__cvec").as("__ctr_vec"))
    lloydRefine(c, init, iters)
  }

  /** The Lloyd rounds of [[kmeansCentroids]], seeded from an explicit
    * centroid frame `(__ctr_id, __ctr_vec)` — shared with
    * [[rebuildIvfIndex]], which refines from an index's CURRENT
    * centroids instead of the lowest-id vectors. Cells that end a round
    * empty drop out (no member rows reach their aggregate).
    */
  private def lloydRefine(c: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    val wAssign = Window.partitionBy("__cid")
      .orderBy(col("__ccos").desc, col("__ctr_id").asc)
    def update(cents: DataFrame): DataFrame = {
      val assigned = c.crossJoin(broadcast(cents))
        .withColumn("__ccos", cosine(col("__cvec"), col("__ctr_vec")))
        .withColumn("__rn", row_number().over(wAssign))
        .filter(col("__rn") === 1)
        .select(col("__cid"), col("__cvec"), col("__ctr_id"))
      decimalMeans(assigned, Seq("__ctr_id"), col("__cvec"))
        .select(col("__ctr_id").as("cell"), col("__n").as("n_members"),
          col("__mean").as("centroid"))
    }
    // next-round centroids: means cast back to the float vector type
    // (transform is an interpreted HOF but runs over k rows only)
    val cents = Rounds.run(CutFrame(init), iters - 1) { (cents, _) =>
      update(cents).select(col("cell").as("__ctr_id"),
        transform(col("centroid"), x => x.cast("float")).as("__ctr_vec"))
    }
    update(cents.df)
  }

  /** Embedding-cosine near-duplicate pairs (id1 < id2, cos ≥ threshold)
    * — exact all-pairs form. The cosine tree is the same ordered-fold
    * arithmetic as bruteForceTopK, so results are oracle-comparable
    * bit-for-bit. Quadratic: right for bounded slices and reranks; the
    * corpus-scale path is `lshNearDupPairs`.
    */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
                         threshold: Double): DataFrame = {
    // spread before the quadratic nested-loop join: its STREAM side
    // inherits the scan's partitioning, so a single-row-group local
    // fixture runs the whole n²/2 dot-product kernel on one core
    // (no-op on multi-split inputs); the pair rows are pure functions
    // of the two vectors — partitioning cannot change any value
    val dfS = org.apache.spark.sql.GraftBridge.spreadForMapWork(
      df.toDF(), col(id))
    // per-vector norms before the quadratic join (bit-identical to
    // per-pair recomputation — a pure function of the vector)
    val a = aliased(dfS, id, vec, "id1", "__v1").withColumn("__n1", norm(col("__v1")))
    val b = aliased(dfS, id, vec, "id2", "__v2").withColumn("__n2", norm(col("__v2")))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos", dot(col("__v1"), col("__v2")) / (col("__n1") * col("__n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Per-band bucket keys over a (bands·bits)-plane SRP signature:
    * band b is the bit slice [b·bits, (b+1)·bits) with the band index
    * embedded in the key's high bits, so keys can never collide
    * ACROSS bands — the [[MinHashLsh.portableBandKeys]] construction
    * applied to vector signatures. OR-amplification: two vectors are
    * candidates if ANY band agrees, lifting recall at the same
    * per-band selectivity (P(candidate) = 1-(1-p^bits)^bands vs
    * p^bits single-band).
    */
  private[graft] def srpBandKeys(sig: Column, bits: Int, bands: Int): Seq[Column] =
    (0 until bands).map { b =>
      shiftright(sig, b * bits).bitwiseAND(lit((1L << bits) - 1L)) +
        lit(b.toLong * (1L << bits))
    }

  /** THE any-band candidate join: explode each side's band keys, join
    * on key, keep each (a, b) pair only where the exploded band index
    * equals the pair's FIRST shared band (recomputed from both
    * signatures on the row — the stateless [[graft.streaming.DocStream]]
    * dedup), so every candidate pair survives exactly once with no
    * distinct shuffle. The single implementation behind
    * [[lshNearDupPairs]], [[lshTopK]] and
    * [[Decontaminate.byEmbeddingLsh]] — their oracle-pinned agreement
    * depends on these paths never diverging.
    */
  private[graft] def bandedJoin(a: DataFrame, aSig: String,
                                b: DataFrame, bSig: String,
                                bits: Int, bands: Int,
                                broadcastRight: Boolean = false): DataFrame = {
    val ab = a.select(col("*"), posexplode(array(
      srpBandKeys(col(aSig), bits, bands): _*)).as(Seq("__bidx", "__bh")))
    val bbRaw = b.select(col("*"), explode(array(
      srpBandKeys(col(bSig), bits, bands): _*)).as("__bh"))
    val bb = if (broadcastRight) broadcast(bbRaw) else bbRaw
    val aKeys = srpBandKeys(col(aSig), bits, bands)
    val bKeys = srpBandKeys(col(bSig), bits, bands)
    val firstShared = (0 until bands).foldRight(lit(bands)) { (bd, acc) =>
      when(aKeys(bd) === bKeys(bd), lit(bd)).otherwise(acc)
    }
    ab.join(bb, Seq("__bh")).filter(col("__bidx") === firstShared)
      .drop("__bidx", "__bh")
  }

  /** Near-dup pairs at scale: bucket by SRP signature, compare within
    * buckets only — identical-direction vectors always share a bucket,
    * near-misses with probability rising as `bits` falls. Linear
    * shuffle of (signature, id, vec); exact cosine inside the bucket.
    *
    * `bands` > 1 is the OR-amplified form: one (bands·bits)-plane
    * signature per vector, one bucket key per band, candidates =
    * any-band agreement. A pair sharing several bands joins once per
    * shared band — each joined row keeps itself only when its band
    * index equals the pair's FIRST shared band (recomputed from both
    * signatures on the row — the stateless [[graft.streaming.DocStream]]
    * dedup), so output pairs stay unique without a distinct shuffle.
    */
  def lshNearDupPairs(df: DataFrame, id: String, vec: String,
                      threshold: Double, bits: Int = 8,
                      bands: Int = 1): DataFrame = {
    require(bands >= 1 && bits * bands <= 62,
      s"bands*bits must fit a long signature, got bits=$bits bands=$bands")
    // materialize signatures+norms once: the a/b sides are differently
    // renamed projections, so without a barrier both re-execute the
    // signature+norm subtree (and the scan under it) over the full
    // corpus. The barrier is a releasable persisted lineage cut — a
    // sweep of sparkContext.getPersistentRDDs frees its blocks, and a
    // freed block is recomputed.
    val sig = GraftBridge.persistCut(
      aliased(df, id, vec, "__cid", "__cvec")
        .withColumn("__sig", srpSignature(col("__cvec"), bits * bands))
        .withColumn("__n", norm(col("__cvec"))))
    val a = sig.select(col("__cid").as("id1"), col("__cvec").as("__v1"),
      col("__n").as("__n1"), col("__sig").as("__sig1"))
    val b = sig.select(col("__cid").as("id2"), col("__cvec").as("__v2"),
      col("__n").as("__n2"), col("__sig").as("__sig2"))
    val joined =
      if (bands == 1)
        a.join(b, col("__sig1") === col("__sig2")) // one band → pairs unique
      else bandedJoin(a, "__sig1", b, "__sig2", bits, bands)
    joined.filter(col("id1") < col("id2"))
      .withColumn("cos", dot(col("__v1"), col("__v2")) / (col("__n1") * col("__n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Approximate top-k: bucket corpus and queries by SRP signature,
    * exact-rerank within buckets. Vectors whose bucket lacks k
    * neighbors return fewer (recall/cost tradeoff; lower `bits` for
    * higher recall).
    *
    * `bands` > 1 = OR-amplification (see [[srpBandKeys]]): candidates
    * union across bands, deduplicated at the pair's first shared band
    * so the rerank scores each candidate exactly once. Lifts the
    * single-band recall plateau while keeping the one-shuffle
    * bucket-join shape — the niche where IVF's assignment pass isn't
    * wanted. Measured (RecallCheck, sf0.01×10 fixture): single-band
    * tops out at 88-92% recall@10 at ANY bits; bits=4 bands=8 reaches
    * 97.4% and bits=4 bands=12 98.8%, both FASTER than single-band
    * bits=8 (smaller per-band buckets, so the amplified union is
    * cheaper than one coarse bucket). Banding wants few bits per band
    * and many bands — wide single signatures only shrink buckets and
    * LOWER recall.
    */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, bits: Int = 8, bands: Int = 1): DataFrame = {
    require(bands >= 1 && bits * bands <= 62,
      s"bands*bits must fit a long signature, got bits=$bits bands=$bands")
    val c = aliased(corpus, corpusId, corpusVec, "__cid", "__cvec")
      .withColumn("__csig", srpSignature(col("__cvec"), bits * bands))
    val q = aliased(queries, queryId, queryVec, "__qid", "__qvec")
      .withColumn("__qsig", srpSignature(col("__qvec"), bits * bands))
    val cand =
      if (bands == 1)
        c.join(broadcast(q), col("__csig") === col("__qsig"))
      else bandedJoin(c, "__csig", q, "__qsig", bits, bands, broadcastRight = true)
    topKOut(cand
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("cos", cosine(col("__qvec"), col("__cvec"))), queryId, k)
  }

  /** Exact second-moment (Gram) sufficient statistics for embedding
    * whitening / PCA preprocessing: `S[i][j] = Σ_rows x_i·x_j` over
    * the upper triangle (the matrix is symmetric), plus the member
    * count. Downstream (mean-centering into a covariance, the eigen
    * solve) is driver-side dense-matrix work on a d×d table — the
    * corpus-proportional part is THIS aggregation.
    *
    * Exactness contract (the q104 dyadic discipline): values snap to
    * the 2^-gridBits grid first, so every pairwise product is an
    * exact multiple of 2^-2·gridBits — exactly representable in
    * DECIMAL(38, 2·gridBits/... decimal digits) — and the sums are
    * order-invariant integers in disguise: any partitioning, any
    * engine, same bits. Shape: one posexplode to dimension `i`, a
    * second to `j ≥ i`, one hash aggregation on (i, j) — d²/2 groups,
    * map-side partial combine, rows shuffle as (i, j, product)
    * triples only.
    */
  def gramMatrix(df: DataFrame, vec: Column, gridBits: Int = 6): DataFrame = {
    // 2·gridBits ≤ the DECIMAL scale (12): products are multiples of
    // 2^-2·gridBits, so gridBits > 6 would round and break the
    // bit-exact cross-engine contract (and powerIteration2's integer
    // rescale). BREAKING CHANGE (round 11): the accepted domain
    // narrowed from [1, 12] to [1, 6] — callers passing 7-12 used to
    // get silently-rounded (contract-violating) sums and now raise.
    require(gridBits >= 1 && gridBits <= 6, "gridBits in [1, 6]")
    val scale = (1L << gridBits).toDouble
    val q = transform(vec, x => floor(x.cast("double") * lit(scale)) / lit(scale))
    df.select(q.as("__qv"))
      .select(posexplode(col("__qv")).as(Seq("i", "xi")), col("__qv"))
      .select(col("i"), col("xi"), posexplode(col("__qv")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,12)")).as("sxx"),
        count(lit(1)).as("n"))
  }

  /** Two EXACT power-iteration steps over the Gram table — the top
    * principal direction for embedding whitening/PCA, computable
    * without any floating normalization: [[gramMatrix]] entries are
    * multiples of 2^-2·gridBits, so scaling by 2^2·gridBits makes the
    * matrix INTEGER, v₀ = 1 gives v₁ = G·1 and v₂ = G·v₁ as exact
    * BIGINT arithmetic (bounded: |v₂| ≤ d·|G|ₘₐₓ·d·|G|ₘₐₓ — safely
    * under 2^63 for unit-scale embeddings at corpus size). Two
    * unnormalized steps already dominate toward the top eigenvector;
    * callers normalize v₂ in doubles downstream (a d-element
    * driver-side vector). The d×d table is broadcast-tiny: both
    * mat-vec products are broadcast joins + map-side-combined sums.
    */
  def powerIteration2(gram: DataFrame, gridBits: Int = 6): DataFrame = {
    val s = 1L << (2 * gridBits)
    val half = gram.select(col("i"), col("j"),
      (col("sxx") * lit(s)).cast("long").as("g"))
    val full = half.unionAll(half.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("g")))
    val v1 = full.groupBy(col("i").as("d")).agg(sum(col("g")).as("v1"))
    full.join(broadcast(v1.select(col("d").as("j"), col("v1"))), Seq("j"))
      .groupBy(col("i").as("dim"))
      .agg(sum(col("g") * col("v1")).as("v2"))
      .join(broadcast(v1.select(col("d").as("dim"), col("v1"))), Seq("dim"))
      .select(col("dim"), col("v1"), col("v2"))
  }
}
