package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Asymmetric set-CONTAINMENT join: find documents whose shingle set
  * is mostly a subset of another document's — quotes, excerpts,
  * boilerplate-wrapped reposts, and truncated mirrors. This is the
  * pair shape symmetric near-dup misses by construction: a 100-word
  * excerpt inside a 2000-word article has containment ≈ 1 but Jaccard
  * ≈ 0.05, far below any MinHash/SimHash banding threshold
  * ([[MinHashLsh]] S-curves are centred on JACCARD), so excerpt spam
  * sails through a symmetric dedup pass.
  *
  * Definition: C(A → B) = |S(A) ∩ S(B)| / |S(A)| over distinct
  * n-gram shingle sets; the operator returns ordered pairs (id1, id2)
  * with C(id1 → id2) ≥ τ, id1 ≠ id2 (both directions are reported
  * when both clear τ — a short doc contained in a long one normally
  * yields one direction only).
  *
  * Spark shape (prefix-filtered set-similarity join — the SSJoin /
  * PPJoin family of Chaudhuri et al. 2006 / Xiao et al. 2008, adapted
  * to the asymmetric overlap bound):
  *
  *   1. explode distinct shingles (one frame, three consumers —
  *      materialized once, the [[ShingleJaccard]] discipline);
  *   2. corpus document frequency per shingle (one shuffle);
  *   3. PREFIX per document: if C(A → B) ≥ τ = p/q then
  *      |S(A) \ S(B)| ≤ (1−τ)·|S(A)|, so ANY
  *      ⌊((q−p)·|S(A)|) div q⌋ + 1 shingles of A must hit S(B) —
  *      candidate generation over a per-doc prefix of that size is
  *      recall-COMPLETE (this is an exact theorem, not a heuristic;
  *      the gate's exhaustive oracle pins it). Which shingles go in
  *      the prefix is free, so we take the RAREST first (ascending
  *      corpus df, shingle tiebreak): the index-side fanout of a
  *      prefix shingle is exactly its df, so rarest-first minimizes
  *      candidate volume — the join cost is Σ_prefix df(sh), versus
  *      Σ_all df(sh) for the naive full inverted-index self-join.
  *   4. candidates = prefix ⋈ full inverted index on the shingle
  *      (equi-join; distinct pairs);
  *   5. exact verify on the (few) candidates: re-shingle both texts
  *      in-row, |A∩B| via array_intersect, and the threshold test is
  *      pure integer cross-multiplication (inter·q ≥ n1·p) — no float
  *      boundary anywhere, so the gate hash-matches an independent
  *      exhaustive SQL mirror bit-for-bit.
  *
  * Scale notes (100 TB): two corpus-proportional shuffles (df count
  * on the shingle, prefix window on the doc id) + one
  * candidate-proportional join — the same linear-shuffle class as
  * [[MinHashLsh]]. Ubiquitous shingles are self-limiting on the
  * PROBE side (rarest-first keeps them out of prefixes: a doc only
  * probes a hot shingle when nearly all its shingles are hot), but
  * they still sit in the index side; hot-key skew lands in the
  * candidate equi-join where AQE skew splitting applies. Verification
  * re-shingles only candidate pairs, so text never shuffles in the
  * corpus-wide stages — ids and shingle strings do.
  *
  * The reference has no containment surface (its dedup is exact
  * key-equality — reference load_hhs.py:80); this is part of the
  * LLM-curation extension family.
  */
object Containment {

  /** Ordered pairs (id1, id2, n1, inter, containment) with
    * C(id1 → id2) = inter/n1 ≥ tauNum/tauDen.
    *
    * @param n        shingle width (characters for the default
    *                 shingler) — pick it large enough that unrelated
    *                 prose shares few shingles (8 is a good default;
    *                 3-grams make everything contain everything)
    * @param tauNum   containment threshold numerator
    * @param tauDen   containment threshold denominator (τ = num/den,
    *                 kept rational so the final filter is exact
    *                 integer arithmetic)
    * @param shingler distinct-shingle extractor (defaults to the
    *                 codegen'd char n-grams; use
    *                 [[ShingleJaccard.wordShingles]] for word grams)
    */
  def containedPairs(df: DataFrame, id: Column, text: Column, n: Int,
                     tauNum: Int, tauDen: Int,
                     shingler: (Column, Int) => Column =
                       ShingleJaccard.charShingles): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(tauNum >= 1 && tauDen >= tauNum,
      s"tau must be a rational in (0, 1]: got $tauNum/$tauDen")

    // one exploded frame, three consumers (df counts, prefix window,
    // index side) — materialize once or each consumer replans the
    // scan+explode subtree (the ShingleJaccard/MinHashLsh barrier)
    val sh = GraftBridge.persistCut(
      df.select(id.as("__id"), explode(shingler(text, n)).as("__sh")))

    val dfc = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))

    // prefix membership: rank A's shingles rarest-first; the window
    // also yields |S(A)| in the same per-id pass (unordered count
    // frame over the same partition key — no extra shuffle). The
    // (df, shingle) order is a total order within a doc (shingles are
    // distinct), so the prefix is deterministic on any partitioning —
    // though completeness holds for ANY prefix choice, so determinism
    // here is a performance property, not a correctness one.
    val byRarity = Window.partitionBy(col("__id"))
      .orderBy(col("__df").asc, col("__sh").asc)
    val perDoc = Window.partitionBy(col("__id"))
    // ⌊(n1·(q−p)) / q⌋ + 1 in exact integer arithmetic (subtract the
    // remainder before dividing — the rankGrid discipline; the double
    // division is exact because the numerator is a multiple of q and
    // far below 2^53)
    val slackNum = col("__n1") * (tauDen - tauNum)
    val prefixLen =
      ((slackNum - pmod(slackNum, lit(tauDen.toLong))) / tauDen)
        .cast("long") + lit(1L)
    val probe = sh.join(dfc, "__sh")
      .withColumn("__n1", count(lit(1)).over(perDoc))
      .withColumn("__rn", row_number().over(byRarity))
      .filter(col("__rn") <= prefixLen)
      .select(col("__id").as("id1"), col("__sh"))

    val cand = probe
      .join(sh.select(col("__id").as("id2"), col("__sh")), Seq("__sh"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2")).distinct()

    // exact verify, candidate-proportional: re-shingle both texts on
    // the pair row (cheaper than shuffling shingle sets — candidates
    // are few and the shingler is codegen'd), integer threshold test
    val setsA = df.select(id.as("id1"), shingler(text, n).as("__sa"))
    val setsB = df.select(id.as("id2"), shingler(text, n).as("__sb"))
    cand
      .join(setsA, Seq("id1"))
      .join(setsB, Seq("id2"))
      .withColumn("n1", size(col("__sa")).cast("long"))
      .withColumn("inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .filter(col("inter") * tauDen >= col("n1") * tauNum)
      .select(col("id1"), col("id2"), col("n1"), col("inter"),
        (col("inter").cast("double") / col("n1")).as("containment"))
  }
}
