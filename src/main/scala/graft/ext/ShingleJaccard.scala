package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Exact n-gram (character-shingle) Jaccard near-duplicate detection.
  *
  * Spark shape: shingle set per document (narrow transform/explode) →
  * inverted index self-join on shingle → pair intersection counts →
  * Jaccard from set sizes. All-pairs work only materializes for pairs
  * that share ≥1 shingle.
  *
  * Scale notes (100 TB): the self-join is quadratic in per-shingle
  * document frequency, so ubiquitous shingles ("the") dominate cost —
  * `maxDf` drops shingles seen in more than that many documents before
  * the join (standard df-pruning). With `maxDf` set, set sizes AND
  * intersections are both computed over the PRUNED shingle universe,
  * so the returned `jaccard` is the exact Jaccard of the pruned sets —
  * internally consistent, but not the full-universe Jaccard (pairs
  * whose overlap lives entirely in pruned shingles score 0 and drop
  * out). Treat the pruned run as a candidate generator and rerank with
  * `maxDf = None` when full-universe scores matter. For corpora where
  * even pruning is too hot, use MinHashLsh (probabilistic, linear
  * shuffle) and rerank candidates here.
  */
object ShingleJaccard {

  /** Distinct character n-grams of `c` (positions 1..len-n+1; documents
    * shorter than n yield their whole text as the single shingle).
    * Backed by the native codegen'd CharNGrams expression
    * (graft.functions.NGrams) — the equivalent higher-order-function
    * tree is interpreted and ~10x slower per row.
    */
  def charShingles(c: Column, n: Int): Column =
    graft.functions.NGrams.charNGrams(c, n)

  /** Distinct word n-grams (space-joined token windows). Prefer these
    * over char shingles on natural-language corpora sharing a common
    * vocabulary: char 3-grams make everything ~60% similar to
    * everything, word n-grams keep unrelated documents near 0.
    */
  def wordShingles(c: Column, n: Int): Column =
    graft.functions.NGrams.wordNGrams(c, n)

  /** Pairs (id1 < id2) with shingle-set Jaccard ≥ threshold.
    *
    * Output: id1, id2, jaccard (double — exact int arithmetic up to one
    * IEEE division, so oracle-comparable bit-for-bit). When `maxDf` is
    * set, sizes and intersections use the same pruned universe (see
    * object doc) — numerator and denominator stay consistent.
    */
  def similarPairs(df: DataFrame, id: Column, text: Column, n: Int,
                   threshold: Double, maxDf: Option[Long] = None): DataFrame = {
    val sh = df.select(id.as("__id"), explode(charShingles(text, n)).as("__sh"))
    val prunedPlan = maxDf match {
      case Some(cap) =>
        val dfCounts = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("__sh")
        sh.join(dfCounts, Seq("__sh"), "left_semi")
      case None => sh
    }
    // the shingle frame feeds three consumers (sizes + both self-join
    // sides); without a barrier each consumer replans the whole
    // scan+explode subtree (measured: 4 FileScans / 4 Generates on
    // q24). Materialize once, a lazy cut as for MinHashLsh's
    // signature frames.
    val pruned = GraftBridge.persistCut(prunedPlan)
    val sizes = pruned.groupBy("__id").agg(count(lit(1)).as("__n"))
    val a = pruned.select(col("__id").as("id1"), col("__sh"))
    val b = pruned.select(col("__id").as("id2"), col("__sh"))
    val inter = a.join(b, a("__sh") === b("__sh") && col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.select(col("__id").as("id1"), col("__n").as("__n1")), "id1")
      .join(sizes.select(col("__id").as("id2"), col("__n").as("__n2")), "id2")
      .withColumn("jaccard",
        col("__inter").cast("double") / (col("__n1") + col("__n2") - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }
}
