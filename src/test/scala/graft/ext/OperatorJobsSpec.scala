package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Job ceilings for operators that cut their input once and join
  * against the cut ([[org.apache.spark.sql.GraftBridge.persistCut]]):
  * the jobs of one call, run to its rows. The cut carries its origin
  * plan's statistics, so a join against a small cut is planned as a
  * broadcast instead of a shuffle on both sides. Only this thread's job
  * group is counted ([[SparkTestBase.jobs]]). Ceilings only move down.
  */
class OperatorJobsSpec extends SparkTestBase {
  import spark.implicits._

  // the q84 gate's stored pairs: 60 links over ids 0..199
  private val pairs = spark.range(0L, 200L).toDF("i")
    .filter($"i" % 10 === 0 || $"i" % 10 === 1 || $"i" % 10 === 5)
    .select($"i".as("id1"), ($"i" + 1L).as("id2"))

  // 60 vectors plus 8 scaled twins (the ExtSpec LSH fixture)
  private val vecs = {
    val base = (1L to 60L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
    (base ++ base.take(8).map { case (i, v) => (i + 1000L, v.map(_ * 2f)) })
      .toDF("id", "vec")
  }

  // 60 documents (the Bm25Spec index fixture)
  private val docs = (0L until 60L).map(i =>
    (i, s"alpha w$i spark data ${"beta " * (i % 4).toInt}")).toDF("doc_id", "text")

  // (operator, ceiling)
  private val ceilings: Seq[(String, () => Any, Int)] = Seq(
    ("DedupClusters.connectedComponents", () =>
      DedupClusters.connectedComponents(pairs).collect(), 8),
    ("EmbeddingSearch.lshNearDupPairs", () =>
      EmbeddingSearch.lshNearDupPairs(vecs, "id", "vec", threshold = 0.9,
        bits = 6, bands = 4).collect(), 2),
    ("Bm25.buildIndex", () => {
      val ix = Bm25.buildIndex(docs, col("doc_id"), col("text"))
      (ix.postings.collect(), ix.docLens.collect())
    }, 10))

  ceilings.foreach { case (name, run, ceiling) =>
    test(s"$name: at most $ceiling jobs") {
      val n = jobs(run())
      info(s"$name: $n jobs")
      assert(n <= ceiling, s"$name: $n jobs, ceiling $ceiling")
    }
  }
}
