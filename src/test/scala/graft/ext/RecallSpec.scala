package graft.ext

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Recall and cost operating points of the approximate vector paths,
  * asserted rather than printed.
  *
  * Corpus: the sf0.001 embeddings (500 × 64-d) plus nine jittered
  * copies of each. Copy m moves every component by a hash-derived
  * factor in [-1 %, 1 %], so each vector has nine planted near
  * neighbours among 5,000. Queries: the 50 originals with vec_id < 50.
  * Truth: [[EmbeddingSearch.bruteForceTopK]] at k = 10.
  *
  * Each floor is the measured value rounded down to 0.05. Where a knob
  * is claimed to help, the cheaper operating point beside the floor
  * must also read lower, so the knob keeps doing what its doc says.
  * Floors only move up.
  */
class RecallSpec extends SparkTestBase with BeforeAndAfterAll {

  import spark.implicits._

  private val k = 10
  private val dim = 64

  private lazy val base = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    .select($"vec_id", $"embedding")
  private lazy val corpus = (1 until 10).foldLeft(base) { (acc, m) =>
    acc.unionAll(base.select(($"vec_id" + lit(1000000L * m)).as("vec_id"),
      transform($"embedding", (v, i) =>
        (v + v * ((pmod(xxhash64($"vec_id" + lit(m), i), lit(2001L)) - 1000L)
          .cast("double") / 100000.0)).cast("float")).as("embedding")))
  }.cache()
  private lazy val queries = base.filter($"vec_id" < 50)
    .select($"vec_id".as("qid"), $"embedding".as("qvec"))
  // the deterministic 1-in-7 training sample of the quantizers
  private lazy val sample = corpus.filter($"vec_id" % 7 === 0)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select($"qid", $"neighbor_id").as[(Long, Long)].collect().toSet

  private lazy val truth = {
    val t = pairs(EmbeddingSearch.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k))
    assert(t.size == 50 * k)
    t
  }

  private def recall(label: String, df: DataFrame): Double = {
    val r = (pairs(df) intersect truth).size.toDouble / truth.size
    info(f"$label: recall@$k = $r%.3f")
    r
  }

  /** Mean squared reconstruction error of `rec` against `embedding`. */
  private def mse(label: String, df: DataFrame, rec: Column): Double = {
    val sq = aggregate(zip_with($"embedding", rec, (x, r) =>
      (x.cast("double") - r.cast("double")) * (x.cast("double") - r.cast("double"))),
      lit(0.0), (a, b) => a + b)
    val v = df.select(avg(sq)).as[Double].head()
    info(f"$label: mse = $v%.6f")
    v
  }

  override def afterAll(): Unit = {
    corpus.unpersist()
    super.afterAll()
  }

  test("lshTopK: four 8-bit bands lift recall@10 over one band") {
    def lsh(bands: Int) = recall(s"lshTopK bits=8 bands=$bands",
      EmbeddingSearch.lshTopK(corpus, "vec_id", "embedding", queries, "qid", "qvec",
        k, bits = 8, bands = bands))
    val (one, four) = (lsh(1), lsh(4))
    assert(four >= 0.90 && one < four) // measured 0.908 and 0.898
  }

  test("ivfTopK nlist=16: probing 4 cells lifts recall@10 over 1") {
    def ivf(nprobe: Int) = recall(s"ivfTopK nlist=16 nprobe=$nprobe",
      EmbeddingSearch.ivfTopK(corpus, "vec_id", "embedding", queries, "qid", "qvec",
        k, nlist = 16, nprobe = nprobe))
    val (one, four) = (ivf(1), ivf(4))
    assert(four >= 0.95 && one < four) // measured 0.970 and 0.940
  }

  test("PQ m=8 ksub=16: an exact rerank of the top 5k lifts recall@10 over ADC alone") {
    val book = VectorQuant.pqTrain(sample, "vec_id", "embedding", 8, 16, iters = 2, dim = dim)
    val idx = VectorQuant.quantizeIndex(
      EmbeddingSearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 64),
      corpus, "vec_id", "embedding", book)
    val adc = recall("pqProbe m=8 ksub=16 nlist=64 nprobe=4",
      VectorQuant.ivfProbePq(idx, queries, "qid", "qvec", k, nprobe = 4))
    val reranked = recall("pqProbe+rerank m=8 ksub=16 nlist=64 nprobe=4",
      VectorQuant.ivfProbePqRerank(idx, corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k, rerankK = 5 * k, nprobe = 4))
    assert(reranked >= 0.95 && adc < reranked) // measured 0.952 and 0.900
  }

  test("int8 brute force holds recall@10 at a quarter of the float bytes") {
    val p = VectorQuant.int8Params(corpus, "embedding")
    val decoded = corpus.select($"vec_id",
      VectorQuant.int8DecodeExpr(p, VectorQuant.int8EncodeExpr(p, $"embedding")).as("embedding"))
    val r = recall("int8 bruteForce",
      EmbeddingSearch.bruteForceTopK(decoded, "vec_id", "embedding", queries, "qid", "qvec", k))
    assert(r >= 0.90) // measured 0.940
  }

  test("RQ 8+8 reconstructs with lower MSE than PQ m=8 at the same subspace split") {
    val pq = VectorQuant.pqTrain(sample, "vec_id", "embedding", 8, 16, iters = 2, dim = dim)
    val pqCodes = VectorQuant.pqEncode(corpus, "vec_id", "embedding", pq)
    val pqMse = mse("pq m=8 ksub=16", corpus.join(pqCodes, $"vec_id" === $"id"),
      VectorQuant.pqDecodeExpr(VectorQuant.collectBook(pq), $"codes"))
    val rq = VectorQuant.rqTrain(sample, "vec_id", "embedding",
      m = 8, ksub1 = 16, iters1 = 2, ksub2 = 16, iters2 = 2, dim = dim)
    val rqCodes = VectorQuant.rqEncode(corpus, "vec_id", "embedding", rq)
    val rqMse = mse("rq 8+8 ksub=16", corpus.join(rqCodes, $"vec_id" === $"id"),
      VectorQuant.rqDecodeExpr(VectorQuant.collectBook(rq.book1),
        VectorQuant.collectBookD(rq.book2), $"codes1", $"codes2"))
    assert(rqMse < pqMse) // measured 0.340 and 0.580
  }

  test("byEmbeddingLsh: four 8-bit bands catch more planted contamination than one") {
    val tau = 0.99
    val evalSet = queries.select($"qid".as("eval_id"), $"qvec".as("evec"))
    val exact = Decontaminate.byEmbedding(corpus, "vec_id", "embedding",
      evalSet, "eval_id", "evec", tau).select("vec_id").as[Long].collect().toSet
    assert(exact.size >= 50 * 10)
    def caught(bands: Int): Double = {
      val hit = Decontaminate.byEmbeddingLsh(corpus, "vec_id", "embedding",
          evalSet, "eval_id", "evec", tau, bits = 8, bands = bands)
        .select("vec_id").as[Long].collect().count(exact.contains)
      val r = hit.toDouble / exact.size
      info(f"byEmbeddingLsh bits=8 bands=$bands: catch = $r%.3f")
      r
    }
    val (one, four) = (caught(1), caught(4))
    assert(four >= 1.0 && one < four) // measured 1.000 and 0.996
  }
}
