package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class HashedNgramSpec extends SparkTestBase {

  import spark.implicits._

  /** Planted spam fixture built so the SIGNAL IS VOCABULARY, not
    * surface statistics: spam and ham rows have the same token count,
    * no digits, and similar stopword density, so the engineered
    * features [[QualityModel]] uses barely separate them — while the
    * word inventory is disjoint where it matters.
    */
  private val spamWords = Seq("cheap", "pills", "casino", "winner",
    "prize", "click", "bonus", "offer")
  private val hamWords = Seq("study", "method", "result", "theory",
    "model", "sample", "review", "figure")
  private def doc(words: Seq[String], salt: Int): String =
    (0 until 12).map(i => words((i + salt) % words.length))
      .mkString("the ", " the ", " is here")
  private val labeled = ((0 until 20).map(i => (i.toLong, doc(spamWords, i), 1)) ++
    (20 until 40).map(i => (i.toLong, doc(hamWords, i), 0)))
    .toDF("doc_id", "text", "label")

  test("fit weights shape and determinism across partitionings") {
    // d = 16 runs the dense layout, d = 128 the long format
    Seq(16, 128).foreach { d =>
      val a = HashedNgram.fit(labeled.repartition(1), $"doc_id", $"text",
        $"label", d = d, iters = 2)
      val b = HashedNgram.fit(labeled.repartition(7), $"doc_id", $"text",
        $"label", d = d, iters = 2)
      assert(a == b)
      assert(a.length == d + 1 && a.head._1 == -1L)
      assert(a.map(_._1) == (-1L +: (0L until d.toLong)))
    }
  }

  test("score serves the trainer's own expression tree") {
    // L1-normalized features make per-step moves small (x_j ~ 1/23);
    // the convergence tests run at a hot learning rate, the oracle
    // gate (q188) pins the arithmetic at lr = 0.5
    val w = HashedNgram.fit(labeled, $"doc_id", $"text", $"label",
      d = 16, iters = 30, lr = 10.0)
    val scored = HashedNgram.score(labeled, $"doc_id", $"text", w)
      .join(labeled.select($"doc_id", $"label"), "doc_id")
    val Row2 = scored.groupBy($"label")
      .agg(avg($"score").as("m")).orderBy($"label")
      .as[(Int, Double)].collect()
    // spam (label 1) must score above ham after 10 steps
    assert(Row2(1)._2 > Row2(0)._2 + 0.1,
      s"no separation: ham=${Row2(0)._2} spam=${Row2(1)._2}")
  }

  test("measured separation: hashed vocabulary features beat the engineered surface features on vocabulary-only spam") {
    // hashed-ngram classifier
    val hw = HashedNgram.fit(labeled, $"doc_id", $"text", $"label",
      d = 64, iters = 60, lr = 10.0)
    val hs = HashedNgram.score(labeled, $"doc_id", $"text", hw)
      .join(labeled.select($"doc_id", $"label"), "doc_id")
      .groupBy($"label").agg(avg($"score")).orderBy($"label")
      .as[(Int, Double)].collect()
    val hashedSep = hs(1)._2 - hs(0)._2
    // engineered-feature classifier on the same labels, same steps
    val ew = QualityTrain.fit(labeled, $"text", $"label", iters = 60, lr = 10.0)
    val es = labeled.select($"label",
        QualityModel.score($"text", ew).as("score"))
      .groupBy($"label").agg(avg($"score")).orderBy($"label")
      .as[(Int, Double)].collect()
    val engineeredSep = es(1)._2 - es(0)._2
    info(f"separation: hashed=$hashedSep%.4f engineered=$engineeredSep%.4f")
    // the fixture's surface statistics are matched by construction, so
    // the vocabulary model must separate where the surface model can't
    assert(hashedSep > 0.2, s"hashed separation too small: $hashedSep")
    assert(hashedSep > engineeredSep + 0.1,
      s"hashed ($hashedSep) should beat engineered ($engineeredSep) on vocabulary-only spam")
  }

  test("dense small-D fit == long-format fit bit for bit (including empty-gram docs)") {
    // a doc with no kept tokens exercises the dense path's null
    // x-vector (margin = intercept alone, gradient terms exact zero)
    val withEmpty = labeled.unionByName(
      Seq((99L, "zz 12 !", 1)).toDF("doc_id", "text", "label"))
    val dense = HashedNgram.fit(withEmpty, $"doc_id", $"text", $"label",
      d = 16, iters = 3, lr = 0.5)
    val long = HashedNgram.fitLong(withEmpty, $"doc_id", $"text", $"label",
      d = 16, iters = 3, lr = 0.5)
    assert(dense == long, s"dense=$dense\nlong=$long")
    // and across partitionings of the dense path
    val dense7 = HashedNgram.fit(withEmpty.repartition(7), $"doc_id", $"text",
      $"label", d = 16, iters = 3, lr = 0.5)
    assert(dense7 == dense)
  }

  test("features: L1-normalized, bigrams over the kept-token sequence, null-safe") {
    val docs = Seq(
      (1L, "alpha beta alpha"),         // unigrams a,b,a + bigrams ab, ba → 5 grams
      (2L, "xy z!"),                    // no kept tokens → no rows
      (3L, null.asInstanceOf[String])). // null text → no rows
      toDF("doc_id", "text")
    val f = HashedNgram.features(docs, $"doc_id", $"text", 16)
    val rows = f.collect()
    assert(rows.forall(_.getLong(0) == 1L))
    // x sums to 1 per document
    val s = f.groupBy($"doc_id").agg(sum($"x")).as[(Long, Double)].collect()
    assert(s.length == 1 && math.abs(s(0)._2 - 1.0) < 1e-12)
    // 5 grams total (3 unigrams + 2 bigrams): every bucket share is a
    // multiple of 1/5 regardless of which grams share a bucket
    val xs = rows.map(_.getDouble(2))
    assert(xs.forall(x => math.abs(x * 5.0 - math.round(x * 5.0)) < 1e-12))
  }

  test("weights round-trip parquet; scoring through reloaded state is bit-identical") {
    val w = HashedNgram.fit(labeled, $"doc_id", $"text", $"label",
      d = 16, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("hng-model").toString
    HashedNgram.writeWeights(w, spark, dir)
    val r = HashedNgram.readWeights(spark, dir)
    assert(r == w.sortBy(_._1))
    val a = HashedNgram.score(labeled, $"doc_id", $"text", w)
      .as[(Long, Double)].collect().toSet
    val b = HashedNgram.score(labeled, $"doc_id", $"text", r)
      .as[(Long, Double)].collect().toSet
    assert(a == b)
  }

  test("fit refuses null labels loudly") {
    val bad = Seq((1L, "some text here", Some(1)), (2L, "more text", None))
      .toDF("doc_id", "text", "label")
    val e = intercept[IllegalArgumentException] {
      HashedNgram.fit(bad, $"doc_id", $"text", $"label", d = 16, iters = 1)
    }
    assert(e.getMessage.contains("null label"))
  }

  test("fit checks the bucket count on both layouts") {
    Seq(1, 0, (1 << 21) + 1).foreach { d =>
      intercept[IllegalArgumentException] {
        HashedNgram.fit(labeled, $"doc_id", $"text", $"label", d = d, iters = 1)
      }
    }
  }
}
