package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** In-engine quality-classifier trainer: bit-exact equivalence to an
  * independent driver-side trainer, partition invariance, and the
  * learned weights flowing straight into QualityModel.classify.
  */
class QualityTrainSpec extends SparkTestBase {
  import spark.implicits._

  // separable labeled fixture: stopword-dense prose = 1, digit-heavy
  // junk = 0; varied lengths so no feature column is constant
  private def labeled = Seq(
    (1L, "the cat and the dog of a house is a fine thing to see", 1),
    (2L, "a long walk in the park and the sound of the wind is nice", 1),
    (3L, "the idea of a simple test and a good result is the point here", 1),
    (4L, "this is the story of a man and a boat on the open sea", 1),
    (5L, "4823 9911 2210 8374 5521 0098 1123 7766", 0),
    (6L, "id=9983 code=1231 val=8822 ref=40571 x=99231", 0),
    (7L, "000 111 222 333 444 555 666 777 888 999 101010", 0),
    (8L, "3.14159 2.71828 1.41421 0.57721 6.02214 6.62607", 0))
    .toDF("doc_id", "text", "label")

  /** Independent reference: plain-Scala gradient descent over the
    * collected feature rows, mirroring the engine's arithmetic exactly
    * — per-row IEEE gradient, HALF_UP quantization to scale 6, exact
    * BigDecimal summation, identical step expression.
    */
  private def referenceFit(rows: Seq[(Array[Double], Double)],
                           iters: Int, lr: Double): Array[Double] = {
    val nFeat = rows.head._1.length
    val n = rows.size
    val w = Array.fill(nFeat)(0.0)
    for (_ <- 1 to iters) {
      val sums = Array.fill(nFeat)(BigDecimal(0))
      rows.foreach { case (x, y) =>
        var z = w(0) * x(0)
        var j = 1
        while (j < nFeat) { z = z + w(j) * x(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        j = 0
        while (j < nFeat) {
          sums(j) += BigDecimal((p - y) * x(j))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          j += 1
        }
      }
      for (j <- 0 until nFeat) w(j) -= lr * (sums(j).toDouble / n)
    }
    w
  }

  private def featureRows(df: org.apache.spark.sql.DataFrame): Seq[(Array[Double], Double)] =
    df.select(
      (lit(1.0).as("f0") +:
        QualityModel.features($"text").zipWithIndex.map { case (c, i) => c.as(s"f${i + 1}") }) :+
        $"label".cast("double").as("y"): _*)
      .collect().toSeq
      .map(r => (Array.tabulate(6)(j => r.getDouble(j)), r.getDouble(6)))

  test("distributed fit equals the independent driver-side trainer bit for bit") {
    val engine = QualityTrain.fit(labeled, $"text", $"label", iters = 30, lr = 0.5)
    val ref = referenceFit(featureRows(labeled), iters = 30, lr = 0.5)
    assert(engine.map(_._1) == "intercept" +: QualityModel.featureNames)
    engine.map(_._2).zip(ref).zipWithIndex.foreach { case ((e, r), j) =>
      assert(e == r, s"weight $j: engine=$e reference=$r")
    }
  }

  test("fit is partition-invariant (decimal gradient sums are order-free)") {
    val a = QualityTrain.fit(labeled.repartition(7), $"text", $"label", iters = 20)
    val b = QualityTrain.fit(labeled.repartition(2), $"text", $"label", iters = 20)
    val c = QualityTrain.fit(labeled.coalesce(1), $"text", $"label", iters = 20)
    assert(a == b && b == c)
  }

  test("learned weights separate the training fixture and carry the expected signs") {
    val w = QualityTrain.fit(labeled, $"text", $"label", iters = 200, lr = 1.0)
    val byName = w.toMap
    assert(byName("stopword_ratio") > 0, s"stopword weight should be positive: $w")
    assert(byName("digit_ratio") < 0, s"digit weight should be negative: $w")
    // the caller-table contract: trained weights drop straight into
    // classify, and the separable fixture classifies perfectly at 0.5
    // probability ⇔ score threshold 0
    val out = QualityModel.classify(labeled, $"text", threshold = 0.0, weights = w)
      .select($"label", $"keep").as[(Int, Boolean)].collect()
    out.foreach { case (y, keep) =>
      assert(keep == (y == 1), s"misclassified: label=$y keep=$keep")
    }
  }

  test("fit releases the feature-frame storage it allocated") {
    // GraftBridge.trackCuts attributes cuts to this thread's call, so
    // other suites' frames on the shared context cannot race the check
    val sc = spark.sparkContext
    val withNullLabel = labeled.unionByName(
      Seq((9L, "some text here", null.asInstanceOf[Integer]))
        .toDF("doc_id", "text", "label"))
    val fits: Seq[(String, () => Any)] = Seq(
      "QualityTrain.fit" -> (() => QualityTrain.fit(labeled, $"text", $"label", iters = 3)),
      "HashedNgram.fit d=16" -> (() =>
        HashedNgram.fit(labeled, $"doc_id", $"text", $"label", d = 16, iters = 2)),
      "HashedNgram.fit d=128" -> (() =>
        HashedNgram.fit(labeled, $"doc_id", $"text", $"label", d = 128, iters = 2)),
      "QualityTrain.fit, null label" -> (() =>
        intercept[IllegalArgumentException] {
          QualityTrain.fit(withNullLabel, $"text", $"label", iters = 2)
        }),
      "HashedNgram.fit d=128, null label" -> (() =>
        intercept[IllegalArgumentException] {
          HashedNgram.fit(withNullLabel, $"doc_id", $"text", $"label", d = 128, iters = 2)
        }))
    fits.foreach { case (name, fit) =>
      val (_, mine) = org.apache.spark.sql.GraftBridge.trackCuts(fit())
      assert(mine.nonEmpty, s"$name: the fit should cut its training frame")
      assert((sc.getPersistentRDDs.keySet.toSet & mine).isEmpty,
        s"$name: the trainer must release every cut it persisted")
    }
  }

  test("empty and degenerate inputs fail loudly") {
    intercept[IllegalArgumentException] {
      QualityTrain.fit(labeled.filter($"doc_id" < 0), $"text", $"label")
    }
    intercept[IllegalArgumentException] {
      QualityTrain.fit(labeled, $"text", $"label", iters = 0)
    }
  }

  test("null text or label fails loudly instead of silently shrinking the gradient") {
    val withNullText = labeled.unionByName(
      Seq((9L, null.asInstanceOf[String], 1)).toDF("doc_id", "text", "label"))
    val e1 = intercept[IllegalArgumentException] {
      QualityTrain.fit(withNullText, $"text", $"label", iters = 2)
    }
    assert(e1.getMessage.contains("null"))
    val withNullLabel = labeled.unionByName(
      Seq((9L, "some text here", null.asInstanceOf[Integer]))
        .toDF("doc_id", "text", "label"))
    val e2 = intercept[IllegalArgumentException] {
      QualityTrain.fit(withNullLabel, $"text", $"label", iters = 2)
    }
    assert(e2.getMessage.contains("null"))
  }
}
