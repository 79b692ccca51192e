package graft.ext

import graft.SparkTestBase

/** Job ceilings for the logistic-regression trainers: the jobs of a
  * fit at iters 2, and the jobs one more gradient pass adds. Only this
  * thread's job group is counted ([[SparkTestBase.jobs]]). Ceilings
  * only move down.
  */
class TrainerJobsSpec extends SparkTestBase {
  import spark.implicits._

  // 40 docs over two disjoint six-word vocabularies
  private val labeled = (0 until 40).map { i =>
    val words =
      if (i < 20) Seq("cheap", "pills", "casino", "winner", "prize", "click")
      else Seq("study", "method", "result", "theory", "model", "sample")
    val text = (0 until 10).map(k => words((i + k) % words.length)).mkString("the ", " the ", "")
    (i.toLong, text, if (i < 20) 1 else 0)
  }.toDF("doc_id", "text", "label")

  // (fit, ceiling at iters 2, ceiling per added pass)
  private val ceilings: Seq[(String, Int => Any, Int, Int)] = Seq(
    ("QualityTrain.fit", i => QualityTrain.fit(labeled, $"text", $"label", iters = i), 4, 2),
    ("HashedNgram.fit d=16 (dense)", i =>
      HashedNgram.fit(labeled, $"doc_id", $"text", $"label", d = 16, iters = i), 6, 2),
    ("HashedNgram.fit d=128 (long)", i =>
      HashedNgram.fit(labeled, $"doc_id", $"text", $"label", d = 128, iters = i), 17, 7))

  ceilings.foreach { case (name, fit, atTwo, perPass) =>
    test(s"$name: at most $atTwo jobs at iters 2 and $perPass per added pass") {
      val two = jobs(fit(2))
      val three = jobs(fit(3))
      info(s"$name: $two jobs at iters 2, $three at iters 3")
      assert(two <= atTwo, s"$name: $two jobs at iters 2, ceiling $atTwo")
      assert(three - two <= perPass, s"$name: ${three - two} jobs per pass, ceiling $perPass")
    }
  }
}
