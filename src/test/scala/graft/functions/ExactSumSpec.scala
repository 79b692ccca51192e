package graft.functions

import graft.SparkTestBase
import graft.ops.Aggs
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, If, IsNull, UnsafeProjection}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `ExactSum` (`Aggs.dsum`) returns exactly `sum(cast(x as
  * decimal(38,6)))`: per value, per group, per window frame, with nulls,
  * NaN, infinities, overflow and non-double inputs, without the per-row
  * cast in the partial aggregate.
  */
class ExactSumSpec extends SparkTestBase {

  import spark.implicits._

  private val Dec = DecimalType(38, 6)

  /** k/2, k/100, random magnitudes, more than 6 decimals, 7th-decimal
    * halves, values around 2^31..2^33, each with its nextUp/nextDown. */
  private lazy val values: Array[Double] = {
    val rnd = new scala.util.Random(7)
    val base = Seq(
      (-4000 to 4000).map(_ / 2.0),
      (-200000 to 200000 by 7).map(_ / 100.0),
      (1 to 150000).map { _ =>
        val v = rnd.nextDouble() * math.pow(10, rnd.nextInt(13) - 3)
        if (rnd.nextBoolean()) v else -v
      },
      (1 to 100000).map(_ => rnd.nextLong() / 1e9 % 1e6),
      (1 to 40000).map(_ => rnd.nextInt(1000000) + rnd.nextInt(10) * 1e-7 + 5e-7),
      Seq(1.0 / 3, 2.0 / 3, 0.1 + 0.2, 5e-7, -5e-7, 1.5e-6, 0.0, -0.0, Double.MinPositiveValue),
      (-3000 to 3000).flatMap { k =>
        Seq(2147483648.0, 4294967296.0, 8589934592.0).map(p => p + k / 64.0 + rnd.nextInt(1000) / 1e6)
      }).flatten
    (base ++ base.map(math.nextUp) ++ base.map(math.nextDown)).toArray
  }

  /** Every `step`-th value, for the checks that run through Spark. */
  private def sample(step: Int): Seq[Double] = values.indices.by(step).map(values(_))

  test("fast path: every value below 2^32 gets the cast's unscaled decimal") {
    val cast = Cast(BoundReference(0, DoubleType, nullable = true), Dec)
    val small = values.filter(v => math.abs(v) < ExactSumUtil.Bound)
    assert(small.length > 900000)
    val bad = small.filter { v =>
      ExactSumUtil.micros(v) != cast.eval(InternalRow(v)).asInstanceOf[Decimal].toUnscaledLong
    }
    assert(bad.isEmpty, bad.take(5).mkString(", "))
  }

  test("fast path: values with at most 6 decimals below 2^31 skip the cast's arithmetic") {
    val rnd = new scala.util.Random(13)
    val families = Seq(
      "k/2" -> (-4000000 to 4000000 by 3).map(_ / 2.0),
      "k/100" -> (-20000000 to 20000000 by 11).map(_ / 100.0),
      "k/1e6" -> (1 to 200000).map(_ => (rnd.nextLong() % 2000000000000000L) / 1e6))
    // the generated code of the per-row expression, and its rint test
    val micros = UnsafeProjection.create(Seq(ExactSum.Micros(BoundReference(0, DoubleType, nullable = true))))
    for ((name, vs) <- families) {
      val off = vs.filter(v =>
        micros(InternalRow(v)).isNullAt(0) || ExactSumUtil.fastMicros(v) == ExactSumUtil.Off)
      val n = off.size
      assert(n == 0, s"$name: values off the fast path, e.g. ${off.take(5).mkString(", ")}")
    }
  }

  /** (exact_sum, sum over the cast) per key, sorted by key. */
  private def compareGrouped(df: DataFrame, keys: String*): Unit = {
    val got = df.groupBy(keys.map(col): _*).agg(Aggs.dsum(col("x")).as("s"))
    val want = df.groupBy(keys.map(col): _*).agg(sum(col("x").cast(Dec)).as("s"))
    assert(got.schema == want.schema)
    val g = got.orderBy(keys.map(col): _*).collect().toSeq
    val w = want.orderBy(keys.map(col): _*).collect().toSeq
    assert(g == w, g.zip(w).filter { case (a, b) => a != b }.take(5).mkString(", "))
  }

  test("per-row groups equal the cast over every value family, with -0.0 and null") {
    val rows = (sample(8).map(v => Option(v)) ++ Seq(Some(-0.0), None, Some(9.9e31), Some(-3e31)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    compareGrouped(spark.sparkContext.parallelize(rows, 4).toDF("id", "x"), "id")
  }

  test("groups, a no-key aggregate and an all-null group equal the cast") {
    val rnd = new scala.util.Random(11)
    val rows = sample(4).map(v => (s"g${rnd.nextInt(40)}", Option(v))) ++
      Seq(("nulls", None), ("nulls", None), ("big", Some(1e20)), ("big", Some(-3.25e9)), ("big", Some(0.1)))
    val df = spark.sparkContext.parallelize(rows, 6).toDF("g", "x")
    compareGrouped(df, "g")
    compareGrouped(df)
    assert(df.filter($"g" === "nulls").agg(Aggs.dsum($"x")).head().isNullAt(0))
    assert(Seq.empty[Option[Double]].toDF("x").agg(Aggs.dsum($"x")).head().isNullAt(0))
  }

  test("window frames equal the cast") {
    val df = sample(20).take(30000).toSeq.zipWithIndex
      .map { case (v, i) => (i % 13, i.toLong, if (i % 17 == 0) None else Some(v)) }
      .toDF("g", "t", "x")
    val frames = Seq(
      Window.partitionBy($"g").orderBy($"t").rowsBetween(Window.unboundedPreceding, Window.currentRow),
      Window.partitionBy($"g").orderBy($"t").rowsBetween(-5, 2),
      Window.partitionBy($"g").orderBy($"t").rangeBetween(-40, Window.currentRow))
    for (w <- frames) {
      val got = df.select($"t", Aggs.dsum($"x").over(w).as("s")).orderBy($"t").collect().toSeq
      val want = df.select($"t", sum($"x".cast(Dec)).over(w).as("s")).orderBy($"t").collect().toSeq
      assert(got == want, s"$w")
    }
  }

  test("non-double inputs equal sum over the cast") {
    val df = (1 to 5000).map(i => (i % 7, i.toLong * 1000003L, i % 11, BigDecimal(i) / 7, i.toFloat / 3))
      .toDF("g", "l", "i", "d", "f")
    for (c <- Seq("l", "i", "d", "f")) {
      val got = df.groupBy($"g").agg(Aggs.dsum(col(c)).as("s")).orderBy($"g").collect().toSeq
      val want = df.groupBy($"g").agg(sum(col(c).cast(Dec)).as("s")).orderBy($"g").collect().toSeq
      assert(got == want, c)
    }
  }

  /** The rows, or the condition and parameters of the first Spark error
    * among the causes. */
  private def outcome(body: => Seq[Row]): Either[(String, java.util.Map[String, String]), Seq[Row]] =
    try Right(body)
    catch {
      case e: Exception =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: SparkThrowable if t.getCondition != null => (t.getCondition, t.getMessageParameters)
        }.getOrElse(fail(s"no Spark error in $e")))
    }

  test("NaN, ±Inf and decimal overflow behave as the cast under either ANSI setting") {
    // Spark's cast maps NaN and ±Inf to null in both modes; a sum past
    // decimal(38,6) is null without ANSI and an error with it
    val data = Seq(("a", 1.5), ("a", Double.NaN), ("b", 2.25), ("b", Double.PositiveInfinity),
      ("c", Double.NegativeInfinity), ("d", 9e31), ("d", 9e31), ("d", 0.5))
    def run(s: SparkSession, agg: => org.apache.spark.sql.Column, keys: String*) = outcome {
      import s.implicits._
      data.filter(r => keys.isEmpty || keys.contains(r._1)).toDF("g", "x")
        .groupBy($"g").agg(agg).orderBy($"g").collect().toSeq
    }
    for (ansi <- Seq(true, false)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      SparkSession.setActiveSession(s)
      try {
        for (keys <- Seq(Seq("a", "b", "c"), Seq("d"), Nil)) {
          val got = run(s, Aggs.dsum(col("x")), keys: _*)
          assert(got == run(s, sum(col("x").cast(Dec)), keys: _*), s"ansi=$ansi $keys")
          if (keys == Seq("d")) assert(got.isLeft == ansi, s"ansi=$ansi: $got")
        }
      } finally SparkSession.setActiveSession(spark)
    }
  }

  test("plan: over a double, the decimal(38,6) cast runs only for rows off the fast path") {
    val df = Seq(("a", 1.5), ("b", 2.25)).toDF("g", "x").groupBy($"g").agg(Aggs.dsum($"x"))
    val partials = df.queryExecution.sparkPlan.collect {
      case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Partial) => h
    }
    assert(partials.size == 1, df.queryExecution.sparkPlan.toString)
    val sums = partials.head.aggregateExpressions.map(_.aggregateFunction).collect { case e: ExactSum => e }
    assert(sums.size == 1, partials.head.toString)
    // every cast in the per-row update sits in the null branch of Micros
    def unguarded(e: Expression): Seq[Cast] = e match {
      case If(IsNull(_: ExactSum.Micros), _, orElse) => unguarded(orElse)
      case c: Cast if c.dataType == Dec => Seq(c)
      case other => other.children.flatMap(unguarded)
    }
    val update = sums.head.updateExpressions
    assert(update.exists(_.exists(_.isInstanceOf[ExactSum.Micros])), update.mkString("\n"))
    assert(update.flatMap(unguarded).isEmpty, update.mkString("\n"))
  }
}
