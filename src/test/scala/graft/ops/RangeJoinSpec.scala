package graft.ops

import graft.SparkTestBase
import graft.functions.IntervalTable
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkTestBase {

  import spark.implicits._

  test("lookupJoin: containment, boundary keys, and misses") {
    val dim = Seq((10L, 19L, 1L), (20L, 29L, 2L), (100L, 100L, 3L))
      .toDF("lo", "hi", "v")
    val table = RangeJoin.intervalTable(dim, $"lo", $"hi", $"v")
    val facts = Seq(9L, 10L, 15L, 19L, 20L, 29L, 30L, 99L, 100L, 101L)
      .toDF("key")
    val got = RangeJoin.lookupJoin(facts, $"key", table, "v")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(
      9L -> None, 10L -> Some(1L), 15L -> Some(1L), 19L -> Some(1L),
      20L -> Some(2L), 29L -> Some(2L), 30L -> None, 99L -> None,
      100L -> Some(3L), 101L -> None))
  }

  test("intervalTable rejects overlaps, empty intervals, and the reserved value") {
    intercept[IllegalArgumentException] {
      IntervalTable.build(Array((1L, 10L, 1L), (10L, 20L, 2L))) // shared point
    }
    intercept[IllegalArgumentException] {
      IntervalTable.build(Array((5L, 4L, 1L)))
    }
    intercept[IllegalArgumentException] {
      IntervalTable.build(Array((1L, 2L, Long.MinValue)))
    }
    assert(IntervalTable.build(Array.empty[(Long, Long, Long)]).lookup(7L)
      == IntervalTable.Miss)
  }

  test("FuzzyJoin: same-block typos matched within maxDist; cross-block pairs unreachable") {
    val gold = Seq((1L, "saint marys medical center"),
      (2L, "oak valley clinic"), (3L, "riverside hospital")).toDF("id", "name")
    val dirty = Seq((10L, "saint marys medical centre"),   // dist 2 to id 1
      (11L, "oak valey clinic"),                            // dist 1 to id 2
      (12L, "stone riverside hospital")                     // close to id 3 but block 'stone'
    ).toDF("id", "name")
    val got = FuzzyJoin.byEditDistance(gold, $"id", $"name",
        dirty, $"id", $"name", t => split(t, " ")(0), maxDist = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // 3↔12 is in another block ('riverside' vs 'stone') — unreachable
    assert(got == Seq((1L, 10L, 2L), (2L, 11L, 1L)))

    val none = FuzzyJoin.byEditDistance(gold, $"id", $"name",
        dirty, $"id", $"name", t => split(t, " ")(0), maxDist = 0)
    assert(none.count() == 0)
  }

  test("Expectations: a clean table reports every check with zero violations") {
    val dim = Seq((1L, "a"), (2L, "b")).toDF("pk", "x")
    val facts = Seq((10L, 1L, 5.0), (11L, 2L, 7.5), (12L, 1L, 1.0))
      .toDF("id", "fk", "v")
    val rep = Expectations.report(facts,
        rowChecks = Seq("v_positive" -> ($"v" <= 0), "fk_not_null" -> $"fk".isNull),
        uniqueKeys = Seq("id_unique" -> Seq($"id")),
        foreignKeys = Seq(("fk_valid", $"fk", dim, $"pk")))
      .as[(String, Long)].collect().toMap
    // green rows are still emitted — a passing check is visible, not absent
    assert(rep == Map("v_positive" -> 0L, "fk_not_null" -> 0L,
      "id_unique" -> 0L, "fk_valid" -> 0L))
  }

  test("driftReport: planted row-count and null-rate drift fires; steady loads stay green") {
    val week1 = (1L to 1000L).map(i => (i, if (i % 10 == 0) null else "v"))
      .toDF("id", "payload") // 10% null
    val steady = (1L to 1020L).map(i => (i, if (i % 10 == 0) null else "v"))
      .toDF("id", "payload") // +2% rows, same null rate
    val broken = (1L to 400L).map(i => (i, if (i % 2 == 0) null else "v"))
      .toDF("id", "payload") // -60% rows, 50% null
    val p1 = Expectations.loadProfile(week1, Seq("id", "payload"))
    assert(p1.orderBy("column").as[(String, Long, Long, Double)].collect().toSeq ==
      Seq(("id", 1000L, 0L, 0.0), ("payload", 1000L, 100L, 0.1)))

    val green = Expectations.driftReport(
      Expectations.loadProfile(steady, Seq("id", "payload")), p1,
      maxRowDeltaPct = 0.1, maxNullRateDrift = 0.02)
      .select("check", "ok").as[(String, Boolean)].collect()
    assert(green.length == 3 && green.forall(_._2), green.mkString(","))

    val red = Expectations.driftReport(
      Expectations.loadProfile(broken, Seq("id", "payload")), p1,
      maxRowDeltaPct = 0.1, maxNullRateDrift = 0.02)
      .as[(String, String, Double, Double, Double, Boolean)].collect()
    val byCheck = red.map(r => (r._1, Option(r._2).getOrElse("")) -> r).toMap
    assert(!byCheck(("row_count_delta", ""))._6)
    assert(byCheck(("row_count_delta", ""))._5 == 0.6)
    assert(!byCheck(("null_rate_drift", "payload"))._6)
    assert(byCheck(("null_rate_drift", "payload"))._5 == 0.4)
    assert(byCheck(("null_rate_drift", "id"))._6) // id stayed clean
  }

  test("driftReport: an empty previous profile FAILS the row-count check, never null-passes") {
    val cur = Expectations.loadProfile(Seq((1L, "x")).toDF("id", "v"), Seq("id", "v"))
    val emptyPrev = cur.filter(lit(false))
    val rep = Expectations.driftReport(cur, emptyPrev)
      .filter($"check" === "row_count_delta")
      .select("ok").as[Boolean].collect().toSeq
    assert(rep == Seq(false),
      "missing previous profile must fail loudly, not evaluate ok to null")
    // and a monitoring filter on !ok actually surfaces it
    assert(Expectations.driftReport(cur, emptyPrev).filter(!$"ok").count() >= 1)
  }

  test("driftReport: a column present in only one load fails loudly") {
    val a = Seq((1L, "x")).toDF("id", "old_col")
    val b = Seq((1L, "x")).toDF("id", "new_col")
    val rep = Expectations.driftReport(
      Expectations.loadProfile(b, Seq("id", "new_col")),
      Expectations.loadProfile(a, Seq("id", "old_col")))
      .filter($"check" === "null_rate_drift")
      .select("column", "ok").as[(String, Boolean)].collect().toMap
    assert(rep("id"))
    assert(!rep("old_col") && !rep("new_col"), "schema change must surface as failure")
  }

  private val driftCols = Seq("hospital_pk", "collection_week", "all_adult_hospital_beds_7_day_avg",
    "total_icu_beds_7_day_avg", "inpatient_beds_used_covid_7_day_avg")

  /** driftReport of week `w2` against week `w1` over [[driftCols]]. */
  private def hhsDrift(w1: org.apache.spark.sql.DataFrame, w2: org.apache.spark.sql.DataFrame) =
    Expectations.driftReport(
      Expectations.loadProfile(w2, driftCols), Expectations.loadProfile(w1, driftCols),
      maxRowDeltaPct = 0.05, maxNullRateDrift = 0.05)
      .as[(String, String, Double, Double, Double, Boolean)].collect()

  /** The raw HHS week at `f`; the test cancels where the file is absent. */
  private def readWeek(f: String) = {
    assume(new java.io.File(f).isFile, s"$f is absent")
    graft.aragon.HhsLoad.readRaw(spark, f)
  }

  test("driftReport over two real HHS weeks: row delta tiny, bed-metric null rates drift within bounds") {
    import graft.aragon.HhsLoad
    val w1 = HhsLoad.clean(readWeek(
      "/root/reference/hhs_data/2022-09-23-hhs-data.csv"))
    val w2 = HhsLoad.clean(readWeek(
      "/root/reference/hhs_data/2022-09-30-hhs-data.csv"))
    val rep = hhsDrift(w1, w2)
    assert(rep.length == driftCols.length + 1)
    // consecutive HHS weeks are near-identical hospital sets: all green
    assert(rep.forall(_._6), rep.filterNot(_._6).mkString(","))
    // and the numbers are real: both weeks ~4996 rows, keys never null
    val rd = rep.find(_._1 == "row_count_delta").get
    assert(rd._3 > 4900 && rd._3 < 5100 && rd._4 > 4900 && rd._4 < 5100)
    assert(rep.find(r => r._2 == "hospital_pk").get._3 == 0.0)
  }

  test("driftReport over two generated 127-column HHS weeks: all green, counts real") {
    import graft.aragon.{HhsFixture, HhsLoad}
    val dir = java.nio.file.Files.createTempDirectory("hhs-drift")
    // week 2 adds 2 hospitals; the metric cycle puts NA and -999999 in
    // each metric at nearly the same rate both weeks
    def week(date: String, n: Int) = HhsLoad.clean(readWeek(HhsFixture.write(
      dir.resolve(s"$date-hhs-data.csv"), (1 to n).map(HhsFixture.facility(_, date)))))
    val rep = hhsDrift(week("2022-01-07", 200), week("2022-01-14", 202))
    assert(rep.length == driftCols.length + 1)
    assert(rep.forall(_._6), rep.filterNot(_._6).mkString(","))
    val rd = rep.find(_._1 == "row_count_delta").get
    assert(rd._3 == 202 && rd._4 == 200)
    assert(rep.find(r => r._2 == "hospital_pk").get._3 == 0.0)
    // the sentinel and NA both read as null: a real, non-zero null rate
    assert(rep.find(r => r._2 == "total_icu_beds_7_day_avg").get._3 > 0.05)
  }

  test("lookupJoin matches Spark's native BETWEEN join on random interval sets") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // random non-overlapping intervals via a sorted cut sequence
      var cursor = 0L
      val ivs = (1L to 40L).map { v =>
        val lo = cursor + 1 + rnd.nextInt(5)
        val hi = lo + rnd.nextInt(8)
        cursor = hi
        (lo, hi, v)
      }
      val dim = ivs.toDF("lo", "hi", "v")
      val keys = (1 to 300).map(_ => rnd.nextLong(cursor + 10)).toDF("key")
      val table = RangeJoin.intervalTable(dim, $"lo", $"hi", $"v")
      val viaLookup = RangeJoin.lookupJoin(keys, $"key", table, "v")
        .filter($"v".isNotNull).as[(Long, Long)].collect().sorted.toSeq
      val viaJoin = keys.join(dim, $"key" >= $"lo" && $"key" <= $"hi")
        .select($"key", $"v").as[(Long, Long)].collect().sorted.toSeq
      assert(viaLookup == viaJoin, s"seed=$seed")
    }
  }

  test("overlapJoin: closed bounds, multi-bin dedup, empty intervals, negative coords — binned equals naive") {
    val l = Seq(
      (1L, 0L, 100L),     // overlaps r1 (touching at 100), r2
      (2L, 250L, 260L),   // inside r3
      (3L, 500L, 400L),   // EMPTY (lo > hi) — matches nothing
      (4L, -75L, -25L),   // negative coords, overlaps r4
      (5L, 1000L, 1080L)  // spans 3+ bins together with r5 — dedup path
    ).toDF("id", "lo", "hi")
    val r = Seq(
      (101L, 100L, 150L), // touches l1 at exactly 100 (closed bounds)
      (102L, 50L, 60L),   // inside l1
      (103L, 200L, 300L),
      (104L, -60L, -50L),
      (105L, 990L, 1100L),
      (106L, 5000L, 5001L) // overlaps nothing
    ).toDF("id", "lo", "hi")
    def naive = l.filter($"lo" <= $"hi").as("l")
      .crossJoin(r.as("r"))
      .filter(col("l.lo") <= col("r.hi") && col("r.lo") <= col("l.hi"))
      .select(col("l.id"), col("r.id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    for (w <- Seq(7L, 32L, 1000L)) {
      val got = RangeJoin.overlapJoin(l, $"id", $"lo", $"hi",
          r, $"id", $"lo", $"hi", binWidth = w)
        .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(got == naive, s"binWidth=$w: $got vs $naive")
    }
    assert(naive.contains((1L, 101L)), "closed-bound touch must match")
    assert(!naive.exists(_._1 == 3L), "empty interval must match nothing")
  }

  test("overlapJoin raises when a span would explode past maxBinsPerRow") {
    val l = Seq((1L, 0L, 10000L)).toDF("id", "lo", "hi")
    val r = Seq((2L, 5L, 6L)).toDF("id", "lo", "hi")
    val ex = intercept[Exception] {
      RangeJoin.overlapJoin(l, $"id", $"lo", $"hi", r, $"id", $"lo", $"hi",
        binWidth = 10L, maxBinsPerRow = 100L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("maxBinsPerRow")), ex.getMessage)
  }
}
