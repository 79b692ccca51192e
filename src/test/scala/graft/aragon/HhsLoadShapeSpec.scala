package graft.aragon

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.RddScopes
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** The shape of one weekly HHS load over a 127-column file the spec
  * writes itself: the load runs in whole-stage codegen, its per-load
  * frames are releasable GraftBridge cuts, and the quarantine keeps the
  * original rows in file order with every header column.
  *
  * Planted: 60 hospitals, a later in-file copy after every sixth row
  * (10 duplicates), a negative bed metric in 3 rows, `-0.5` (valid: the
  * reference truncates toward zero), `NA` and `-999999` in the metrics,
  * and a comma in every address.
  */
class HhsLoadShapeSpec extends SparkTestBase {

  private val week = "2022-01-07"
  private val negative = Set(11, 34, 52)

  /** The file's rows, each with whether the load must quarantine it. */
  private val planted: Seq[(IndexedSeq[String], Boolean)] = (1 to 60).flatMap { i =>
    val set =
      if (negative(i)) Map("total_icu_beds_7_day_avg" -> "-3")
      else if (i == 20) Map("icu_beds_used_7_day_avg" -> "-0.5")
      else Map.empty[String, String]
    val row = HhsFixture.facility(i, week, set = set) -> negative(i)
    if (i % 6 == 0) Seq(row, HhsFixture.facility(i - 3, week,
      set = Map("hospital_name" -> s"Hospital ${i - 3}, resent")) -> true)
    else Seq(row)
  }

  private lazy val csv = HhsFixture.write(
    Files.createTempDirectory("hhs-shape").resolve(s"$week-hhs-data.csv"), planted.map(_._1))

  /** A first load: the empty key snapshots `AragonPipeline.runHhs`
    * passes when the warehouse has no tables yet. */
  private def firstLoad(): HhsLoad.Result = HhsLoad.load(spark, csv,
    AragonPipeline.emptyDf(spark, "hospital_pk" -> StringType),
    AragonPipeline.emptyDf(spark, "hospital_fk" -> StringType),
    AragonPipeline.emptyDf(spark, "hospital_fk" -> StringType, "collection_week" -> DateType))

  test("a first load's empty key frames are empty local relations sized 0") {
    // an empty RDD is sized spark.sql.defaultSizeInBytes (Long.MaxValue),
    // which makes every join planned over it read as unbounded
    val empty = AragonPipeline.emptyDf(spark, "hospital_fk" -> StringType, "collection_week" -> DateType)
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes == 0)
  }

  test("HHS load: metrics match the planted duplicates and negative metrics") {
    val r = firstLoad()
    try assert(r.metrics == HhsLoad.Metrics(totalRows = 70,
      hospitalsInserted = 60, hospitalsDup = 10, locationsInserted = 60, locationsDup = 10,
      bedsInserted = 57, bedsDup = 10, bedsInvalid = 3))
    finally r.unpersist()
  }

  test("HHS load: the quarantine holds the original 127-column rows in file order on a first load") {
    val r = firstLoad()
    try {
      assert(r.quarantine.columns.toSeq == HhsFixture.header)
      val got = r.quarantine.collect().map(_.toSeq).toSeq
      val want = planted.filter(_._2).map(p => HhsFixture.asRead(p._1))
      assert(got.size == 13)
      assert(got == want)
    } finally r.unpersist()
  }

  test("HHS load: both per-load frames are GraftBridge cuts that unpersist() frees") {
    val sc = spark.sparkContext
    val (r, cuts) = GraftBridge.trackCuts(firstLoad())
    assert(cuts.size == 2, s"cuts: $cuts")
    assert(cuts.subsetOf(sc.getPersistentRDDs.keySet))
    r.unpersist()
    assert(cuts.intersect(sc.getPersistentRDDs.keySet).isEmpty)
  }

  test("HHS load: the tagged pass runs in whole-stage codegen") {
    // the tagged cut's RDD lineage was built by the load's executed
    // plan; a plan wider than spark.sql.codegen.maxFields builds none
    val sc = spark.sparkContext
    val (r, cuts) = GraftBridge.trackCuts(firstLoad())
    try {
      val scopes = cuts.toSeq.flatMap(id => sc.getPersistentRDDs.get(id)).flatMap(RddScopes(_))
      assert(scopes.exists(_.startsWith("WholeStageCodegen")), scopes.mkString(", "))
    } finally r.unpersist()
  }

  test("Quality load: raw and tagged frames are GraftBridge cuts that unpersist() frees") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("q-shape")
    val f = dir.resolve("q.csv")
    Files.write(f, Seq(
      "Facility ID,Hospital overall rating,Emergency Services,Hospital Type,Hospital Ownership",
      "F1,3,Yes,Acute,Private", "F2,-1,No,Acute,Private", "F3,4,Yes,Acute,Private").mkString("\n")
      .getBytes("UTF-8"))
    val (r, cuts) = GraftBridge.trackCuts(QualityLoad.load(spark, f.toString,
      java.sql.Date.valueOf("2022-01-01"),
      AragonPipeline.emptyDf(spark, "facility_id" -> StringType, "data_date" -> DateType)))
    assert(r.metrics == QualityLoad.Metrics(totalRows = 3, inserted = 2, duplicates = 0, invalid = 1))
    assert(r.quarantine.collect().map(_.getString(0)).toSeq == Seq("F2"))
    assert(cuts.size == 2 && cuts.subsetOf(sc.getPersistentRDDs.keySet), s"cuts: $cuts")
    r.unpersist()
    assert(cuts.intersect(sc.getPersistentRDDs.keySet).isEmpty)
  }
}
