package graft.aragon

import java.nio.file.{Files, Path}
import java.sql.Date

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}

/** The nine dashboard reports over a small warehouse the spec writes
  * (4 hospitals, 3 weeks, 2 CMS snapshots), read back through
  * `ParquetWarehouse.table`: every result against hand-computed values,
  * the jobs a report and a table read cost, and the declared table DDL
  * against what the loaders write.
  */
class ReportingSpec extends SparkTestBase {

  private val (w1, w2, w3) = ("2022-01-07", "2022-01-14", "2022-01-21")
  private def d(s: String) = Date.valueOf(s)

  /** Bed metrics in `AragonSchema.bedMetrics` order: adult beds, pediatric
    * beds, adult used, pediatric used, ICU beds, ICU used, covid, staffed
    * ICU covid. */
  private val beds: Seq[(String, String, Seq[java.lang.Double])] = {
    def m(xs: Any*): Seq[java.lang.Double] = xs.map {
      case null => null
      case x: Double => java.lang.Double.valueOf(x)
    }
    Seq(
      ("H1", w1, m(100.1, 10.2, 80.3, 5.1, 20.0, 10.5, 7.7, 1.0)),
      ("H2", w1, m(200.2, 20.1, 150.4, 8.2, 30.0, 20.25, 12.1, 2.0)),
      ("H3", w1, m(50.05, null, 40.1, 2.3, 10.0, 5.0, 3.3, 0.0)),
      ("H1", w2, m(101.1, 11.2, 81.3, 6.1, 20.0, 11.5, 8.8, 1.0)),
      ("H2", w2, m(199.9, 19.9, 149.6, null, 30.0, 19.75, 11.9, 2.0)),
      ("H3", w2, m(50.05, 5.5, 39.9, 2.7, 10.0, null, 3.4, 0.0)),
      ("H1", w3, m(102.1, 12.2, 82.3, 7.1, 20.0, 12.5, 9.9, 1.0)),
      ("H4", w3, m(0.1, 0.2, 0.1, 0.2, 1.0, 0.3, 0.1, 0.0)))
  }

  private lazy val dir: Path = {
    val dir = Files.createTempDirectory("reporting-wh")
    def write(name: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), AragonSchema.tableSchemas(name))
        .write.parquet(dir.resolve(name).toString)
    write("hospitals", Seq(Row("H1", "Alpha"), Row("H2", "Beta"), Row("H3", "Gamma"), Row("H4", "Delta")))
    write("hospital_locations", Seq("H1" -> "PA", "H2" -> "PA", "H3" -> "OH", "H4" -> "NY").map {
      case (h, st) => Row(h, st, s"1 $h St", "Springfield", "15000", null, null)
    })
    write("hospital_quality_information", Seq(
      Row("H1", "Acute", "Private", true, 3.0, d("2022-01-01")),
      Row("H2", "Acute", "Government", false, 5.0, d("2022-01-01")),
      Row("H3", "Critical", "Private", true, 3.0, d("2022-01-01")),
      Row("H4", "Acute", "Government", true, 1.0, d("2022-01-01")),
      Row("H1", "Acute", "Private", true, 4.0, d("2022-07-01"))))
    write("hospital_bed_information", beds.map { case (h, w, ms) => Row((Seq(h, d(w)) ++ ms): _*) })
    dir
  }

  private lazy val wh = new AragonPipeline.ParquetWarehouse(dir.toString)
  private def table(name: String): DataFrame = wh.table(spark, name).get
  private def bedT = table("hospital_bed_information")
  private def qualityT = table("hospital_quality_information")

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("the nine reports equal hand-computed values") {
    val hospitals = table("hospitals")
    val locations = table("hospital_locations")
    assert(rows(Reporting.weeklyRecords(bedT, w2)) == Seq(Seq(3L)))
    assert(rows(Reporting.weeklyRecordsPrior(bedT, w3)) == Seq(Seq(d(w1), 3L), Seq(d(w2), 3L)))
    // pediatric beds skip H3's null
    assert(rows(Reporting.bedSummaryAt(bedT, w1)) == Seq(Seq(350.35, 30.3, 270.8, 15.6, 23.1)))
    assert(rows(Reporting.bedSummaryRecent4(bedT)) == Seq(
      Seq(d(w1), 350.35, 30.3, 270.8, 15.6, 23.1),
      Seq(d(w2), 351.05, 36.6, 270.8, 8.8, 24.1),
      Seq(d(w3), 102.2, 12.4, 82.4, 7.3, 10.0)))
    // (adult used + ped used) / (adult beds + ped beds) over every bed row
    // of every snapshot row with that rating; a null term drops its row
    assert(rows(Reporting.ratingBedUse(qualityT, bedT)) == Seq(
      Seq(1.0, 0.3 / 0.3),
      Seq(3.0, 347.2 / 392.45),
      Seq(4.0, 262.2 / 336.9),
      Seq(5.0, 158.6 / 440.1)))
    // all cases = adult used + ped used + ICU used, per row
    assert(rows(Reporting.totalBedUsage(bedT, w2)) == Seq(
      Seq(d(w1), 322.15, 23.1), Seq(d(w2), 98.9, 24.1)))
    assert(rows(Reporting.emergencyTop20(qualityT, hospitals, locations)) ==
      Seq(Seq("PA", 2L), Seq("NY", 1L), Seq("OH", 1L)))
    // H1 has two Private snapshots, so its beds count twice
    assert(rows(Reporting.ownershipBedUse(qualityT, bedT, "Private")) == Seq(
      Seq("Private", d(w1), 213.2 / 220.6),
      Seq("Private", d(w2), 217.4 / 280.15),
      Seq("Private", d(w3), 178.8 / 228.6)))
    assert(rows(Reporting.topBottomStates(qualityT, locations, "2022-01-01")) == Seq(
      Seq("PA", 4.0, "bottom"), Seq("OH", 3.0, "bottom"), Seq("NY", 1.0, "bottom"),
      Seq("PA", 4.0, "top"), Seq("OH", 3.0, "top"), Seq("NY", 1.0, "top")))
  }

  test("jobs: the small sorted reports sort on one partition, a table read runs none") {
    val (beds, quality) = (bedT, qualityT)
    assert(jobs(table("hospital_bed_information")) == 0)
    assert(jobs(Reporting.weeklyRecordsPrior(beds, w3).collect()) == 2)
    assert(jobs(Reporting.ratingBedUse(quality, beds).collect()) == 3)
    assert(jobs(Reporting.totalBedUsage(beds, w2).collect()) == 2)
    assert(jobs(Reporting.ownershipBedUse(quality, beds, "Private").collect()) == 3)
  }

  test("the declared table DDL equals what runHhs and runQuality write") {
    val out = Files.createTempDirectory("ddl-wh")
    val loaded = new AragonPipeline.ParquetWarehouse(out.resolve("wh").toString)
    val csv = HhsFixture.write(out.resolve("hhs.csv"),
      (1 to 12).map(i => HhsFixture.facility(i, "2022-01-07")))
    AragonPipeline.runHhs(spark, csv, loaded, out.resolve("q").toString)
    val cms = out.resolve("cms.csv")
    Files.write(cms, Seq(
      "Facility ID,Hospital overall rating,Emergency Services,Hospital Type,Hospital Ownership",
      "H0001,3,Yes,Acute,Private", "H0002,Not Available,No,Acute,Government").mkString("\n")
      .getBytes("UTF-8"))
    AragonPipeline.runQuality(spark, cms.toString, d("2022-01-01"), loaded, out.resolve("q").toString)
    for ((name, declared) <- AragonSchema.tableSchemas)
      assert(spark.read.parquet(out.resolve(s"wh/$name").toString).schema == declared, name)
  }
}
