package graft.aragon

import org.apache.spark.sql.types._

/** CLI entry point for the hospital pipeline: load one HHS weekly file
  * and one CMS snapshot (paths as args), print the load accounting and
  * two reporting results.
  *
  * Usage: runMain graft.aragon.AragonDemo <hhs.csv> <quality.csv> <quality-date>
  */
object AragonDemo {
  def main(args: Array[String]): Unit = {
    val Array(hhsCsv, qualCsv, qualDate) = args
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import AragonPipeline.emptyDf

    val hhs = HhsLoad.load(spark, hhsCsv,
      emptyDf(spark, "hospital_pk" -> StringType),
      emptyDf(spark, "hospital_fk" -> StringType),
      emptyDf(spark, "hospital_fk" -> StringType, "collection_week" -> DateType))
    println(s"HHS load: ${hhs.metrics}")

    val qual = QualityLoad.load(spark, qualCsv, java.sql.Date.valueOf(qualDate),
      emptyDf(spark, "facility_id" -> StringType, "data_date" -> DateType))
    println(s"Quality load: ${qual.metrics}")

    println("Bed summary (4 most recent weeks):")
    Reporting.bedSummaryRecent4(hhs.beds).show(truncate = false)
    println("Fraction of beds in use by rating:")
    Reporting.ratingBedUse(qual.quality, hhs.beds).show(truncate = false)
    spark.stop()
  }
}
