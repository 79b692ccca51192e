package graft.aragon

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.sources.{QuarantineSink, TableSink}

/** End-to-end E1/E2 pipeline runners: existing-key snapshot (S4) →
  * load → normalized-table appends (S5/S6) → quarantine CSV (S7), all
  * through the TableSink/Warehouse abstraction so parquet (harness) and
  * JDBC (production) targets run the identical pipeline.
  */
object AragonPipeline {

  /** A sink that can also serve key snapshots (S4: the reference's dup
    * probes read the live target table).
    */
  trait Warehouse extends TableSink {
    def table(spark: SparkSession, name: String): Option[DataFrame]
  }

  final class ParquetWarehouse(baseDir: String)
      extends graft.sources.ParquetSink(baseDir) with Warehouse {
    override def table(spark: SparkSession, name: String): Option[DataFrame] = {
      val p = new java.io.File(s"$baseDir/$name")
      if (p.isDirectory) Some(spark.read.parquet(p.toString)) else None
    }
  }

  /** Production warehouse (S4/S5/S6): key probes via spark.read.jdbc,
    * appends with the reference's 500-row batching through
    * [[graft.sources.AtomicJdbcSink]] — each load publishes in ONE
    * transaction (stage + INSERT…SELECT + drop), reproducing the
    * reference's per-file commit/rollback (`load_hhs.py:148,166` — one commit per file, rollback on any error);
    * a failed load leaves the warehouse untouched. Exercised live on
    * embedded Derby by JdbcPipelineSpec; the pipeline code is
    * identical for parquet and JDBC warehouses.
    */
  final class JdbcWarehouse(url: String, props: java.util.Properties,
                            batchSize: Int = 500, numPartitions: Int = 8)
      extends graft.sources.AtomicJdbcSink(url, props, batchSize, numPartitions) with Warehouse {
    /** None ONLY when the table genuinely doesn't exist (checked via
      * JDBC metadata); any other failure — connectivity, auth — must
      * propagate. Swallowing it would make the loader treat the target
      * as empty and re-insert the whole file.
      */
    override def table(spark: SparkSession, name: String): Option[DataFrame] = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      val exists =
        try {
          val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
          var found = false
          while (!found && rs.next()) {
            found = rs.getString("TABLE_NAME").equalsIgnoreCase(name)
          }
          found
        } finally conn.close()
      if (exists) Some(spark.read.jdbc(url, name, props)) else None
    }
  }

  private[aragon] def emptyDf(spark: SparkSession, fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Snapshot isolation for dedup-vs-target: the existing-key frame is
    * a lazy read of the SAME table this run appends to, and Spark
    * invalidates path-derived caches on write — without an eager
    * snapshot, any result evaluated after the append (quarantine, late
    * metrics) silently re-deduplicates against the run's own output
    * (read-your-own-writes). localCheckpoint materializes the key set
    * once, up front; key snapshots are small (keys only) even when the
    * target is huge. A localCheckpoint, not a GraftBridge cut: its
    * dropped lineage IS the isolation — a lost key block must fail the
    * load, not recompute against the run's own appends.
    */
  private def snapshot(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** One HHS weekly file end-to-end. Returns the load metrics. */
  def runHhs(spark: SparkSession, csvPath: String, wh: Warehouse,
             quarantineDir: String): HhsLoad.Metrics = {
    val hospPks = wh.table(spark, "hospitals")
      .map(t => snapshot(t.select("hospital_pk")))
      .getOrElse(emptyDf(spark, "hospital_pk" -> StringType))
    val locFks = wh.table(spark, "hospital_locations")
      .map(t => snapshot(t.select("hospital_fk")))
      .getOrElse(emptyDf(spark, "hospital_fk" -> StringType))
    val bedKeys = wh.table(spark, "hospital_bed_information")
      .map(t => snapshot(t.select("hospital_fk", "collection_week")))
      .getOrElse(emptyDf(spark, "hospital_fk" -> StringType, "collection_week" -> DateType))

    val res = HhsLoad.load(spark, csvPath, hospPks, locFks, bedKeys)
    wh.append(res.hospitals, "hospitals")
    wh.append(res.locations, "hospital_locations")
    wh.append(res.beds, "hospital_bed_information")
    QuarantineSink.write(res.quarantine, s"$quarantineDir/hhs")
    res.unpersist() // per-load caches must not accumulate across files
    res.metrics
  }

  /** One CMS snapshot end-to-end. */
  def runQuality(spark: SparkSession, csvPath: String, date: java.sql.Date,
                 wh: Warehouse, quarantineDir: String): QualityLoad.Metrics = {
    val existing = wh.table(spark, "hospital_quality_information")
      .map(t => snapshot(t.select("facility_id", "data_date")))
      .getOrElse(emptyDf(spark, "facility_id" -> StringType, "data_date" -> DateType))
    val res = QualityLoad.load(spark, csvPath, date, existing)
    wh.append(res.quality, "hospital_quality_information")
    QuarantineSink.write(res.quarantine, s"$quarantineDir/quality")
    res.unpersist()
    res.metrics
  }
}
