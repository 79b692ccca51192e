package graft.aragon

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Cleaning, Validate}
import AragonSchema._

/** The CMS quality snapshot load (reference load_quality.py, SURVEY.md
  * §3 E2) as one Spark job.
  *
  * Reference shape: column-pruned pandas scan → vectorized clean → ONE
  * batched IN-list dup probe → 500-row executemany with row-at-a-time
  * fallback. Spark shape: single scan (Catalyst prunes the 38-col CSV
  * to what the plan touches) → clean → one tagged frame: a duplicate
  * flag from a broadcast join against the (facility_id @ data_date)
  * snapshot and a validity flag pre-validating what the DB CHECK would
  * reject, so the sink write is clean — the idiomatic replacement for
  * the batch-then-row fallback, SURVEY §3 E2. Inserts, quarantine and
  * the load accounting are filters and one aggregate over that frame.
  *
  * Note the reference does NOT dedupe in-file facility_id duplicates
  * (no unique constraint on the serial-pk table) — we reproduce that:
  * no intra-batch dedup here.
  */
object QualityLoad {

  private val RowId = "__row_id"
  private val EsRaw = "__es_raw"

  final case class Metrics(totalRows: Long, inserted: Long, duplicates: Long, invalid: Long)

  /** Call `unpersist()` once the outputs are written: it frees the
    * load's raw and tagged cuts.
    */
  final case class Result(quality: DataFrame, quarantine: DataFrame, metrics: Metrics,
                          private val releases: Seq[() => Unit] = Nil) {
    def unpersist(): Unit = releases.foreach(_())
  }

  /** S2/S3: one scan, all columns as raw strings (quarantine needs the
    * full original row, reference load_quality.py:142).
    */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame =
    spark.read.option("header", "true").csv(csvPath)
      .withColumn(RowId, monotonically_increasing_id())

  /** P5-P7: header normalize, whole-frame 'Not Available'→0 (the
    * reference's df.replace hits every column), Yes/No→bool, rating→
    * float, literal data_date.
    */
  def clean(raw: DataFrame, date: java.sql.Date): DataFrame = {
    val pruned = raw.select((qualitySourceCols.map(col) :+ col(RowId)): _*)
    val renamed = Cleaning.normalizeHeaders(pruned)
    val naMapped = renamed.columns.filter(_ != RowId).foldLeft(renamed) {
      (d, c) => Cleaning.mapValues(d, c, Map("Not Available" -> "0"))
    }
    val typed = naMapped
      // keep the pre-boolean text: values outside {Yes, No, null} (e.g.
      // 'Not Available' → "0" via the whole-frame remap above) must be
      // routed to the invalid split, mirroring the reference where the
      // boolean-column INSERT rejects them into quarantine
      // (load_quality.py:103-105 + per-row fallback :57-78)
      .withColumn(EsRaw, col("emergency_services"))
      .withColumn("hospital_overall_rating", col("hospital_overall_rating").cast(DoubleType))
      .withColumn("emergency_services",
        when(col("emergency_services") === "Yes", true)
          .when(col("emergency_services") === "No", false)
          .otherwise(lit(null).cast(BooleanType)))
    Cleaning.withLiteral(typed, "data_date", date, DateType)
  }

  /** Full E2 pipeline for one snapshot file.
    *
    * @param existingKeys snapshot of (facility_id, data_date) already loaded
    */
  def load(spark: SparkSession, csvPath: String, date: java.sql.Date,
           existingKeys: DataFrame): Result = {

    // raw is cut so the quarantine sees the row ids the tagged frame saw
    val rawCut = GraftBridge.persistCutFrame(readRaw(spark, csvPath))
    val raw = rawCut.df
    // ONE tagged frame (the HhsLoad shape). `__dup`: D3's batched probe
    // as a broadcast join on facility_id at this date. `__valid`: P10's
    // CHECK (hospital_overall_rating >= 0) plus the BOOLEAN-column
    // constraint on emergency_services (outside {Yes, No, null} fails
    // the reference's insert → quarantine)
    val existingAtDate = existingKeys.toDF("facility_id", "data_date")
      .filter(col("data_date") === lit(date)).select("facility_id")
      .dropDuplicates("facility_id")
      .withColumn("__dup", lit(true))
    val taggedCut = GraftBridge.persistCutFrame(clean(raw, date)
      .join(broadcast(existingAtDate), Seq("facility_id"), "left")
      .withColumn("__dup", col("__dup").isNotNull)
      .withColumn("__valid", Validate.validPredicate(Seq(
        col("hospital_overall_rating").isNull || col("hospital_overall_rating") >= 0,
        col(EsRaw).isNull || col(EsRaw).isin("Yes", "No")))))
    val tagged = taggedCut.df
    val keep = !col("__dup") && col("__valid")

    // broadcast keeps the raw side's file order
    val quarantine = raw
      .join(broadcast(tagged.filter(!keep).select(RowId)), Seq(RowId), "left_semi")
      .drop(RowId)

    // Metrics: ONE aggregation action over the tagged frame
    val m = tagged.agg(
      count(lit(1)),
      count(when(keep, 1)),
      count(when(!col("__dup") && !col("__valid"), 1))).head()
    val total = m.getLong(0)
    val metrics = Metrics(
      totalRows = total,
      inserted = m.getLong(1),
      duplicates = total - m.getLong(1) - m.getLong(2),
      invalid = m.getLong(2))

    // S8 (reference: logging_module.py + load_quality.py:145-146)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"Quality load $csvPath @$date: ${metrics.inserted} inserted of " +
        s"${metrics.totalRows} (${metrics.duplicates} duplicates, ${metrics.invalid} invalid)")

    // DDL column order (ipynb cell-3 insert order, load_quality.py:114)
    val out = tagged.filter(keep).select(
      col("facility_id"), col("hospital_type"), col("hospital_ownership"),
      col("emergency_services"), col("hospital_overall_rating"), col("data_date"))

    Result(out, quarantine, metrics, releases = Seq(rawCut.release, taggedCut.release))
  }
}
