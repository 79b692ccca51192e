package graft.aragon

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Cleaning, Validate}
import AragonSchema._

/** The HHS weekly-capacity load pipeline (reference load_hhs.py,
  * SURVEY.md §3 E1) re-expressed as ONE declarative Spark job.
  *
  * Reference shape: pandas scan → vectorized clean → row-at-a-time loop
  * with up to 6 SQL round-trips per row (3 dup probes + 3 inserts).
  * Spark shape: single CSV scan (all columns as strings, so quarantined
  * rows keep their ORIGINAL text — the reference re-reads the file for
  * this, load_hhs.py:154; we carry it in the same scan) → typed
  * projection of the consumed columns → anti-join dedup vs existing-key
  * snapshots → validate-split → three inserts + quarantine. Narrow
  * except the dedup joins (broadcast of key snapshots) and the
  * intra-file firstPerKey (one shuffle on the key).
  *
  * Semantic deltas vs the reference, knowingly accepted (SURVEY §7.3):
  * per-row insert-order dedup is reproduced deterministically by
  * firstPerKey on file position; per-file txn atomicity becomes
  * per-partition sink txns.
  */
object HhsLoad {

  private val RowId = "__row_id"
  private val SrcFile = "__src_file"

  /** The 17 of the feed's 127 columns the three tables read, plus the
    * file-order keys. Only the quarantine needs the rest, and it takes
    * them from the raw rows by `__row_id`.
    */
  private val consumed: Seq[String] =
    Seq("hospital_pk", "hospital_name", "collection_week") ++ locationCols ++ bedMetrics ++
      Seq(SrcFile, RowId)

  /** Per-file load accounting (reference load_hhs.py:157-161). */
  final case class Metrics(
      totalRows: Long,
      hospitalsInserted: Long, hospitalsDup: Long,
      locationsInserted: Long, locationsDup: Long,
      bedsInserted: Long, bedsDup: Long, bedsInvalid: Long)

  /** The three normalized outputs + quarantine (original text rows).
    * Call `unpersist()` once the outputs are written — the frames
    * derive from per-load cuts that otherwise accumulate across a
    * multi-file loading session.
    */
  final case class Result(
      hospitals: DataFrame, locations: DataFrame, beds: DataFrame,
      quarantine: DataFrame, metrics: Metrics,
      private val releases: Seq[() => Unit] = Nil) {
    def unpersist(): Unit = releases.foreach(_())
  }

  /** S1/S3: ONE scan — header'd CSV, `NA` literal → null, every column
    * kept as raw string; `__row_id` + `__src_file` pin file order for
    * deterministic intra-file dedup and quarantine row recovery.
    *
    * Ordering contract: monotonically_increasing_id alone is NOT file
    * order across multiple files (Spark lists splits by size, not
    * name), so the dedup windows order by (`__src_file`, `__row_id`).
    * Within one file, splits pack in offset order, so the id increases
    * with byte offset; prefixing the file name makes a glob/directory
    * input deterministic too (alphabetical by path, then file order).
    */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", "NA")
      .csv(csvPath)
      .withColumn(SrcFile, input_file_name())
      .withColumn(RowId, monotonically_increasing_id())

  /** P1-P4 over the raw frame: typed view of the 17 consumed columns.
    * Cast-then-sentinel: Spark cast is null-on-failure (stricter than
    * pandas astype(errors='ignore'); all supplied files are numeric in
    * these columns so outputs agree — SURVEY §4).
    */
  def clean(raw: DataFrame): DataFrame = {
    val casted = Cleaning.castColumns(raw, bedMetrics, DoubleType)
    val noSentinel = Cleaning.sentinelToNull(casted, bedMetrics, HhsSentinel)
    Cleaning.parseDates(noSentinel, Seq("collection_week"))
  }

  /** Full E1 pipeline for one weekly file.
    *
    * @param existingHospitalPks snapshot of Hospitals.hospital_pk
    * @param existingLocationFks snapshot of HospitalLocations.hospital_fk
    * @param existingBedKeys     snapshot of (hospital_fk, collection_week)
    */
  def load(spark: SparkSession, csvPath: String,
           existingHospitalPks: DataFrame,
           existingLocationFks: DataFrame,
           existingBedKeys: DataFrame): Result = {

    import org.apache.spark.sql.expressions.Window

    // raw is cut: the quarantine branch re-reads it, and the row ids
    // from monotonically_increasing_id must be the SAME ids the tagged
    // frame saw — a second scan is not guaranteed to reproduce them.
    // Both per-load frames are GraftBridge cuts, which store rows and
    // skip the columnar cache's encoding pass.
    val rawCut = GraftBridge.persistCutFrame(readRaw(spark, csvPath))
    val raw = rawCut.df
    // Narrow before the windows, joins and cut: 127 CSV columns plus the
    // typed copies exceed spark.sql.codegen.maxFields (100), and a plan
    // that wide runs interpreted instead of in whole-stage codegen.
    val typed = clean(raw.select(consumed.map(col): _*))

    // --- ONE tagged frame instead of three branch pipelines ------------
    // Hospitals and Locations share the hospital_pk key → one window
    // serves both; beds key adds collection_week → second window. Both
    // windows cluster on hospital_pk, so the file is shuffled once. The
    // existing-key probes are broadcast left joins with marker flags.
    // Net cost: 1 window shuffle + broadcasts over ONE pass of the
    // scan — the branch-per-table form re-shuffled and cached the wide
    // frame three times.
    val wPk = Window.partitionBy(col("hospital_pk"))
      .orderBy(col(SrcFile).asc, col(RowId).asc)
    val wBed = Window.partitionBy(col("hospital_pk"), col("collection_week"))
      .orderBy(col(SrcFile).asc, col(RowId).asc)
    // reference guard is `int(x) < 0` — truncation toward zero, so
    // -0.5 passes; cast(long) reproduces exactly (load_hhs.py:104-127)
    val bedValidPred = Validate.validPredicate(
      bedMetrics.map(c => col(c).isNull || col(c).cast(LongType) >= 0))

    def existsIn(keys: DataFrame, flag: String, on: Seq[String]): DataFrame =
      broadcast(keys.dropDuplicates(on).withColumn(flag, lit(true)))

    val taggedCut = GraftBridge.persistCutFrame(typed
      .withColumn("__first_pk", row_number().over(wPk) === 1)
      .withColumn("__first_bed", row_number().over(wBed) === 1)
      .join(existsIn(existingHospitalPks.toDF("hospital_pk"), "__pk_exists", Seq("hospital_pk")),
        Seq("hospital_pk"), "left")
      .join(existsIn(existingLocationFks.toDF("hospital_pk"), "__fk_exists", Seq("hospital_pk")),
        Seq("hospital_pk"), "left")
      .join(existsIn(
          existingBedKeys.toDF("hospital_pk", "collection_week"), "__bed_exists",
          Seq("hospital_pk", "collection_week")),
        Seq("hospital_pk", "collection_week"), "left")
      .withColumn("__keep_hosp", col("__first_pk") && col("__pk_exists").isNull)
      .withColumn("__keep_loc", col("__first_pk") && col("__fk_exists").isNull)
      .withColumn("__bed_fresh", col("__first_bed") && col("__bed_exists").isNull)
      .withColumn("__bed_valid", bedValidPred)
      .withColumn("__keep_bed", col("__bed_fresh") && col("__bed_valid")))
    val tagged = taggedCut.df

    val hospNew = tagged.filter(col("__keep_hosp"))
      .select(col("hospital_pk"), col("hospital_name"), col(RowId))
    val locNew = tagged.filter(col("__keep_loc"))
      .select((col("hospital_pk").as("hospital_fk") +: locationCols.map(col) :+ col(RowId)): _*)
    val bedNew = tagged.filter(col("__keep_bed"))
      .select((col("hospital_pk").as("hospital_fk") +: col("collection_week") +:
        bedMetrics.map(col) :+ col(RowId)): _*)

    // --- Quarantine: ORIGINAL rows of every dropped index (D4/S7) ------
    val quarantineIds = tagged
      .filter(!(col("__keep_hosp") && col("__keep_loc") && col("__keep_bed")))
      .select(col(RowId))
    // broadcast keeps the raw side's file order: a shuffled semi join
    // would emit the rows in hash order
    val quarantine = raw.join(broadcast(quarantineIds), Seq(RowId), "left_semi")
      .drop(RowId, SrcFile)

    // --- Metrics: ONE aggregation action over the tagged frame ---------
    def cnt(c: org.apache.spark.sql.Column) = count(when(c, 1))
    val m = tagged.agg(
      count(lit(1)).as("total"),
      cnt(col("__keep_hosp")).as("nHosp"),
      cnt(col("__keep_loc")).as("nLoc"),
      cnt(col("__keep_bed")).as("nBed"),
      cnt(col("__bed_fresh")).as("nBedFresh"),
      cnt(col("__bed_fresh") && !col("__bed_valid")).as("nBedInvalid")).head()
    val total = m.getLong(0)
    val metrics = Metrics(
      totalRows = total,
      hospitalsInserted = m.getLong(1), hospitalsDup = total - m.getLong(1),
      locationsInserted = m.getLong(2), locationsDup = total - m.getLong(2),
      bedsInserted = m.getLong(3),
      bedsDup = total - m.getLong(4), // in-file later occurrences + existing keys
      bedsInvalid = m.getLong(5))

    // S8: load accounting to the engine log (reference: rotating-file
    // logger + stdout summary, load_hhs.py:157-161)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"HHS load $csvPath: rows=${metrics.totalRows} " +
        s"hospitals=+${metrics.hospitalsInserted}/${metrics.hospitalsDup}dup " +
        s"locations=+${metrics.locationsInserted}/${metrics.locationsDup}dup " +
        s"beds=+${metrics.bedsInserted}/${metrics.bedsDup}dup/${metrics.bedsInvalid}invalid")

    Result(
      hospitals = hospNew.drop(RowId),
      locations = locNew.drop(RowId),
      beds = bedNew.drop(RowId),
      quarantine = quarantine,
      metrics = metrics,
      releases = Seq(rawCut.release, taggedCut.release))
  }
}
