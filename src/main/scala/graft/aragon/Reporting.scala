package graft.aragon

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Aggs

/** The nine analytical queries of the reference dashboard
  * (reference Reporting.py, SURVEY.md §2.4-2.6 / §3 E3), each as a pure
  * DataFrame → DataFrame function.
  *
  * Where the reference splits work between server SQL and client pandas
  * (nlargest, head/tail, groupby-mean), here the WHOLE query is one
  * Catalyst plan. All joins are dimension-sized on the hospital axis →
  * the smaller side is broadcast; group-bys are the only shuffles.
  * ROUND(x::numeric, 2) is reproduced as round(decimal-exact sum, 2)
  * (SURVEY §7.3 float-vs-NUMERIC note). The sorted results of Q2, Q5, Q6
  * and Q8 are bounded by weeks × ratings and sort on one partition
  * (`Aggs.sortSmall`).
  */
object Reporting {

  private def r2(c: Column): Column = round(c, 2).cast(DoubleType)

  /** Q1 (Reporting.py:29-33): records loaded in the selected week. */
  def weeklyRecords(beds: DataFrame, week: String): DataFrame =
    beds.filter(col("collection_week") === lit(week).cast(DateType))
      .agg(count(lit(1)).as("n_records"))

  /** Q2 (:36-41): records per prior week, ordered. */
  def weeklyRecordsPrior(beds: DataFrame, week: String): DataFrame =
    Aggs.sortSmall(beds.filter(col("collection_week") < lit(week).cast(DateType))
      .groupBy("collection_week").agg(count(lit(1)).as("n_records")),
      col("collection_week"))

  private val summaryCols = Seq(
    "all_adult_hospital_beds_7_day_avg" -> "available_adult_beds",
    "all_pediatric_inpatient_beds_7_day_avg" -> "available_pediatric_beds",
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage" -> "used_adult_beds",
    "all_pediatric_inpatient_bed_occupied_7_day_avg" -> "used_pediatric_beds",
    "inpatient_beds_used_covid_7_day_avg" -> "used_beds_covid")

  /** Q3 (:59-67): five rounded sums for the selected week. */
  def bedSummaryAt(beds: DataFrame, week: String): DataFrame = {
    val aggs = summaryCols.map { case (src, dst) => r2(Aggs.dsum(col(src))).as(dst) }
    beds.filter(col("collection_week") === lit(week).cast(DateType))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Q4 (:84-106): same five sums per week, 4 most recent, re-sorted asc. */
  def bedSummaryRecent4(beds: DataFrame): DataFrame = {
    val aggs = summaryCols.map { case (src, dst) => r2(Aggs.dsum(col(src))).as(dst) }
    beds.groupBy("collection_week").agg(aggs.head, aggs.tail: _*)
      .orderBy(col("collection_week").desc).limit(4)
      .orderBy("collection_week")
  }

  /** SUM(a+b)/SUM(c+d) of Q5 and Q8 (A5/A8) — null propagation of a+b
    * matches SQL exactly.
    */
  private def fractionInUse: Column = Aggs.ratioOfSums(
    col("all_adult_hospital_inpatient_bed_occupied_7_day_coverage") +
      col("all_pediatric_inpatient_bed_occupied_7_day_avg"),
    col("all_adult_hospital_beds_7_day_avg") +
      col("all_pediatric_inpatient_beds_7_day_avg")).as("fraction_of_beds_in_use")

  /** Q5 (:115-124): fraction of beds in use by quality rating (J1 + A5). */
  def ratingBedUse(quality: DataFrame, beds: DataFrame): DataFrame =
    Aggs.sortSmall(quality.join(beds, quality("facility_id") === beds("hospital_fk"))
      .groupBy("hospital_overall_rating")
      .agg(fractionInUse), col("hospital_overall_rating"))

  /** Q6 (:144-153): all-cases vs covid-cases bed totals per week (A6). */
  def totalBedUsage(beds: DataFrame, week: String): DataFrame =
    Aggs.sortSmall(beds.filter(col("collection_week") <= lit(week).cast(DateType))
      .groupBy("collection_week")
      .agg(
        Aggs.dsumAsDouble(
          col("all_adult_hospital_inpatient_bed_occupied_7_day_coverage") +
            col("all_pediatric_inpatient_bed_occupied_7_day_avg") +
            col("icu_beds_used_7_day_avg")).as("all_cases"),
        Aggs.dsumAsDouble(col("inpatient_beds_used_covid_7_day_avg")).as("covid_cases")),
      col("collection_week"))

  /** Q7 (:182-196): emergency-services hospital count by state, top 20
    * (J2 3-way join + A7 + client-side nlargest → one plan, O3 top-k).
    */
  def emergencyTop20(quality: DataFrame, hospitals: DataFrame,
                     locations: DataFrame): DataFrame =
    quality.filter(col("emergency_services") === true)
      .join(broadcast(hospitals), quality("facility_id") === hospitals("hospital_pk"))
      .join(broadcast(locations), hospitals("hospital_pk") === locations("hospital_fk"))
      .groupBy("state").agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("state")).limit(20)

  /** Q8 (:213-221): fraction of beds in use by ownership over weeks (J3 + A8). */
  def ownershipBedUse(quality: DataFrame, beds: DataFrame, owner: String): DataFrame =
    Aggs.sortSmall(quality.filter(col("hospital_ownership") === owner)
      .join(beds, quality("facility_id") === beds("hospital_fk"))
      .groupBy("hospital_ownership", "collection_week")
      .agg(fractionInUse), col("collection_week"))

  /** Q9 (:245-263): average rating by state at a snapshot date; top-10
    * AND bottom-10 states (J4 + P11/P12 + A9 + O5 — the client-side
    * dropna/to_numeric/groupby-mean/head/tail collapse into the plan).
    */
  def topBottomStates(quality: DataFrame, locations: DataFrame,
                      date: String): DataFrame = {
    val joined = quality.filter(col("data_date") === lit(date).cast(DateType))
      .join(broadcast(locations), quality("facility_id") === locations("hospital_fk"))
      .select("hospital_overall_rating", "state", "data_date")
      .na.drop()
    val avgByState = joined.groupBy("state")
      .agg(Aggs.davg(col("hospital_overall_rating")).as("avg_rating"))
    Aggs.topBottomK(avgByState, 10, col("avg_rating"), col("state"))
      .orderBy(col("side"), col("avg_rating").desc, col("state"))
  }
}
