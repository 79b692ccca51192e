package graft.aragon

import org.apache.spark.sql.types._

/** Column vocabulary of the hospital domain (SURVEY.md §1.1, DDL in
  * reference design_table_schema.ipynb cells 0-3).
  */
object AragonSchema {

  /** The 8 FLOAT bed metrics of HospitalBedInformation (ipynb cell-2),
    * in DDL order — also the columns guarded by the non-negativity
    * validation (reference load_hhs.py:104-127).
    */
  val bedMetrics: Seq[String] = Seq(
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg")

  /** HospitalLocations payload columns (ipynb cell-1), minus the fk. */
  val locationCols: Seq[String] = Seq(
    "state", "address", "city", "zip", "fips_code", "geocoded_hospital_address")

  /** The 5 CMS quality columns consumed by the loader, as they appear in
    * the source CSV header (reference load_quality.py:98-99).
    */
  val qualitySourceCols: Seq[String] = Seq(
    "Facility ID", "Hospital overall rating", "Emergency Services",
    "Hospital Type", "Hospital Ownership")

  /** The four warehouse tables as the loaders write them (ipynb cells
    * 0-3: VARCHAR/CHAR → string, FLOAT → double; the serial ids are not
    * stored), in column order. `ParquetWarehouse` reads with these
    * instead of inferring a schema from the parquet footers, which
    * costs a job per read.
    */
  val tableSchemas: Map[String, StructType] = {
    def fields(cols: (String, DataType)*) =
      StructType(cols.map { case (n, t) => StructField(n, t) })
    Map(
      "hospitals" -> fields("hospital_pk" -> StringType, "hospital_name" -> StringType),
      "hospital_locations" -> fields(("hospital_fk" +: locationCols).map(_ -> StringType): _*),
      "hospital_bed_information" -> fields(
        ("hospital_fk" -> StringType) +: ("collection_week" -> DateType) +:
          bedMetrics.map(_ -> DoubleType): _*),
      "hospital_quality_information" -> fields(
        "facility_id" -> StringType, "hospital_type" -> StringType,
        "hospital_ownership" -> StringType, "emergency_services" -> BooleanType,
        "hospital_overall_rating" -> DoubleType, "data_date" -> DateType))
  }

  /** Numeric sentinel in the HHS feed (reference load_hhs.py:49). */
  val HhsSentinel: Double = -999999d
}
