package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import GenIO._

/** Weekly HHS capacity CSVs plus CMS quality snapshots, in the layout the
  * aragon loaders read, with the load accounting each file must produce
  * when the files are loaded in `plan` order into an empty warehouse.
  *
  * Planted in every weekly file: in-file duplicate rows (a later copy of
  * an earlier hospital), `-999999` sentinels, `NA`, negative metrics
  * (invalid rows), quoted addresses with embedded commas, and a few new
  * hospitals. The CMS snapshots plant `Not Available` ratings (mapped to
  * 0, valid), invalid ratings and emergency flags, in-file duplicate
  * facilities, and the plan re-loads one snapshot at its own date.
  */
object HhsGen {

  final case class Sizes(hospitals: Int, weeks: Int, newPerWeek: Int, snapshots: Int)

  /** One file of the load plan with the accounting the loader must
    * report for it (`HhsLoad.Metrics` / `QualityLoad.Metrics` field
    * names) and the number of rows it must quarantine.
    */
  final case class Step(kind: String, file: String, date: String,
                        expect: Seq[(String, Long)], quarantine: Long) {
    def rows: Long = expect.head._2
  }

  val firstWeek: LocalDate = LocalDate.of(2022, 1, 7)

  /** The 127 columns of the HHS facility file: identity columns, the 8
    * bed metrics the loader keeps, then the remaining 7-day metric
    * families in the feed's `<measure>_7_day_{avg,sum,coverage}` shape.
    */
  val hhsColumns: IndexedSeq[String] = {
    val head = IndexedSeq("hospital_pk", "collection_week", "state", "ccn", "hospital_name",
      "address", "city", "zip", "hospital_subtype", "fips_code", "is_metro_micro") ++
      graft.aragon.AragonSchema.bedMetrics ++
      IndexedSeq("geocoded_hospital_address", "hhs_ids", "is_corrected")
    val measures = IndexedSeq("total_beds", "all_adult_hospital_inpatient_beds",
      "inpatient_beds_used", "all_adult_hospital_inpatient_bed_occupied",
      "total_adult_patients_hospitalized_confirmed_and_suspected_covid",
      "total_adult_patients_hospitalized_confirmed_covid",
      "total_pediatric_patients_hospitalized_confirmed_and_suspected_covid",
      "total_pediatric_patients_hospitalized_confirmed_covid", "inpatient_beds",
      "total_staffed_adult_icu_beds", "staffed_adult_icu_bed_occupancy",
      "staffed_icu_adult_patients_confirmed_and_suspected_covid",
      "total_icu_patients_hospitalized_confirmed_covid", "icu_patients_confirmed_influenza",
      "total_patients_hospitalized_confirmed_influenza",
      "total_patients_hospitalized_confirmed_influenza_and_covid",
      "previous_day_admission_adult_covid_confirmed",
      "previous_day_admission_adult_covid_suspected",
      "previous_day_admission_pediatric_covid_confirmed",
      "previous_day_admission_pediatric_covid_suspected",
      "previous_day_admission_influenza_confirmed", "previous_day_covid_ED_visits",
      "previous_day_total_ED_visits") ++
      Seq("18-19", "20-29", "30-39", "40-49", "50-59", "60-69", "70-79", "80+", "unknown")
        .flatMap(a => Seq(s"previous_day_admission_adult_covid_confirmed_$a",
          s"previous_day_admission_adult_covid_suspected_$a"))
    val rest = measures.flatMap(m => Seq(s"${m}_7_day_avg", s"${m}_7_day_sum", s"${m}_7_day_coverage"))
      .filterNot(head.contains)
    (head ++ rest).take(127)
  }
  require(hhsColumns.size == 127 && hhsColumns.distinct.size == 127)

  /** 38 columns of the CMS Hospital General Information file. */
  val cmsColumns: IndexedSeq[String] = {
    val lead = IndexedSeq("Facility ID", "Facility Name", "Address", "City", "State",
      "ZIP Code", "County Name", "Phone Number", "Hospital Type", "Hospital Ownership",
      "Emergency Services", "Meets criteria for promoting interoperability of EHRs",
      "Hospital overall rating", "Hospital overall rating footnote")
    val groups = Seq("MORT", "Safety", "READM", "Pt Exp", "TE", "HAI")
    val tail = groups.flatMap(g => Seq(s"$g Group Measure Count", s"Count of Facility $g Measures",
      s"Count of $g Measures Better", s"Count of $g Measures Worse"))
    (lead ++ tail).take(38)
  }
  require(cmsColumns.size == 38 && cmsColumns.distinct.size == 38)

  private def metric(r: java.util.SplittableRandom): String = {
    val k = r.nextInt(100)
    if (k < 5) "NA"
    else if (k < 8) "-999999"
    else { val v = r.nextInt(50000); s"${v / 10}.${v % 10}" }
  }

  /** Writes the plan's files under `dir` and `expected.json` beside
    * them; returns the plan.
    */
  def generate(dir: File, seed: Long, sz: Sizes): Seq[Step] = {
    val hr = rng(seed, 1)
    val total = sz.hospitals + sz.newPerWeek * (sz.weeks - 1)
    val hospitals = (0 until total).map(i => hospital(hr, i + 1))
    val bedIdx = graft.aragon.AragonSchema.bedMetrics.map(hhsColumns.indexOf)

    // simulated warehouse state, loaded in plan order
    val pks = mutable.HashSet.empty[String]
    val bedKeys = mutable.HashSet.empty[(String, String)]
    val qualKeys = mutable.HashSet.empty[(String, String)]

    def weekFile(w: Int): Step = {
      val r = rng(seed, 100 + w)
      val week = firstWeek.plusDays(7L * w).toString
      val active = hospitals.take(sz.hospitals + sz.newPerWeek * w).toArray
      // file order: a seeded shuffle, then in-file duplicates at the end
      for (i <- active.indices.reverse) {
        val j = r.nextInt(i + 1); val t = active(i); active(i) = active(j); active(j) = t
      }
      val dups = active.filter(_ => r.nextInt(100) == 0)
      val rows = (active ++ dups).map { h =>
        val v = Array.tabulate(hhsColumns.size)(_ => metric(r))
        v(0) = quote(h.pk); v(1) = week; v(2) = quote(h.state)
        v(3) = quote(h.pk); v(4) = quote(h.name); v(5) = quote(h.address)
        v(6) = quote(h.city); v(7) = quote(h.zip); v(8) = quote("Short Term")
        v(9) = h.fips.map(quote).getOrElse("NA"); v(10) = if (r.nextBoolean()) "true" else "false"
        v(19) = h.geo.map(quote).getOrElse("NA"); v(20) = quote(s"[${h.pk.hashCode.abs}]")
        v(21) = "false"
        // ~0.4% of rows carry a negative bed metric: invalid, quarantined
        if (r.nextInt(250) == 0) v(bedIdx(r.nextInt(bedIdx.size))) = s"-${1 + r.nextInt(50)}"
        val valid = bedIdx.forall { i => val s = v(i); s == "NA" || !s.startsWith("-") || s == "-999999" }
        (h.pk, valid, v.mkString(","))
      }
      val file = f"hhs/$week-hhs-data.csv"
      writeText(new File(dir, file)) { out =>
        out.write(hhsColumns.map(quote).mkString(",")); out.write('\n')
        rows.foreach { case (_, _, line) => out.write(line); out.write('\n') }
      }
      val seen = mutable.HashSet.empty[String]
      var hosp, fresh, bed, invalid, kept = 0L
      val newPks = mutable.ArrayBuffer.empty[String]
      rows.foreach { case (pk, valid, _) =>
        val first = seen.add(pk)
        val keepHosp = first && !pks.contains(pk)
        val isFresh = first && !bedKeys.contains((pk, week))
        if (keepHosp) { hosp += 1; newPks += pk }
        if (isFresh) fresh += 1
        if (isFresh && valid) { bed += 1; bedKeys += ((pk, week)) }
        if (isFresh && !valid) invalid += 1
        if (keepHosp && isFresh && valid) kept += 1
      }
      pks ++= newPks
      val n = rows.length.toLong
      Step("hhs", file, week, Seq("totalRows" -> n, "hospitalsInserted" -> hosp,
        "hospitalsDup" -> (n - hosp), "locationsInserted" -> hosp, "locationsDup" -> (n - hosp),
        "bedsInserted" -> bed, "bedsDup" -> (n - fresh), "bedsInvalid" -> invalid), n - kept)
    }

    def snapshotFile(k: Int, known: Int): (String, String, Seq[(String, Boolean)]) = {
      val r = rng(seed, 10000 + k)
      val date = LocalDate.of(2022, 1 + 3 * (k % 4), 1).plusYears(k / 4L).toString
      val facilities = hospitals.take(known).filter(_ => r.nextInt(10) != 0)
      val dups = facilities.filter(_ => r.nextInt(200) == 0)
      val rows = (facilities ++ dups).map { h =>
        val v = Array.tabulate(cmsColumns.size)(i => if (i < 14) "" else r.nextInt(40).toString)
        val rk = r.nextInt(1000)
        val rating = if (rk < 3) "-1" else if (rk < 80) "Not Available" else (1 + r.nextInt(5)).toString
        val ek = r.nextInt(1000)
        val es = if (ek < 3) "Not Available" else if (ek < 750) "Yes" else "No"
        v(0) = quote(h.pk); v(1) = quote(h.name); v(2) = quote(h.address); v(3) = quote(h.city)
        v(4) = quote(h.state); v(5) = quote(h.zip); v(6) = quote("COUNTY"); v(7) = quote("(555) 010-0000")
        v(8) = quote(pick(r, hospitalTypes)); v(9) = quote(pick(r, ownerships)); v(10) = quote(es)
        v(11) = quote("Y"); v(12) = quote(rating); v(13) = quote("")
        (h.pk, rating != "-1" && es != "Not Available", v.mkString(","))
      }
      val file = s"cms/Hospital_General_Information-$date.csv"
      writeText(new File(dir, file)) { out =>
        out.write(cmsColumns.map(quote).mkString(",")); out.write('\n')
        rows.foreach { case (_, _, line) => out.write(line); out.write('\n') }
      }
      (file, date, rows.map { case (pk, ok, _) => (pk, ok) })
    }

    def qualityStep(file: String, date: String, rows: Seq[(String, Boolean)]): Step = {
      // no in-file dedup in the CMS loader: every row not yet loaded at
      // this date is fresh, duplicates within the file included
      val fresh = rows.filterNot { case (pk, _) => qualKeys.contains((pk, date)) }
      val inserted = fresh.count(_._2).toLong
      val invalid = fresh.size - inserted
      qualKeys ++= fresh.filter(_._2).map { case (pk, _) => (pk, date) }
      val n = rows.size.toLong
      Step("cms", file, date, Seq("totalRows" -> n, "inserted" -> inserted,
        "duplicates" -> (n - inserted - invalid), "invalid" -> invalid), n - inserted)
    }

    val snaps = mutable.ArrayBuffer.empty[(String, String, Seq[(String, Boolean)])]
    val plan = mutable.ArrayBuffer.empty[Step]
    for (w <- 0 until sz.weeks) {
      plan += weekFile(w)
      // snapshot k follows week 1 + k * weeks / snapshots: week 0 loads
      // into an empty warehouse and is the warm-up, week 1 is the first
      // timed load, and a trace run reaches a snapshot at its second step
      (0 until sz.snapshots).filter(k => 1 + k * sz.weeks / sz.snapshots == w).foreach { k =>
        val s = snapshotFile(k, sz.hospitals + sz.newPerWeek * w)
        snaps += s
        plan += qualityStep(s._1, s._2, s._3)
      }
    }
    // one snapshot re-loaded at its own date: every row is a duplicate
    val again = snaps(snaps.size / 2)
    plan += qualityStep(again._1, again._2, again._3)

    writeText(new File(dir, "expected.json")) { out =>
      out.write(Json.render(Map(
        "seed" -> seed, "sizes" -> Map("hospitals" -> sz.hospitals, "weeks" -> sz.weeks,
          "new_per_week" -> sz.newPerWeek, "snapshots" -> sz.snapshots),
        "plan" -> plan.map(s => Map("kind" -> s.kind, "file" -> s.file, "date" -> s.date,
          "expect" -> s.expect.toMap, "quarantine_rows" -> s.quarantine)))))
      out.write('\n')
    }
    plan.toSeq
  }
}
