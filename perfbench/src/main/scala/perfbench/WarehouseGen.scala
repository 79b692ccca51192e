package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import GenIO._

/** The four aragon warehouse tables written directly as parquet (the
  * dashboard reads them without running the loaders), plus every answer
  * the nine reporting queries must return for each dashboard parameter
  * set. Bed metrics are multiples of 0.5 and ratings are whole numbers,
  * so every sum is exact in double and in decimal(38, 6) alike and the
  * expected values are computed here without the engine.
  */
object WarehouseGen {

  final case class Sizes(hospitals: Int, weeks: Int, bedFiles: Int)

  /** One dashboard selection: week, CMS snapshot date, ownership. */
  final case class Params(week: String, date: String, owner: String)

  /** Expected results of the nine queries, row by row, keyed by the
    * Reporting function name; values are rendered with [[Render.cell]].
    */
  final case class Dashboard(params: Seq[Params], answers: Map[Params, Map[String, Seq[Seq[String]]]])

  val firstWeek: LocalDate = LocalDate.of(2021, 1, 1)
  val snapshotDates: IndexedSeq[String] = IndexedSeq("2021-07-01", "2022-01-01", "2022-07-01")
  private val bedCols = graft.aragon.AragonSchema.bedMetrics

  private val bedSchema =
    "message hospital_bed_information { required binary hospital_fk (STRING); " +
      "required int32 collection_week (DATE); " +
      bedCols.map(c => s"optional double $c;").mkString(" ") + " }"

  def generate(dir: File, seed: Long, sz: Sizes, nParams: Int): Dashboard = {
    val hr = rng(seed, 1)
    val hospitals = (0 until sz.hospitals).map(i => hospital(hr, i + 1))
    val weeks = (0 until sz.weeks).map(w => firstWeek.plusDays(7L * w))

    writeParquet(new File(dir, "hospitals/part-00000.parquet"),
      "message hospitals { required binary hospital_pk (STRING); required binary hospital_name (STRING); }",
      hospitals.iterator.map(h => (f: org.apache.parquet.example.data.simple.SimpleGroupFactory) =>
        f.newGroup().append("hospital_pk", h.pk).append("hospital_name", h.name)))
    writeParquet(new File(dir, "hospital_locations/part-00000.parquet"),
      "message hospital_locations { required binary hospital_fk (STRING); required binary state (STRING); " +
        "required binary address (STRING); required binary city (STRING); required binary zip (STRING); " +
        "optional binary fips_code (STRING); optional binary geocoded_hospital_address (STRING); }",
      hospitals.iterator.map(h => (f: org.apache.parquet.example.data.simple.SimpleGroupFactory) => {
        val g = f.newGroup().append("hospital_fk", h.pk).append("state", h.state)
          .append("address", h.address).append("city", h.city).append("zip", h.zip)
        h.fips.foreach(g.append("fips_code", _)); h.geo.foreach(g.append("geocoded_hospital_address", _))
        g
      }))

    // quality: each snapshot lists ~95% of the hospitals
    val qr = rng(seed, 2)
    final case class Q(pk: String, typ: String, owner: String, es: Boolean, rating: Int, date: String)
    val quality = snapshotDates.flatMap { d =>
      hospitals.filter(_ => qr.nextInt(20) != 0).map(h => Q(h.pk, pick(qr, hospitalTypes),
        pick(qr, ownerships), qr.nextInt(4) != 0, qr.nextInt(6), d))
    }
    writeParquet(new File(dir, "hospital_quality_information/part-00000.parquet"),
      "message hospital_quality_information { required binary facility_id (STRING); " +
        "required binary hospital_type (STRING); required binary hospital_ownership (STRING); " +
        "required boolean emergency_services; required double hospital_overall_rating; " +
        "required int32 data_date (DATE); }",
      quality.iterator.map(q => (f: org.apache.parquet.example.data.simple.SimpleGroupFactory) =>
        f.newGroup().append("facility_id", q.pk).append("hospital_type", q.typ)
          .append("hospital_ownership", q.owner).append("emergency_services", q.es)
          .append("hospital_overall_rating", q.rating.toDouble)
          .append("data_date", days(LocalDate.parse(q.date)))))

    // beds: ~97% of (hospital, week) pairs; metrics are k/2 or null.
    // Per-(hospital, week) sums feed the expected answers below.
    val br = rng(seed, 3)
    val perFile = (sz.weeks + sz.bedFiles - 1) / sz.bedFiles
    // week → per-metric sums / non-null flags for the query expressions
    val weekCount = new Array[Long](sz.weeks)
    val weekSum = Array.ofDim[Double](sz.weeks, bedCols.size)
    val weekAll = new Array[Double](sz.weeks)   // Q6 all_cases
    val hospNum = mutable.HashMap.empty[String, Array[Double]] // Q5/Q8 per week
    val hospDen = mutable.HashMap.empty[String, Array[Double]]
    val hospHasNum = mutable.HashMap.empty[String, Array[Boolean]]
    val hospHasDen = mutable.HashMap.empty[String, Array[Boolean]]
    val hospRow = mutable.HashMap.empty[String, Array[Boolean]]
    hospitals.foreach { h =>
      hospNum(h.pk) = new Array(sz.weeks); hospDen(h.pk) = new Array(sz.weeks)
      hospHasNum(h.pk) = new Array(sz.weeks); hospHasDen(h.pk) = new Array(sz.weeks)
      hospRow(h.pk) = new Array(sz.weeks)
    }
    for (fi <- 0 until sz.bedFiles) {
      val ws = (fi * perFile until math.min(sz.weeks, (fi + 1) * perFile))
      val rows = for (w <- ws.iterator; h <- hospitals.iterator if br.nextInt(100) < 97) yield {
        val m = Array.fill[Option[Double]](bedCols.size)(
          if (br.nextInt(25) == 0) None else Some(br.nextInt(4000) / 2.0))
        weekCount(w) += 1
        hospRow(h.pk)(w) = true
        for (i <- m.indices; v <- m(i)) weekSum(w)(i) += v
        // column positions in AragonSchema.bedMetrics order
        val adultBeds = m(0); val pedBeds = m(1); val adultUsed = m(2); val pedUsed = m(3)
        val icuUsed = m(5)
        for (a <- adultUsed; b <- pedUsed; c <- icuUsed) weekAll(w) += a + b + c
        for (a <- adultUsed; b <- pedUsed) { hospNum(h.pk)(w) += a + b; hospHasNum(h.pk)(w) = true }
        for (a <- adultBeds; b <- pedBeds) { hospDen(h.pk)(w) += a + b; hospHasDen(h.pk)(w) = true }
        (f: org.apache.parquet.example.data.simple.SimpleGroupFactory) => {
          val g = f.newGroup().append("hospital_fk", h.pk).append("collection_week", days(weeks(w)))
          for (i <- m.indices; v <- m(i)) g.append(bedCols(i), v)
          g
        }
      }
      writeParquet(new File(dir, f"hospital_bed_information/part-$fi%05d.parquet"), bedSchema, rows)
    }

    // ---- expected answers ------------------------------------------
    val weekStr = weeks.map(_.toString)
    val summaryIdx = Seq(0, 1, 2, 3, 6) // Reporting.summaryCols in bedMetrics positions
    def r2(x: Double): String = Render.cell(BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val pr = rng(seed, 4)
    val params = (0 until nParams).map { i =>
      // spread the selected weeks over the second year so Q2/Q6 vary
      Params(weekStr(sz.weeks / 2 + pr.nextInt(sz.weeks / 2)), snapshotDates(i % snapshotDates.size),
        ownerships(i % ownerships.size))
    }
    def ratio(n: Double, hasN: Boolean, d: Double, hasD: Boolean): String =
      if (!hasN || !hasD) Render.Null else Render.cell(n / d)

    val recent4 = (sz.weeks - 4 until sz.weeks).filter(weekCount(_) > 0)
    val q4 = recent4.map(w => weekStr(w) +: summaryIdx.map(i => r2(weekSum(w)(i))))
    val ratings = quality.map(_.rating).distinct.sorted
    val q5 = ratings.map { rt =>
      var n, d = 0.0; var hn, hd = false
      quality.filter(_.rating == rt).foreach { q =>
        if (hospNum.contains(q.pk)) for (w <- 0 until sz.weeks) {
          if (hospHasNum(q.pk)(w)) { n += hospNum(q.pk)(w); hn = true }
          if (hospHasDen(q.pk)(w)) { d += hospDen(q.pk)(w); hd = true }
        }
      }
      Seq(Render.cell(rt.toDouble), ratio(n, hn, d, hd))
    }
    val stateOf = hospitals.map(h => h.pk -> h.state).toMap
    val q7 = quality.filter(_.es).groupBy(q => stateOf(q.pk)).toSeq
      .map { case (st, qs) => (st, qs.size.toLong) }
      .sortBy { case (st, n) => (-n, st) }.take(20)
      .map { case (st, n) => Seq(st, n.toString) }

    val answers = params.distinct.map { p =>
      val wi = weekStr.indexOf(p.week)
      val q1 = Seq(Seq(weekCount(wi).toString))
      val q2 = (0 until wi).filter(weekCount(_) > 0).map(w => Seq(weekStr(w), weekCount(w).toString))
      val q3 = Seq(summaryIdx.map(i => r2(weekSum(wi)(i))))
      val q6 = (0 to wi).filter(weekCount(_) > 0).map(w =>
        Seq(weekStr(w), Render.cell(weekAll(w)), Render.cell(weekSum(w)(6))))
      val owned = quality.filter(_.owner == p.owner)
      val q8 = (0 until sz.weeks).flatMap { w =>
        var n, d = 0.0; var hn, hd = false; var any = false
        owned.foreach { q =>
          if (hospRow.get(q.pk).exists(_(w))) {
            any = true
            if (hospHasNum(q.pk)(w)) { n += hospNum(q.pk)(w); hn = true }
            if (hospHasDen(q.pk)(w)) { d += hospDen(q.pk)(w); hd = true }
          }
        }
        if (any) Some(Seq(p.owner, weekStr(w), ratio(n, hn, d, hd))) else None
      }
      val atDate = quality.filter(_.date == p.date)
      val avg = atDate.groupBy(q => stateOf(q.pk)).toSeq.map { case (st, qs) =>
        (st, qs.map(_.rating.toLong).sum.toDouble / qs.size) }
      val top = avg.sortBy { case (st, a) => (-a, st) }.take(10).map { case (st, a) => (st, a, "top") }
      val bottom = avg.sortBy { case (st, a) => (a, st) }.take(10).map { case (st, a) => (st, a, "bottom") }
      val q9 = (top ++ bottom).sortBy { case (st, a, side) => (side, -a, st) }
        .map { case (st, a, side) => Seq(st, Render.cell(a), side) }
      p -> Map(
        "weeklyRecords" -> q1, "weeklyRecordsPrior" -> q2, "bedSummaryAt" -> q3,
        "bedSummaryRecent4" -> q4, "ratingBedUse" -> q5, "totalBedUsage" -> q6,
        "emergencyTop20" -> q7, "ownershipBedUse" -> q8, "topBottomStates" -> q9)
    }.toMap

    writeText(new File(dir, "expected.json")) { out =>
      out.write(Json.render(Map("seed" -> seed,
        "sizes" -> Map("hospitals" -> sz.hospitals, "weeks" -> sz.weeks),
        "rows" -> Map("hospitals" -> hospitals.size, "quality" -> quality.size,
          "beds" -> weekCount.sum),
        "renders" -> params.map(p => Map("week" -> p.week, "date" -> p.date, "owner" -> p.owner,
          "answers" -> answers(p))))))
      out.write('\n')
    }
    Dashboard(params, answers)
  }

}
