package perfbench

import java.io.File
import java.security.MessageDigest
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.aragon.{AragonPipeline, HhsLoad, QualityLoad, Reporting}

/** What the client saw of one operation, for the correctness tally and
  * the useful-outcome ratios.
  */
final case class Outcome(items: Long, resultRows: Long, errors: Seq[String],
                         kind: String = "op", counts: Map[String, Double] = Map.empty)

/** One user path driven through the public API by a single client.
  * An operation is the unit the end-to-end latency is taken over; its
  * `Outcome.kind` names which of the path's calls it made.
  */
trait Workload {
  def name: String
  def inputSizes: Map[String, Any]
  /** Operation kinds a trace run must cover with a traced operation. */
  def kinds: Set[String] = Set("op")
  /** The kind the latency metrics are taken over. */
  def primaryKind: String = "op"
  /** Spans that are one public call of the client (call latencies). */
  def isCall(span: String): Boolean
  def generate(data: File, seed: Long): Unit
  def warmUp(s: SparkSession, spans: Spans, work: File): Seq[String]
  /** Operations an untraced run times at least, however short `--seconds`. */
  def minOps: Int = 1
  /** Untimed preparation of operation k (fresh directories and the like). */
  def prepare(k: Int, work: File): Unit = ()
  /** Saves the state operation k starts from; `restore` puts it back,
    * so a trace run can run k a second time from the same state.
    */
  def checkpoint(k: Int, work: File): Unit = ()
  def restore(k: Int, work: File): Unit = ()
  /** The timed operation. */
  def run(s: SparkSession, k: Int, spans: Spans, work: File): Any
  def check(k: Int, result: Any, work: File): Outcome
}

object Workload {
  val names: Seq[String] = Seq("hhs_ingest", "dashboard", "corpus_build")

  def apply(name: String): Workload = name match {
    case "hhs_ingest" => new HhsIngest
    case "dashboard" => new DashboardRenders
    case "corpus_build" => new CorpusBuild
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def digest(rows: Seq[Seq[String]]): String =
    MessageDigest.getInstance("MD5").digest(rows.map(_.mkString("\u0001")).mkString("\n").getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else if (from.exists)
      java.nio.file.Files.copy(from.toPath, to.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
}

/** The write path: weekly HHS files and CMS snapshots loaded in week
  * order into a parquet warehouse, one file per operation. Past the last
  * file, the plan starts over into a fresh warehouse.
  */
final class HhsIngest extends Workload {
  val name = "hhs_ingest"
  val sizes = HhsGen.Sizes(hospitals = 4000, weeks = 8, newPerWeek = 5, snapshots = 3)
  def inputSizes: Map[String, Any] = Map("hospitals" -> sizes.hospitals, "weeks" -> sizes.weeks,
    "new_per_week" -> sizes.newPerWeek, "cms_snapshots" -> sizes.snapshots)
  private var data: File = _
  private var plan: Seq[HhsGen.Step] = Nil
  /** Plan steps the setup loads as its warm-up: week 0, into the empty
    * warehouse, which is the JVM's compile-bound first load. The timed
    * operations continue the plan on the same warehouse.
    */
  val warmSteps = 1
  override def kinds: Set[String] = Set("hhs", "cms")
  // weekly files dominate the plan; a run fits only a few files, so a
  // median over all kinds would move with where the run happens to stop
  override def primaryKind: String = "hhs"
  def isCall(span: String): Boolean = span.startsWith("aragon.AragonPipeline.")

  def generate(d: File, seed: Long): Unit = { data = d; plan = HhsGen.generate(d, seed, sizes) }

  private def warehouse(work: File, pass: Int) = new File(work, s"warehouse/pass$pass")

  private def load(s: SparkSession, step: HhsGen.Step, wh: File, q: File, spans: Spans): Any = {
    val w = new AragonPipeline.ParquetWarehouse(wh.getPath)
    val csv = new File(data, step.file).getPath
    if (step.kind == "hhs")
      spans("aragon.AragonPipeline.runHhs")(AragonPipeline.runHhs(s, csv, w, q.getPath))
    else
      spans("aragon.AragonPipeline.runQuality")(
        AragonPipeline.runQuality(s, csv, java.sql.Date.valueOf(step.date), w, q.getPath))
  }

  // timed op k is plan position warmSteps + k; past the plan's end a
  // new pass starts over into a fresh warehouse
  private def pos(k: Int) = warmSteps + k
  private def step(k: Int) = pos(k) % plan.size
  private def pass(k: Int) = pos(k) / plan.size

  def warmUp(s: SparkSession, spans: Spans, work: File): Seq[String] = {
    val wh = warehouse(work, 0)
    Workload.deleteTree(wh)
    plan.take(warmSteps).zipWithIndex.flatMap { case (st, i) =>
      val q = new File(work, s"quarantine/warm$i")
      checkStep(st, load(s, st, wh, q, spans), q).errors
    }
  }

  override def prepare(k: Int, work: File): Unit =
    if (step(k) == 0) {
      Workload.deleteTree(warehouse(work, pass(k) - 1))
      Workload.deleteTree(warehouse(work, pass(k)))
    }

  private def saved(work: File) = new File(work, "warehouse/saved")

  override def checkpoint(k: Int, work: File): Unit = {
    Workload.deleteTree(saved(work))
    Workload.copyTree(warehouse(work, pass(k)), saved(work))
  }

  override def restore(k: Int, work: File): Unit = {
    Workload.deleteTree(warehouse(work, pass(k)))
    Workload.copyTree(saved(work), warehouse(work, pass(k)))
  }

  private def quarantineDir(work: File, k: Int) = new File(work, s"quarantine/op${k % 2}")

  def run(s: SparkSession, k: Int, spans: Spans, work: File): Any =
    load(s, plan(step(k)), warehouse(work, pass(k)), quarantineDir(work, k), spans)

  def check(k: Int, result: Any, work: File): Outcome =
    checkStep(plan(step(k)), result, quarantineDir(work, k))

  /** Load metrics must equal the generator's accounting, and the
    * quarantine CSV must hold exactly the rows the load dropped.
    */
  private def checkStep(step: HhsGen.Step, result: Any, q: File): Outcome = {
    val got: Seq[(String, Long)] = result match {
      case m: HhsLoad.Metrics => m.productElementNames.zip(m.productIterator.map(_.asInstanceOf[Long])).toSeq
      case m: QualityLoad.Metrics => m.productElementNames.zip(m.productIterator.map(_.asInstanceOf[Long])).toSeq
      case other => Seq("unexpected" -> -1L)
    }
    val quarantined = quarantineRows(new File(q, step.kind match { case "hhs" => "hhs"; case _ => "quality" }))
    val errs = (if (got != step.expect) Seq(s"${step.file}: metrics $got, expected ${step.expect}") else Nil) ++
      (if (quarantined != step.quarantine) Seq(s"${step.file}: quarantined $quarantined, expected ${step.quarantine}") else Nil)
    val (rows, kept) = result match {
      case m: HhsLoad.Metrics => (m.totalRows, m.bedsInserted)
      case _ => (0L, 0L)
    }
    Outcome(step.rows, 1, errs, kind = step.kind, counts = Map(
      "quarantine_rows" -> quarantined.toDouble, "hhs_rows" -> rows.toDouble, "hhs_kept" -> kept.toDouble))
  }

  /** Data rows across the part files of a quarantine CSV directory. */
  private def quarantineRows(dir: File): Long =
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try { val n = src.getLines().count(_.nonEmpty); math.max(0, n - 1).toLong } finally src.close()
      }.sum
}

/** The read path: the nine reporting queries over a directly generated
  * warehouse, one render per operation, cycling the selected week,
  * snapshot date and ownership.
  */
final class DashboardRenders extends Workload {
  val name = "dashboard"
  val sizes = WarehouseGen.Sizes(hospitals = 2000, weeks = 104, bedFiles = 8)
  def inputSizes: Map[String, Any] = Map("hospitals" -> sizes.hospitals, "weeks" -> sizes.weeks)
  private val nParams = 5
  private var data: File = _
  private var dash: WarehouseGen.Dashboard = _
  private val seen = mutable.HashMap.empty[WarehouseGen.Params, String]
  def isCall(span: String): Boolean = span.startsWith("aragon.Reporting.")

  def generate(d: File, seed: Long): Unit = { data = d; dash = WarehouseGen.generate(d, seed, sizes, nParams) }

  private def render(s: SparkSession, p: WarehouseGen.Params, spans: Spans): Seq[(String, Seq[Row])] = {
    val wh = new AragonPipeline.ParquetWarehouse(data.getPath)
    val Seq(beds, quality, hospitals, locations) = spans("aragon.ParquetWarehouse.table")(
      Seq("hospital_bed_information", "hospital_quality_information", "hospitals", "hospital_locations")
        .map(t => wh.table(s, t).get))
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "weeklyRecords" -> (() => Reporting.weeklyRecords(beds, p.week)),
      "weeklyRecordsPrior" -> (() => Reporting.weeklyRecordsPrior(beds, p.week)),
      "bedSummaryAt" -> (() => Reporting.bedSummaryAt(beds, p.week)),
      "bedSummaryRecent4" -> (() => Reporting.bedSummaryRecent4(beds)),
      "ratingBedUse" -> (() => Reporting.ratingBedUse(quality, beds)),
      "totalBedUsage" -> (() => Reporting.totalBedUsage(beds, p.week)),
      "emergencyTop20" -> (() => Reporting.emergencyTop20(quality, hospitals, locations)),
      "ownershipBedUse" -> (() => Reporting.ownershipBedUse(quality, beds, p.owner)),
      "topBottomStates" -> (() => Reporting.topBottomStates(quality, locations, p.date))
    ).map { case (fn, q) => fn -> spans(s"aragon.Reporting.$fn")(q().collect().toSeq) }
  }

  /** Two renders: the first render of a JVM is compile-bound, and the
    * second is still JIT-bound and its time spreads most from run to
    * run. The first timed render repeats the first one's parameters.
    */
  def warmUp(s: SparkSession, spans: Spans, work: File): Seq[String] =
    dash.params.take(2).flatMap(p => checkRender(-1, p, render(s, p, spans)).errors)

  def run(s: SparkSession, k: Int, spans: Spans, work: File): Any =
    render(s, dash.params(k % nParams), spans)

  def check(k: Int, result: Any, work: File): Outcome =
    checkRender(k, dash.params(k % nParams), result.asInstanceOf[Seq[(String, Seq[Row])]])

  private def checkRender(k: Int, p: WarehouseGen.Params, res: Seq[(String, Seq[Row])]): Outcome = {
    val errs = compare(p, res)
    // the same parameters must give the same answer on every render
    val d = Workload.digest(res.flatMap { case (fn, rows) => Seq(fn) +: Render.rows(rows) })
    val again = seen.getOrElseUpdate(p, d)
    Outcome(res.size, res.map(_._2.size.toLong).sum,
      errs ++ (if (again != d) Seq(s"render $k: results differ from an earlier render of $p") else Nil))
  }

  private def compare(p: WarehouseGen.Params, res: Seq[(String, Seq[Row])]): Seq[String] = {
    val want = dash.answers(p)
    res.flatMap { case (fn, rows) =>
      val got = Render.rows(rows)
      if (got == want(fn)) None
      else Some(s"$fn@$p: got ${got.take(3)}..., expected ${want(fn).take(3)}... (${got.size} vs ${want(fn).size} rows)")
    }
  }
}

/** The corpus path: the composed corpus build over a generated corpus,
  * one build per operation.
  */
final class CorpusBuild extends Workload {
  val name = "corpus_build"
  val sizes = CorpusGen.Sizes(docs = 5000)
  def inputSizes: Map[String, Any] = Map("documents" -> (sizes.docs + 6))
  private val query = "q215_corpus_build"
  private var data: File = _
  private var expect: CorpusGen.Expect = _
  private var firstDigest: Option[String] = None
  private var docs = 0L
  private val steps = Seq("warc_parse", "word_bounds", "word_len", "exact_dedup", "source_rate",
    "split_train", "near_dup", "budget")
  def isCall(span: String): Boolean = span == s"SparkEntry.$query"
  /** The median of two builds: a build is latency-bound (73 jobs, most of
    * them one task), and a single one moves with every stall of the
    * shared host.
    */
  override def minOps: Int = 2

  def generate(d: File, seed: Long): Unit = {
    data = d
    expect = CorpusGen.generate(data, seed, sizes)
    docs = sizes.docs + 6L
  }

  private def build(s: SparkSession, dir: File, spans: Spans): Seq[Row] =
    spans(s"SparkEntry.$query") {
      val df = spans(s"SparkEntry.$query.plan")(SparkEntry.queries(query)(s, dir.getPath))
      spans(s"SparkEntry.$query.collect")(df.collect().toSeq)
    }

  /** One build: the JVM's first is compile-bound (about 22 s on 4 cores,
    * then 11-12 s, then 9-10 s as the JIT goes on) and spreads with how
    * the host schedules the JIT. Its result hash is the one every timed
    * build repeats.
    */
  def warmUp(s: SparkSession, spans: Spans, work: File): Seq[String] =
    check(-1, build(s, data, spans), work).errors

  def run(s: SparkSession, k: Int, spans: Spans, work: File): Any = build(s, data, spans)

  def check(k: Int, result: Any, work: File): Outcome = {
    val rows = result.asInstanceOf[Seq[Row]]
    val errs = ledgerErrors(rows, expect)
    val d = Workload.digest(Render.rows(rows))
    // the first build's result hash is the one every later build repeats
    val first = firstDigest.getOrElse { firstDigest = Some(d); d }
    val ledger = rows.filter(_.getLong(0) < 100L)
    Outcome(docs, rows.size, errs ++ (if (first != d) Seq(s"build $k: result hash $d, first build $first") else Nil),
      counts = ledger.map(r => s"corpus.${r.getString(1)}.kept_frac" ->
        (if (r.getLong(2) == 0L) 0.0 else r.getLong(3).toDouble / r.getLong(2))).toMap)
  }

  /** The ledger must equal the generator's, conserve rows from step to
    * step, and the shard manifest must account for every selected row.
    */
  private def ledgerErrors(rows: Seq[Row], e: CorpusGen.Expect): Seq[String] = {
    val (ledger, shards) = rows.partition(_.getLong(0) < 100L)
    val got = ledger.sortBy(_.getLong(0)).map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val conserved = got.zip(got.drop(1)).forall { case (a, b) => a._3 == b._2 }
    val shardRows = shards.map(_.getLong(2)).sum
    val shardWeight = shards.map(_.getLong(4)).sum
    (if (got != e.ledger) Seq(s"ledger $got, expected ${e.ledger}") else Nil) ++
      (if (!conserved) Seq(s"ledger does not conserve rows: $got") else Nil) ++
      (if (got.map(_._1) != steps) Seq(s"ledger steps ${got.map(_._1)}") else Nil) ++
      (if (shardRows != e.shardRows || shardWeight != e.shardWeight)
        Seq(s"shards hold $shardRows rows / $shardWeight tokens, expected ${e.shardRows} / ${e.shardWeight}")
      else Nil)
  }
}
