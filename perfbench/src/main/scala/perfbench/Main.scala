package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark client: one workload, one seed, one process.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir>
  *   perfbench.Main --train 1 --work <dir>
  *
  * Generates the workload's inputs from the seed, sets up a
  * `GraftSession.local(nproc)` session (session start plus the warm-up
  * operations that take the JIT out of the timed region: `setup_s`),
  * then runs operations until `--seconds` have passed, checking every
  * result. The last stdout line is the result object. `--trace 1`
  * reports the per-layer metrics instead: every operation runs twice
  * from the same state, once traced (listeners installed) and once
  * not, and the difference is the tracing overhead.
  *
  * `--train 1` generates and warms up every workload in one session and
  * prints nothing; the build runs it once to record the class-data
  * archive the measured runs start from.
  */
object Main {

  /** A trace run stops covering operation kinds after this long. */
  private val TraceCapS = 60.0

  /** One timed operation: `id` is unique in the run, `k` is the
    * workload's operation position (a trace run runs each position twice).
    */
  final case class OpRec(id: Int, k: Int, traced: Boolean, wallNs: Long, startMs: Long, endMs: Long,
                         outcome: Outcome, layers: Option[LayerTotals])

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        if (a.get("train").contains("1")) train(new File(a("work")))
        else run(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1", new File(a("work")))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def cores = Runtime.getRuntime.availableProcessors

  /** Every workload's set-up in one session, checked like a run's. */
  def train(work: File): Int = {
    val spark = GraftSession.local(cores.toString)
    val errors = Workload.names.flatMap { name =>
      val wl = Workload(name)
      val dir = new File(work, name)
      wl.generate(new File(dir, "data"), 1L)
      val errs = wl.warmUp(spark, new Spans, dir)
      dropResidualBlocks(spark)
      errs
    }
    spark.stop()
    errors.foreach(e => System.err.println(s"[perfbench] FAIL training: $e"))
    if (errors.isEmpty) 0 else 1
  }

  def run(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File): Int = {
    val wl = Workload(workload)
    val data = new File(work, "data")
    val t0 = System.nanoTime()
    wl.generate(data, seed)
    val genS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $workload seed=$seed generated inputs in $genS%.2f s")

    val spans = new Spans
    val s0 = System.nanoTime()
    val spark = GraftSession.local(cores.toString)
    val s1 = System.nanoTime()
    val warmErrors = wl.warmUp(spark, spans, work)
    val setupS = (System.nanoTime() - s0) / 1e9
    warmErrors.foreach(e => System.err.println(s"[perfbench] FAIL warm-up: $e"))
    System.err.println(f"[perfbench] setup: session ${(s1 - s0) / 1e9}%.2f s, warm-up ${(System.nanoTime() - s1) / 1e9}%.2f s")
    dropResidualBlocks(spark)

    val sc = spark.sparkContext
    val heap = new HeapWatch
    val listener = new LayerListener
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // a trace run covers every kind and at least two positions, so that
    // the untraced and the traced side each run first once while the JIT
    // still speeds later operations up
    def covered = !trace || elapsed > TraceCapS ||
      (ops.map(_.k).distinct.size >= 2 && wl.kinds.forall(kd => ops.exists(o => o.traced && o.outcome.kind == kd)))

    def op(k: Int, traced: Boolean): Unit = {
      val id = ops.size
      spans.op = id
      if (traced) {
        sc.addSparkListener(listener)
        spark.listenerManager.register(listener)
        BenchBridge.drainListeners(sc)
        listener.cut(BenchBridge.rddBlocks(sc))
      }
      val m0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val result = try spans("op")(wl.run(spark, k, spans, work)) catch { case e: Exception => e }
      val wall = System.nanoTime() - n0
      val m1 = System.currentTimeMillis()
      val layers = if (!traced) None else {
        BenchBridge.drainListeners(sc)
        val w = listener.cut()
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
        Some(w)
      }
      spans.op = -1
      val outcome = result match {
        case e: Exception => Outcome(0, 0, Seq(s"op $k threw $e"))
        case r => try wl.check(k, r, work) catch { case e: Exception => Outcome(0, 0, Seq(s"check $k threw $e")) }
      }
      outcome.errors.foreach(e => System.err.println(s"[perfbench] FAIL $e"))
      System.err.println(f"[perfbench] op $id (position $k${if (traced) ", traced" else ""}): ${wall / 1e9}%.3f s")
      ops += OpRec(id, k, traced, wall, m0, m1, outcome, layers)
      heap.sample()
      dropResidualBlocks(spark)
    }

    heap.sample()
    heap.reset()
    var k = 0
    while (elapsed < seconds || ops.size < wl.minOps || !covered) {
      wl.prepare(k, work)
      if (!trace) op(k, traced = false)
      else {
        // position k twice from the same state, untraced and traced; the
        // order alternates with k and the seed, so that over positions
        // and seeds neither side always runs second
        wl.checkpoint(k, work)
        val order = if ((k + seed) % 2 == 0) Seq(false, true) else Seq(true, false)
        op(k, order.head)
        wl.restore(k, work)
        op(k, order.last)
      }
      k += 1
    }
    val timedS = elapsed
    heap.close()

    // the warm-up counts as one operation of its own
    val failed = ops.count(_.outcome.errors.nonEmpty) + (if (warmErrors.nonEmpty) 1 else 0)
    val attempted = ops.size + 1
    val metrics =
      if (trace) Metrics.perLayer(wl, ops.toSeq, spans.all, cores)
      else Metrics.endToEnd(wl, ops.toSeq, setupS, heap.peakBytes)
    if (trace) writeSpans(new File(work, "spans.jsonl"), spans.all)
    System.err.println(f"[perfbench] ${ops.size} ops in $timedS%.2f s, $failed failed")
    spark.stop()
    println(Json.render(Map("workload" -> workload, "cores" -> cores, "seed" -> seed,
      "input_sizes" -> wl.inputSizes, "named" -> Metrics.named(wl, ops.toSeq, spans.all))))
    println(Json.render(Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    0
  }

  /** Blocks a finished operation leaves behind (cached frames, lineage
    * cuts) are released between operations, as `graft.Bench` does
    * between gates, so operation k does not pay for k - 1's storage.
    */
  private def dropResidualBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def writeSpans(f: File, all: Seq[Span]): Unit = {
    val self = Spans.selfNs(all)
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val out = new PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> self(s.id) / 1e6)))
    } finally out.close()
  }
}
