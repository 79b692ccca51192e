package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    // ---- wall-clock governor (r15 verdict item 1) -------------------
    // The driver kills the bench with `timeout` at ~3,600 s: r14 died
    // past 3,026 s (rc=1 after a /tmp reaper strike), r15 at rc=124
    // mid-×100 — two straight rounds whose LAST stdout line was log
    // noise, so the driver recorded parsed:null. The protocol must
    // therefore govern itself: elapsed time is tracked from main()
    // entry against SPARK_GRAFT_WALL_BUDGET (default 2,700 s — safely
    // under the observed kill line even on a 2× loaded box), every
    // rep/query boundary in the main and ×10 passes and every ×100
    // gate checks the remainder, and an exhausted budget SKIPS the
    // rest and still emits the complete summary of everything timed
    // so far as the final stdout line, exit 0. wallReserve covers the
    // worst single overshoot: one heavy ×10 gate (~60 s loaded) plus
    // final emission + spark.stop.
    val wallStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wallStart) / 1e9
    val wallBudget =
      sys.env.getOrElse("SPARK_GRAFT_WALL_BUDGET", "2700").toDouble
    val wallReserve = 120.0
    def wallLeft: Double = wallBudget - wallReserve - elapsed
    // tiers/stages the governor cut short, in order (summary field)
    val exhausted = scala.collection.mutable.LinkedHashSet.empty[String]
    def budgetLeft(what: String): Boolean = {
      val ok = wallLeft > 0
      if (!ok && exhausted.add(what))
        System.err.println(f"[bench] wall budget exhausted at $what " +
          f"(elapsed $elapsed%.0f s of $wallBudget%.0f): skipping the rest")
      ok
    }
    // belt-and-braces: if anything — a driver timeout's SIGTERM, an
    // unexpected throw — ends the JVM before the clean final print,
    // re-print the last complete summary line so the process's final
    // stdout line is parseable anyway (SIGKILL excepted; nothing can)
    @volatile var lastSummary: String = null
    @volatile var cleanExit = false
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!cleanExit && lastSummary != null) {
        println(lastSummary); Console.out.flush()
      }
    }))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 32 executor threads — the engine's local[32] design point (and
    // graft.Inspect's default). PROTOCOL BREAK (r13,
    // BASELINE.md): this ran at 4 for rounds 1-12, which is what
    // split every heavy tier reading into two irreproducible classes
    // — builder passes exported CPUS=32 and read q68 ×100 at ~13 s
    // while driver artifacts ran the default and read ~31-38 s on
    // EQUALLY CLEAN brackets. The calibration kernel could never see
    // the difference because it ran with the same thread count either
    // way. One harness, one thread count, one class.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    // untimed warm-up: initialize codegen, parquet footers, shuffle
    // machinery — JVM startup cost shouldn't land on whichever query
    // happens to run first
    // NonFatal only: an OOM/JVM fault must abort the run, not let it
    // report mis-timed numbers from a corrupted JVM; failures are
    // logged so a cold warm-up is visible in the driver tail
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    catch { case NonFatal(e) => System.err.println(s"[bench] warmup(scan) failed: $e") }
    // ...and the operator machinery the query set exercises beyond a
    // plain hash-agg: generate/explode, ObjectHashAggregate (signature
    // aggregates), collect_set, window functions, and the nested-loop
    // join path — their first codegen/JIT pass costs seconds and is JVM
    // infrastructure, not query work (ten in-memory rows, still untimed)
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val tiny = (1L to 10L).map(i => (i, s"warm up row number $i")).toDF("id", "t")
      // every intermediate column feeds the final aggregate — column
      // pruning would otherwise drop the signature/collect_set aggs and
      // eliminate the window, leaving those paths cold
      tiny.select($"id", explode(graft.functions.NGrams.wordNGramSeq($"t", 2)).as("g"))
        .select($"id", xxhash64($"g").as("h"))
        .groupBy("id")
        .agg(graft.functions.MinHashAgg.minhash($"h", 8).as("sig"),
          collect_set($"h").as("s"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"id").orderBy($"id")))
        .crossJoin(tiny.select($"id".as("id2")))
        .filter($"id" < $"id2")
        .agg(sum(size($"sig") + size($"s") + $"rn")).collect()
    } catch { case NonFatal(e) => System.err.println(s"[bench] warmup(ops) failed: $e") }
    // Between timed queries: drop RDD blocks left behind by the
    // operators' lineage cuts (LSH candidate sets, CC rounds).
    // Dataset.unpersist cannot free those (plan-level only), so without
    // this they accumulate across the ~60-query run and later queries
    // pay their GC pressure — r3 vs r4 showed identical code swinging
    // up to 6× on late-running queries. Cleanup runs OUTSIDE the timed
    // region; each query still pays for its own blocks.
    def dropResidualBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    // dev filter: SPARK_GRAFT_ONLY=q28,q51 times just those queries
    // (substring match); unset = full suite (the driver's mode)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    // gcBefore (blowup tiers only): the r9 driver artifact read q68 at
    // x100 at 112.9 s where the steady state is ~25 s — heap pressure
    // left behind by the preceding tier queries, not a plan change. So
    // memory-pressure tiers get the full isolation discipline BEFORE
    // the timed region: drain residual blocks, then an explicit GC so
    // each query starts from a settled heap. (The main sf pass skips
    // the GC — its queries are sub-second and 100 extra collections
    // per rep would cost more wall-clock than they'd stabilize.)
    // budget-aware: stops at the first query boundary past the wall
    // budget and returns what it timed — the pass survives truncated
    // rather than the artifact dying whole
    def timeOnce(dir: String, skip: Set[String],
                 keep: Option[Set[String]] = None,
                 gcBefore: Boolean = false,
                 stage: String = "main"): Seq[(String, Double)] = {
      val qs = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => selected(q._1)).filter(q => keep.forall(_.contains(q._1)))
        .filterNot(q => skip(q._1))
      val out = Seq.newBuilder[(String, Double)]
      val it = qs.iterator
      var go = true
      while (go && it.hasNext) {
        val (name, fn) = it.next()
        if (!budgetLeft(stage)) go = false
        else {
          if (gcBefore) { dropResidualBlocks(); System.gc(); Thread.sleep(100) }
          val t0 = System.nanoTime()
          try { fn(spark, dir).count() }
          catch { case NonFatal(e) => System.err.println(s"[bench] $name failed: $e"); -1L }
          val dt = (System.nanoTime() - t0) / 1e9
          dropResidualBlocks()
          out += name -> dt
        }
      }
      out.result()
    }
    // min over reps: a single-shot wall time in a shared 32-thread JVM
    // is hostage to whichever GC pause lands on it; the per-query
    // minimum is the reproducible cost of the plan itself. Reps merge
    // BY NAME (not positionally): a budget-truncated rep contributes
    // the prefix it timed, and a truncated rep ends the pass — the
    // next rep would cut at the same place.
    def timeAll(dir: String, skip: Set[String],
                keep: Option[Set[String]] = None,
                nreps: Int = reps,
                gcBefore: Boolean = false,
                stage: String = "main"): Seq[(String, Double)] = {
      var acc = Map.empty[String, Double]
      var rep = 0
      var go = true
      while (go && rep < nreps) {
        val t0 = elapsed
        val r = timeOnce(dir, skip, keep, gcBefore, stage)
        val repWall = elapsed - t0
        r.foreach { case (n, t) =>
          acc = acc.updated(n, math.min(t, acc.getOrElse(n, Double.MaxValue)))
        }
        rep += 1
        if (exhausted.contains(stage)) go = false
        // graceful degradation ORDER (r15 verdict item 2c): on a
        // loaded box, shed the min-over-reps discipline (rep 2+)
        // BEFORE the governor has to shed whole tiers — a single-shot
        // pass with its calibration bracket beats a missing tier
        else if (rep < nreps && wallLeft < repWall * 1.5) {
          System.err.println(f"[bench] $stage: shedding rep ${rep + 1} " +
            f"(rep wall $repWall%.0f s, budget left $wallLeft%.0f s)")
          exhausted.add(s"${stage}_rep${rep + 1}")
          go = false
        }
      }
      acc.toSeq.sortBy(_._1)
    }
    // 3-decimal fixed-point keeps the final line compact (ms resolution
    // is below this bench's noise floor anyway); full precision goes on
    // the detail line.
    def fmt(v: Double): String = f"$v%.3f"
    def toJson(rs: Seq[(String, Double)], full: Boolean): String =
      rs.map { case (k, v) => "\"" + k + "\":" + (if (full) v.toString else fmt(v)) }
        .mkString("{", ",", "}")

    // Fixed-work calibration: a deterministic SF-independent kernel
    // (32-partition range → hash → 1024-group agg → scalar) timed
    // min-over-reps. Its time moves with ambient load / JVM state, not
    // with any query change, so cross-round comparisons divide by it:
    // the uniform +18% drift between r5 and r6 (same code, busier box)
    // would have shown up here and normalized out. Measured BEFORE and
    // AFTER the query passes so intra-run drift is visible too.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // pmod BEFORE the sums: full-range xxhash64 longs overflow an
      // ANSI sum over 20M rows
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id", "pmod(xxhash64(id), 1024L) AS b",
          "pmod(xxhash64(id, 7L), 1000000L) AS h")
        .groupBy(org.apache.spark.sql.functions.col("b"))
        .agg(org.apache.spark.sql.functions.sum("h").as("s"))
        .agg(org.apache.spark.sql.functions.sum("s")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibration = (1 to reps).map(_ => calibrate()).min

    // Multi-split view for the timed passes (r17 verdict item 4): the
    // gated fixtures are single-file parquet, so scan-stage map work
    // serialized onto one core no matter what SPARK_GRAFT_CPUS said
    // and the driver's 8-vs-32-core probe read ≈1 everywhere. Same
    // rows, same values, real split parallelism; built once and cached
    // like the blowup dirs (input premise); falls back to the raw dir
    // if the build fails. Recorded in the artifact as "bench_input".
    val sfName = new java.io.File(sfDir).getName
    val (benchDir, benchInput) =
      try (MultiSplit.build(spark, sfDir,
        s"${GraftSession.scratchRoot}/graft_msplit_$sfName", files = 32),
        "msplit32")
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] msplit build failed, timing raw dir: $e")
        (sfDir, "raw")
      }

    val results = timeAll(benchDir, Set.empty)
    val total = results.map(_._2).sum
    // the main pass's closing bracket, taken IMMEDIATELY — the x10/x100
    // tiers run for minutes and have their own brackets; reading the
    // main pass's end state after them would normalize the main total
    // against a snapshot of a different load regime
    val calibrationEnd = calibrate()

    // CRASH-PROOF EMISSION (r14: the driver's only bench artifact was
    // a mid-×100 crash — rc=1, parsed:null — and the whole round's
    // record was lost although the sf0.1 and ×10 tiers had finished an
    // hour earlier). The detail file and the summary line are now
    // emitted after EVERY tier (main → ×10 → ×100), each emission a
    // complete parseable artifact of the tiers finished so far with a
    // "stage" marker; the final emission is printed last, so a clean
    // run's last line is identical to the old single print and a
    // crashed run's last line is the most recent completed tier.

    // second pass at ×10 synthetic scale: at the gate SF fixed cost
    // dominates, so data-proportional regressions hide; the blowup pass
    // is where super-linear growth shows. q34 is excluded BY DESIGN:
    // it is the exact all-pairs cosine oracle kernel (quadratic in the
    // corpus, documented as a bounded-slice rerank primitive) — its
    // scale path is the SRP-bucketed lshNearDupPairs. Disable the pass
    // with SPARK_GRAFT_X10=0. Always ≥ 2 reps with its OWN calibration
    // bracket: the r7 verdict saw a 1-rep tier swing 2× on identical
    // code under ambient load — a tier that can't be normalized is
    // noise, not signal.
    // Self-normalizing totals: scale by idle_cal / measured_cal so the
    // recorded artifact already backs out ambient load instead of
    // asking the reader to (r7 verdict item). measured_cal = the MIN of
    // the run's calibration bracket (closest to this box's achievable
    // state during the run); idle_cal = the recorded idle-box reference
    // for the kernel (BASELINE.md; override with SPARK_GRAFT_IDLE_CAL
    // after a hardware change). Normalization never inflates: an
    // idle-or-better box reports raw totals (factor capped at 1).
    // 0.58: the kernel's warm steady state at local[32] on this box
    // (measured r13: 0.55-0.66 over 7 warm reps; the old 0.42 was the
    // 4-thread value — the kernel is shuffle/bandwidth-bound and does
    // NOT speed up with threads, so the baseline had to move with the
    // cpus default)
    val idleCal = sys.env.getOrElse("SPARK_GRAFT_IDLE_CAL", "0.58").toDouble
    def normFactor(cals: Double*): Double = {
      val measured = cals.filter(_ > 0)
      if (measured.isEmpty) 1.0 else math.min(1.0, idleCal / measured.min)
    }

    val x10Skip = Set("q34_embed_neardup")
    var x10Cal = (0.0, 0.0)
    var x10: Option[Seq[(String, Double)]] = None
    def runX10(): Option[Seq[(String, Double)]] =
      if (sys.env.getOrElse("SPARK_GRAFT_X10", "1") == "0") None
      else if (!budgetLeft("x10")) None
      else try {
        val sfName = new java.io.File(sfDir).getName
        // blowup data lives under the repo-owned scratch root, NOT
        // java.io.tmpdir — same reaper hazard as spark.local.dir
        // (GraftSession.scratchRoot scaladoc). Builds are idempotent
        // (marker-keyed), so across runs this is a cache hit.
        val x10Dir = Blowup.build(spark, sfDir,
          s"${GraftSession.scratchRoot}/graft_x10_$sfName", times = 10)
        val calBefore = calibrate()
        // restricted to sf1Head (r15 verdict item 2a): TIERS.md itself
        // adjudicates the other ~60 gates as "the ratio reads JVM
        // fixed cost, not plan growth" — timing them at ×10 spent
        // budget on admitted noise, and that budget is what starved
        // the ×100 tier into two straight unparseable driver artifacts
        val r = timeAll(x10Dir, x10Skip, keep = Some(BenchTiers.sf1Head),
          nreps = math.max(reps, 2), gcBefore = true, stage = "x10")
        // closing calibration must not discard the tier (the ×100
        // lesson of r16 applied here too): record 0.0 on throw
        x10Cal = (calBefore, try calibrate() catch { case NonFatal(_) => 0.0 })
        Some(r)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] x10 pass failed: $e"); None
      }

    // third pass at ×100 scale, documents table only: the memory-
    // pressure tier — at ×10 a 128 GiB box still hides partition-sized
    // state mistakes. Restricted to the CORPUS-PROPORTIONAL heavy
    // queries (several gate queries deliberately slice a constant
    // planted range like doc_id < 60 — those measure nothing here).
    // q29 is the quadratic-OUTPUT gate representative: blowup copies
    // are near-dups of each other with DISTINCT content, so pairs —
    // and exact reranks — grow with copies². q28 (same family, heavier
    // rerank) is excluded from the RECURRING tier after a one-off
    // measurement: 535 s for ~25M pairs (~21 µs/pair, output-bound;
    // BASELINE.md) — rerunning that every round re-measures the output
    // volume, not the plan. Two reps minimum with min-taking + the
    // gcBefore isolation discipline (r9: the 1-rep tier read q68 at
    // 112.9 s where the steady state is ~25 s — a number that
    // irreproducible is noise in the official artifact). Disable with
    // SPARK_GRAFT_X100=0.
    // tier membership + per-gate adjudication live in BenchTiers (the
    // generated TIERS.md artifact); membership rules in its scaladoc
    val x100Keep = BenchTiers.x100Keep
    // Self-adjudicating tier timing (r11 verdict item 1): the ×100
    // numbers have been contaminated by ambient load in three separate
    // rounds (r9 q68 112.9 s, r11 q68 39.9 s vs an 18 s steady state),
    // and a run-level calibration bracket can't say WHICH query the
    // load landed on. So every tier rep is individually bracketed by
    // the calibration kernel, the accepted (min-time) rep comes from
    // the CLEAN-bracket reps when any exist, and a query whose every
    // rep ran loaded is re-run up to 3 extra times before being
    // recorded with loaded=true — the artifact itself now says whether
    // a reading is trustworthy (BASELINE.md's ≤~0.6 s bracket rule,
    // applied per query instead of per run).
    // 0.85 ≈ the old 0.6 rescaled to the 32-thread kernel baseline
    // (0.6/0.42 ≈ 1.43 of idle; 0.58·1.43 ≈ 0.83)
    val bracketMax = sys.env.getOrElse("SPARK_GRAFT_BRACKET_MAX", "0.85").toDouble
    // rerun budget 6 (r12 verdict item 5): 3 was exhausted by
    // q189/q20/q93 in the r12 artifact while the box settled after the
    // blowup build; the budget is a cap on wasted work when the box is
    // GENUINELY loaded for the whole tier, so it can afford to be
    // generous.
    val rerunMax = sys.env.getOrElse("SPARK_GRAFT_RERUN_MAX", "6").toInt
    // pin: re-secure the tier's cached input frame (r12 verdict item 3
    // — cache-and-force the ×100 inputs): dropResidualBlocks clears
    // the Dataset cache between reps, so each rep re-pins BEFORE its
    // calibration bracket and timed region. With the input frame in
    // memory, tier readings measure plan CPU, not whatever the page
    // cache happened to hold — the mechanism behind three rounds of
    // 2× q68 swings.
    // probe: an optional BANDWIDTH bracket next to the CPU one. The
    // calibration kernel is ~cache-resident (20M longs) and provably
    // cannot see DRAM-bandwidth contention: r13 measured q68 ×100 at
    // 11.4 s and 33.3 s in consecutive passes, BOTH on clean CPU
    // brackets. The probe re-reads the tier's pinned input end to end
    // (a real decode + memory-traffic workload at fixed size); its
    // idle baseline is self-calibrated per tier (min of 3 probes
    // before any timed work), and a rep counts as loaded when EITHER
    // bracket exceeds its bound (probe bound = 1.5× the baseline —
    // the same ×~1.4-of-idle rule the CPU bracket uses).
    def timeTierAdjudicated(dir: String, keep: Set[String], nreps: Int,
                            pin: () => Unit = () => (),
                            probe: Option[() => Double] = None,
                            entryCal: Double = 0.0,
                            onGate: Seq[(String, Double, Double, Boolean)] => Unit = _ => ())
        : Seq[(String, Double, Double, Boolean)] = {
      val probeIdle = probe.map(p => (1 to 3).map(_ => p()).min)
      val probeMax = probeIdle.map(_ * 1.5).getOrElse(Double.PositiveInfinity)
      probeIdle.foreach(b =>
        System.err.println(f"[bench] tier probe idle baseline: $b%.3f s"))
      def loadedRep(cal: Double, io: Double): Boolean =
        cal > bracketMax || io > probeMax
      // loaded-box rerun bypass (r16 verdict item 1c): on a box whose
      // tier-entry calibration reads ≥3× the idle baseline (the r16
      // driver box read 2.8–4.6 vs 0.58), NO bracket will ever come
      // back clean — the rerun marathon can only burn wall budget
      // re-measuring ambient load (that marathon is exactly what
      // carried the r16 run past the kill line). Accept loaded=true
      // readings after nreps and move on.
      val tierRerunMax =
        if (entryCal >= idleCal * 3) {
          System.err.println(f"[bench] tier entry calibration $entryCal%.3f ≥ 3× idle " +
            f"($idleCal%.2f): box is loaded, accepting loaded readings without re-runs")
          0
        } else rerunMax
      // per-gate budget check (r15 verdict item 1): each ×100 gate
      // costs a warm exec + ≥2 bracketed reps (30–120 s loaded) — a
      // tier that can't finish records the gates it DID adjudicate
      // instead of dying mid-gate with log noise as the last line.
      // gateReserve (r16 verdict item 1b): a gate is only STARTED when
      // the remaining budget covers a worst-case adjudicated gate,
      // estimated as the most expensive gate this tier has completed
      // (floor 60 s) — `wallLeft > 0` alone let q188's 9-execution
      // marathon carry the r16 run from under the check line to the
      // 3,600 s kill.
      val gates = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => selected(q._1)).filter(q => keep(q._1))
      val tierOut = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Boolean)]
      var maxGateWall = 60.0
      // one estimated rep cost for the intra-gate checks, updated from
      // every measured rep (brackets included); prior before any rep
      var lastRepWall = 30.0
      val gateIt = gates.iterator
      var tierGo = true
      while (tierGo && gateIt.hasNext) {
        val (name, fn) = gateIt.next()
        if (!budgetLeft("x100")) tierGo = false
        else if (wallLeft < maxGateWall) {
          if (exhausted.add("x100_gate_reserve"))
            System.err.println(f"[bench] wall budget cannot cover another adjudicated " +
              f"gate (left $wallLeft%.0f s < reserve $maxGateWall%.0f s): stopping the tier")
          tierGo = false
        } else {
          val gateT0 = elapsed
          tierOut += {
          // failed rep → time = +Inf (ADVICE r12): a fast failure must
          // not enter the min-accept pool as a near-zero "clean" time.
          // Brackets run on BOTH sides of the timed region (ADVICE
          // r13): a before-only bracket bounds ambient load AROUND the
          // measurement, not during it — a load spike arriving
          // mid-query still moved the after-side kernel/probe, so the
          // rep records the WORSE side of each bracket and counts as
          // loaded when either side exceeds its bound.
          def rep(): (Double, Double, Double) = {
            val wall0 = elapsed
            dropResidualBlocks(); System.gc(); Thread.sleep(100)
            pin()
            val calBefore = calibrate()
            val ioBefore = probe.map(_()).getOrElse(0.0)
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, dir).count(); true }
              catch { case NonFatal(e) =>
                System.err.println(s"[bench] $name failed: $e"); false }
            val dt = (System.nanoTime() - t0) / 1e9
            val calAfter = calibrate()
            val ioAfter = probe.map(_()).getOrElse(0.0)
            dropResidualBlocks()
            lastRepWall = elapsed - wall0
            (if (ok) dt else Double.PositiveInfinity,
              math.max(calBefore, calAfter), math.max(ioBefore, ioAfter))
          }
          // one UNTIMED warm execution: tier queries are measured at
          // nreps=2, which sits on the JIT warm-up slope for the
          // heavy gram-explode shapes (q68 ×100 at 32 cores, successive reps:
          // 19.2 → 10.6 → ... → 9.7 s steady) — the first timed rep
          // must not pay whole-stage-codegen compilation
          try { fn(spark, dir).count(): Unit }
          catch { case NonFatal(_) => () }
          dropResidualBlocks()
          // intra-gate budget checks (r16 verdict item 1a): EVERY
          // rep() call — the remaining nreps AND the rerun loop — is
          // guarded by the wall budget, using the last measured
          // bracketed-rep wall as the cost estimate; a gate cut short
          // records what it measured (best loaded reading) instead of
          // running into the driver's kill
          var runs = Vector(rep())
          while (runs.size < nreps && wallLeft > lastRepWall) runs = runs :+ rep()
          var extra = 0
          while (runs.forall(r => loadedRep(r._2, r._3) || r._1.isInfinite)
                 && extra < tierRerunMax && !runs.forall(_._1.isInfinite)
                 && wallLeft > lastRepWall) {
            System.err.println(
              s"[bench] $name: all brackets loaded " +
                s"(cal ${runs.map(_._2).mkString(",")} io ${runs.map(_._3).mkString(",")}), re-running")
            extra += 1
            runs = runs :+ rep()
          }
          val finite = runs.filter(_._1.isFinite)
          val gateRes =
            if (finite.isEmpty) {
              // every rep failed: record -1 (the historical failure
              // marker) with the best bracket, flagged loaded so the
              // artifact says the reading is not a measurement
              (name, -1.0, runs.map(_._2).min, true)
            } else {
              val clean = finite.filter(r => !loadedRep(r._2, r._3))
              val accepted = (if (clean.nonEmpty) clean else finite).minBy(_._1)
              (name, accepted._1, accepted._2, clean.isEmpty)
            }
          maxGateWall = math.max(maxGateWall, elapsed - gateT0)
          gateRes
        }
          // per-gate crash safety (r16 verdict item 2a): surface the
          // adjudicated-so-far tier to the caller, which refreshes
          // lastSummary + the on-disk detail — an rc=124 artifact now
          // carries every completed gate instead of losing the tier
          onGate(tierOut.toSeq)
        }
      }
      tierOut.toSeq
    }
    var x100Cal = (0.0, 0.0)
    var x100Full: Option[Seq[(String, Double, Double, Boolean)]] = None
    // late-bound per-gate emission (assigned once detailJson/
    // summaryLine exist below — a plain forward reference trips the
    // local-block rule): refreshes lastSummary + the on-disk detail
    // and prints the summary after EVERY ×100 gate, so neither a
    // mid-gate kill nor the shutdown hook losing the halt race can
    // cost more than the in-flight gate (r16 verdict item 2a)
    var perGateEmit: () => Unit = () => ()
    // runX100 mutates x100Full DIRECTLY (per completed gate via the
    // onGate callback, r16 verdict item 2a/2b): an exception anywhere
    // in the tier — including the post-SIGTERM calibrate() throw that
    // discarded the whole r16 tier — salvages every gate adjudicated
    // before it instead of returning None
    def runX100(): Unit =
      if (sys.env.getOrElse("SPARK_GRAFT_X100", "1") == "0") ()
      else if (!budgetLeft("x100")) ()
      else try {
        val sfName = new java.io.File(sfDir).getName
        val x100Dir = Blowup.build(spark, sfDir,
          s"${GraftSession.scratchRoot}/graft_x100_$sfName", times = 100,
          tables = Set("documents"))
        // pin the tier's input into the OS PAGE CACHE per rep (the
        // blowup's documents table is ~60 MB parquet): stream every
        // file's bytes outside the timed region, so the timed query
        // never waits on storage. Deliberately NOT spark.persist():
        // the measured r13 readings under an InMemoryRelation pin ran
        // ~2x SLOWER (q188 64.6 s vs 37.0, q68 33.6 vs 30.5) — a
        // multi-GB columnar cache on the heap trades a 60 MB warm
        // parquet read for decompression + GC pressure INSIDE the
        // timed region, and it measures a plan (cache scan) the real
        // cluster never runs. The page-cache warm keeps the genuine
        // parquet plan and removes the only true IO term.
        def pinDocs(): Unit = {
          try {
            val dir = java.nio.file.Paths.get(s"$x100Dir/documents.parquet")
            val buf = new Array[Byte](1 << 20)
            val files = java.nio.file.Files.walk(dir)
            try files.filter(p => java.nio.file.Files.isRegularFile(p))
              .forEach { p =>
                val in = java.nio.file.Files.newInputStream(p)
                try { while (in.read(buf) >= 0) () } finally in.close()
              }
            finally files.close()
          } catch { case NonFatal(e) =>
            System.err.println(s"[bench] x100 input pin failed: $e") }
        }
        pinDocs()
        // bandwidth probe: a timed end-to-end decode of the pinned
        // input — the workload class the CPU kernel can't see
        def ioProbe(): Double = {
          val t0 = System.nanoTime()
          spark.read.parquet(s"$x100Dir/documents.parquet")
            .agg(org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.octet_length(
                org.apache.spark.sql.functions.col("text")))).collect()
          (System.nanoTime() - t0) / 1e9
        }
        val calBefore = calibrate()
        x100Cal = (calBefore, 0.0)
        val r = timeTierAdjudicated(x100Dir, x100Keep, nreps = math.max(reps, 2),
          pin = () => pinDocs(), probe = Some(() => ioProbe()),
          entryCal = calBefore,
          onGate = { sofar =>
            x100Full = Some(sofar)
            perGateEmit()
          })
        x100Full = Some(r)
        // closing calibration excluded from the failure path (r16
        // verdict item 2c): the r15/r16 kills landed here and the
        // throw used to discard the entire adjudicated tier
        val calAfter = try calibrate() catch { case NonFatal(_) => 0.0 }
        x100Cal = (calBefore, calAfter)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] x100 pass failed: $e (salvaged " +
            s"${x100Full.map(_.size).getOrElse(0)} adjudicated gates)")
      }
    def x100: Option[Seq[(String, Double)]] =
      x100Full.map(_.map { case (n, t, _, _) => (n, t) })

    // ---- sf1 honesty tier: per-query SCALING EXPONENTS ----------------
    // The x10 pass at the driver's sf0.1 bench dir IS sf1-scale data;
    // what the raw tier totals hide is per-query growth. For the
    // corpus-proportional headline gates, record t(10·sf)/t(sf) with
    // each pass's calibration normalization backed out, plus the
    // implied scaling exponent log10(ratio) — 1.0 = perfectly linear,
    // >~1.08 (ratio >12) flags a super-linear plan for the round-notes
    // audit. Coverage (r9 verdict item 7): every gate whose input
    // grows with the corpus — text family, embedding family, skew,
    // retraction. The CC-family gates (q84, q95) and the planted-range
    // q95 fixture are SF-constant BY DESIGN; they're in the list so
    // that flatness is measured each round, not asserted. Gates that
    // slice planted constant ranges and have no designed-flatness
    // claim stay excluded (their ratio measures fixed cost only).
    val sf1Head: Set[String] = BenchTiers.sf1Head
    def sf1Rows: Seq[(String, Double, Double)] = x10.map { r =>
      val mainT = results.toMap
      val nfMain = normFactor(calibration, calibrationEnd)
      val nf10 = normFactor(x10Cal._1, x10Cal._2)
      r.filter(q => sf1Head(q._1)).flatMap { case (name, t10) =>
        mainT.get(name).filter(t => t > 0 && t10 > 0).map { tm =>
          val ratio = (t10 * nf10) / (tm * nfMain)
          (name, ratio, math.log10(ratio))
        }
      }
    }.getOrElse(Seq.empty)

    // The harness that collects this output keeps only the LAST ~2000
    // characters of the run log, so the machine-readable summary line
    // must (a) be printed last and (b) fit that window whole — a
    // truncated JSON line parses as nothing. Full-precision per-query
    // detail (both passes) goes on an earlier line + files; the final
    // line carries the headline totals and a 3-decimal per-query map,
    // dropping the FASTEST queries first if it would overflow.
    // Every run-level calibration bracket is persisted INTO the detail
    // artifact too (r14 verdict item 1: the summary line is lossy and
    // was lost entirely in the crash — the detail file must be
    // self-adjudicating on its own).
    def detailJson(stage: String): String = {
      val rows = sf1Rows
      val sf1Detail =
        if (rows.isEmpty) ""
        else s""","sf1_scaling":{${rows.sortBy(_._1).map { case (n, ratio, exp) =>
          "\"" + n + "\":{\"ratio\":" + fmt(ratio) + ",\"exponent\":" + fmt(exp) + "}"
        }.mkString(",")}}"""
      s"""{"detail":{"stage":"$stage","bench_input":"$benchInput","idle_cal":${fmt(idleCal)}""" +
        s""","wall_elapsed":${fmt(elapsed)},"wall_budget":${fmt(wallBudget)}""" +
        s""","budget_exhausted":${exhausted.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
        s""","calibration":${fmt(calibration)},"calibration_end":${fmt(calibrationEnd)}""" +
        s""","queries":${toJson(results, full = true)}""" +
        x10.map(r => s""","x10_queries":${toJson(r, full = true)}""" +
          s""","x10_calibration":${fmt(x10Cal._1)},"x10_calibration_end":${fmt(x10Cal._2)}""").getOrElse("") +
        x100.map(r => s""","x100_queries":${toJson(r, full = true)}""" +
          s""","x100_calibration":${fmt(x100Cal._1)},"x100_calibration_end":${fmt(x100Cal._2)}""").getOrElse("") +
        x100Full.map { r =>
          s""","x100_brackets":${toJson(r.map(q => (q._1, q._3)), full = true)}""" +
            s""","x100_loaded":${r.filter(_._4).map("\"" + _._1 + "\"").mkString("[", ",", "]")}"""
        }.getOrElse("") +
        sf1Detail + "}}"
    }

    // persisted in-repo (committed with the round) AND to tmp: the
    // harness keeps only the summary line, so the per-query detail the
    // next round's verdict wants must survive somewhere durable. The
    // repo dir is overridable so a run from another checkout doesn't
    // silently write into an unrelated tree.
    val repoDir = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "/root/repo")
    // Partial runs (SPARK_GRAFT_ONLY dev filter) and runs at any SF
    // other than the gated sf0.1 must not clobber the committed
    // full-run artifact the verdict cites — a q95-only debug run and a
    // full sf0.001 smoke run have each replaced the whole round's
    // detail map. Debug runs still get the tmp copy.
    val fullGatedRun = only.isEmpty && new java.io.File(sfDir).getName == "sf0.1"
    def writeDetail(detail: String): Unit = {
      val repoTargets =
        if (fullGatedRun) Seq(java.nio.file.Paths.get(repoDir, "BENCH_DETAIL.json"))
        else { System.err.println("[bench] partial/off-sf run: skipping in-repo detail write"); Nil }
      (repoTargets :+
        java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_bench_detail.json"))
        .foreach { p =>
          try {
            java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
            System.err.println(s"[bench] detail written to $p")
          } catch { case NonFatal(e) => System.err.println(s"[bench] detail write failed ($p): $e") }
        }
    }

    def summaryLine(stageNow: String): String = {
      val totalNormalized = total * normFactor(calibration, calibrationEnd)
      val x10Part = x10.map { r =>
        val x10Total = r.map(_._2).sum
        s""","x10_total":${fmt(x10Total)}""" +
          s""","x10_total_normalized":${fmt(x10Total * normFactor(x10Cal._1, x10Cal._2))}""" +
          s""","x10_calibration":${fmt(x10Cal._1)},"x10_calibration_end":${fmt(x10Cal._2)}""" +
          s""","x10_skipped":${x10Skip.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      }.getOrElse("") +
        x100Full.map { r =>
          val x100Total = r.map(_._2).sum
          s""","x100_total":${fmt(x100Total)},"x100_n":${r.size}""" +
            s""","x100_total_normalized":${fmt(x100Total * normFactor(x100Cal._1, x100Cal._2))}""" +
            s""","x100_calibration":${fmt(x100Cal._1)},"x100_calibration_end":${fmt(x100Cal._2)}""" +
            s""","x100_loaded":${r.filter(_._4).map("\"" + _._1 + "\"").mkString("[", ",", "]")}"""
        }.getOrElse("")
      // compact sf1 summary for the final line: count, worst normalized
      // sf→10·sf ratio, and any super-linear offenders (ratio > 12; a
      // perfectly linear query reads 10). Full per-query ratios +
      // exponents live in the detail artifact's sf1_scaling map.
      val rows = sf1Rows
      val sf1Part =
        if (rows.isEmpty) ""
        else {
          val worst = rows.maxBy(_._2)
          // gt12x carries only GENUINE offenders (r16 verdict item 3):
          // gates whose ratio is designed super-linear in output pairs
          // (BenchTiers.expectedSuperlinear — q28's copies² rerank) are
          // reported separately so a loaded-box run doesn't turn the
          // "zero >12× offenders" claim into a coin-flip
          val offenders = rows.filter(_._2 > 12.0).map(_._1)
          val (expectedOff, genuineOff) =
            offenders.partition(BenchTiers.expectedSuperlinear)
          val expPart =
            if (expectedOff.isEmpty) ""
            else s""","gt12x_expected":${expectedOff.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
          s""","sf1":{"n":${rows.size},"max_ratio":${fmt(worst._2)}""" +
            s""","max_query":"${worst._1}"""" +
            s""","gt12x":${genuineOff.map("\"" + _ + "\"").mkString("[", ",", "]")}$expPart}"""
        }
      // the governor's own record: which stages it cut, plus total
      // wall elapsed — a budget-truncated artifact SAYS it is one
      val govPart =
        s""","stage":"$stageNow","wall_elapsed":${fmt(elapsed)}""" +
          s""","wall_budget":${fmt(wallBudget)}""" +
          s""","budget_exhausted":${exhausted.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      // ×100 gate readings ride in the queries map under "x100_"-
      // prefixed ADDED names (r17 verdict item 4): the main pass at the
      // gate SF is fixed-cost-bound, so the driver's 8-vs-32-core probe
      // reads ≈1 for every gate no matter how the engine parallelizes;
      // the ×100 tier is where compute dominates, and publishing its
      // adjudicated per-gate times under stable names lets the probe —
      // and the round-over-round comparison — see the scale tier
      // directly. Existing names are untouched; these are additions.
      val x100Entries = x100
        .map(_.filter(_._2 > 0).map { case (n, t) => (s"x100_$n", t) })
        .getOrElse(Seq.empty)
      def line(sel: Seq[(String, Double)]): String = {
        val omitted = results.size - sel.size
        val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"sf":"$sfDir"""" +
          s""","bench_input":"$benchInput"""" +
          s""","total_normalized":${fmt(totalNormalized)},"idle_cal":${fmt(idleCal)}""" +
          s""","calibration":${fmt(calibration)},"calibration_end":${fmt(calibrationEnd)}""" +
          s"""$govPart$x10Part$sf1Part$om,"queries":${toJson((sel ++ x100Entries).sortBy(_._1), full = false)}}"""
      }
      val MaxLine = 1800
      var sel = results
      var out = line(sel)
      while (out.length > MaxLine && sel.nonEmpty) {
        sel = sel.sortBy(-_._2).dropRight(1) // drop the fastest first
        out = line(sel)
      }
      out
    }

    // per-tier emission (detail first, summary last, flushed): a crash
    // anywhere later still leaves the previous tier's complete artifact
    // as the last parseable line AND on disk
    def emit(stage: String): Unit = {
      val d = detailJson(stage)
      println(d)
      writeDetail(d)
      val s = summaryLine(stage)
      lastSummary = s
      println(s)
      Console.out.flush()
    }

    perGateEmit = () => {
      writeDetail(detailJson("x100_gate"))
      val s = summaryLine("x100_gate")
      lastSummary = s
      println(s); Console.out.flush()
    }

    emit("main")
    // ×100 BEFORE ×10 (r17 verdict item 3): the ×100 tier carries the
    // round's scale claims and was the tier the wall-budget governor
    // shed first (2 of 17 gates adjudicated at 32 cores in r17). Main
    // (~150 s) + a full 17-gate ×100 adjudication fit the budget with
    // room; the ×10 sweep now absorbs whatever truncation the budget
    // forces, and a truncated ×10 still records every gate it timed.
    runX100()
    emit("x100")
    x10 = runX10()
    emit("x10")
    cleanExit = true
    spark.stop()
  }
}
