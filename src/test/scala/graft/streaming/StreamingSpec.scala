package graft.streaming

import graft.SparkTestBase
import graft.{ExtQueries, Tables}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Streaming specs run the event queries through Structured Streaming
  * (memory sink, processAllAvailable) and cross-check the streamed
  * results against their batch equivalents — same data, two execution
  * models, identical answers.
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** FileStreamSource wants a directory; stage the single-file table. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  /** Stage the events table into `dir` ALREADY normalized to the
    * engine contract (ts = ns-long INT64). Fixtures that later append
    * engine-written frames (flush sentinels, re-deliveries) must use
    * this rather than copying the raw testdata file: the raw footer's
    * ts encoding (TIMESTAMP_NTZ/NANOS, varies by generator) would
    * differ from the appended frames' INT64, and a parquet file source
    * cannot serve two physical types for one column from one dir —
    * the standard file-source single-schema contract.
    */
  private def stageNormalizedEvents(dir: java.nio.file.Path,
                                    name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("stage-events")
    Tables.events(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, dir.resolve(name))
  }

  test("hourlyRollup streams the same totals as the batch rollup") {
    val stream = EventStream.readStream(spark, eventsDir)
    val q = EventStream.hourlyRollup(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("rollup").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("rollup")
        .agg(sum("n_events")).as[Long].head()
      val batch = Tables.events(spark, sfDir).count()
      assert(streamed == batch)
      // spot-check one bucket against the batch oracle query
      val batchHourly = ExtQueries.q26.run(spark, sfDir)
      val streamedBuckets = spark.table("rollup").count()
      assert(streamedBuckets == batchHourly.count())
    } finally q.stop()
  }

  test("distinctUsersSketch streams the same KMV minima as the batch sketch") {
    val stream = EventStream.readStream(spark, eventsDir)
    val q = EventStream.distinctUsersSketch(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("kmv")
        .orderBy("event_type").as[(String, Seq[Long])].collect().toSeq
      val batch = EventStream.distinctUsersSketch(Tables.events(spark, sfDir))
        .orderBy("event_type").as[(String, Seq[Long])].collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty && streamed.forall(_._2.nonEmpty))
    } finally q.stop()
  }

  test("valueQuantileSketch streams state identical to the batch sketch") {
    val stream = EventStream.readStream(spark, eventsDir)
    val q = EventStream.valueQuantileSketch(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("qsketch").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("qsketch")
        .selectExpr("event_type", "cast(sketch as string) s")
        .orderBy("event_type").as[(String, String)].collect().toSeq
      val batch = EventStream.valueQuantileSketch(Tables.events(spark, sfDir))
        .selectExpr("event_type", "cast(sketch as string) s")
        .orderBy("event_type").as[(String, String)].collect().toSeq
      assert(streamed == batch && streamed.nonEmpty)
      assert(streamed.forall(_._2.length > 2), "sketches must be non-empty")
    } finally q.stop()
  }

  test("sessionizeCustomState (flatMapGroupsWithState) matches the batch session count") {
    import spark.implicits._
    // stage events + a far-future flush event that advances the global
    // watermark so every real session times out and emits
    val dir = java.nio.file.Files.createTempDirectory("events-fmgws")
    stageNormalizedEvents(dir, "a_events.parquet")
    val maxTs = Tables.events(spark, sfDir).agg(max("ts")).as[Long].head()
    // FileStreamSource lists leaf FILES only — df.write.parquet creates
    // a directory, so extract the single part file into the stream dir
    def flush(name: String, days: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("flush")
      Seq((-1L, maxTs + days * 86400L * 1000000000L, -1L, "flush", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(part, dir.resolve(name))
    }
    flush("b_flush.parquet", 10)

    val stream = EventStream.readStream(spark, dir.toString, maxFilesPerTrigger = 1)
    val q = EventStream.sessionizeCustomState(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("custom_sessions").start()
    try {
      q.processAllAvailable()
      // timeouts fire on the batch AFTER the watermark advances;
      // processAllAvailable doesn't wait for that no-data batch, so
      // drive one more data batch through
      flush("c_flush2.parquet", 20)
      q.processAllAvailable()
      val streamed = spark.table("custom_sessions")
        .filter($"user_id" >= 0)
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      val batch = ExtQueries.q27.run(spark, sfDir).select("user_id", "n_sessions")
      val joined = streamed.as("s").join(batch.as("b"), "user_id")
      assert(joined.filter($"s.n_sessions" =!= $"b.n_sessions").count() == 0)
      assert(streamed.count() == batch.count())
    } finally q.stop()
  }

  test("dedupedStream drops cross-micro-batch re-deliveries") {
    // stage the SAME file twice: micro-batch 2 re-delivers every event
    val dir = java.nio.file.Files.createTempDirectory("events-dedup")
    Seq("a_events.parquet", "b_events_again.parquet").foreach { name =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve(name))
    }
    val stream = EventStream.readStream(spark, dir.toString, maxFilesPerTrigger = 1)
    val q = EventStream.dedupedStream(stream, Seq("event_id"), watermark = "10 days")
      .writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()
    try {
      q.processAllAvailable()
      val batch = Tables.events(spark, sfDir).count()
      assert(spark.table("deduped").count() == batch) // 2N in, N out
    } finally q.stop()
  }

  test("stream-static enrichment matches the batch join") {
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "category")
    val stream = EventStream.readStream(spark, eventsDir)
    val q = EventStream.enriched(stream, dim, "event_type")
      .groupBy("category").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("enriched").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enriched").as[(String, Long)].collect().toMap
      val batch = Tables.events(spark, sfDir).join(broadcast(dim), Seq("event_type"))
        .groupBy("category").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    val stream = EventStream.readStream(spark, eventsDir)
    val q = EventStream.clickViewAttribution(stream, windowMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("attribution").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attribution").count()
      // batch equivalent: same interval condition as a plain range join
      val ev = Tables.events(spark, sfDir)
        .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"), $"ts_us".as("click_ts"))
      val views = ev.filter($"event_type" === "view")
        .select($"user_id".as("view_user"), $"ts_us".as("view_ts"))
      val batch = clicks.join(views,
        $"user_id" === $"view_user" &&
          $"view_ts" <= $"click_ts" &&
          $"view_ts" >= $"click_ts" - expr("INTERVAL 30 MINUTES")).count()
      assert(streamed == batch && batch > 0)
    } finally q.stop()
  }

  test("asofEnrichment streams the batch as-of join's matched subset (q38 semantics)") {
    import graft.ops.AsOfJoin
    // stage events plus flush click+view pairs at a far-future ts for a
    // sentinel user: both sides' watermarks must advance for the
    // chained join→argmax pipeline to emit (filters sit above the
    // watermark nodes, so the flush rows must BE clicks/views)
    val dir = java.nio.file.Files.createTempDirectory("events-asof")
    stageNormalizedEvents(dir, "a_events.parquet")
    val maxTs = Tables.events(spark, sfDir).agg(max("ts")).as[Long].head()
    def flush(name: String, days: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("flush-asof")
      val t = maxTs + days * 86400L * 1000000000L
      Seq((-1L, t, -1L, "click", 0.0, ""), (-2L, t, -1L, "view", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(part, dir.resolve(name))
    }
    flush("b_flush.parquet", 10)

    val stream = EventStream.readStream(spark, dir.toString, maxFilesPerTrigger = 1)
    val q = EventStream.asofEnrichment(stream, lookbackMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_stream").start()
    try {
      q.processAllAvailable()
      flush("c_flush2.parquet", 20) // drive the watermark-close batch
      q.processAllAvailable()
      val streamed = spark.table("asof_stream")
        .filter($"user_id" >= 0)
        .select($"click_id", $"view_ts", $"view_value")
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq.sortBy(_._1)

      // batch reference: AsOfJoin.backward with tolerance, µs-domain
      // (the streaming side compares µs timestamps), matched subset
      val ev = Tables.events(spark, sfDir)
        .withColumn("ts_us", expr("ts div 1000")) // µs longs, exact arithmetic
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"), $"ts_us")
      // the matched view's timestamp must ride along as PAYLOAD (the
      // as-of timestamp column itself is excluded from the output)
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", $"value".as("view_value"),
          $"ts_us".as("view_us"), $"ts_us".as("matched_view_us"))
      val batch = AsOfJoin.backward(clicks, views, Seq("user_id"),
          "ts_us", "view_us", rightTieBreak = Seq("view_value"),
          tolerance = Some(30L * 60L * 1000000L))
        .filter($"view_value".isNotNull)
        .select($"click_id", expr("timestamp_micros(matched_view_us)"), $"view_value")
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq.sortBy(_._1)

      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"first diffs: ${streamed.diff(batch).take(3)} / ${batch.diff(streamed).take(3)}")
    } finally q.stop()
  }

  test("sessionize (session_window) matches the batch lag-gap session count") {
    val stream = EventStream.readStream(spark, eventsDir)
    val q = EventStream.sessionize(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions")
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      val batch = ExtQueries.q27.run(spark, sfDir)
        .select("user_id", "n_sessions")
      val diff = streamed.join(batch, "user_id")
        .filter(streamed("n_sessions") =!= batch("n_sessions"))
      assert(diff.count() == 0)
      assert(streamed.count() == batch.count())
    } finally q.stop()
  }

  test("DocStream.incrementalNearDup streams the same pairs as the batch probe") {
    import graft.ext.MinHashLsh
    val base = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val corpusSigs = MinHashLsh.portableSignatures(
      base.filter($"doc_id" < 120), $"doc_id", $"text", n = 3, k = 8)
      .localCheckpoint() // static state table stand-in (parquet in prod)
    val newBatch = base.filter($"doc_id" < 8)
      .select(($"doc_id" + 700000L).as("doc_id"),
        concat($"text", lit(" streamed tail token")).as("text"))
      .unionAll(base.filter($"doc_id" >= 10 && $"doc_id" < 14)
        .select(($"doc_id" + 700000L).as("doc_id"), $"text"))

    // stage the new batch as TWO files -> two micro-batches
    val dir = java.nio.file.Files.createTempDirectory("docs-stream")
    newBatch.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    newBatch.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")

    val q = DocStream.incrementalNearDup(stream, $"doc_id", $"text", corpusSigs,
        n = 3, k = 8, bands = 4, threshold = 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("neardup_stream")
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val batch = MinHashLsh.incrementalNearDup(newBatch, $"doc_id", $"text",
          corpusSigs, n = 3, k = 8, bands = 4, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed=$streamed batch=$batch")
      // exactly one row per pair: the first-shared-band rule dedups
      // without any state store
      assert(streamed.map(r => (r._1, r._2)).distinct.size == streamed.size)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("routedSplit on a stream routes identically to the batch leakage-safe split, stateless") {
    import graft.ext.DedupClusters
    val docs = Tables.table(spark, sfDir, "documents")
      .select($"doc_id", $"lang").filter($"doc_id" < 200)
    // batch-computed component labels (pairs: consecutive-id chains)
    val pairs = docs.filter($"doc_id" % 4 === 0)
      .select($"doc_id".as("id1"), ($"doc_id" + 1L).as("id2"))
    val labels = DedupClusters.connectedComponents(pairs).localCheckpoint()
    val cuts = Seq("train" -> 204, "val" -> 26, "test" -> 26)
    val batch = DedupClusters.leakageSafeSplit(docs, "doc_id", pairs, cuts, "r7")
      .select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("docs-route-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream
      .schema("doc_id BIGINT, lang STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")
    val q = DocStream.routedSplit(stream, $"doc_id", labels, cuts, "r7")
      .select("doc_id", "component", "split")
      .writeStream.outputMode("append")
      .format("memory").queryName("routed").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("routed").as[(Long, Long, String)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      // paired docs share a split; the routing kept zero state
      val byComp = streamed.groupBy(_._2)
      assert(byComp.values.forall(_.map(_._3).size >= 1))
      assert(byComp.filter(_._2.size > 1).values.forall(_.map(_._3).toSet.size == 1))
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("sampleByRates on a stream matches the batch temperature sample, stateless") {
    import graft.ext.Sampling
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"lang")
    // rates computed ONCE on the batch snapshot (the production shape:
    // yesterday's corpus mix governs today's ingest)
    val rates = Sampling.temperatureRates(docs, $"lang", alpha = 0.5)
      .localCheckpoint()
    val batch = Sampling.sampleByRates(docs, $"lang", $"doc_id", rates, "mix")
      .select("doc_id").as[Long].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("docs-mix-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream
      .schema("doc_id BIGINT, lang STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")
    val q = Sampling.sampleByRates(stream, $"lang", $"doc_id", rates, "mix")
      .select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("mix_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mix_stream").as[Long].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      // stream-static join + per-row filter: no state store rows
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("withBatchProfiles emits one profile per micro-batch; driftReport runs across batch ids") {
    import graft.ops.Expectations
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"lang")
    val dir = java.nio.file.Files.createTempDirectory("docs-profile-stream")
    // batch 0: even ids with lang nulled on %10==0; batch 1: odd ids intact
    docs.filter($"doc_id" % 2 === 0)
      .select($"doc_id", when($"doc_id" % 10 === 0, lit(null)).otherwise($"lang").as("lang"))
      .write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream
      .schema("doc_id BIGINT, lang STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")

    val profiles = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val delivered = new java.util.concurrent.atomic.AtomicLong
    val q = StreamSink.withBatchProfiles(stream, Seq("doc_id", "lang"),
        appendProfile = p => profiles ++= p.collect(),
        checkpoint = java.nio.file.Files.createTempDirectory("ck-profile").toString,
        alsoAppend = Some(b => { delivered.addAndGet(b.count()); () }))
      .start()
    try q.processAllAvailable() finally q.stop()

    val total = docs.count()
    assert(delivered.get() == total, "alsoAppend must deliver every row once")
    // two micro-batches × two profiled columns
    assert(profiles.size == 4, profiles.mkString(","))
    val byBatch = profiles.groupBy(_.getLong(4)) // batch_id
    assert(byBatch.keySet == Set(0L, 1L))
    assert(byBatch.values.flatMap(_.filter(_.getString(0) == "doc_id"))
      .map(_.getLong(1)).sum == total, "per-batch row counts sum to the corpus")
    // the planted null burst is visible in exactly the batch carrying it
    val langRows = profiles.filter(_.getString(0) == "lang")
    assert(langRows.count(_.getLong(2) > 0) == 1)

    // and driftReport consumes any two batch profiles after the fact
    val pdf = spark.createDataFrame(spark.sparkContext.parallelize(profiles.toSeq),
      Expectations.loadProfile(docs, Seq("doc_id", "lang")).schema
        .add("batch_id", "long"))
    val rep = Expectations.driftReport(
        pdf.filter($"batch_id" === 1L).drop("batch_id"),
        pdf.filter($"batch_id" === 0L).drop("batch_id"),
        maxRowDeltaPct = 0.2, maxNullRateDrift = 0.01)
      .as[(String, String, Double, Double, Double, Boolean)].collect()
    assert(rep.length == 3)
    assert(!rep.find(r => r._2 == "lang").get._6, "planted null drift must fire")
    assert(rep.find(r => r._2 == "doc_id").get._6, "doc_id stayed clean")
  }

  test("keyedIdempotent streams into a live Derby warehouse; a full replay re-delivers nothing") {
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("derby-stream").toString)
    val url = "jdbc:derby:memory:stream_sink;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE event_sink (event_id BIGINT, user_id BIGINT)")
    conn.close()

    val events = Tables.table(spark, sfDir, "events")
      .select($"event_id", $"user_id")
    val dir = java.nio.file.Files.createTempDirectory("sink-stream")
    // overlapping files: event_id % 3 == 0 rows appear in BOTH —
    // cross-micro-batch duplicates arrive even before any replay
    events.filter($"event_id" % 2 === 0).write.parquet(s"$dir/part1")
    events.filter($"event_id" % 2 =!= 0 || $"event_id" % 3 === 0)
      .write.parquet(s"$dir/part2")

    def readSink() = spark.read.jdbc(url, "event_sink", props)
    def appendSink(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("append").jdbc(url, "event_sink", props)
    def run(checkpoint: String): Unit = {
      val stream = spark.readStream
        .schema("event_id BIGINT, user_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/part*")
      val q = StreamSink.keyedIdempotent(stream, Seq("event_id"),
        readSink _, appendSink, checkpoint).start()
      try q.processAllAvailable() finally q.stop()
    }

    run(java.nio.file.Files.createTempDirectory("ck1").toString)
    val n1 = readSink().count()
    assert(n1 == events.select("event_id").distinct().count())

    // FULL replay from a fresh checkpoint — the worst-case redelivery:
    // every micro-batch re-runs, the warehouse must not grow
    run(java.nio.file.Files.createTempDirectory("ck2").toString)
    assert(readSink().count() == n1)
    // and no key ever landed twice
    assert(readSink().groupBy($"event_id").count().filter($"count" > 1).count() == 0)
  }

  test("checkpoint restart: stop mid-stream, resume recovers aggregation state") {
    // the first thing a real pipeline hits: a query dies between
    // micro-batches and must resume from its checkpoint with no loss
    // and no double count
    val src = java.nio.file.Files.createTempDirectory("events-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("events-ckpt").toString
    val total = Tables.events(spark, sfDir).count()

    // split the events table into 4 files → 4 micro-batches at
    // maxFilesPerTrigger=1
    val staged = java.nio.file.Files.createTempDirectory("events-split")
    Tables.events(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(staged.toString)
    val files = new java.io.File(staged.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 4)
    def arrive(i: Int): Unit = java.nio.file.Files.copy(files(i).toPath,
      java.nio.file.Paths.get(src.toString, s"part-$i.parquet"))

    def start() = EventStream.hourlyRollup(EventStream.readStream(spark, src.toString))
      .writeStream.outputMode("complete").format("memory")
      .queryName("rollup_restart").option("checkpointLocation", ckpt).start()


    arrive(0); arrive(1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val partial = spark.table("rollup_restart").agg(sum("n_events")).as[Long].head()
    assert(partial > 0 && partial < total, s"expected a genuine mid-stream stop, got $partial/$total")

    arrive(2); arrive(3)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // full total: pre-restart state recovered from the checkpoint
      // (the file source will NOT re-read committed files, so a lost
      // state store would undercount) and late files counted once
      val streamed = spark.table("rollup_restart").agg(sum("n_events")).as[Long].head()
      assert(streamed == total)
      // and it genuinely RESUMED: batch ids continue the committed
      // sequence (0,1 before the stop) instead of starting over
      assert(q2.recentProgress.nonEmpty && q2.recentProgress.map(_.batchId).min >= 2,
        q2.recentProgress.map(_.batchId).mkString(","))
      // per-bucket agreement with the batch oracle, not just the total
      val batchHourly = ExtQueries.q26.run(spark, sfDir)
        .select(col("hour"), col("event_type"), col("n_events"))
      val streamedHourly = spark.table("rollup_restart")
        .select(col("hour"), col("event_type"), col("n_events"))
      assert(streamedHourly.except(batchHourly).isEmpty
        && batchHourly.except(streamedHourly).isEmpty)
    } finally q2.stop()
  }
  test("QualityModel.classify scores a stream row-identically to batch, stateless (pure per-row scorer)") {
    import graft.ext.QualityModel
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val batch = QualityModel.classify(docs, $"text")
      .select($"doc_id", $"quality_score", $"keep")
      .as[(Long, Double, Boolean)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("quality-stream")
    docs.write.parquet(s"$dir/part1")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/part*")
    val q = QualityModel.classify(stream, $"text")
      .select($"doc_id", $"quality_score", $"keep")
      .writeStream.outputMode("append")
      .format("memory").queryName("quality_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("quality_stream")
        .as[(Long, Double, Boolean)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("admitNew passes exactly the batch incremental-dedup survivors, stateless; intra-stream caveat pinned") {
    import graft.ext.ExactDedup
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    // "corpus" = docs with doc_id < 250; the stream delivers everything
    // — re-crawled corpus content must be rejected, new content passes
    val corpus = docs.filter($"doc_id" < 250)
    val digests = ExactDedup.digestTable(corpus, $"text").localCheckpoint()
    val batch = ExactDedup.incremental(docs, corpus, $"text", "doc_id")
      .select($"doc_id").as[Long].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("admit-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")
    val q = DocStream.admitNew(stream, $"text", digests)
      .select($"doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("admitted").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("admitted").as[Long].collect().toSet
      // batch incremental ALSO dedups within the incoming batch; the
      // stateless stream admits per-arrival — on this fixture every
      // admitted text is unique, so the sets must agree exactly, and
      // that agreement is only meaningful if nothing collapsed:
      val admitted = docs.join(spark.table("admitted"), "doc_id")
      assert(admitted.select($"text").distinct().count() == streamed.size,
        "fixture must have unique admitted content for set equality to bite")
      assert(streamed == batch && streamed.nonEmpty)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()

    // the documented intra-stream window: identical NEW content in two
    // micro-batches passes twice until digests fold back
    val dir2 = java.nio.file.Files.createTempDirectory("admit-dup")
    val dup = Seq((9001L, "brand new never seen text")).toDF("doc_id", "text")
    dup.write.parquet(s"$dir2/p1")
    dup.select(($"doc_id" + 1).as("doc_id"), $"text").write.parquet(s"$dir2/p2")
    val stream2 = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir2/p*")
    val q2 = DocStream.admitNew(stream2, $"text", digests)
      .writeStream.outputMode("append")
      .format("memory").queryName("admitted_dup").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("admitted_dup").count() == 2,
        "stateless screen admits intra-stream duplicates — the documented caveat")
    } finally q2.stop()
  }

  test("takedown cascade reaches the streaming screen: retracted content re-admits, retained content stays blocked") {
    import graft.ext.{ExactDedup, Forget}
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250)
    // takedown deletes every fifth corpus doc; the digest state is
    // retracted through the cascade, then the SAME content is
    // re-crawled (licensed copies arriving after an opt-out window —
    // the re-admission scenario the cascade exists for)
    val deletedRows = corpus.filter($"doc_id" % 5 === 0)
    val retracted = Forget.retractDigests(
      Forget.digestCounts(corpus, $"text"), deletedRows, $"text").localCheckpoint()
    val redeliver = corpus.filter($"doc_id" % 5 === 0 || $"doc_id" % 5 === 1)

    // expected admissions from FIRST PRINCIPLES — digests of the
    // rebuilt retained corpus, not the retraction path under test
    // (q96 pins the two equal); a deleted doc whose text also lives in
    // a retained doc must STAY blocked
    val retainedDigests = ExactDedup.digestTable(
      corpus.filter($"doc_id" % 5 =!= 0), $"text")
    val expected = redeliver
      .withColumn("__h", ExactDedup.contentDigest($"text"))
      .join(retainedDigests.withColumnRenamed("digest", "__h"), Seq("__h"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty, "fixture must re-admit something")
    assert(expected.size < redeliver.count(), "fixture must also block something")

    val dir = java.nio.file.Files.createTempDirectory("takedown-stream")
    redeliver.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/p1")
    redeliver.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/p2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/p*")
    val q = DocStream.admitNew(stream, $"text", Forget.toDigestTable(retracted))
      .select($"doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("readmitted").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("readmitted").as[Long].collect().toSet
      assert(streamed == expected,
        s"stream admissions diverge from the retained-corpus identity: " +
          s"extra=${streamed -- expected} missing=${expected -- streamed}")
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streamingDecontaminate flags a doc stream row-identically to the batch screen, stateless") {
    import graft.ext.Decontaminate
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // eval set: 5 original vectors + one scaled copy planted verbatim —
    // their sources MUST be flagged; orthogonal background mostly not
    val evalSet = emb.filter($"vec_id" % 97 === 3).limit(5)
      .select(($"vec_id" + 900000L).as("eval_id"),
        transform($"embedding", x => x + x).as("evec"))
    val batch = Decontaminate.byEmbedding(emb, "vec_id", "embedding",
        evalSet, "eval_id", "evec", tau = 0.99)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture must plant contamination")

    val dir = java.nio.file.Files.createTempDirectory("decontam-stream")
    emb.filter($"vec_id" % 2 === 0).write.parquet(s"$dir/part1")
    emb.filter($"vec_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")
    val q = EmbedStream.streamingDecontaminate(stream, "vec_id", "embedding",
        evalSet, "eval_id", "evec", tau = 0.99)
      .writeStream.outputMode("append")
      .format("memory").queryName("decontam_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decontam_stream")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streamingIvfProbe answers a query stream row-identically to batch ivfProbe, stateless") {
    import graft.ext.EmbeddingSearch
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val idx = EmbeddingSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
    val queriesDf = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val batch = EmbeddingSearch.ivfProbe(idx, emb, "vec_id", "embedding",
        queriesDf, "qid", "qvec", k = 5, nprobe = 3)
      .select($"qid", $"neighbor_id", $"rank", $"cos")
      .as[(Long, Long, Int, Double)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("embed-stream")
    queriesDf.filter($"qid" % 2 === 0).write.parquet(s"$dir/part1")
    queriesDf.filter($"qid" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream
      .schema(queriesDf.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")
    val q = EmbedStream.streamingIvfProbe(idx, emb, "vec_id", "embedding",
        stream, "qid", "qvec", k = 5, nprobe = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("embed_probe").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("embed_probe")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty,
        s"streamed ${streamed.size} rows vs batch ${batch.size}")
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()

    // nprobe beyond nlist: short probe lists null-join cleanly and the
    // full-probe stream equals exact brute force (every cell probed)
    val batchFull = EmbeddingSearch.ivfProbe(idx, emb, "vec_id", "embedding",
        queriesDf, "qid", "qvec", k = 3, nprobe = 12)
      .as[(Long, Long, Int, Double)].collect().toSet
    val q2 = EmbedStream.streamingIvfProbe(idx, emb, "vec_id", "embedding",
        stream, "qid", "qvec", k = 3, nprobe = 12)
      .writeStream.outputMode("append")
      .format("memory").queryName("embed_probe_full").start()
    try {
      q2.processAllAvailable()
      val streamed = spark.table("embed_probe_full")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(streamed == batchFull && streamed.nonEmpty)
      assert(q2.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q2.stop()
  }

  test("streamingIvfProbePq from quantized state: degenerate codebook is row-identical to the exact streaming probe, stateless, no corpus in the plan") {
    import graft.ext.{EmbeddingSearch, VectorQuant}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").filter($"vec_id" < 100)
    val idx = EmbeddingSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 4)
    val book = VectorQuant.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 100, iters = 0, dim = 64)
    val pq = VectorQuant.quantizeIndex(idx, emb, "vec_id", "embedding", book)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val batch = EmbeddingSearch.ivfProbe(idx, emb, "vec_id", "embedding",
        queriesDf, "qid", "qvec", k = 5, nprobe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("embed-stream-pq")
    queriesDf.write.parquet(s"$dir/part1")
    val stream = spark.readStream.schema(queriesDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")
    val q = EmbedStream.streamingIvfProbePq(pq, stream, "qid", "qvec",
        k = 5, nprobe = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("embed_probe_pq").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("embed_probe_pq")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty,
        s"streamed ${streamed.size} rows vs batch ${batch.size}")
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.gopherScreened flags a doc stream batch-identically, stateless, across micro-batch splits") {
    import graft.ext.QualityFilter
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val batch = QualityFilter.gopherFlags(docs, $"doc_id", $"text")
      .collect().map(_.toSeq).toSet

    val dir = java.nio.file.Files.createTempDirectory("gopher-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val q = DocStream.gopherScreened(stream, $"doc_id", $"text")
      .writeStream.outputMode("append")
      .format("memory").queryName("gopher_screen").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("gopher_screen").collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.hashedScored scores a doc stream batch-identically regardless of micro-batching, zero state") {
    import graft.ext.HashedNgram
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val labeled = docs.withColumn("label", ($"doc_id" % 3 === 0).cast("int"))
    val weights = HashedNgram.fit(labeled, $"doc_id", $"text", $"label",
      d = 16, iters = 2)
    val batch = HashedNgram.score(docs, $"doc_id", $"text", weights)
      .as[(Long, Double)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("hashed-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val emitted = new scala.collection.mutable.ArrayBuffer[(Long, Double)]
    var batches = 0
    val ckpt = java.nio.file.Files.createTempDirectory("hashed-stream-ckpt")
    val q = DocStream.hashedScored(stream, $"doc_id", $"text", weights,
      scored => emitted.synchronized {
        emitted ++= scored.as[(Long, Double)].collect(); batches += 1; ()
      }, ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
      assert(emitted.toSet == batch && batch.nonEmpty)
      assert(emitted.size == emitted.toSet.size)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.unigramEncoded encodes a doc stream batch-identically, zero state") {
    import graft.ext.UnigramLm
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val vocab = UnigramLm.train(docs, $"text", maxWordLen = 3, iters = 2)
    val universe = UnigramLm.wordCounts(docs, $"text", 3)
      .select($"word").as[String].collect().toSeq
    val table = UnigramLm.encodeTable(universe, vocab.toMap, 3)
      .toDF("word", "n_pieces")
    val batch = UnigramLm.encode(docs, $"doc_id", $"text", table)
      .as[(Long, Long, Long)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("uni-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val emitted = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("uni-stream-ckpt")
    val q = DocStream.unigramEncoded(stream, $"doc_id", $"text", table,
      enc => emitted.synchronized {
        emitted ++= enc.as[(Long, Long, Long)].collect(); ()
      }, ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(emitted.toSet == batch && batch.nonEmpty)
      assert(emitted.size == emitted.toSet.size)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.byteTokenCounted is declarative-stateless and batch-identical") {
    import graft.functions.ByteBpe
    val docs = Tables.table(spark, sfDir, "documents")
      .select($"doc_id", concat($"text", lit(" αβγ 一")).as("text"))
    val batch = docs.select($"doc_id", ByteBpe.count($"text").as("n_byte_tokens"))
      .as[(Long, Long)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("bytebpe-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val q = DocStream.byteTokenCounted(stream, $"text")
      .select($"doc_id", $"n_byte_tokens")
      .writeStream.outputMode("append")
      .format("memory").queryName("bytebpe_screen").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bytebpe_screen")
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.lzScreened screens a doc stream batch-identically regardless of micro-batching, zero state") {
    import graft.ext.CompressionSignal
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val batch = CompressionSignal.lzCoverage(docs, $"doc_id", $"text")
      .as[(Long, Long, Long, Boolean)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("lz-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val emitted = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Boolean)]
    var batches = 0
    val ckpt = java.nio.file.Files.createTempDirectory("lz-stream-ckpt")
    val q = DocStream.lzScreened(stream, $"doc_id", $"text",
      screened => emitted.synchronized {
        emitted ++= screened.as[(Long, Long, Long, Boolean)].collect(); batches += 1; ()
      }, ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
      assert(emitted.toSet == batch && batch.nonEmpty)
      assert(emitted.size == emitted.toSet.size)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.densityExtracted is declarative-stateless and batch-identical") {
    import graft.ext.Boilerplate
    val pages = Tables.table(spark, sfDir, "documents")
      .select($"doc_id",
        concat(lit("<div class=nav><a href=/>Home</a> <a href=/a>About page</a></div><p>"),
          $"text", lit("</p>")).as("html"))
    val batch = Boilerplate.densityStats(pages, $"doc_id", $"html")
      .collect().map(_.toSeq).toSet

    val dir = java.nio.file.Files.createTempDirectory("density-stream")
    pages.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    pages.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val q = DocStream.densityExtracted(stream, $"doc_id", $"html")
      .writeStream.outputMode("append")
      .format("memory").queryName("density_screen").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("density_screen").collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.lmScored scores a doc stream batch-identically regardless of micro-batching, zero state") {
    import graft.ext.NgramLm
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val model = NgramLm.train(docs, $"text")
    val batch = NgramLm.scoreDocsInterpolated(docs, $"doc_id", $"text", model)
      .as[(Long, Long, Long, Double)].collect().toSet

    // two frames -> maxFilesPerTrigger=1 forces >=2 micro-batches: the
    // per-doc scores must not depend on how the stream was batched
    val dir = java.nio.file.Files.createTempDirectory("lm-stream")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$dir/part1")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val emitted = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]
    var batches = 0
    val ckpt = java.nio.file.Files.createTempDirectory("lm-stream-ckpt")
    val q = DocStream.lmScored(stream, $"doc_id", $"text", model,
      scored => emitted.synchronized {
        emitted ++= scored.as[(Long, Long, Long, Double)].collect(); batches += 1; ()
      }, ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
      assert(emitted.toSet == batch && batch.nonEmpty)
      assert(emitted.size == emitted.toSet.size) // each doc scored exactly once
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("EmbedStream.admitVectors reproduces the stored serving state row-for-row on a stream, stateless") {
    import graft.ext.{EmbeddingSearch, VectorQuant}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val book = VectorQuant.pqTrain(emb, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 2, dim = 64)
    val ivf = EmbeddingSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 4)
    val pidx = VectorQuant.quantizeIndex(ivf, emb, "vec_id", "embedding", book)
    val stored = pidx.assignments.as[(Long, Long, Seq[Int])].collect().toSet

    // stream the SAME vectors through the admission face: cells and
    // codes must reproduce the stored state exactly — the proof that
    // admitted vectors are probe-able without a corpus re-encode
    val dir = java.nio.file.Files.createTempDirectory("admit-vec")
    emb.write.parquet(s"$dir/part1")
    val stream = spark.readStream.schema(emb.schema).parquet(s"$dir/part*")
    val q = EmbedStream.admitVectors(stream, pidx, "vec_id", "embedding")
      .writeStream.outputMode("append")
      .format("memory").queryName("admit_vectors").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("admit_vectors")
        .as[(Long, Long, Seq[Int])].collect().toSet
      assert(streamed == stored && streamed.nonEmpty)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("EmbedStream.admitVectorsRq reproduces the two-stage serving state row-for-row, stateless") {
    import graft.ext.{EmbeddingSearch, VectorQuant}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val books = VectorQuant.rqTrain(emb, "vec_id", "embedding",
      m = 4, ksub1 = 8, iters1 = 1, ksub2 = 8, iters2 = 1, dim = 64)
    val ivf = EmbeddingSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 4)
    val ridx = VectorQuant.quantizeIndexRq(ivf, emb, "vec_id", "embedding", books)
    val stored = ridx.assignments.as[(Long, Long, Seq[Int], Seq[Int])]
      .collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("admit-vec-rq")
    emb.write.parquet(s"$dir/part1")
    val stream = spark.readStream.schema(emb.schema).parquet(s"$dir/part*")
    val q = EmbedStream.admitVectorsRq(stream, ridx, "vec_id", "embedding")
      .writeStream.outputMode("append")
      .format("memory").queryName("admit_vectors_rq").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("admit_vectors_rq")
        .as[(Long, Long, Seq[Int], Seq[Int])].collect().toSet
      assert(streamed == stored && streamed.nonEmpty)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("IncrementalAgg state absorbs micro-batches via foreachBatch merge; final state equals the one-pass recompute") {
    import graft.ops.IncrementalAgg
    val events = Tables.events(spark, sfDir).select($"user_id", $"value")
    val dir = java.nio.file.Files.createTempDirectory("incagg-stream").toString + "/in"
    events.repartition(3).write.parquet(dir)

    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the production maintenance step: state-sized merge, no
        // corpus rescan — stored state + this batch's partial state
        val s = IncrementalAgg.state(batch, Seq(col("user_id")), col("value"))
        state = Some(IncrementalAgg
          .merge(state.toSeq :+ s, Seq("user_id")).localCheckpoint(true))
      }
      .start()
    try {
      q.processAllAvailable()
      val got = state.get.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2),
          r.getDouble(3), r.getDouble(4))).toMap
      val want = IncrementalAgg.state(events, Seq($"user_id"), $"value")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2),
          r.getDouble(3), r.getDouble(4))).toMap
      assert(got == want)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "maintenance lives in the sink; the stream itself is stateless")
    } finally q.stop()
  }

  test("manifest state absorbs micro-batches via foreachBatch admitManifest; final state equals the one-pass manifest") {
    import graft.ext.Sharding
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", ($"doc_id" % 5L).as("g"))
    val dir = java.nio.file.Files.createTempDirectory("manifest-stream").toString + "/in"
    docs.repartition(3).write.parquet(dir)

    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the production maintenance step: group-cardinality state +
        // one aggregate over the batch — the old corpus is never re-read
        state = Some(state match {
          case None => Sharding.manifest(batch, col("g"), col("text"),
            length(col("text"))).localCheckpoint(true)
          case Some(st) => Sharding.admitManifest(st, batch, col("g"),
            col("text"), length(col("text"))).localCheckpoint(true)
        })
      }
      .start()
    try {
      q.processAllAvailable()
      val got = state.get.orderBy("group").collect().toSeq
      val want = Sharding.manifest(docs, $"g", $"text", length($"text"))
        .orderBy("group").collect().toSeq
      assert(got == want)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "maintenance lives in the sink; the stream itself is stateless")
    } finally q.stop()
  }

  test("presence ledger absorbs micro-batches via mergePresenceStates; matrix equals the one-pass run") {
    import graft.ext.ExactDedup
    // planted mirrors give the matrix something to report — the
    // corpus's texts are unique across sources
    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"source")
    def planted(id: Long, fromDoc: Long, src: String) =
      base.filter($"doc_id" === fromDoc)
        .select(lit(id).as("doc_id"), $"text", lit(src).as("source"))
    val docs = base
      .unionByName(planted(920001L, 2L, "m-a"))
      .unionByName(planted(920002L, 2L, "m-a"))
      .unionByName(planted(920003L, 2L, "m-b"))
    val dir = java.nio.file.Files.createTempDirectory("presence-stream")
      .toString + "/in"
    docs.repartition(3).write.parquet(dir)

    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = ExactDedup.sourcePresenceState(batch,
          col("text"), col("source"))
        state = Some((state match {
          case None => delta
          case Some(st) => ExactDedup.mergePresenceStates(Seq(st, delta))
        }).localCheckpoint(true))
      }
      .start()
    try {
      q.processAllAvailable()
      val got = ExactDedup.overlapFromState(state.get)
        .orderBy("src", "other").collect().toSeq
      val want = ExactDedup.crossSourceOverlap(docs, $"text", $"source")
        .orderBy("src", "other").collect().toSeq
      assert(got == want)
      assert(got.nonEmpty, "planted mirrors must surface in the matrix")
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "ledger maintenance lives in the sink; the stream is stateless")
    } finally q.stop()
  }

  test("repetition screen per micro-batch: doc-local signals, union of batch verdicts equals the batch run, stream stateless") {
    import graft.ext.QualityFilter
    // the repetition verdict depends only on the document's own text,
    // so the streaming face is a per-batch foreachBatch compute with
    // ZERO cross-batch state — unlike the dedup/manifest screens there
    // is no corpus state to maintain
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .unionByName(Seq(
        (900100L, "spam spam spam spam spam spam spam spam"),
        (900101L, "dup line\ndup line\ndup line\ndup line")).toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("rep-stream").toString + "/in"
    docs.repartition(3).write.parquet(dir)

    var acc: Option[org.apache.spark.sql.DataFrame] = None
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = QualityFilter.repetitionPasses(batch, col("doc_id"), col("text"))
        acc = Some(acc.map(_.unionByName(v)).getOrElse(v).localCheckpoint(true))
      }
      .start()
    try {
      q.processAllAvailable()
      val got = acc.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = QualityFilter.repetitionPasses(docs, $"doc_id", $"text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
      assert(got(900100L) == 0L && got(900101L) == 0L)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "per-doc verdicts need no state store")
    } finally q.stop()
  }

  test("DocStream.warcAdmitted: WARC blobs stream through parse + dedup admission batch-identically, stateless") {
    import graft.ext.{ExactDedup, Warc}
    // corpus already holds "seen page" — its re-crawl must die at the door
    val corpus = Seq((1L, "seen page")).toDF("doc_id", "text")
    val digests = ExactDedup.digestTable(corpus, $"text")
    val crawl = Seq(
      (10L, "fresh page one", "a"),
      (11L, "seen page", "a"),      // re-crawl of corpus content
      (12L, "fresh page two", "b")
    ).toDF("doc_id", "text", "source")
    val rec = Warc.recordBytes(
      concat(lit("urn:graft:doc:"), $"doc_id"),
      concat(lit("https://"), $"source", lit(".example/"), $"doc_id"),
      $"text")
    val gz = Warc.gzipRecords(crawl, pmod($"doc_id", lit(2)), $"doc_id", rec)
    val blobs = Warc.buildBlobs(gz, col("blob_id"), col("ord"), col("rec"))

    val batch = DocStream.warcAdmitted(blobs, col("blob_id"), col("blob"), digests)
      .select($"record_id", $"target_uri", $"text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(batch.map(_._1) == Set("urn:graft:doc:10", "urn:graft:doc:12"),
      s"re-crawled content must be screened out: $batch")

    val dir = java.nio.file.Files.createTempDirectory("warc-stream")
    blobs.write.parquet(s"$dir/part1")
    val stream = spark.readStream.schema(blobs.schema).parquet(s"$dir/part*")
    val q = DocStream.warcAdmitted(stream, col("blob_id"), col("blob"), digests)
      .writeStream.outputMode("append")
      .format("memory").queryName("warc_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("warc_stream")
        .select($"record_id", $"target_uri", $"text")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(streamed == batch)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("videoFrames decodes a media stream row-identically to batch, stateless (mapPartitions is a legal stream op)") {
    import graft.ext.Multimodal
    import java.awt.image.BufferedImage
    def solid(w: Int, h: Int, rgb: (Int, Int, Int)): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb._1, rgb._2, rgb._3)); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    val palette = Seq((200, 0, 0), (0, 200, 0), (0, 0, 200))
    val media = Seq(
      Multimodal.MediaRow(1L, "video",
        Multimodal.encodeGifAnimated(palette.map(solid(20, 12, _)))),
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodeAviMjpeg(16, 8, 40000, palette.map(solid(16, 8, _)))),
      Multimodal.MediaRow(3L, "video", Array[Byte](0, 1, 2, 3))) // undecodable → 0 rows
    val ds = media.toDS()
    val batch = Multimodal.videoFrames(ds).collect().toSet
    assert(batch.map(_.media_id) == Set(1L, 2L) && batch.size == 6)

    val dir = java.nio.file.Files.createTempDirectory("video-stream")
    ds.write.parquet(s"$dir/part1")
    val stream = spark.readStream.schema(ds.schema).parquet(s"$dir/part*")
      .as[Multimodal.MediaRow]
    val q = Multimodal.videoFrames(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("video_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("video_stream")
        .as[Multimodal.FrameMeta].collect().toSet
      assert(streamed == batch)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("quotaAdmit as the foreachBatch front door: per-group totals hit min(cap, n), stream stays stateless") {
    import graft.ext.Sampling
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"source")
    val dir = java.nio.file.Files.createTempDirectory("quota-stream").toString + "/in"
    docs.repartition(3).write.parquet(dir)

    var counts: org.apache.spark.sql.DataFrame =
      Seq.empty[(String, Long)].toDF("source", "n_admitted")
    var admitted = 0L
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (adm, nc) = Sampling.quotaAdmit(batch, counts,
          "source", "doc_id", cap = 3, salt = "s")
        admitted += adm.count()
        counts = nc.localCheckpoint(true)
      }
      .start()
    try {
      q.processAllAvailable()
      val got = counts.as[(String, Long)].collect().toMap
      val want = docs.groupBy($"source").count()
        .as[(String, Long)].collect().toMap
        .map { case (g, n) => g -> math.min(3L, n) }
      assert(got == want)
      assert(admitted == want.values.sum)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "quota state lives in the maintained counts table, not stream state")
    } finally q.stop()
  }

  test("vocab ledger as the foreachBatch front door: admitted state ≡ from-scratch curve, stream stays stateless") {
    import graft.ext.CorpusStats
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val dir = java.nio.file.Files.createTempDirectory("vocab-stream").toString + "/in"
    docs.repartition(3).write.parquet(dir)

    // seed with an empty ledger (no docs yet): fold each micro-batch
    // in with admitVocab, localCheckpoint to keep lineage bounded —
    // the quotaAdmit maintained-state pattern
    var state = CorpusStats.vocabLedger(docs.limit(0), $"doc_id", $"text")
    state = CorpusStats.VocabLedger(
      state.tokens.localCheckpoint(true), state.docs.localCheckpoint(true))
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val next = CorpusStats.admitVocab(state, batch, $"doc_id", $"text")
        state = CorpusStats.VocabLedger(
          next.tokens.localCheckpoint(true), next.docs.localCheckpoint(true))
      }
      .start()
    try {
      q.processAllAvailable()
      val cps = Seq(50L, 1000000L)
      val fromStream = CorpusStats.growthFromLedger(state, cps)
        .orderBy($"checkpoint").collect().map(_.toSeq)
      val rebuilt = CorpusStats.vocabGrowth(docs, $"doc_id", $"text", cps)
        .orderBy($"checkpoint").collect().map(_.toSeq)
      assert(fromStream.toSeq == rebuilt.toSeq)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "ledger state lives in the maintained tables, not stream state")
    } finally q.stop()
  }

  test("DocStream.cascadeScreened: per-batch cascade equals the batch run on each micro-batch, zero state") {
    import graft.ext.Curation
    val docs = Tables.table(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"source")
    val p = Curation.CascadeParams()
    // the cascade is deliberately batch-scoped (dedup within the
    // batch, source rate on the batch's evidence): the reference is
    // the batch run per HALF, not one run over the union
    val halves = Seq(docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 =!= 0))
    val want = halves.map(h =>
        Curation.survival(h, $"doc_id", $"text", $"source", p)
          .collect().map(_.toSeq).toSet)
      .reduce(_ union _)

    val dir = java.nio.file.Files.createTempDirectory("cascade-stream")
    halves(0).write.parquet(s"$dir/part1")
    halves(1).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part*")

    val emitted = new scala.collection.mutable.ArrayBuffer[Seq[Any]]
    var batches = 0
    val ckpt = java.nio.file.Files.createTempDirectory("cascade-stream-ckpt")
    val q = DocStream.cascadeScreened(stream, $"doc_id", $"text", $"source", p,
      screened => emitted.synchronized {
        emitted ++= screened.collect().map(_.toSeq); batches += 1; ()
      }, ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
      assert(emitted.toSet == want && want.nonEmpty)
      assert(emitted.size == emitted.toSet.size)
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("DocStream.corpusAdmitted: per-batch admission chain equals the q216 batch semantics; manifest fold = rebuild") {
    import graft.ext.{ExactDedup, MinHashLsh, Sharding, TextAnalysis}
    val docs = Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val digests = ExactDedup.digestTable(corpus, $"text")
    val sigs = MinHashLsh.portableSignatures(corpus, $"doc_id", $"text", 3, 8)
    val stored = Sharding.manifest(corpus.withColumn("s", pmod($"doc_id", lit(7L))),
      $"s", $"text", TextAnalysis.charCount($"text"))
    // the arriving stream: new docs + exact replays + mutated replays
    val batchDocs = docs.filter($"doc_id" % 3 === 0)
      .unionAll(corpus.filter($"doc_id" < 10)
        .select(($"doc_id" + 940000L).as("doc_id"), $"text"))
      .unionAll(corpus.filter($"doc_id" >= 10 && $"doc_id" < 20)
        .select(($"doc_id" + 950000L).as("doc_id"),
          concat($"text", lit(" mutated tail token")).as("text")))

    // reference: the same chain run as ONE batch (single micro-batch
    // below, so per-batch ≡ whole-input)
    val nw = size(filter(split(lower(trim($"text")), "\\s+"), w => w =!= lit(""))).cast("long")
    val qual = batchDocs.filter(nw >= 5L && nw <= 100000L)
    val fresh = ExactDedup.incremental(qual, corpus, $"text", "doc_id")
    val hits = MinHashLsh.incrementalNearDup(fresh, $"doc_id", $"text", sigs, 3, 8, 4, 0.5)
    val wantAdmitted = fresh.join(hits.select($"new_id").distinct(),
        $"doc_id" === $"new_id", "left_anti")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val admittedDocs = batchDocs.join(wantAdmitted.toSeq.toDF("doc_id"),
      Seq("doc_id"), "left_semi")
    val wantManifest = Sharding.manifest(
        corpus.unionByName(admittedDocs)
          .withColumn("s", pmod($"doc_id", lit(7L))),
        $"s", $"text", TextAnalysis.charCount($"text"))
      .collect().map(_.toSeq).toSet

    val dir = java.nio.file.Files.createTempDirectory("admit-stream")
    batchDocs.write.parquet(s"$dir/part1")
    val stream = spark.readStream.schema(batchDocs.schema).parquet(s"$dir/part*")
    var gotAdmitted = Set.empty[Long]
    var gotManifest = Set.empty[Seq[Any]]
    var admFrame: org.apache.spark.sql.DataFrame = null
    val ckpt = java.nio.file.Files.createTempDirectory("admit-stream-ckpt")
    val q = DocStream.corpusAdmitted(stream, $"doc_id", $"text",
      digests, sigs, stored, nShards = 7,
      minWords = 5L, maxWords = 100000L, n = 3, k = 8, bands = 4,
      threshold = 0.5,
      (adm, mf) => {
        admFrame = adm
        gotAdmitted = adm.select($"doc_id").collect().map(_.getLong(0)).toSet
        gotManifest = mf.collect().map(_.toSeq).toSet
      }, ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(gotAdmitted == wantAdmitted && wantAdmitted.nonEmpty)
      // both rejection branches fired
      assert(batchDocs.filter($"doc_id" >= 940000L && $"doc_id" < 950000L)
        .collect().map(_.getLong(0)).toSet.intersect(gotAdmitted).isEmpty)
      assert(gotManifest == wantManifest, "admit-fold must equal rebuild")
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
      // the batch's cut is released once emit returns
      val cuts = admFrame.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      assert(cuts.nonEmpty)
      assert(!cuts.exists(spark.sparkContext.getPersistentRDDs.contains),
        s"admitted cut ${cuts.mkString(",")} still persisted after emit returned")
    } finally q.stop()
  }
}
