package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  *
  * Spark 4 made the classic converters (`classic.ExpressionUtils`)
  * private[sql]; third-party expression libraries conventionally expose
  * them through a small object in the org.apache.spark.sql package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function into an ALREADY-RUNNING session's registry —
    * the runtime-registration twin of GraftExtensions (which covers
    * sessions built with spark.sql.extensions).
    */
  def registerFunction(spark: SparkSession,
                       name: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(name, info, builder)

  /** AnalysisException with a plain message — the (message) constructor
    * is private[sql] in Spark 4; SQL-facing argument validation (bad
    * literal args to graft's function builders) should surface as an
    * analysis error, not a raw IllegalArgumentException.
    */
  def analysisError(message: String): AnalysisException =
    new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100", // generic pass-through message class
      messageParameters = Map("message" -> message))

  /** A releasable lineage cut with its release handle. `release()`
    * unpersists the backing RDD blocks; the frame stays CORRECT
    * afterwards (the RDD keeps its dependency chain) — consuming the
    * frame after release merely recomputes.
    */
  final case class CutFrame(df: Dataset[Row], release: () => Unit = () => (),
                            eagerCount: Option[Long] = None)

  private val trackedCuts =
    new ThreadLocal[scala.collection.mutable.Set[Int]]

  /** Test hook: run `body` and also return the ids of every cut RDD
    * the CALLING THREAD persisted inside it. Storage assertions on a
    * SHARED SparkContext (concurrent test suites) cannot attribute
    * global persisted-RDD deltas to one invocation — this gives exact
    * ownership instead. Frames are registered at creation on the
    * calling thread, so executor-side work never races the buffer.
    */
  def trackCuts[T](body: => T): (T, Set[Int]) = {
    val buf = scala.collection.mutable.Set.empty[Int]
    val prev = trackedCuts.get
    trackedCuts.set(buf)
    try { val r = body; (r, buf.toSet) }
    finally { if (prev == null) trackedCuts.remove() else trackedCuts.set(prev) }
  }

  /** The one stage barrier of operator and gate code: cut a
    * DataFrame's lineage at the SQL layer with RELEASABLE storage.
    * Materializes the physical plan's InternalRow RDD under a persist
    * and rebuilds the frame as the leaf `Dataset.localCheckpoint`
    * builds (`LogicalRDD.fromDataset`): it carries the origin plan's
    * statistics, so a small cut is broadcast, and whatever output
    * partitioning and ordering the executed plan reports (none after
    * an AQE-coalesced shuffle read).
    *
    * Why not the alternatives:
    *   - plain persist does NOT cut the logical plan — each round of an
    *     iterative operator embeds the previous round's tree several
    *     times, so plans grow EXPONENTIALLY and a ~12-round run dies
    *     inside plan stringification before anything executes
    *     (measured; see DedupClusters);
    *   - localCheckpoint drops the lineage: its blocks are not freed by
    *     Dataset.unpersist (only by a sweep of
    *     sparkContext.getPersistentRDDs), and a lost block fails the
    *     query instead of recomputing.
    * This cut keeps its lineage, so a lost or released block is
    * recomputed, and its plan is a leaf, so plans stay constant-size
    * across rounds. Release the PREVIOUS round as soon as the next is
    * materialized and retention stays O(1) rounds.
    *
    * Users: `Rounds` and `Logistic.descend` (per-round and training
    * cuts), the per-stage barriers of the dedup/retrieval operators and
    * gates, `DocStream`'s micro-batch cut, and the two loaders
    * (`HhsLoad`, `QualityLoad`), which cut their raw and tagged frames
    * per file and free them through `Result.unpersist()`. A cut stores
    * rows and skips the columnar cache's encoding pass, which on a
    * 127-column CSV costs more than the parse.
    *
    * `localCheckpoint` is left in two places. `AragonPipeline.snapshot`:
    * its lineage truncation is its isolation guarantee — a lost key
    * block must fail the load, not recompute against the run's own
    * appends. The stage cuts of the q215 corpus build: each stage feeds
    * the next, and kept lineage would pin every earlier stage's plans
    * and broadcast relations on the driver until the build's last
    * collect.
    *
    * Rows are defensively copied before caching (the physical plan may
    * reuse row buffers); the cut is lazy — force it with an action (the
    * iterative loops' convergence counts do) or `eager = true`.
    *
    * An eager cut is built and counted inside one SQL execution of the
    * origin query, as `localCheckpoint` is: its jobs, the shuffle stages
    * an adaptive plan runs to build the RDD included, carry that
    * execution id, and an `Observation` above the cut completes with the
    * count. A lazy cut opens no execution: one would end before the cut
    * is consumed and complete such an observation with the metrics of
    * the stages run so far (a lazy `localCheckpoint` reports 0 rows that
    * way).
    */
  def persistCutFrame(df: Dataset[Row], eager: Boolean = false): CutFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    def build() = {
      val rdd = ds.queryExecution.toRdd.map(_.copy())
        .setName("graft-cut")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the eager materialization IS a count — carry it so callers that
      // need the row count (iterative convergence checks) don't pay a
      // second job for a number the persist already computed
      (rdd, if (eager) Some(rdd.count()) else None)
    }
    val (rdd, eagerCount) =
      if (eager)
        execution.SQLExecution.withNewExecutionId(ds.queryExecution, Some("graft-cut"))(build())
      else build()
    Option(trackedCuts.get).foreach(_ += rdd.id)
    val frame = classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
    CutFrame(frame, () => {
      rdd.unpersist(blocking = false); ()
    }, eagerCount)
  }

  /** A private clone of `spark` with `conf` on top of its settings:
    * frames bound to it ([[rebind]]) plan and run under these values
    * while the caller's session, and any query another thread plans on
    * it, never sees them. Shares the SparkContext and cache manager.
    */
  def scopedSession(spark: SparkSession, conf: Map[String, String]): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
    clone
  }

  /** `df`'s analyzed plan as a frame of `spark`, planned and run under
    * that session's conf from here on; the rows are unchanged. */
  def rebind(df: Dataset[Row], spark: SparkSession): Dataset[Row] =
    if (df.sparkSession eq spark) df
    else {
      val s = spark.asInstanceOf[classic.SparkSession]
      s.withActive(classic.Dataset.ofRows(s,
        df.asInstanceOf[classic.Dataset[Row]].logicalPlan))
    }

  /** [[persistCutFrame]] without the handle — for one-shot barriers
    * whose blocks are released by the session-level sweep
    * (sparkContext.getPersistentRDDs.unpersist).
    */
  def persistCut(df: Dataset[Row]): Dataset[Row] = persistCutFrame(df).df

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes;
    * negative when broadcast joins are off. */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Block until every event already posted to `sc`'s listener bus
    * has been delivered, so a listener's records are final. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `df`'s rows in Catalyst's internal form (strings as `UTF8String`),
    * collected by one SQL execution as `Dataset.collect` runs it. */
  def collectInternal(df: Dataset[Row]): Array[catalyst.InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }
  }

  /** A local frame of `rows` (internal form) with exactly `schema`:
    * names, types, nullability and metadata.
    *
    * `localFrame(spark, df.schema, collectInternal(df))` pins a frame
    * whose size is bounded by contract (a trained codebook, an IVF
    * centroid table) as a `LocalRelation`: one collect at build time,
    * then every downstream broadcast is a job-free `LocalTableScan` and
    * every collect a no-op, where the raw plan would re-execute its
    * corpus-wide subtree once per consumer. Never for data that grows
    * with the corpus. */
  def localFrame(spark: SparkSession, schema: types.StructType,
                 rows: Seq[catalyst.InternalRow]): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(
        catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Scale-adaptive spread for per-row-HEAVY map work (optimization
    * guide §2.5, "input skew: one huge unsplittable file ...
    * repartition immediately after the read"): local fixture tables
    * are single-row-group parquet files, so a scan is ONE partition
    * and an expensive map stage (gram explode + md5 Horner hashing,
    * shingling, tokenizer DP) serializes onto one core of the 32-core
    * box — measured 2.45 s of q188's 3.96 s total in two single-task
    * jobs. At cluster scale inputs arrive in hundreds of splits, so
    * this must be a NO-OP there: the spread fires only when the
    * frame's plan is exchange-free (a shuffle downstream already
    * partitions to config size) AND its scan parallelism is below
    * half the session's cores. Hash-repartition on the caller's key —
    * deterministic (safe under task retry, unlike rand-derived keys)
    * and sort-free (keyless round-robin pays a local sort,
    * SPARK-23207).
    *
    * Callers must be order-insensitive downstream (integer/decimal/
    * min-max aggregation grids): repartitioning changes row order, so
    * a raw IEEE double sum over the result could change bits.
    */
  def spreadForMapWork(df: Dataset[Row], key: Column): Dataset[Row] = {
    // streaming frames cannot be probed (no batch physical plan) and
    // must not be repartitioned behind the caller's back
    if (df.isStreaming) return df
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val p = ds.sparkSession.sparkContext.defaultParallelism
    val hasExchange = ds.queryExecution.executedPlan.collectFirst {
      case e: execution.exchange.ShuffleExchangeLike => e
      case a: execution.adaptive.AdaptiveSparkPlanExec => a
    }.isDefined
    // .rdd is planning-only here: an exchange-free plan is never
    // AQE-wrapped, so no stage executes
    if (hasExchange) df
    else if (ds.queryExecution.toRdd.getNumPartitions * 2 <= p)
      df.repartition(p, key)
    else df
  }
}
