package graft.ext

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.GraftBridge.CutFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, Project, ResolvedHint, SubqueryAlias}
import org.apache.spark.sql.functions._

/** The round loop of every iterative operator: connected components
  * ([[DedupClusters]]), the [[LinkGraph]] family and the Lloyd loops
  * ([[EmbeddingSearch.kmeansCentroids]], [[VectorQuant.pqTrain]]). The
  * operator writes one round as a function of the previous state;
  * `Rounds` owns the rest. Contract:
  *   - Cuts. A loop with a convergence test cuts every round's state
  *     ([[GraftBridge.persistCutFrame]]); the test reads it. A
  *     fixed-count loop is judged on round 1's plan. A body that
  *     broadcasts the state (the Lloyd loops' centroids) collects it
  *     every round anyway, so every round is cut: one small job, and
  *     the final plan stays one round deep. A body that reads the state
  *     k times puts k^N copies of the initial state into round N's plan,
  *     each re-running its stages: if k^maxRounds ≤ [[MaxStateCopies]]
  *     the loop stays one lazy plan with no job per round
  *     (PageRank/TrustRank at 3 rounds, HITS at 2), otherwise every
  *     round is cut.
  *   - Releases. The previous cut is freed once the next is
  *     materialized (by its eager count or the test's job): at most two
  *     states are persisted. The last cut's release is returned in
  *     [[Result.release]]; `invariants` (releases of frames the rounds
  *     read but do not own) run at the end if the final state is a cut,
  *     else they join [[Result.release]].
  *   - Convergence. See [[Until]].
  *   - Conf. `adaptive = false` runs the rounds in a private clone of
  *     the caller's session ([[GraftBridge.scopedSession]]) with
  *     `spark.sql.adaptive.enabled=false` (bounded, measured state: AQE
  *     would only turn each exchange into its own job) and
  *     `spark.sql.shuffle.partitions` = round 0's rows /
  *     [[RowsPerPartition]], clamped to [1, default parallelism]. The
  *     caller's session is never written; the result is rebound to it.
  */
object Rounds {

  sealed trait Until
  object Until {
    /** Run every round. */
    case object Fixed extends Until
    /** Stop when a round adds no rows (states that only grow, e.g. a
      * BFS reached set): the eager cut's count. */
    case object NoNewRows extends Until
    /** Stop at a fixpoint of a row-set state: one aggregation job per
      * round yields the next count and the symmetric difference
      * together; from [[FusedTestMaxRows]] rows, cheap-first — the
      * eager cut's count, then the difference only when counts agree. */
    case object SameRows extends Until
  }

  /** The final state (caller's session), rounds run, whether the test
    * was met, and the release of what still backs `df`. */
  final case class Result(df: DataFrame, rounds: Int, converged: Boolean,
                          release: () => Unit)

  private val MaxStateCopies = 8
  private val RowsPerPartition = 2000000L
  private val FusedTestMaxRows = 50000000L

  /** Marks round 1's input so the body's reads of it can be counted. */
  private val StateMark = "__rounds_state"

  /** Up to `maxRounds` rounds of `step(state, round)`, rounds from 1.
    * `init` is an eager cut whose count is known, or `CutFrame(df)`; a
    * test or `adaptive = false` needs round 0's rows and cuts it if
    * needed. An empty measured state is already a fixpoint.
    */
  def run(init: CutFrame, maxRounds: Int, until: Until = Until.Fixed,
          adaptive: Boolean = true, invariants: Seq[() => Unit] = Nil)(
      step: (DataFrame, Int) => DataFrame): Result = {
    val caller = init.df.sparkSession
    var held =
      if ((until != Until.Fixed || !adaptive) && init.eagerCount.isEmpty) {
        val c = GraftBridge.persistCutFrame(init.df, eager = true)
        init.release()
        c
      } else init
    var rows = held.eagerCount
    val session =
      if (adaptive) caller
      else GraftBridge.scopedSession(caller, Map(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> math.max(1L, math.min(
          (rows.get + RowsPerPartition - 1) / RowsPerPartition,
          caller.sparkContext.defaultParallelism.toLong)).toString))
    var state = GraftBridge.rebind(held.df, session)
    var stateIsCut = held.eagerCount.isDefined
    var converged = until != Until.Fixed && rows.contains(0L)
    var cutEveryRound = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val marked = round == 1 && until == Until.Fixed
      val next = GraftBridge.rebind(
        step(if (marked) state.as(StateMark) else state, round), session)
      val cut: Option[CutFrame] = until match {
        case Until.Fixed =>
          if (marked) {
            val plan = next.queryExecution.analyzed
            val reads = plan.collect {
              case a: SubqueryAlias if a.alias == StateMark => a
            }.size
            val broadcasts = plan.exists {
              case h: ResolvedHint => h.hints.strategy.contains(BROADCAST) && isMark(h.child)
              case _ => false
            }
            cutEveryRound = broadcasts || math.pow(reads, maxRounds) > MaxStateCopies
          }
          if (cutEveryRound) Some(GraftBridge.persistCutFrame(next, eager = true))
          else None
        case Until.SameRows if rows.get < FusedTestMaxRows =>
          // the test's job is what materializes the lazy cut
          val c = GraftBridge.persistCutFrame(next)
          val (n, changed) = fusedDiff(c.df, state)
          converged = changed == 0L
          rows = Some(n)
          Some(c)
        case _ =>
          val c = GraftBridge.persistCutFrame(next, eager = true)
          converged = c.eagerCount == rows &&
            (until == Until.NoNewRows || fusedDiff(c.df, state)._2 == 0L)
          rows = c.eagerCount
          Some(c)
      }
      // round N is materialized and nothing live reads round N-1's cut
      cut.foreach { c => held.release(); held = c }
      state = cut.fold(next)(_.df)
      stateIsCut = cut.isDefined
    }
    val finalCut = held
    val readsInvariants = !stateIsCut
    if (!readsInvariants) invariants.foreach(_())
    Result(GraftBridge.rebind(state, caller), round, converged, () => {
      finalCut.release()
      if (readsInvariants) invariants.foreach(_())
    })
  }

  /** The marked state itself, possibly under projections. */
  private def isMark(p: LogicalPlan): Boolean = p match {
    case a: SubqueryAlias => a.alias == StateMark
    case Project(_, child) => isMark(child)
    case _ => false
  }

  /** One job: (rows of `next`, rows in exactly one of `next`, `prev`). */
  private def fusedDiff(next: DataFrame, prev: DataFrame): (Long, Long) = {
    val keys = next.columns.toSeq.map(col)
    val r = next.select(keys :+ lit(1L).as("__rounds_next"): _*)
      .unionAll(prev.select(keys :+ lit(0L).as("__rounds_next"): _*))
      .groupBy(keys: _*)
      .agg(sum(col("__rounds_next")).as("__nn"), count(lit(1)).as("__cnt"))
      .agg(sum(col("__nn")),
        count(when(col("__nn") =!= 1L || col("__cnt") =!= 2L, 1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
