package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FormattedMode
import scala.jdk.CollectionConverters._

/** Dev tool: wall time, per-job profile and plans of SparkEntry queries.
  *
  *   runMain graft.Inspect <sfDir> <reps> <queryName>...
  *
  * Each query runs once untimed (codegen and JIT warm), then `reps`
  * timed runs, each printing wall time and row count; a run is the
  * query's `count()`, as graft.Bench times it. After the last run come
  * its Spark jobs (wall, stages, tasks, description: many tiny
  * sequential jobs mark a fixture-bound gate), the formatted plan
  * before execution and the executed plan of the count after AQE.
  *
  * Cores come from SPARK_GRAFT_CPUS (default 32, as in graft.Bench). To
  * look at a gate at ×10 or ×100, pass as `sfDir` the blowup dir that
  * graft.Bench builds under [[GraftSession.scratchRoot]]:
  * `graft_x10_<sf>` (all tables) or `graft_x100_<sf>` (documents only).
  * [[Blowup.build]] is idempotent, so a Bench pass leaves them in place.
  */
object Inspect {
  private final case class Job(id: Int, stages: Int, tasks: Int, desc: String,
                               start: Long, var end: Long = 0L)

  def main(args: Array[String]): Unit = {
    val (sfDir, reps, names) = (args(0), args(1).toInt, args.drop(2))
    val queries = SparkEntry.queries
    require(reps >= 1, s"reps must be >= 1, got $reps")
    require(names.forall(queries.contains), s"unknown: ${names.filterNot(queries.contains).mkString(" ")}")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
        jobs.put(e.jobId, Job(e.jobId, e.stageInfos.size,
          e.stageInfos.map(_.numTasks).sum, desc, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    def dropBlocks(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    for (name <- names) {
      val query = queries(name)
      query(spark, sfDir).count()
      dropBlocks()
      for (rep <- 1 to reps) {
        val last = rep == reps
        if (last) { jobs.clear(); sc.addSparkListener(listener) }
        val t0 = System.nanoTime()
        val df = query(spark, sfDir)
        // Dataset.count() is this aggregate's collect; holding the frame
        // keeps its executed plan for the print below
        val counted = df.groupBy().count()
        val n = counted.collect().head.getLong(0)
        println(f"[inspect] $name rep$rep: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
        if (last) {
          GraftBridge.drainListeners(sc)
          sc.removeSparkListener(listener)
          val recs = jobs.values.asScala.toSeq.sortBy(_.id)
          println(f"===== $name: ${recs.size} jobs, " +
            f"${recs.map(j => j.end - j.start).sum / 1e3}%.3f s in jobs =====")
          for (j <- recs)
            println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s  " +
              f"stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.desc.take(100)}")
          println(s"===== $name: plan before execution =====")
          println(df.queryExecution.explainString(FormattedMode))
          println(s"===== $name: executed plan after AQE =====")
          println(counted.queryExecution.executedPlan)
        }
        dropBlocks()
      }
    }
    spark.stop()
  }
}
