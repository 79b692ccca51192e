package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, Observation}
import org.apache.spark.sql.functions._

import scala.concurrent.Await
import scala.concurrent.duration._

/** An eager `GraftBridge.persistCutFrame` cut runs its plan inside a
  * SQL execution, as `localCheckpoint` does: its jobs carry an execution
  * id, and listeners on SQL executions see them. A lazy cut opens none. */
class CutExecutionSpec extends SparkTestBase {

  test("an Observation above an eager cut completes with the cut's row count") {
    val obs = Observation("cut_rows")
    val df = spark.range(100000).toDF("id").observe(obs, count(lit(1)).as("n"))
    val cut = GraftBridge.persistCutFrame(df, eager = true)
    try {
      assert(cut.eagerCount.contains(100000L))
      val row = Await.result(obs.future, 5.seconds)
      assert(row.getAs[Long]("n") == 100000L)
    } finally cut.release()
  }

  test("an Observation above a lazy cut is not completed before the cut is consumed") {
    val obs = Observation("lazy_cut_rows")
    val df = spark.range(1000).toDF("id").observe(obs, count(lit(1)).as("n"))
    val cut = GraftBridge.persistCutFrame(df)
    try {
      Thread.sleep(200)
      assert(!obs.future.isCompleted, s"completed at cut time with ${obs.future.value}")
      assert(cut.df.count() == 1000L)
    } finally cut.release()
  }

  test("an eager cut inside foreachBatch, itself a SQL execution, materializes") {
    val dir = java.nio.file.Files.createTempDirectory("cut-batch")
    spark.range(100).write.parquet(s"$dir/in")
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.schema(spark.range(1).schema).parquet(s"$dir/in")
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cut = GraftBridge.persistCutFrame(
          batch.groupBy((col("id") % 3).as("k")).count(), eager = true)
        try counts.add(cut.eagerCount.get) finally cut.release()
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(counts.asScala.toSeq == Seq(3L))
  }

  test("an eager cut's jobs, the adaptive plan's shuffle stages included, carry a SQL execution id") {
    val sc = spark.sparkContext
    val group = s"cut-exec-${java.util.UUID.randomUUID}"
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          ids.add(Option(e.properties.getProperty("spark.sql.execution.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "cut execution ids")
    val cut =
      try GraftBridge.persistCutFrame(
        spark.range(1000).groupBy((col("id") % 7).as("k")).count(), eager = true)
      finally {
        sc.clearJobGroup()
        GraftBridge.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
    try {
      import scala.jdk.CollectionConverters._
      val seen = ids.asScala.toSeq
      assert(seen.size >= 2, s"expected the shuffle stage and the count, saw $seen")
      assert(seen.forall(_.isDefined), s"cut jobs without an execution id: $seen")
      assert(cut.df.count() == 7L)
    } finally cut.release()
  }
}
