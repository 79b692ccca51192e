package perfbench

import java.nio.file.Files

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The layer listener on a live local session with the UI disabled:
  * jobs launched inside a known `graft.*` function are attributed to its
  * module, jobs launched by the client are not, and planning phases and
  * task counters arrive.
  */
class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def traced[T](body: => T, l: LayerListener = new LayerListener): LayerTotals = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    try {
      BenchBridge.drainListeners(sc)
      l.cut(BenchBridge.rddBlocks(sc))
      body
      BenchBridge.drainListeners(sc)
      l.cut()
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
  }

  test("a tiny write from graft.sources.QuarantineSink is attributed to that module") {
    assert(spark.conf.get("spark.ui.enabled") == "false")
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val out = Files.createTempDirectory("perfbench-attr").resolve("q").toString
    val w = traced(graft.sources.QuarantineSink.write(df, out))
    assert(w.jobs.nonEmpty)
    assert(w.jobs.forall(_.module.contains("sources.QuarantineSink")), w.jobs)
    assert(w.sums("output_rows") == 2.0)
    assert(w.sums("executions") >= 1.0)
    assert(w.jobs.forall(j => j.end >= j.start))
  }

  test("a job the client launches itself stays unattributed") {
    val w = traced(spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect())
    assert(w.jobs.nonEmpty && w.jobs.forall(_.module.isEmpty), w.jobs)
    assert(w.sums("tasks") >= 2.0)
    assert(w.sums.contains("analysis_ms") && w.sums.contains("planning_ms"))
  }

  test("cached bytes drop on unpersist, also when freed between windows") {
    val l = new LayerListener
    val df = spark.range(0, 20000, 1, 2).selectExpr("id", "cast(id as string) as s")
    def cacheAndDrop(): Unit = { df.cache(); df.count(); df.unpersist(blocking = true) }
    val one = traced(cacheAndDrop(), l).cachedPeak
    assert(one > 0L)
    // a second window caching the same frame again peaks at one copy
    assert(traced(cacheAndDrop(), l).cachedPeak == one)
    // blocks cached and freed while the listener is detached are not
    // carried into the next window
    df.cache(); df.count()
    assert(traced((), l).cachedPeak == one)
    df.unpersist(blocking = true)
    assert(traced((), l).cachedPeak == 0L)
  }
}
