package graft
import org.apache.spark.sql.SparkSession

/** One local-session factory for every main (Verify, Bench, Inspect,
  * AragonDemo) — the config stanza (UTC, nanos-as-long for the events
  * table, AQE, partitions=cores) must stay identical across them or
  * results drift between the correctness and benchmark surfaces.
  */
object GraftSession {

  /** Cluster-deployment config: the knobs that change between
    * local[32] testing and a 1000-executor 100 TB run, with the sizing
    * rules this engine assumes. Apply on top of a cluster builder:
    *
    *   GraftSession.clusterConf(SparkSession.builder()
    *     .master(...)).getOrCreate()
    *
    * Sizing rules (documented here because SURVEY §8's scale notes
    * reference them):
    *   - shuffle.partitions ≈ 2-3 × total executor cores as the
    *     STARTING point; AQE coalesces small partitions at runtime, so
    *     err high. Too low cannot be fixed at runtime.
    *   - files.maxPartitionBytes 128m: with ~4 GiB usable per task
    *     slot, a 128 MiB compressed-parquet split (~3-4× expansion
    *     decoded) leaves headroom for the operator's hash tables.
    *   - AQE on (default) + skewJoin on (default): runtime re-plan
    *     converts sort-merge joins to broadcast when a side measures
    *     small, splits skewed partitions. OpsSpec pins both on a hot
    *     key (map-side partial aggregation, skew-split sort-merge
    *     join): there the built-ins suffice and ops.Skew is not needed.
    *   - No spark.sql.shuffle.partitions in operator code: every
    *     operator here derives parallelism from config, never hardcodes.
    */
  def clusterConf(b: SparkSession.Builder,
                  totalCores: Int = 4000): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", (totalCores * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // zstd: ~30% smaller than snappy at similar scan speed — at
      // 100 TB that's tens of TB less storage and shuffle I/O
      .config("spark.sql.parquet.compression.codec", "zstd")

  /** Repo-owned scratch root for everything a long run must be able
    * to trust to stay on disk: Spark's shuffle/blockmgr temp files and
    * the Bench blowup datasets. The r14 driver bench died 50 minutes
    * in when a /tmp reaper deleted `blockmgr-…/temp_shuffle_…` files
    * under the running JVM (BENCH_r14.json tail:
    * DiskBlockObjectWriter errors, then an executor
    * FileNotFoundException on its own shuffle file) — java.io.tmpdir
    * is not safe scratch on a shared box. `.tmp/` is gitignored and
    * survives `sbt clean`.
    */
  def scratchRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/root/repo/.tmp")

  def local(cpus: String): SparkSession = {
    val localDir = s"$scratchRoot/spark-scratch"
    new java.io.File(localDir).mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
