package graft
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dev scaling probe: run the near-dedup cores on 1x / 4x / 10x copies
  * of the sf0.1 documents table (ids disambiguated per copy so dedup
  * structure is preserved, text perturbed per copy so the copies are
  * not trivial exact duplicates of each other).
  *
  * An untimed warm pass runs the full MinHash pipeline on a small
  * slice first — without it the 1x measurement absorbs the one-off
  * codegen/JIT cost and flattens the scaling curve artificially.
  * Inputs are persist()+count()'d (NOT localCheckpoint — Dataset
  * .unpersist is a no-op on checkpoint blocks) so generation cost is
  * excluded and each iteration's blocks are actually released.
  *
  *   runMain graft.ScaleCheck
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("32")
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select($"doc_id", $"text")

    def inflate(times: Int) = {
      val df = (0 until times).map { c =>
        base.select(($"doc_id" + c * 1000000L).as("doc_id"),
          concat($"text", lit(s" copymark$c")).as("text"))
      }.reduce(_ unionAll _).persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

    def minhash(docs: org.apache.spark.sql.DataFrame): Long =
      graft.ext.MinHashLsh.nearDupPairs(docs, $"doc_id", $"text",
        n = 3, k = 64, bands = 16, threshold = 0.5,
        shingler = graft.ext.ShingleJaccard.wordShingles).count()

    // untimed warm pass: codegen/JIT for the whole operator stack
    val warm = inflate(1)
    minhash(warm.limit(500))
    graft.ext.SimHash.nearDupPairs(warm.limit(500), $"doc_id", $"text").count()
    graft.ext.ExactDedup.byContentHash(warm.limit(500), $"text", $"doc_id").count()
    warm.unpersist()

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label: $s%.2f s ($n rows, ${s * 1000 / math.max(n, 1)}%.3f ms/row)")
    }

    // Inflation makes every copy a near-dup of every other copy, so the
    // planted dup clusters grow with the scale factor and OUTPUT PAIRS
    // grow quadratically — the worst case for a pairs-returning API.
    // Near-linear wall time therefore means linear in input + output
    // (read ms/row): the band join itself is linear post-collapse; only
    // the unavoidable pair expansion tracks the output.
    Seq(1, 4, 10, 30).foreach { times =>
      val docs = inflate(times)
      val n = docs.count()
      time(s"minhash ${n}docs")(minhash(docs))
      time(s"simhash ${n}docs") {
        graft.ext.SimHash.nearDupPairs(docs, $"doc_id", $"text",
          maxDist = 3, bands = 4).count()
      }
      time(s"simhash-capped ${n}docs") {
        graft.ext.SimHash.nearDupPairs(docs, $"doc_id", $"text",
          maxDist = 3, bands = 4, maxBucket = 1000).count()
      }
      time(s"exactdedup ${n}docs") {
        graft.ext.ExactDedup.byContentHash(docs, $"text", $"doc_id").count()
      }
      // worst case for span removal: every copy shares every original
      // 5-gram, so ~ALL tokens are flagged and the per-row mask runs
      // at its O(len·starts) ceiling — wall time must still track
      // INPUT rows (output is one row per doc, never pairs)
      time(s"spandedup ${n}docs") {
        graft.ext.SpanDedup.cleanRepeatedSpans(docs, $"doc_id", $"text", n = 5)
          .agg(sum($"n_removed")).collect()
        n
      }
      docs.unpersist()
    }

    // Connected components: star contraction must hold its ROUND COUNT
    // (and one-shuffle-per-phase cost) flat as component DIAMETER
    // grows — the chain graph is the adversarial case that made
    // min-label propagation diameter-bound (rounds = n, silent split
    // at maxIter). Expect rounds ~log n: flat-ish across 100×.
    Seq(1000, 10000, 100000).foreach { n =>
      val chain = spark.range(1L, n.toLong)
        .select($"id".as("id1"), ($"id" + 1L).as("id2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      chain.count()
      val t0 = System.nanoTime()
      val (labels, rounds) = graft.ext.DedupClusters.componentsWithRounds(chain)
      val ok = labels.agg(max($"component")).head().getLong(0) == 1L
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] cc-chain n=$n%-7d rounds=$rounds  $s%.2f s  single-component=$ok")
      chain.unpersist()
    }

    // Takedown-cascade cost: retractComponents claims to re-label ONLY
    // components that lost a member. Against a corpus of many small
    // components, deleting ONE member must cost the small-component
    // relabel (+ the passthrough joins), not the full-graph rebuild —
    // the ratio is the measured evidence behind the claim. Chains of
    // length 4 × n/4 components; one deletion touches 1 component.
    Seq(100000, 400000).foreach { n =>
      val pairs = spark.range(0L, n.toLong)
        .filter($"id" % 4 =!= 3L) // 0-1,1-2,2-3 per decade-of-4
        .select($"id".as("id1"), ($"id" + 1L).as("id2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      pairs.count()
      val t0 = System.nanoTime()
      val stored = graft.ext.DedupClusters.connectedComponents(pairs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      stored.count()
      val tBuild = (System.nanoTime() - t0) / 1e9
      val del = Seq(41L).toDF("id") // bridge of component {40..43}
      val t1 = System.nanoTime()
      val retracted = graft.ext.Forget.retractComponents(stored, pairs, del)
      val nOut = retracted.count()
      val tRetract = (System.nanoTime() - t1) / 1e9
      println(f"[scale] forget-cc n=$n%-7d rebuild=$tBuild%.2f s retract=$tRetract%.2f s " +
        f"ratio=${tRetract / tBuild}%.2f rows=$nOut")
      stored.unpersist(); pairs.unpersist()
    }

    // Storage-release probe: a long-lived service session invoking CC
    // once per ingest batch must NOT accumulate storage across
    // invocations. Ten releasable runs; the persisted-RDD count after
    // each release must return to its pre-loop baseline (the round-7
    // localCheckpoint design accumulated rounds×frames per invocation
    // until a sweep of the persistent RDDs).
    {
      val sc = spark.sparkContext
      val pairs = spark.range(0L, 20000L)
        .select(($"id" % 7000L).as("id1"), ($"id" % 9000L + 500L).as("id2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      pairs.count()
      val baseline = sc.getPersistentRDDs.size
      var maxAfterRelease = 0
      var labelCount = -1L
      for (i <- 1 to 10) {
        val (labels, release) =
          graft.ext.DedupClusters.connectedComponentsReleasable(pairs)
        val n = labels.count() // consume
        if (labelCount < 0) labelCount = n
        assert(n == labelCount, s"invocation $i diverged: $n vs $labelCount")
        release()
        val now = sc.getPersistentRDDs.size
        maxAfterRelease = math.max(maxAfterRelease, now)
        println(s"[scale] cc-release invocation=$i persisted_rdds=$now (baseline=$baseline)")
      }
      println(s"[scale] cc-release storage flat=${maxAfterRelease <= baseline} " +
        s"(max=$maxAfterRelease baseline=$baseline)")
      pairs.unpersist()
    }
    spark.stop()
  }
}
