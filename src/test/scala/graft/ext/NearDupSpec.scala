package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkTestBase {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "entirely different material about query engines and columnar storage"),
    (4L, "entirely different material about query engines and columnar systems"), // near-dup of 3
    (5L, "zzz qqq www unrelated noise tokens xyzzy plugh")).toDF("id", "text")

  test("MinHashLsh finds planted near-dup pairs and only them") {
    val pairs = MinHashLsh.nearDupPairs(corpus, $"id", $"text",
      n = 3, k = 128, bands = 32, threshold = 0.6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("MinHashLsh portable variant finds planted near-dup pairs and only them") {
    val pairs = MinHashLsh.nearDupPairsPortable(corpus, $"id", $"text",
      n = 3, k = 8, bands = 4, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    // exact rerank scores match the direct word-shingle Jaccard
    val j = MinHashLsh.nearDupPairsPortable(corpus, $"id", $"text",
      n = 3, k = 8, bands = 4, threshold = 0.5)
      .filter($"id1" === 1L).select("jaccard").as[Double].head()
    assert(j > 0.5 && j < 1.0)
  }

  test("MinHashLsh signature estimate approximates exact Jaccard") {
    val est = MinHashLsh.nearDupPairs(corpus, $"id", $"text",
      n = 3, k = 128, bands = 32, threshold = 0.5, exact = false)
      .filter($"id1" === 1L && $"id2" === 2L)
      .select("jaccard").as[Double].head()
    val exact = ShingleJaccard.similarPairs(corpus, $"id", $"text", 3, 0.0)
      .filter($"id1" === 1L && $"id2" === 2L)
      .select("jaccard").as[Double].head()
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("SimHash: identical docs collide, near-dups within small Hamming distance") {
    val fps = SimHash.fingerprints(corpus, $"id", $"text")
      .as[(Long, Long)].collect().toMap
    assert(fps.size == 5)
    val d12 = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val d15 = java.lang.Long.bitCount(fps(1L) ^ fps(5L))
    assert(d12 < d15, s"near-dup distance $d12 should be < unrelated $d15")

    val same = Seq((1L, "hello world now"), (2L, "hello world now")).toDF("id", "text")
    val pairs = SimHash.nearDupPairs(same, $"id", $"text", maxDist = 0)
      .as[(Long, Long, Long)].collect()
    assert(pairs.length == 1 && pairs.head._3 == 0L)
  }

  test("SimHash portable variant: identical docs collide, banding finds brute-force pairs") {
    val fps = SimHash.fingerprintsPortable(corpus, $"id", $"text")
      .as[(Long, Long)].collect().toMap
    assert(fps.size == 5)
    assert(fps.values.forall(f => f >= 0 && f < (1L << 32)))
    val brute = (for {
      (i1, f1) <- fps.toSeq; (i2, f2) <- fps.toSeq if i1 < i2
      if java.lang.Long.bitCount(f1 ^ f2) <= 3
    } yield (i1, i2)).toSet
    val banded = SimHash.nearDupPairsPortable(corpus, $"id", $"text", maxDist = 3, bands = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("SimHash pigeonhole banding is complete up to maxDist") {
    // flip exactly 3 bits of a known doc's fingerprint via a twin doc:
    // instead, verify band join finds pairs the brute force finds
    val fps = SimHash.fingerprints(corpus, $"id", $"text").as[(Long, Long)].collect()
    val brute = (for {
      (i1, f1) <- fps; (i2, f2) <- fps if i1 < i2
      if java.lang.Long.bitCount(f1 ^ f2) <= 3
    } yield (i1, i2)).toSet
    val banded = SimHash.nearDupPairs(corpus, $"id", $"text", maxDist = 3, bands = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("winnowing: shared substrings guarantee shared fingerprints; edits keep overlap") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "INTRO text then " + a.substring(10, 60) + " and a different ending here"
    val c = "completely different material with no shared runs at all zzz qqq"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val fps = df.select($"id", TextAnalysis.winnowFingerprints($"text").as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    val ab = fps(1L).toSet & fps(2L).toSet
    val ac = fps(1L).toSet & fps(3L).toSet
    assert(ab.nonEmpty, "docs sharing a 50-char run must share a fingerprint")
    assert(ac.size < ab.size)
    // deterministic across evaluations
    val again = df.select($"id", TextAnalysis.winnowFingerprints($"text").as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(again == fps)
  }

  test("Multimodal: feature extraction feeds embedding search end-to-end") {
    val media = Multimodal.syntheticTable(spark, 40)
    val feats = Multimodal.extractFeatures(media).toDF()
    assert(feats.count() == 40)
    val row = feats.filter($"media_id" === 5L).as[(Long, Array[Float])].head()
    assert(row._2.length == 16 && math.abs(row._2.sum - 1.0f) < 1e-3)
    // twin payload (same id mod pattern) must be its own nearest neighbor class:
    // run cosine top-1 of each vector against the corpus, self excluded → valid ranks
    val q = feats.filter($"media_id" < 3)
      .select($"media_id".as("qid"), $"features".as("qvec"))
    val nn = EmbeddingSearch.bruteForceTopK(feats, "media_id", "features",
      q, "qid", "qvec", k = 1)
    assert(nn.count() == 3)
    assert(nn.filter($"cos".isNull || $"cos" < -1.0 || $"cos" > 1.0000001).count() == 0)
  }

  test("Multimodal: audio stats are deterministic and bounded") {
    val media = Multimodal.syntheticTable(spark, 25)
    val stats = Multimodal.audioStats(media).cache()
    assert(stats.count() == 25)
    val r = stats.filter($"media_id" === 3L).head()
    assert(r.n_samples == (3 % 64) + 16) // payload length from the generator
    assert(r.rms > 0 && r.rms <= 128.0 && r.peak <= 128)
    // re-evaluation yields identical values (pure function of the payload)
    val again = Multimodal.audioStats(media).filter($"media_id" === 3L).head()
    assert(again == r)
    stats.unpersist()
  }

  test("Multimodal: decode → metadata, frame sampling, resize stubs") {
    val media = Multimodal.syntheticTable(spark, 30)
    val decoded = Multimodal.withMetadata(media.toDF())
    assert(decoded.filter(col("meta.valid")).count() == 30)
    val d0 = decoded.filter($"media_id" === 0L).select("meta.width", "meta.height", "meta.nFrames")
      .as[(Int, Int, Int)].head()
    assert(d0 == ((64, 64, 1)))

    // corrupt payload → invalid metadata, row preserved
    val bad = Seq(Multimodal.MediaRow(99L, "image", Array[Byte](1, 2, 3))).toDS()
    assert(Multimodal.withMetadata(bad.toDF()).filter(!col("meta.valid")).count() == 1)

    val frames = Multimodal.sampleFrames(decoded, stride = 7)
    val f10 = frames.filter($"media_id" === 10L).select("frame_idx").as[Int].collect().toSeq
    assert(f10 == Seq(0, 7)) // media 10 has 11 frames → indices 0,7
    val resized = Multimodal.resize(decoded, maxSide = 100)
    assert(resized.filter($"resized_width" > 100 || $"resized_height" > 100).count() == 0)
  }

  // ---- hot-band guard (collapse identical fingerprints before banding) ----

  /** 40 exact copies (the pathological band-join shape) + a planted
    * near-dup pair + an unrelated singleton.
    */
  private def dupHeavy = {
    val copies = (100L until 140L).map(i =>
      (i, "identical boilerplate license header repeated verbatim in every file"))
    (copies ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (5L, "zzz qqq www unrelated noise tokens xyzzy plugh"))).toDF("id", "text")
  }

  test("SimHash collapse: guarded band join equals brute-force Hamming pairs") {
    val docs = dupHeavy
    val got = SimHash.nearDupPairs(docs, $"id", $"text", maxDist = 3, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over fingerprints
    val fps = SimHash.fingerprints(docs, $"id", $"text").as[(Long, Long)].collect()
    val want = (for {
      (i1, f1) <- fps; (i2, f2) <- fps if i1 < i2
      d = java.lang.Long.bitCount(f1 ^ f2) if d <= 3
    } yield (i1, i2, d.toLong)).toSet
    assert(got == want)
    assert(got.count { case (a, b, _) => a >= 100L && b >= 100L } == 40 * 39 / 2)
  }

  test("MinHash collapse: exact-dup group pairs all survive with jaccard 1.0") {
    val docs = dupHeavy
    val pairs = MinHashLsh.nearDupPairs(docs, $"id", $"text",
      n = 3, k = 64, bands = 16, threshold = 0.6,
      shingler = ShingleJaccard.wordShingles)
      .as[(Long, Long, Double)].collect()
    val intra = pairs.filter { case (a, b, _) => a >= 100L && b >= 100L }
    assert(intra.length == 40 * 39 / 2 && intra.forall(_._3 == 1.0))
    assert(pairs.exists { case (a, b, _) => a == 1L && b == 2L })
    assert(!pairs.exists { case (a, b, _) => a == 5L || b == 5L })
  }

  test("maxBucket drops hot cross-group buckets but never exact-duplicate pairs") {
    val docs = dupHeavy
    val capped = SimHash.nearDupPairs(docs, $"id", $"text",
      maxDist = 3, bands = 4, maxBucket = 1)
      .as[(Long, Long, Long)].collect().toSet
    val full = SimHash.nearDupPairs(docs, $"id", $"text", maxDist = 3, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.subsetOf(full))
    // intra-group (identical fingerprint) pairs bypass banding entirely
    assert(capped.count { case (a, b, _) => a >= 100L && b >= 100L } == 40 * 39 / 2)
    // the (1,2) near-dup needs a band bucket of 2 distinct fps → capped away
    assert(!capped.exists { case (a, b, _) => a == 1L && b == 2L })

    val cappedMh = MinHashLsh.nearDupPairs(docs, $"id", $"text",
      n = 3, k = 64, bands = 16, threshold = 0.6,
      shingler = ShingleJaccard.wordShingles, maxBucket = 1)
      .as[(Long, Long, Double)].collect()
    assert(cappedMh.count { case (a, b, _) => a >= 100L && b >= 100L } == 40 * 39 / 2)
    assert(!cappedMh.exists { case (a, b, _) => a == 1L && b == 2L })
  }

  test("SimHash first-shared-band dedup equals the shuffle dedup pair set") {
    // default (uncapped) path dedups band duplicates with the row-local
    // first-shared-band filter; a cap that drops nothing (MaxValue - 1)
    // forces the dropDuplicates path over the same buckets — the two
    // must produce the identical pair set with identical distances
    val docs = dupHeavy
    val filtered = SimHash.nearDupPairs(docs, $"id", $"text",
      maxDist = 3, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    val shuffled = SimHash.nearDupPairs(docs, $"id", $"text",
      maxDist = 3, bands = 4, maxBucket = Int.MaxValue - 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(filtered == shuffled)
    assert(filtered.nonEmpty)
    val filteredP = SimHash.nearDupPairsPortable(docs, $"id", $"text",
      maxDist = 3, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    val shuffledP = SimHash.nearDupPairsPortable(docs, $"id", $"text",
      maxDist = 3, bands = 4, maxBucket = Int.MaxValue - 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(filteredP == shuffledP)
    assert(filteredP.nonEmpty)
  }

  test("incrementalNearDup: stored parquet signatures, replays found, fresh docs clean") {
    val corpus = (0L until 60L).map(i =>
      (i, s"corpus document $i talks about topic ${i % 7} in several common words " +
        s"plus unique marker ${i * 31}")).toDF("doc_id", "text")
    // state table: built once, persisted, read back — ingest never sees corpus text
    val dir = java.nio.file.Files.createTempDirectory("sigstate").toString
    MinHashLsh.portableSignatures(corpus, $"doc_id", $"text", n = 3, k = 8)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)

    val newBatch = Seq(
      (1000L, "corpus document 5 talks about topic 5 in several common words " +
        "plus unique marker 155 EXTRA"), // near-dup of doc 5
      (1001L, "corpus document 9 talks about topic 2 in several common words " +
        "plus unique marker 279"), // exact replay of doc 9
      (1002L, "entirely unrelated fresh content with no overlap whatsoever at all"))
      .toDF("doc_id", "text")

    val out = MinHashLsh.incrementalNearDup(newBatch, $"doc_id", $"text", stored,
        n = 3, k = 8, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // exact replay: all 8 slots agree
    assert(out.contains((1001L, 9L, 1.0)), out.toSeq.toString)
    // near-dup replay found against its source
    assert(out.exists(r => r._1 == 1000L && r._2 == 5L && r._3 >= 0.5), out.toSeq.toString)
    // fresh doc matches nothing
    assert(!out.exists(_._1 == 1002L), out.toSeq.toString)

    // stored state == inline signatures (parquet round-trip is lossless)
    val inline = MinHashLsh.incrementalNearDup(newBatch, $"doc_id", $"text",
        MinHashLsh.portableSignatures(corpus, $"doc_id", $"text", n = 3, k = 8),
        n = 3, k = 8, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == inline.toSeq)

    // hot-bucket guard returns a subset and keeps the exact replay
    val guarded = MinHashLsh.incrementalNearDup(newBatch, $"doc_id", $"text", stored,
        n = 3, k = 8, bands = 4, threshold = 0.5, maxBucket = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(guarded.subsetOf(out.toSet))
  }

  test("kmeansCentroids separates planted clusters and is partition-invariant") {
    // two tight clusters on orthogonal axes + the two lowest-id seeds
    // sitting one in each cluster
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 0f, 1f, 0f)
      (i.toLong, base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 5) })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = EmbeddingSearch.kmeansCentroids(df, "vec_id", "embedding", k = 2, iters = 3)
      .orderBy("cell")
    val rows = out.select($"cell", $"n_members").as[(Long, Long)].collect().toSeq
    // even ids cluster with seed 0, odd ids with seed 1 → 10 members each
    assert(rows == Seq(0L -> 10L, 1L -> 10L), rows.toString)
    val cents = out.select($"centroid").as[Seq[Double]].collect()
    // cluster 0 points along dim 0, cluster 1 along dim 2
    assert(cents(0)(0) > 0.9 && cents(0)(2) < 0.1)
    assert(cents(1)(2) > 0.9 && cents(1)(0) < 0.1)
    val repart = EmbeddingSearch.kmeansCentroids(df.repartition(7),
      "vec_id", "embedding", k = 2, iters = 3)
      .orderBy("cell").select($"centroid").as[Seq[Double]].collect()
    assert(repart.toSeq == cents.toSeq)

    // per-round cut (Rounds): the final round's plan reads
    // round N-1's k materialized rows, not N-1 nested assignment
    // subtrees — exactly ONE join survives in the optimized plan, so
    // total work stays linear in iters (no barrier -> 5 joins here)
    val plan5 = EmbeddingSearch.kmeansCentroids(df, "vec_id", "embedding",
      k = 2, iters = 5).queryExecution.optimizedPlan.toString
    assert("(?m)^\\s*[+:]?[- ]*Join ".r.findAllIn(plan5).size == 1, plan5)

    // Lloyd fixed point on well-separated clusters: more rounds do not
    // move the centroids (multi-iteration correctness, not just iters=1)
    val it1 = EmbeddingSearch.kmeansCentroids(df, "vec_id", "embedding",
      k = 2, iters = 1).orderBy("cell").select($"centroid")
      .as[Seq[Double]].collect().toSeq
    assert(cents.toSeq == it1) // converged after round 1 by construction
  }

  test("each near-dup operator owns its GraftBridge cuts; rows survive their release") {
    import org.apache.spark.sql.{DataFrame, GraftBridge}
    val sc = spark.sparkContext
    val sigs = MinHashLsh.portableSignatures(corpus, $"id", $"text", n = 3, k = 8)
    val newBatch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "fresh unrelated words with no overlap whatsoever")).toDF("id", "text")
    val sourced = Seq((1L, "alpha", "a"), (2L, "alpha", "b"), (3L, "beta", "a"),
      (4L, "beta", "c")).toDF("id", "text", "source")
    val bitext = Seq((1L, 10L, 0.9), (1L, 20L, 0.1), (2L, 10L, 0.2), (2L, 20L, 0.8))
      .toDF("src_id", "tgt_id", "cos")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "MinHashLsh.nearDupPairs" -> (() => MinHashLsh.nearDupPairs(corpus, $"id",
        $"text", n = 3, k = 128, bands = 32, threshold = 0.6)),
      "MinHashLsh.nearDupPairsPortable" -> (() => MinHashLsh.nearDupPairsPortable(
        corpus, $"id", $"text", n = 3, k = 8, bands = 4, threshold = 0.5)),
      "MinHashLsh.selfNearDupEstimate" -> (() =>
        MinHashLsh.selfNearDupEstimate(sigs, k = 8, bands = 4, threshold = 0.5)),
      "MinHashLsh.incrementalNearDup" -> (() => MinHashLsh.incrementalNearDup(
        newBatch, $"id", $"text", sigs, n = 3, k = 8, bands = 4, threshold = 0.5)),
      "SimHash.nearDupPairs" -> (() =>
        SimHash.nearDupPairs(dupHeavy, $"id", $"text", maxDist = 3, bands = 4)),
      "ShingleJaccard.similarPairs" -> (() =>
        ShingleJaccard.similarPairs(corpus, $"id", $"text", 3, 0.3)),
      "Containment.containedPairs" -> (() =>
        Containment.containedPairs(corpus, $"id", $"text", 3, 1, 2)),
      "ExactDedup.crossSourceOverlap" -> (() =>
        ExactDedup.crossSourceOverlap(sourced, $"text", $"source")),
      "EmbeddingSearch.bitextMarginFromPairs" -> (() =>
        EmbeddingSearch.bitextMarginFromPairs(bitext, k = 2, minMargin = 1.05)))
    ops.foreach { case (name, op) =>
      val ((frame, rows), mine) = GraftBridge.trackCuts {
        val f = op()
        (f, f.collect().map(_.toSeq).toSet)
      }
      assert(rows.nonEmpty, s"$name: the fixture should yield rows")
      assert(mine.nonEmpty, s"$name: no GraftBridge cut")
      assert(mine.subsetOf(sc.getPersistentRDDs.keySet.toSet),
        s"$name: cuts ${mine.mkString(",")} not persisted after the collect")
      mine.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
      assert(frame.collect().map(_.toSeq).toSet == rows,
        s"$name: rows changed once its cuts were released")
    }
  }
}
