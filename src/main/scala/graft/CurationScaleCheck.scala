package graft
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dev scaling probe for the round-3 curation operators: run
  * decontamination, connected components, KMV sketching, and sequence
  * packing on 1x / 4x / 10x inflations and report wall + ms/row, the
  * same honest-measurement discipline as ScaleCheck (warm pass first,
  * persist'd inputs so generation cost is excluded).
  *
  *   runMain graft.CurationScaleCheck
  */
object CurationScaleCheck {
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
      df.count(); df
    }

    // fixed eval slice — the realistic shape: benchmark suites don't
    // grow with the corpus
    val evalDocs = base.filter($"doc_id" < 100).persist(StorageLevel.MEMORY_AND_DISK)
    evalDocs.count()

    // synthetic pair lists for CC: `m` clusters, each a 4-node path
    // (diameter 3 — forces real propagation rounds, unlike triangles)
    def ccPairs(m: Int) = {
      val df = spark.range(m).select(
          explode(array((0 to 2).map(i =>
            struct((col("id") * 10 + i).as("id1"), (col("id") * 10 + i + 1).as("id2"))): _*))
            .as("e"))
        .select(col("e.id1"), col("e.id2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale3] $label: $s%.2f s ($n rows, ${s * 1000 / math.max(n, 1)}%.3f ms/row)")
    }

    // warm pass (codegen/JIT)
    val w = inflate(1)
    graft.ext.Decontaminate.contamination(w.limit(500), evalDocs, $"doc_id", $"text", 3).count()
    graft.ext.DedupClusters.connectedComponents(ccPairs(100)).count()
    graft.ext.Packing.packByBudget(
      w.limit(500).select($"doc_id", length($"text").as("n")), $"doc_id", $"n", 4096L).count()
    w.unpersist()

    Seq(1, 4, 10).foreach { times =>
      val docs = inflate(times)
      val n = docs.count()
      time(s"decontaminate ${n}docs") {
        graft.ext.Decontaminate.contamination(docs, evalDocs, $"doc_id", $"text", 3).count()
      }
      time(s"pack ${n}docs") {
        graft.ext.Packing.packByBudget(
          docs.select($"doc_id", length($"text").as("n")), $"doc_id", $"n", 4096L).count()
      }
      docs.unpersist()
      val pairs = ccPairs(20000 * times)
      time(s"cc ${20000 * times}x4-chains") {
        graft.ext.DedupClusters.connectedComponents(pairs).count()
      }
      pairs.unpersist()
    }

    // ---- per-host quota cap: window face vs bounded-state agg face
    // under EXTREME skew (one host owns ~90% of the corpus — the
    // mirror-host case). The window sorts the whole heavy group
    // through one task; the TopKAgg face keeps <= cap rows of state
    // per group with map-side combine, so the heavy group reduces
    // inside every scan task. Both faces return the IDENTICAL row set
    // (pinned in MixDecontamSpec); this measures the cost shape.
    Seq(1000000, 4000000).foreach { n =>
      val skewed = spark.range(n.toLong).select(
          col("id"),
          when(col("id") % 10 < 9, lit("megahost"))
            .otherwise(concat(lit("host"), (col("id") % 1000).cast("string")))
            .as("grp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      skewed.count()
      time(s"capPerGroup(window) ${n}rows 90%-skew") {
        graft.ext.Sampling.capPerGroup(skewed, col("grp"), col("id"), 100, "s").count()
      }
      time(s"capPerGroupAgg(topk) ${n}rows 90%-skew") {
        graft.ext.Sampling.capPerGroupAgg(skewed, col("grp"), col("id"), 100, "s").count()
      }
      skewed.unpersist()
    }

    // ---- link-graph PageRank: cost must be edge-proportional with a
    // fixed iteration count (3 iterations here). Graph shape: E edges
    // over H=E/20 linking hosts plus as many link-targets again that
    // never link out (dangling) — the crawl-real mix. The per-edge hash
    // spreads dst so every iteration pays the full src-join + dst-agg
    // shuffle, which is the thing whose growth curve matters.
    Seq(100000L, 400000L, 1600000L).foreach { edges =>
      val hosts = edges / 20
      val g = spark.range(edges).select(
          concat(lit("h"), (col("id") % hosts).cast("string")).as("src"),
          concat(lit("h"),
            pmod(col("id") * 2654435761L, lit(hosts * 2)).cast("string")).as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      g.count()
      time(s"pagerank ${edges}edges x3iters") {
        graft.ext.LinkGraph.pageRank(g, "src", "dst", iters = 3).count()
      }
      time(s"hits ${edges}edges x2iters") {
        graft.ext.LinkGraph.hits(g, "src", "dst", iters = 2).count()
      }
      time(s"seedDistance ${edges}edges d4") {
        graft.ext.LinkGraph.seedDistance(g, "src", "dst",
          spark.range(20).select(concat(lit("h"), col("id").cast("string"))
            .as("host")), maxDepth = 4).count()
      }
      g.unpersist()
    }

    // lexical index stack: build → pack (compression measured) →
    // probe. Queries are 4-token prefixes of 50 corpus docs — the
    // short-query shape a serving workload has.
    Seq(1, 4, 10).foreach { times =>
      val docs = inflate(times)
      val n = docs.count()
      var idx: graft.ext.Bm25.LexIndex = null
      time(s"lex-build ${n}docs") {
        idx = graft.ext.Bm25.buildIndex(docs, $"doc_id", $"text")
        val p = idx.postings.persist(StorageLevel.MEMORY_AND_DISK)
        idx = idx.copy(postings = p)
        p.count()
      }
      time(s"lex-pack ${n}docs") {
        val packed = graft.ext.Bm25.packPostings(idx.postings)
        val sz = packed.agg(
          sum(length($"doc_bytes") + length($"tf_bytes")).as("pk"),
          sum($"df" * 16L).as("raw")).collect()(0)
        println(f"[scale3] lex-pack ratio ${n}docs: raw ${sz.getLong(1)}%d B -> " +
          f"packed ${sz.getLong(0)}%d B " +
          f"(${sz.getLong(1).toDouble / sz.getLong(0)}%.1fx)")
        sz.getLong(0)
      }
      val queries = docs.limit(50).select($"doc_id".as("query_id"),
        array_join(slice(split($"text", "\\s+"), 1, 4), " ").as("qtext"))
      time(s"lex-probe 50q at ${n}docs") {
        graft.ext.Bm25.probeIndex(idx, queries, $"query_id", $"qtext", 10).count()
      }
      idx.postings.unpersist()
      docs.unpersist()
    }

    // ---- manifest lifecycle + Bloom file skipping: state maintenance
    // must be BATCH-proportional (admission never re-reads the old
    // corpus) and the skip index must prune. Layout: 200 files per 1×;
    // admission batch = 10% of rows; probes = 20 present + 20 absent.
    Seq(1, 4, 10).foreach { times =>
      val docs = inflate(times)
        .select($"doc_id", ($"doc_id" % (200L * times)).as("file"), $"text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = docs.count()
      val old = docs.filter($"doc_id" % 10L =!= 3L)
      val batch = docs.filter($"doc_id" % 10L === 3L)
      var stored: org.apache.spark.sql.DataFrame = null
      time(s"manifest-build ${n}docs") {
        stored = graft.ext.Sharding.manifest(old, $"file", $"text",
            length($"text")).persist(StorageLevel.MEMORY_AND_DISK)
        stored.count()
      }
      time(s"manifest-admit ${n / 10}batch") {
        graft.ext.Sharding.admitManifest(stored, batch, $"file", $"text",
          length($"text")).count()
      }
      var blooms: org.apache.spark.sql.DataFrame = null
      time(s"fileBlooms-build ${n}docs") {
        blooms = graft.ext.Bloom.fileBlooms(docs, $"file", $"text",
            k = 3, words = 64).persist(StorageLevel.MEMORY_AND_DISK)
        blooms.count()
      }
      val probes = docs.limit(20)
        .select($"text".as("p"))
        .unionByName(spark.range(20)
          .select(concat(lit("absent needle "), col("id")).as("p")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      probes.count()
      val nFiles = 200L * times
      time(s"bloom-candidates 40probes ${nFiles}files") {
        val c = graft.ext.Bloom.candidateFiles(blooms, probes, $"p",
          k = 3, words = 64).count()
        println(f"[scale3] bloom skip rate: $c%d candidate pairs of " +
          f"${40 * nFiles}%d probe×file (${100.0 - c * 100.0 / (40 * nFiles)}%.1f%% skipped)")
        c
      }
      probes.unpersist(); blooms.unpersist(); stored.unpersist()
      docs.unpersist()
    }

    // ---- per-group proportional tile (Ranks.propTile) under the same
    // 90%-dominant-group skew as the quota tier: the naive per-group
    // window sorts the megagroup through ONE task; the bucket-offset
    // rank keys its windows on (group, score-high-bits), so the heavy
    // group spreads across ~score-range/2^shift partitions. Both faces
    // return identical rows (RanksSpec); this measures the cost shape
    // as the dominant group grows.
    Seq(1000000, 4000000).foreach { n =>
      val skewed = spark.range(n.toLong).select(
          col("id"),
          when(col("id") % 10 < 9, lit("megalang"))
            .otherwise(concat(lit("lang"), (col("id") % 50).cast("string")))
            .as("grp"),
          pmod(col("id") * 2654435761L, lit(1000000L)).as("score"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      skewed.count()
      // sum(tile) forces the tile column — a bare count() would let
      // Catalyst prune the unused window/join away and time nothing
      time(s"propTile(bucketRank) ${n}rows 90%-skew") {
        graft.ops.Ranks.propTile(skewed, Seq("grp"), col("score"), col("id"),
            n = 10, bucketShift = 12)
          .agg(sum("tile")).collect()
        n.toLong
      }
      time(s"propTile(naive window) ${n}rows 90%-skew") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id").asc)
        val c = Window.partitionBy("grp")
        skewed.withColumn("rank", row_number().over(w))
          .withColumn("n_part", count(lit(1)).over(c))
          .withColumn("tile",
            floor(((col("rank") - 1) * 10).cast("double") /
              col("n_part").cast("double")).cast("long") + 1L)
          .agg(sum("tile")).collect()
        n.toLong
      }
      skewed.unpersist()
    }

    // ---- containment join: candidate volume under the rarest-first
    // prefix filter vs the naive full inverted-index self-join (both
    // recall-complete; ContainmentSpec pins output equality — this
    // tier measures the candidate-volume gap that IS the prefix
    // filter's value, plus the end-to-end cost). τ = 4/5, n = 8.
    Seq(1000, 2500).foreach { nDocs =>
      val docs = base.filter($"doc_id" < nDocs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val sh = docs.select($"doc_id".as("__id"),
          explode(graft.ext.ShingleJaccard.charShingles($"text", 8)).as("__sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      sh.count()
      time(s"containment naive candidates ${nDocs}docs") {
        sh.select($"__id".as("id1"), $"__sh")
          .join(sh.select($"__id".as("id2"), $"__sh"), Seq("__sh"))
          .filter($"id1" =!= $"id2")
          .select("id1", "id2").distinct().count()
      }
      time(s"containment prefix candidates ${nDocs}docs") {
        // the operator's own prefix arithmetic, inlined for the count
        val dfc = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
        val byRarity = org.apache.spark.sql.expressions.Window
          .partitionBy($"__id").orderBy($"__df".asc, $"__sh".asc)
        val perDoc = org.apache.spark.sql.expressions.Window.partitionBy($"__id")
        val slack = col("__n1") * 1 // (q−p) = 1 at τ = 4/5
        val probe = sh.join(dfc, "__sh")
          .withColumn("__n1", count(lit(1)).over(perDoc))
          .withColumn("__rn", row_number().over(byRarity))
          .filter($"__rn" <=
            ((slack - pmod(slack, lit(5L))) / 5).cast("long") + 1L)
          .select($"__id".as("id1"), $"__sh")
        probe.join(sh.select($"__id".as("id2"), $"__sh"), Seq("__sh"))
          .filter($"id1" =!= $"id2")
          .select("id1", "id2").distinct().count()
      }
      time(s"containment end-to-end n=8 ${nDocs}docs") {
        graft.ext.Containment.containedPairs(docs, $"doc_id", $"text",
          n = 8, tauNum = 4, tauDen = 5).count()
      }
      // shingle width IS the candidate discriminator on self-similar
      // corpora: the synthetic docs share short phrases, so 8-gram
      // candidates run ~360 pairs/doc and the exact verify dominates;
      // at n=16 shared shingles need 16-char verbatim runs and the
      // same corpus collapses to near-output-proportional candidates
      time(s"containment end-to-end n=16 ${nDocs}docs") {
        graft.ext.Containment.containedPairs(docs, $"doc_id", $"text",
          n = 16, tauNum = 4, tauDen = 5).count()
      }
      sh.unpersist(); docs.unpersist()
    }

    // ---- r12 classifier / tokenizer tier -----------------------------
    // The hashed-ngram trainer's cost model: d = 64 runs the dense
    // layout — the text scan runs once (feature cut, one x-vector per
    // doc), each gradient pass is one global aggregation of that cut —
    // so wall should grow linearly with the corpus and sub-linearly
    // with iters' share of total. The
    // unigram trainer's cost model: ONE corpus scan for word counts,
    // then vocabulary-bounded driver EM — wall should be nearly FLAT
    // across corpus sizes (the scan is the only corpus term).
    Seq(1, 4, 10).foreach { times =>
      val docs = inflate(times)
      val nDocs = docs.count()
      val labeled = docs.withColumn("label", ($"doc_id" % 3 === 0).cast("int"))
      time(s"hashed-ngram fit d=64 iters=2 ${nDocs}docs") {
        graft.ext.HashedNgram.fit(labeled, $"doc_id", $"text", $"label",
          d = 64, iters = 2).length.toLong
      }
      time(s"unigram train(2 EM) ${nDocs}docs") {
        graft.ext.UnigramLm.train(docs, $"text", maxWordLen = 3, iters = 2)
          .length.toLong
      }
      docs.unpersist()
    }

    // ---- r13 cascade / growth-curve tier ------------------------------
    // The cascade's cost model: per-row stages ride one scan, the
    // digest dedup and source stats are two map-side-combined
    // aggregations — linear in corpus, no pair term. The growth
    // curve's: one token explode + grouped min — linear in token
    // count regardless of checkpoint count.
    Seq(1, 4, 10).foreach { times =>
      val docs0 = inflate(times)
      val docs = docs0
        .withColumn("source", concat(lit("s"), ($"doc_id" % 50).cast("string")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count()
      docs0.unpersist()
      time(s"curation cascade ${nDocs}docs") {
        val (ledger, _) = graft.ext.Curation.cascade(
          docs, $"doc_id", $"text", $"source")
        ledger.collect().map(_.getLong(3)).min
      }
      time(s"vocab growth 4cp ${nDocs}docs") {
        graft.ext.CorpusStats.vocabGrowth(docs, $"doc_id", $"text",
          Seq(1000L, 100000L, 1000000L, 100000000L)).count()
      }
      docs.unpersist()
    }
    spark.stop()
  }
}
