package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan audits: the optimizations the engine relies on at
  * 100 TB must actually appear in the plan — filter/projection pushdown
  * into the parquet scan, broadcast joins for dimension sides (no
  * sort-merge shuffle of fact tables), TakeOrderedAndProject for top-k
  * (no global sort). A regression here can be invisible at sf0.01 and
  * catastrophic at scale, hence assertions rather than eyeballs.
  */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  test("q01: filter and projection are pushed into the parquet scan") {
    val p = plan(CoreQueries.q01.run(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"), p)
  }

  test("q06: dimension join is broadcast, never sort-merge") {
    val p = plan(CoreQueries.q06.run(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the segment filter reaches the customer scan (filter below join)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("q04/q13: orderBy+limit plans as TakeOrderedAndProject, no global Sort before it") {
    val p4 = plan(CoreQueries.q04.run(spark, dir))
    assert(p4.contains("TakeOrderedAndProject"), p4)
    val p13 = plan(CoreQueries.q13.run(spark, dir))
    assert(p13.contains("TakeOrderedAndProject"), p13)
  }

  test("q05: aggregation is partial (map-side combine before the shuffle)") {
    val p = plan(CoreQueries.q05.run(spark, dir))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("partial_"), p)
  }

  test("q08 anti-dedup: broadcast left-anti, keys pruned at the scan") {
    val p = plan(CoreQueries.q08.run(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_orderstatus:string>"), p)
  }

  test("q35/q36 sampling: narrow per-row derivation, no shuffle, pruned scan") {
    // split/sample assignment must be a pure row function — an Exchange
    // here would mean the op can't run at scan speed at 100 TB
    val frac = org.apache.spark.sql.functions.lit(64)
    val sampled = graft.ext.Sampling.stratifiedSample(
      Tables.table(spark, dir, "documents"),
      org.apache.spark.sql.functions.col("doc_id"), frac)
      .select("doc_id")
    val p = plan(sampled)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("q37 shuffled: stays in the DataFrame layer (no RDD scan), offsets broadcast") {
    val df = graft.ext.Sampling.shuffled(
      Tables.table(spark, dir, "documents").select("doc_id"),
      org.apache.spark.sql.functions.col("doc_id"), salt = "ord")
    val p = plan(df)
    // the old rdd.zipWithIndex form surfaced as an ExistingRDD/Scan RDD
    // node — a Tungsten deserialize/reserialize round-trip of every row
    assert(!p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p) // bucket offsets, not a shuffle join
  }

  test("q38 as-of join: ONE shuffle on the key, no range-join pair blowup") {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(ev("event_type") === "view")
      .select("user_id", "ts", "value").withColumnRenamed("value", "vv")
    val clicks = ev.filter(ev("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val df = graft.ops.AsOfJoin.backward(clicks, views, Seq("user_id"), "ts", "ts")
    val p = plan(df)
    // union + window merge: no join operator at all in the plan
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    // exchanges are inserted by EnsureRequirements → count on executedPlan
    val ep = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ep).length == 1, ep)
  }

  test("q34 embed near-dup: per-vector norms computed below the pair join") {
    val emb = Tables.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val p = plan(graft.ext.EmbeddingSearch.cosineNearDupPairs(
      emb, "vec_id", "embedding", 0.99))
    // norm (sqrt of vec_dot) must sit in the per-side Projects BELOW the
    // join (printed after it — children print below parents), never in
    // the per-pair projection above it (printed before)
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, p)
    val sqrtIdx = p.indexOf("SQRT")
    assert(sqrtIdx > joinIdx, s"norms computed per pair above the join:\n$p")
  }

  test("q50 kmv sketch: ObjectHashAggregate with map-side partial, pruned scan") {
    val df = ExtQueries.q50.run(spark, dir)
    val ep = df.queryExecution.executedPlan.toString
    // the sketch agg must plan as ObjectHashAggregate (not sort-based)
    // and partial-aggregate before the shuffle: one <=k-long sketch per
    // (partition, group) crosses the wire, never raw hashes
    assert(ep.contains("ObjectHashAggregate"), ep)
    assert(ep.contains("partial_kmvsketchagg"), ep)
    assert(ep.contains("ReadSchema: struct<user_id:bigint,event_type:string>"), ep)
  }

  test("q51 tf-idf: per-doc window partitions by doc_id (no AllTuples sink)") {
    val df = ExtQueries.q51.run(spark, dir)
    val ep = df.queryExecution.executedPlan.toString
    // a Window with no partition spec would funnel the corpus through
    // one task; the top-k window must partition on doc_id (the 1-row
    // corpus-count scalar agg legitimately uses SinglePartition)
    assert("Window \\[.*windowspecdefinition\\(doc_id".r.findFirstIn(ep).isDefined, ep)
    // tf is scanned+exploded ONCE: df comes from a window over tf, not
    // a self-join that plans the explode subtree twice
    assert("Generate explode".r.findAllIn(ep).length == 1, ep)
  }

  test("q49 decontaminate: eval grams broadcast, training grams never shuffle for the join") {
    val df = ExtQueries.q49.run(spark, dir)
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin"), ep)
    assert(!ep.contains("SortMergeJoin"), ep)
  }

  test("q61/q67 chunking: narrow — no Exchange anywhere in the operator plan") {
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, dir, "documents")
    for (p <- Seq(
        plan(ext.Chunking.tokenChunks(docs, col("doc_id"), col("text"), 40, 30)),
        plan(ext.Chunking.bpeTokenChunks(docs, col("doc_id"), col("text"), 64, 48))))
      assert(!p.contains("Exchange"), p)
  }

  test("q60 bloom: confirm join keys on the digest — raw eval text never broadcast") {
    val ep = ExtQueries.q60.run(spark, dir).queryExecution.executedPlan.toString
    // both joins present and broadcast; no sort-merge of the corpus
    assert(ep.contains("BroadcastNestedLoopJoin") || ep.contains("BroadcastHashJoin"), ep)
    assert(!ep.contains("SortMergeJoin"), ep)
    // the eval-side broadcast carries the md5 hex column, not text
    assert(ep.contains("__ehex"), ep)
    assert(!ep.contains("__etext"), ep)
  }

  test("q66 incremental near-dup: corpus text is never re-read after signatures") {
    val df = ExtQueries.q66.run(spark, dir)
    val ep = df.queryExecution.executedPlan.toString
    // the probe joins shuffle band hashes and slot columns only — no
    // text column may appear above the signature aggregates
    val aboveSigs = ep.split("HashAggregate").head
    assert(!aboveSigs.contains("text#"), aboveSigs)
  }

  test("q65 bpe: count stays a narrow codegen'd projection over a pruned scan") {
    val df = ExtQueries.q65.run(spark, dir)
    df.collect() // materialize so the AQE final plan (with codegen stages) exists
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ReadSchema: struct<doc_id:bigint,text:string>"), ep)
    assert(ep.contains("*("), ep) // WholeStageCodegen stage marker
    // one scan, no join, no aggregate — per-row expression only
    assert(!ep.contains("Join"), ep)
  }

  test("q68 span dedup: gram text never shuffles — exchanges key on the md5 digest") {
    val ep = ExtQueries.q68.run(spark, dir).queryExecution.executedPlan.toString
    // the corpus-wide count is ONE window over the gram key (occ
    // computed once, shuffled by __g once) — not the old groupBy +
    // join-back, which planned the gram subtree twice; a hot gram's
    // occurrences land on one reducer in either shape
    assert(ep.contains("hashpartitioning(__g"), ep)
    assert(ep.contains("windowspecdefinition(__g"), ep)
    // the native gram generator appears exactly once: the tokenize +
    // digest pass over corpus positions is not re-planned per branch
    assert("wordngramseq|word_ngram_seq".r.findAllIn(ep.toLowerCase).size == 1, ep)
    // no exchange may key on the token array or raw text
    ep.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("__t#") && !line.contains("text#"), line)
    }
  }

  test("q69 temperature sample: rates broadcast back, corpus scanned without a data shuffle") {
    val ep = ExtQueries.q69.run(spark, dir).queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin"), ep)
    // the only exchanges belong to the tiny per-group count (keyed on
    // the group column; the alias __grp may be collapsed into it) —
    // corpus rows (doc_id) themselves never repartition
    val exchanges = ep.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty && exchanges.forall(l => !l.contains("doc_id#")),
      exchanges.mkString("\n"))
  }

  test("q70 semantic decontamination: eval side broadcast, corpus norms computed below the pair join") {
    val ep = ExtQueries.q70.run(spark, dir).queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastNestedLoopJoin"), ep)
    assert(!ep.contains("SortMergeJoin"), ep)
    // per-vector norm (__tn) is projected before the join, not per pair
    val beforeJoin = ep.split("BroadcastNestedLoopJoin").last
    assert(beforeJoin.contains("__tn"), ep)
  }

  test("q72 interval join: binary-search projection — no join operator, no data shuffle") {
    val ep = ExtQueries.q72.run(spark, dir).queryExecution.executedPlan.toString
    assert(!ep.contains("Join"), ep)
    // the only exchange is the final orderBy's range partitioning
    val ex = ep.split("\n").filter(_.contains("Exchange"))
    assert(ex.forall(_.contains("rangepartitioning")), ex.mkString("\n"))
  }

  test("q73 grouped top-k: ObjectHashAggregate partial, no Window over the fact table") {
    val ep = ExtQueries.q73.run(spark, dir).queryExecution.executedPlan.toString
    assert(ep.contains("ObjectHashAggregate"), ep)
    assert(!ep.contains("Window"), ep)
  }

  test("q80 funnel: two key-shuffles, no nested-loop or range join anywhere") {
    val ep = ExtQueries.q80.run(spark, dir).queryExecution.executedPlan.toString
    assert(!ep.contains("NestedLoop") && !ep.contains("CartesianProduct"), ep)
    // every hash exchange keys on user_id (the funnel key)
    ep.split("\n").filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(l.contains("user_id"), l)
    }
  }

  test("q85 sketch quantile band: ObjectHashAggregate partials, no global sort of the data") {
    val ep = ExtQueries.q85.run(spark, dir).queryExecution.executedPlan.toString
    // the sketch aggregates map-side; the cutoffs broadcast back
    assert(ep.contains("ObjectHashAggregate"), ep)
    assert(ep.contains("partial_quantilesketchagg"), ep)
    assert(ep.contains("BroadcastNestedLoopJoin") || ep.contains("BroadcastHashJoin"), ep)
    // no exchange repartitions the documents rows themselves: the only
    // range partitioning allowed is the final ORDER BY on the 5-row
    // grouped summary, and no hash exchange may carry doc text
    ep.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), l)
    }
  }

  test("q86 paragraph dedup: exchanges key on digests or ids, never paragraph text") {
    val ep = ExtQueries.q86.run(spark, dir).queryExecution.executedPlan.toString
    // df count partially aggregates (hot boilerplate absorbs map-side)
    assert(ep.contains("partial_count"), ep)
    // no exchange may carry paragraph/text payload columns
    ep.split("\n").filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#") || l.contains("clean_text"), l)
    }
    assert(!ep.contains("CartesianProduct") && !ep.contains("SortMergeJoin"), ep)
  }

  test("q92 hard-negatives IVF: only the centroid table broadcasts — the candidate join on cell shuffles both sides") {
    // probe routing must be the in-row expression, not a
    // crossJoin+window: the window form shuffles |Q|·nlist rows (64×
    // the corpus at nlist=64). Exactly TWO windows may remain — the
    // gate's inline index BUILD (one-time nearest-centroid assignment)
    // and the final top-k ranking; a third would be routing regressing
    // to the window form.
    val p = plan(ExtQueries.q92.run(spark, dir))
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 2, s"expected build-assignment + top-k windows only, got $windows:\n$p")
    // no HINT may force the cell join to broadcast (that would cap |Q|
    // at driver memory). Mechanical proof: with size-based broadcast
    // disabled, a hinted broadcast would survive — the cell join must
    // instead degrade to a shuffle join. (At small SF with the
    // threshold on, a size-based broadcast pick is fine and scales
    // away on its own.)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pNoAuto = plan(ExtQueries.q92.run(spark, dir))
      assert(pNoAuto.contains("SortMergeJoin [cell") ||
        pNoAuto.contains("ShuffledHashJoin [cell"),
        s"cell join must not be hint-forced to broadcast:\n$pNoAuto")
      assert(!pNoAuto.contains("BroadcastHashJoin [cell"), pNoAuto)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("q106 PQ hard-negatives: no corpus table in the serving plan; cell join never hint-broadcast") {
    // the whole point of mining from quantized state: candidates come
    // from (cell, codes) + a per-row decode expression — the corpus
    // embedding column must appear ONLY under the one-time index/
    // codebook build, never on the candidate side of the cell join.
    // Same no-hint proof as q92: with size-based broadcast disabled, a
    // hinted broadcast of the |Q|·nprobe probe side would survive — it
    // must degrade to a shuffle join instead.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pNoAuto = plan(ExtQueries.q106.run(spark, dir))
      assert(pNoAuto.contains("SortMergeJoin [cell") ||
        pNoAuto.contains("ShuffledHashJoin [cell"),
        s"cell join must not be hint-forced to broadcast:\n$pNoAuto")
      assert(!pNoAuto.contains("BroadcastHashJoin [cell"), pNoAuto)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("q93 quality classifier: one column-pruned scan, no shuffle, no UDF") {
    val df = ExtQueries.q93.run(spark, dir)
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
    // scoring itself adds no exchange: the only allowed exchange is the
    // rangepartitioning for the gate's ORDER BY
    val ep = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(ep).length
    assert(exchanges <= 1, s"expected at most the orderBy range exchange, got $exchanges:\n$ep")
  }

  test("q97 wide language ID: one column-pruned scan, no shuffle, no UDF") {
    val df = ExtQueries.q97.run(spark, dir)
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
    // the whole two-branch CASE is per-row arithmetic: the only
    // allowed exchange is the gate's ORDER BY range partitioning
    val ep = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(ep).length
    assert(exchanges <= 1, s"expected at most the orderBy range exchange, got $exchanges:\n$ep")
  }

  test("q96 digest retraction: every hash exchange carries digests, never document text") {
    val ep = ExtQueries.q96.run(spark, dir).queryExecution.executedPlan.toString
    // both the state build and the delete-batch aggregation partial-
    // aggregate map-side (32-byte digest keys), and no exchange may
    // carry the text payload
    assert(ep.contains("partial_count"), ep)
    ep.split("\n").filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), l)
    }
    assert(!ep.contains("CartesianProduct") && !ep.contains("BroadcastNestedLoopJoin"), ep)
  }

  test("retractPacking: the repack window partitions by bucket — never a global (empty-key) window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, 5L + i % 17)).toDF("doc_id", "n_tokens")
    val stored = ext.Packing.packByBudget(docs, $"doc_id", $"n_tokens", 64L, "s")
    val out = ext.Forget.retractPacking(stored, docs, "doc_id", "n_tokens",
      Seq(7L).toDF("id"), 64L, "s")
    val p = plan(out)
    assert(p.contains("Window"), p)
    // a Window with an empty partition spec would serialize the corpus
    // through one task — the exact failure the bucketed layout avoids
    assert(!p.contains("Window [") || !p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"global window detected:\n$p")
  }

  test("q112 WARC round-trip: two exchanges total (blob grouping + final sort), payload bytes shuffle once") {
    val p = ExtQueries.q112.run(spark, dir).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q116 within-doc line dedup: zero-shuffle op — only the final sort exchanges") {
    val p = ExtQueries.q116.run(spark, dir).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("hashpartitioning"), s"per-row op must not key-shuffle:\n$p")
  }

  test("q118/q119 incremental agg: maintenance joins state tables, never re-scans wide data") {
    val p118 = ExtQueries.q118.run(spark, dir).queryExecution.executedPlan.toString
    // per-batch states partial-aggregate before their shuffles
    assert(p118.contains("partial_count") || p118.contains("partial_"), p118)
    val p119 = ExtQueries.q119.run(spark, dir).queryExecution.executedPlan.toString
    // the retract join is state×state — never a corpus-side SortMergeJoin
    assert(!p119.contains("CartesianProduct"), p119)
    // both scans are column-pruned to exactly the key/value/split columns
    assert(p119.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double>"), p119)
  }

  test("q121 NFC normalize: one per-row scan, zero key-shuffle, no UDF") {
    val p = ExtQueries.q121.run(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"), s"per-row op must not key-shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("q123 sketch grid: the sort-free claim holds in both plans — sketch is object-hash partial, assignment has no corpus sort or window") {
    import org.apache.spark.sql.functions.{col, floor}
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .select(floor($"l_extendedprice").cast("long").as("v"))
    val cuts = graft.ops.Layout.sketchCutpoints(base, col("v"),
      graft.ext.MinHashLsh.portableHash32(col("v").cast("string")), 8, 64)
    val pc = cuts.queryExecution.executedPlan.toString
    // the sketch side: partial object-hash agg, no sort of the corpus
    // (the <=64-row cdf window sorts sketch rows, not data rows)
    assert(pc.contains("ObjectHashAggregate"), pc)
    assert(pc.contains("partial_quantilesketchagg") || pc.contains("partial_"), pc)
    // the gate plan (cuts already collected driver-side at build time):
    // assignment is a codegen'd projection; the only Sort is the final
    // 8-row orderBy on cell — the exact face (q120) pays two window
    // sorts of the corpus, this face must pay none
    val p = ExtQueries.q123.run(spark, dir).queryExecution.executedPlan.toString
    val sorts = "Sort \\[".r.findAllIn(p).size
    assert(sorts <= 1, s"expected at most the final tiny orderBy, got $sorts sorts:\n$p")
    assert(!p.contains("Window"), s"no rank window in the sketch face:\n$p")
    assert(p.contains("cutpointcell"), s"assignment must be the codegen'd expression:\n$p")
  }

  test("q124 per-group cap: one key-shuffle for the window, scan pruned to the cap columns") {
    val p = ExtQueries.q124.run(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p)
  }

  test("q125 card redaction: one per-row scan, zero key-shuffle, codegen'd expressions only") {
    val p = ExtQueries.q125.run(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"), s"per-row op must not key-shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("q126 blocklist: broadcast hash equi-join on the suffix chain, never a nested loop") {
    val p = ExtQueries.q126.run(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("capPerGroupAgg plans bounded-state partial aggregation, no per-group sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, dir, "documents").select($"doc_id", $"source")
    val p = graft.ext.Sampling.capPerGroupAgg(docs, col("source"), col("doc_id"), 10, "s")
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topkagg") || p.contains("partial_"), p)
    assert(!p.contains("Window"), s"the agg face must not fall back to a window:\n$p")
  }

  test("pageRank iteration: map-side partial combine on dst, one-row dangling scalar broadcast, no cartesian") {
    import org.apache.spark.sql.functions._
    val e = Tables.table(spark, dir, "documents")
      .select(col("source").as("src"),
        concat(lit("h"), (col("doc_id") % 7).cast("string")).as("dst"))
    val p = plan(graft.ext.LinkGraph.pageRank(e, "src", "dst",
      iters = 1, damping = 0.85))
    // the per-dst contribution sum combines map-side — at web scale the
    // reduce side sees one partial row per (task, dst), not one per edge
    assert(p.contains("partial_"), p)
    // the dangling mass is a broadcast one-row join, never a shuffled
    // cartesian against the host-sized rank vector
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // grid quantization is plain codegen'd arithmetic — no UDF anywhere
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
  }

  test("trustRank iteration: same shuffle discipline as pageRank") {
    import org.apache.spark.sql.functions._
    val e = Tables.table(spark, dir, "documents")
      .select(col("source").as("src"),
        concat(lit("h"), (col("doc_id") % 7).cast("string")).as("dst"))
    import spark.implicits._
    val seeds = Seq("src0", "src1").toDF("host")
    val p = plan(graft.ext.LinkGraph.trustRank(e, "src", "dst", seeds,
      iters = 1, damping = 0.85))
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q132 stratified budget: pruned scan, allocation table enters via broadcast") {
    val p = plan(ExtQueries.q132.run(spark, dir))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
    // the per-stratum allocation is tiny by construction and must join
    // as a broadcast — a sort-merge here would shuffle the corpus twice
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q139 BM25: map-side partial sums, one-row corpus stats enter broadcast, no cartesian") {
    val p = plan(ExtQueries.q139.run(spark, dir))
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q156 isotonic fit: corpus collapses to bucket stats with map-side combine before the minimax joins") {
    val p = plan(ExtQueries.q156.run(spark, dir))
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // only the documents text column is read — score + label derive from it
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q157 calibrated serving: the step-function lookup is a broadcast equi-join, never sort-merge") {
    val p = plan(ExtQueries.q157.run(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q158 snake shards: the corpus-side window partitions by the weight bucket — never a global (empty-key) window") {
    val p = plan(ExtQueries.q158.run(spark, dir))
    // offsets enter via broadcast; the big-side row_number partitions by __b
    assert(p.contains("BroadcastHashJoin"), p)
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    val corpusWins = winLines.filter(_.contains("row_number"))
    assert(corpusWins.nonEmpty && corpusWins.forall(_.contains("__b")),
      s"corpus window must partition by __b:\n${winLines.mkString("\n")}")
  }

  test("q170 weighted take: global top-k is TakeOrderedAndProject — per-row HOF draws, no explode, no global Sort, no shuffle") {
    val p = plan(ExtQueries.q170.run(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Generate"), s"draws must fold per-row, not explode:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"weightedTake is shuffle-free up to the top-k:\n$p")
  }

  test("q160 winnowing: fingerprint window partitions by doc id; text never shuffles past the gram explode") {
    val p = plan(ExtQueries.q160.run(spark, dir))
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("id")), winLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q175 propTile: every window partitions by (group, bucket) — no corpus-sized partition; offsets and counts broadcast") {
    val p = plan(ExtQueries.q175.run(spark, dir))
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p)
    // the corpus-side rank window must key on the (lang, high-bits)
    // pair; the offsets window keys on lang over the tiny bucket table
    assert(winLines.forall(_.contains("lang")), winLines.mkString("\n"))
    assert(winLines.exists(_.contains("__b")), winLines.mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q174 seed distance: host-keyed aggregates only; depthScreen is a broadcast left-semi join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val dists = ext.LinkGraph.seedDistance(e, "src", "dst",
      Seq("a").toDF("host"), maxDepth = 2)
    val docs = Tables.table(spark, dir, "documents").select($"doc_id", $"source")
    val p = plan(ext.LinkGraph.depthScreen(docs, $"source", dists, maxDepth = 1))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q179 interval overlap: equi-join on the bin key — no cartesian or nested loop anywhere") {
    val p = plan(ExtQueries.q179.run(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("__bin"), p) // candidates join on the grid bin
  }

  test("reporting joins broadcast the dimension side") {
    val hospitals = Tables.table(spark, dir, "customer")
      .selectExpr("cast(c_custkey as string) hospital_pk", "c_name hospital_name")
    val locations = Tables.table(spark, dir, "customer")
      .selectExpr("cast(c_custkey as string) hospital_fk", "c_mktsegment state")
    val quality = Tables.table(spark, dir, "customer")
      .selectExpr("cast(c_custkey as string) facility_id", "true emergency_services",
        "c_acctbal hospital_overall_rating", "date'2022-10-01' data_date")
    val p = plan(graft.aragon.Reporting.emergencyTop20(quality, hospitals, locations))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q189 DOM density: one per-row scan, zero key-shuffle (the q125 class)") {
    val p = ExtQueries2.q189.run(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"), s"per-row op must not key-shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("q186 unigram encode: the vocab table enters via broadcast, never sort-merge") {
    val p = ExtQueries2.q186.run(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hashed-ngram features: map-side partial counts; the weights side broadcasts in scoring") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, dir, "documents").select($"doc_id", $"text")
    val f = graft.ext.HashedNgram.features(docs, col("doc_id"), col("text"), 16)
    val pf = f.queryExecution.executedPlan.toString
    assert(pf.contains("partial_count") || pf.contains("partial_"), pf)
    val w = (-1L, 0.1) +: (0L until 16L).map(b => (b, 0.01 * b))
    val ps = graft.ext.HashedNgram.score(docs, col("doc_id"), col("text"), w)
      .queryExecution.executedPlan.toString
    assert(ps.contains("BroadcastHashJoin"), ps)
    assert(!ps.contains("SortMergeJoin"), ps)
  }

  test("OPQ rotation is a pure projection: zero Exchange, no UDF") {
    import spark.implicits._
    val emb = Tables.table(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val r = graft.ext.Opq.identity(64)
    val p = emb.select(graft.ext.Opq.rotateExpr(r, $"embedding"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"rotation must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("q201 byte BPE: one per-row scan, zero key-shuffle, no UDF (the q189 class)") {
    val p = ExtQueries3.q201.run(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"), s"per-row op must not key-shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("q203 LZ coverage: the gram window partitions by (id, gram) — never a global window; no cartesian") {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents").select($"doc_id", $"text")
    val p = graft.ext.CompressionSignal.lzCoverage(docs, $"doc_id", $"text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
    // the lag window keys on (id, g): no empty-key (corpus-sized) window
    val windowed = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(windowed.contains("id") && windowed.contains("g"),
      s"window must partition by (id, g):\n$windowed")
  }

  test("lattice trainer corpus pass: one tokenize + grouped count with map-side partial combine") {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents").select($"doc_id", $"text")
    val p = graft.ext.UnigramLm.wordCounts(docs, $"text", 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"grouped count must combine map-side:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("PCA projection is a pure rectangular projection: zero Exchange, no UDF") {
    import spark.implicits._
    val emb = Tables.table(spark, dir, "embeddings")
      .select($"vec_id", org.apache.spark.sql.functions.slice($"embedding", 1, 8).as("v"))
    val proj = graft.ext.Pca.Projection(
      Array(Array(1.0, 0, 0, 0, 0, 0, 0, 0), Array(0, 1.0, 0, 0, 0, 0, 0, 0)),
      Array(2.0, 1.0))
    val p = emb.select(graft.ext.Pca.projectExpr(proj, $"v"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("vocab growth: first-occurrence min combines map-side; no window, no cartesian on corpus-sized frames") {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents").select($"doc_id", $"text")
    val p = graft.ext.CorpusStats.vocabGrowth(docs, $"doc_id", $"text", Seq(10L, 100L))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), s"token first-doc min must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no ordered scan anywhere:\n$p")
    assert(!p.contains("ScalaUDF"), p)
    // the only nested-loop is the 1-row x 1-row aggregate join; no
    // corpus-sized cartesian can appear as CartesianProduct
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hashed cosine verify: equi-joins only (no cartesian), map-side partial counts") {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents").select($"doc_id", $"text")
    val counts = graft.ext.HashedVec.bucketCounts(docs, $"doc_id", $"text", 16)
    val pairs = docs.select($"doc_id".as("id1"), ($"doc_id" + 1).as("id2"))
    val p = graft.ext.HashedVec.cosinePairs(pairs, counts, 7, 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("partial_count"), s"bucket counts must combine map-side:\n$p")
  }

  test("per-group growth / per-source attrition: group-keyed aggregates only — no window, no cartesian") {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents")
    val pg = graft.ext.CorpusStats.vocabGrowthByGroup(docs, $"doc_id", $"text",
        $"lang", Seq(10L, 100L))
      .queryExecution.executedPlan.toString
    assert(pg.contains("partial_min"), s"per-group first-doc min must combine map-side:\n$pg")
    assert(!pg.contains("Window") && !pg.contains("CartesianProduct"), pg)
    val ps = graft.ext.Curation.ledgerBySource(
        graft.ext.Curation.survival(docs.select($"doc_id", $"text", $"source"),
          $"doc_id", $"text", $"source"))
      .queryExecution.executedPlan.toString
    assert(!ps.contains("Window") && !ps.contains("CartesianProduct"), ps)
    assert(!ps.contains("ScalaUDF"), ps)
  }

  test("curation cascade: per-row stages ride the scan; dedup and source stats combine map-side; no cartesian") {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents")
      .select($"doc_id", $"text", $"source")
    val p = graft.ext.Curation.survival(docs, $"doc_id", $"text", $"source")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"dedup/source aggregates must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("Window"), s"no window needed anywhere:\n$p")
    // VERDICT r13 item 3: the stage-4 verdict depends on SOURCE-level
    // stats only, so the source-cardinality stats table joins back
    // BROADCAST — the corpus×corpus doc_id join-back (one full
    // exchange) is gone from the cascade plan
    assert(p.contains("BroadcastHashJoin"),
      s"source stats must broadcast-join back:\n$p")
    assert(!p.contains("hashpartitioning(doc_id"),
      s"no corpus-sized doc_id exchange in the cascade:\n$p")
  }
}
