package graft.ext

import graft.SparkTestBase

/** Connected-components cluster canonicalization over pair lists. */
class DedupClustersSpec extends SparkTestBase {
  import spark.implicits._

  private def pairs(ps: (Long, Long)*) = ps.toDF("id1", "id2")

  test("transitive chain collapses to one component labeled by its min") {
    // 5-4, 4-3, 3-2, 2-1: a chain needs multiple propagation rounds
    val out = DedupClusters.connectedComponents(pairs(5L -> 4L, 4L -> 3L, 3L -> 2L, 2L -> 1L))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connectedComponentsReleasable frees all storage it allocated; labels stay correct after release") {
    // suites share one SparkContext and sbt runs them concurrently, so
    // GLOBAL persisted-RDD counts are racy (a neighbor suite releasing
    // its own frames mid-assert once turned `size > baseline` false,
    // and a neighbor's still-live frame would poison any snapshot
    // diff). GraftBridge.trackCuts attributes frame ids to THIS
    // thread's invocation exactly — zero attribution race either way.
    val sc = spark.sparkContext
    def live: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val ps = pairs(5L -> 4L, 4L -> 3L, 3L -> 2L, 2L -> 1L, 10L -> 11L)
    // under the broadcast threshold the list is contracted on the
    // driver, which holds no storage at all
    val ((driverLabels, _), none) = org.apache.spark.sql.GraftBridge.trackCuts {
      DedupClusters.connectedComponentsReleasable(ps)
    }
    assert(none.isEmpty, "the driver path should hold no cut")
    assert(driverLabels.count() == 7)
    // broadcasts off: the star rounds run and own the cuts below
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try starRoundsRelease(ps, live)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  private def starRoundsRelease(ps: org.apache.spark.sql.DataFrame, live: => Set[Int]): Unit = {
    val ((labels, release), mine) = org.apache.spark.sql.GraftBridge.trackCuts {
      DedupClusters.connectedComponentsReleasable(ps)
    }
    val expect = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(labels.orderBy("id").as[(Long, Long)].collect().toSeq == expect)
    assert(mine.nonEmpty, "cut frames should be registered while live")
    assert((live & mine).nonEmpty, "cut frames should be persisted while live")
    release()
    assert((live & mine).isEmpty,
      "release() must free every cut frame the invocation registered")
    // the frame survives its own release: recompute, same labels
    assert(labels.orderBy("id").as[(Long, Long)].collect().toSeq == expect)
    // ten invocations with release: each drains its own frames (the
    // service-session pattern the localCheckpoint design could not
    // support)
    for (_ <- 1 to 10) {
      val ((l, r), m) = org.apache.spark.sql.GraftBridge.trackCuts {
        DedupClusters.connectedComponentsReleasable(ps)
      }
      assert(l.count() == 7)
      r()
      assert((live & m).isEmpty, "invocation left cut frames persisted")
    }
  }

  test("star rounds restore session AQE/shuffle-partition confs (r18 loop override)") {
    // the rounds run with AQE off and a data-derived partition count;
    // both confs must come back to the session values afterwards, even
    // though the returned labels frame is consumed later
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val out = DedupClusters.componentsWithRounds(pairs(5L -> 4L, 4L -> 3L, 9L -> 8L))._1
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(out.count() == 5L)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
  }

  test("star rounds leave the caller's session adaptive: a concurrent query never sees AQE off") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    val chain = pairs((1L until 800L).map(i => i -> (i + 1)): _*)
    val done = new AtomicBoolean(false)
    val started = new CountDownLatch(1)
    val seen = ConcurrentHashMap.newKeySet[String]()
    val polls, nonAdaptive = new AtomicInteger(0)
    val poller = new Thread(() => {
      while (!done.get) {
        seen.add(spark.conf.get("spark.sql.adaptive.enabled"))
        val plan = spark.range(100).groupBy((col("id") % 7).as("k")).count()
          .queryExecution.executedPlan
        if (!plan.isInstanceOf[AdaptiveSparkPlanExec]) nonAdaptive.incrementAndGet()
        polls.incrementAndGet()
        started.countDown()
      }
    })
    poller.start()
    val rounds =
      try {
        started.await()
        val (labels, r) = DedupClusters.componentsWithRounds(chain)
        assert(labels.filter($"component" =!= 1L).count() == 0L)
        r
      } finally { done.set(true); poller.join() }
    assert(rounds > 1, s"the chain should take several rounds, took $rounds")
    assert(polls.get > 0)
    assert(!seen.contains("false"),
      s"the caller's session read spark.sql.adaptive.enabled=false during CC: $seen")
    assert(nonAdaptive.get == 0,
      s"${nonAdaptive.get} of ${polls.get} concurrent plans were not adaptive")
  }

  test("disjoint components keep separate min labels") {
    val out = DedupClusters.connectedComponents(pairs(10L -> 11L, 12L -> 11L, 20L -> 21L))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("keepCanonical keeps min-id per cluster and passes unpaired docs through") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "solo")).toDF("doc_id", "text")
    val kept = DedupClusters.keepCanonical(docs, "doc_id", pairs(2L -> 1L, 3L -> 2L))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 9L))
  }

  test("keepBest keeps the highest-scored member, min id on ties, unpaired pass through") {
    val docs = Seq(
      (1L, "short", 5.0), (2L, "the long best copy", 18.0), (3L, "mid copy", 8.0),
      (10L, "tie a", 7.0), (11L, "tie b", 7.0),
      (9L, "solo", 1.0)).toDF("doc_id", "text", "score")
    val kept = DedupClusters.keepBest(docs, "doc_id", "score",
        pairs(2L -> 1L, 3L -> 2L, 10L -> 11L))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    // component {1,2,3}: 2 wins on score (beats keepCanonical's 1);
    // component {10,11}: tie on score, min id 10 wins; solo 9 passes
    assert(kept == Seq(2L, 9L, 10L))
    assert(docs.columns.toSeq.diff(Seq("doc_id", "text", "score")).isEmpty)
  }

  test("keepBest fails loudly on a negative id (tiebreak contract)") {
    val docs = Seq((-1L, "a", 1.0), (2L, "b", 2.0)).toDF("doc_id", "text", "score")
    val e = intercept[Exception] {
      DedupClusters.keepBest(docs, "doc_id", "score", pairs(2L -> -1L)).collect()
    }
    assert(e.getMessage != null)
  }

  test("empty pair list yields empty components; keepCanonical passes all docs") {
    val noPairs = pairs()
    assert(DedupClusters.connectedComponents(noPairs).count() == 0)
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(DedupClusters.keepCanonical(docs, "doc_id", noPairs).count() == 2)
  }

  /** Labels by a driver-side union-find whose roots are set minima
    * under `ord`; a null id labels as (null, null). Ordered by id,
    * nulls first, as `orderBy("id")` returns them. */
  private def unionFind[T](edges: Seq[(Option[T], Option[T])])(
      implicit ord: Ordering[T]): Seq[(Option[T], Option[T])] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      case (a, b) => (a ++ b).foreach(find)
    }
    val nulls = if (edges.exists(e => e._1.isEmpty || e._2.isEmpty)) Seq(None -> None) else Nil
    nulls ++ parent.keys.toSeq.sorted.map(id => Some(id) -> Some(find(id)))
  }

  /** Both paths' labels over `p`: equal schemas, equal rows, and equal
    * to the union-find reference. The driver path must be the one taken
    * (it holds no cut), so the comparison is not rounds against rounds. */
  private def bothPathsMatch[T](p: org.apache.spark.sql.DataFrame,
                                expected: Seq[(Option[T], Option[T])], clue: String): Unit = {
    val (driver, cuts) = org.apache.spark.sql.GraftBridge.trackCuts(
      DedupClusters.connectedComponents(p))
    assert(cuts.isEmpty, s"$clue: the driver path should hold no cut")
    val rounds = DedupClusters.componentsWithRounds(p)._1
    assert(driver.schema == rounds.schema, clue)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id").collect().toSeq
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    val d = rows(driver)
    assert(d == rows(rounds), clue)
    assert(d == expected, clue)
  }

  test("random graphs match a driver-side union-find reference") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // self-pairs kept: a self-paired id is a singleton node
      val edges = Seq.fill(50)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      bothPathsMatch(edges.toDF("id1", "id2"),
        unionFind(edges.map { case (a, b) => (Some(a), Some(b)) }), s"seed=$seed")
      // nullable ids, a null among them: (null, null) and no link
      val withNull = edges.take(20).map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((Some(100L), None), (None, Some(3L)), (None, None))
      bothPathsMatch(withNull.toDF("id1", "id2"), unionFind(withNull), s"seed=$seed, null ids")
    }
    bothPathsMatch(pairs(), Nil, "empty list")
    // U+FFFF sorts after U+1F600 in Java's UTF-16 order and before it in
    // UTF-8 byte order, which is Spark's: the component's label is U+FFFF
    val utf8: Ordering[String] = Ordering.by(org.apache.spark.unsafe.types.UTF8String.fromString)
    val strs = Seq("\uFFFF" -> "\uD83D\uDE00", "a" -> "a", "c" -> "b")
    val expected = unionFind(strs.map { case (a, b) => (Some(a), Some(b)) })(utf8)
    assert(expected.contains(Some("\uD83D\uDE00") -> Some("\uFFFF")))
    bothPathsMatch(strs.toDF("id1", "id2"), expected, "string ids")
  }

  test("result is partition-invariant") {
    val p = pairs(1L -> 2L, 3L -> 4L, 2L -> 3L, 7L -> 8L)
    val expected = DedupClusters.connectedComponents(p.repartition(1))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val multi = DedupClusters.connectedComponents(p.repartition(7))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(multi == expected)
    assert(expected == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("long chain labels correctly in O(log n) rounds — diameter-independent") {
    // a 400-link chain (diameter 400) models template-drift clusters:
    // A~B~C~… each adjacent pair similar, ends not. Min-label
    // propagation would need 400 rounds (and silently split the
    // component at maxIter=20); star contraction must stay logarithmic.
    val chain = pairs((1L until 400L).map(i => i -> (i + 1)): _*)
    val (labels, rounds) = DedupClusters.componentsWithRounds(chain)
    val out = labels.as[(Long, Long)].collect()
    assert(out.length == 400)
    assert(out.forall(_._2 == 1L), "every chain node must label to the min id")
    assert(rounds <= 12, s"star contraction took $rounds rounds on a 400-chain — not O(log n)")
  }

  test("round count stays flat as chain length grows") {
    val r100 = DedupClusters.componentsWithRounds(pairs((1L until 100L).map(i => i -> (i + 1)): _*))._2
    val r800 = DedupClusters.componentsWithRounds(pairs((1L until 800L).map(i => i -> (i + 1)): _*))._2
    assert(r800 <= r100 + 3, s"rounds grew $r100 -> $r800 over 8x chain length")
  }

  test("hitting maxIter without convergence raises instead of returning split components") {
    val chain = pairs((1L until 100L).map(i => i -> (i + 1)): _*)
    val e = intercept[IllegalStateException] {
      DedupClusters.componentsWithRounds(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("self-pairs label as singletons") {
    val out = DedupClusters.connectedComponents(pairs(5L -> 5L, 5L -> 6L, 9L -> 9L))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("incrementalComponents over stored labels equals full recompute on the unioned pairs") {
    val oldPairs = pairs(1L -> 2L, 2L -> 3L, 10L -> 11L, 20L -> 21L)
    // new batch: internal new-doc pair, a bridge merging two old
    // components, and a brand-new component
    val newPairs = pairs(30L -> 31L, 3L -> 10L, 40L -> 41L)
    val stored = DedupClusters.connectedComponents(oldPairs)
    val incremental = DedupClusters.incrementalComponents(stored, newPairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val full = DedupClusters.connectedComponents(oldPairs.unionAll(newPairs))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(incremental == full)
    // the bridge must have merged 1-2-3 with 10-11
    assert(incremental.contains(10L -> 1L) && incremental.contains(11L -> 1L))
  }

  test("leakageSafeSplit keeps the caller's column when idCol is literally 'id'") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val out = DedupClusters.leakageSafeSplit(docs, "id", pairs(1L -> 2L),
      Seq("train" -> 128, "test" -> 128), salt = "s")
    assert(out.columns.toSeq == Seq("id", "text", "component", "split"))
    val rows = out.orderBy("id").select("id", "component").as[(Long, Long)].collect().toSeq
    assert(rows == Seq(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("leakageSafeSplit rejects docs that already carry component/split columns") {
    val docs = Seq((1L, "x")).toDF("doc_id", "component")
    val e = intercept[IllegalArgumentException] {
      DedupClusters.leakageSafeSplit(docs, "doc_id", pairs(1L -> 2L), Seq("train" -> 256))
    }
    assert(e.getMessage.contains("rename first"))
  }

  test("leakageSafeSplit: no near-dup pair ever straddles a split; singletons split independently") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 50 chained pairs → 50 two-doc clusters, plus 100 singleton docs
    val p = pairs((1L to 100L by 2).map(i => i -> (i + 1)): _*)
    val out = DedupClusters.leakageSafeSplit(docs, "doc_id", p,
        Seq("train" -> 204, "val" -> 26, "test" -> 26), salt = "s")
      .select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length == 200)
    val byComp = out.groupBy(_._2)
    // every component lands wholly in one split
    assert(byComp.values.forall(_.map(_._3).distinct.length == 1))
    // paired docs share their pair's min id as component
    assert(out.filter(_._1 <= 100).forall(r => r._2 == (if (r._1 % 2 == 1) r._1 else r._1 - 1)))
    // singletons are their own component
    assert(out.filter(_._1 > 100).forall(r => r._2 == r._1))
    // all three splits are populated at this size
    assert(out.map(_._3).distinct.toSet == Set("train", "val", "test"))
  }
}
