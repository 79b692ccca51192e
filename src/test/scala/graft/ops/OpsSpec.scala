package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class OpsSpec extends SparkTestBase {

  import spark.implicits._

  /** Deterministic scalacheck sampling (no scalatestplus bridge in the
    * offline cache, so we drive Gen directly with fixed seeds).
    */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("P1 sentinelToNull: no sentinel survives, other values untouched") {
    val df = Seq((1, -999999.0), (2, 5.0), (3, -1.0)).toDF("id", "v")
    val out = Cleaning.sentinelToNull(df, Seq("v"), -999999.0)
      .orderBy("id").collect()
    assert(out(0).isNullAt(1))
    assert(out(1).getDouble(1) == 5.0)
    assert(out(2).getDouble(1) == -1.0)
  }

  test("P1 property: sentinel never survives, non-sentinels preserved") {
    val gen = Gen.listOf(Gen.oneOf(Gen.const(-999999.0), Gen.choose(-1000.0, 1000.0)))
    samples(gen, 10).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      val out = Cleaning.sentinelToNull(df, Seq("v"), -999999.0).collect()
      assert(!out.exists(r => !r.isNullAt(1) && r.getDouble(1) == -999999.0))
      assert(out.count(_.isNullAt(1)) == vs.count(_ == -999999.0))
    }
  }

  test("P5 normalizeHeaders lower-cases and replaces spaces") {
    val df = Seq((1, "x")).toDF("Facility ID", "Hospital Type")
    assert(Cleaning.normalizeHeaders(df).columns.toSeq ==
      Seq("facility_id", "hospital_type"))
  }

  test("P6 mapValues remaps listed values and passes others through") {
    val df = Seq("Yes", "No", "Maybe").toDF("v")
    val out = Cleaning.mapValues(df, "v", Map("Yes" -> "1", "No" -> "0"))
      .as[String].collect().toSet
    assert(out == Set("1", "0", "Maybe"))
  }

  test("D1/D3 antiDedup drops exactly the existing keys") {
    val incoming = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val existing = Seq(2).toDF("k")
    val out = Dedup.antiDedup(incoming, Seq("k"), existing).as[(Int, String)].collect().toSet
    assert(out == Set((1, "a"), (3, "c")))
  }

  test("firstPerKey keeps the smallest tie-breaker deterministically") {
    val df = Seq((1, 10, "first"), (1, 20, "second"), (2, 5, "only")).toDF("k", "ord", "v")
    val out = Dedup.firstPerKey(df, Seq("k"), col("ord")).orderBy("k")
      .select("v").as[String].collect().toSeq
    assert(out == Seq("first", "only"))
  }

  test("P9 validateSplit partitions the input exactly; nulls are valid") {
    val df = Seq[(Int, java.lang.Double)]((1, 5.0), (2, -3.0), (3, null))
      .toDF("id", "v")
    val (ok, bad) = Validate.validateSplit(df, Validate.nonNegative(Seq("v")))
    assert(ok.select("id").as[Int].collect().toSet == Set(1, 3))
    assert(bad.select("id").as[Int].collect().toSet == Set(2))
  }

  test("P9 property: valid ⊎ quarantine = input, no row lost or duplicated") {
    samples(Gen.listOf(Gen.choose(-100.0, 100.0)), 10).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      val (ok, bad) = Validate.validateSplit(df, Seq(col("v") >= 0))
      assert(ok.count() + bad.count() == vs.size)
      val ids = ok.select("id").as[Int].collect().toSet ++
        bad.select("id").as[Int].collect().toSet
      assert(ids == vs.indices.toSet)
    }
  }

  test("Aggs.dsum is exact and partition-order independent") {
    val vs = (1 to 10000).map(_ => 0.1)
    val one = vs.toDF("v").coalesce(1).agg(Aggs.dsumAsDouble(col("v"))).as[Double].head()
    val many = vs.toDF("v").repartition(32).agg(Aggs.dsumAsDouble(col("v"))).as[Double].head()
    assert(one == many)
    assert(one == 1000.0) // decimal sum of 0.1 (as decimal 0.100000) is exact
  }

  test("S9 observedSplit: counters ride the caller's action, no extra job") {
    val df = Seq(1.0, -2.0, 3.0, -4.0, 5.0).toDF("v")
    val (ok, _, obs) = Validate.observedSplit(df, Seq(col("v") >= 0))
    assert(ok.count() == 3) // the action that also fills the observation
    val m = obs.get
    assert(m("total") == 5L && m("valid") == 3L && m("invalid") == 2L)
  }

  test("approxDistinct stays within its error bound vs exact") {
    val df = (1 to 20000).map(i => i % 4096).toDF("v")
    val approx = df.agg(Aggs.approxDistinct(col("v"), 0.02)).as[Long].head()
    assert(math.abs(approx - 4096) <= 4096 * 0.06, s"approx=$approx")
  }

  test("D1 property: antiDedup ∪ duplicatesOf partitions the input by key membership") {
    val pairs = Gen.listOf(Gen.zip(Gen.choose(0, 50), Gen.alphaStr))
    samples(pairs, 8).foreach { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i) }.toDF("k", "v", "i")
      val existing = (0 to 25).toDF("k")
      val kept = Dedup.antiDedup(df, Seq("k"), existing)
      val dropped = Dedup.duplicatesOf(df, Seq("k"), existing)
      assert(kept.count() + dropped.count() == rows.size)
      assert(kept.filter(col("k") <= 25).count() == 0)
      assert(dropped.filter(col("k") > 25).count() == 0)
    }
  }

  test("firstPerKey property: exactly one survivor per key, the minimum tie-breaker") {
    val pairs = Gen.nonEmptyListOf(Gen.choose(0, 20))
    samples(pairs, 8).foreach { ks =>
      val df = ks.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "ord")
      val out = Dedup.firstPerKey(df, Seq("k"), col("ord"))
        .as[(Int, Int)].collect().toMap
      val expect = ks.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      assert(out == expect)
    }
  }

  test("Skew.saltedCount equals plain groupBy count on a hot-key distribution") {
    val rows = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i))
    val df = rows.toDF("k", "v").repartition(16)
    val salted = Skew.saltedCount(df, Seq("k"), buckets = 8)
      .orderBy("k").as[(String, Long)].collect().toSeq
    val plain = df.groupBy("k").count().orderBy("k").as[(String, Long)].collect().toSeq
    assert(salted == plain)
  }

  test("Skew.saltedAgg composes sum/min phases correctly") {
    val df = (1 to 1000).map(i => ("k" + (i % 3), i.toLong)).toDF("k", "v")
    val out = Skew.saltedAgg(df, Seq("k"), buckets = 4,
      Seq("s" -> sum($"v"), "m" -> min($"v")),
      { case "s" => sum(col("s")); case "m" => min(col("m")) })
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    val expect = df.groupBy("k").agg(sum($"v").as("s"), min($"v").as("m"))
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    assert(out == expect)
  }

  test("Skew.saltedJoin equals the plain join on a hot-key distribution") {
    // 90% of fact rows share one key — the shape that makes a plain
    // shuffle join put 90% of the work on one reducer
    val facts = (1 to 3000).map(i =>
      (if (i % 10 == 0) ("k" + i % 40) else "HOT", i.toLong)).toDF("k", "v")
    val dim = (Seq("HOT") ++ (0 until 40).map("k" + _)).zipWithIndex
      .map { case (k, i) => (k, s"payload$i") }.toDF("k", "p")
    val salted = Skew.saltedJoin(facts.repartition(13), dim, Seq("k"), buckets = 8)
      .as[(String, Long, String)].collect().sorted.toSeq
    val plain = facts.join(dim, Seq("k"))
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(salted == plain && salted.size == 3000)
  }

  test("Skew.saltedJoin never broadcasts the salt-replicated dimension") {
    // Generate keeps its child's size estimate, so the buckets-x
    // replicated dim looks small enough to broadcast — which builds
    // the full replicated hash relation on the driver and defeats the
    // (key, salt) shuffle spread the operator exists for. The MERGE
    // hint must hold the join to a shuffle strategy.
    val facts = (1 to 500).map(i => ("k" + i % 7, i.toLong)).toDF("k", "v")
    val dim = (0 until 7).map(i => ("k" + i, s"p$i")).toDF("k", "p")
    val joined = Skew.saltedJoin(facts, dim, Seq("k"), buckets = 8)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"salted join planned a broadcast of the replicated dim:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
  }

  test("Skew.saltedJoin with a deterministic saltKey spreads a hot key and matches the plain join") {
    val facts = (1 to 3000).map(i =>
      (if (i % 10 == 0) ("k" + i % 40) else "HOT", i.toLong)).toDF("k", "v")
    val dim = (Seq("HOT") ++ (0 until 40).map("k" + _)).zipWithIndex
      .map { case (k, i) => (k, s"payload$i") }.toDF("k", "p")
    val salted = Skew.saltedJoin(facts.repartition(13), dim, Seq("k"),
        buckets = 8, saltKey = Some($"v"))
      .as[(String, Long, String)].collect().sorted.toSeq
    val plain = facts.join(dim, Seq("k"))
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(salted == plain && salted.size == 3000)
    // the deterministic salt actually SPREADS the hot key: the byte-
    // identical join-key rows land in >1 bucket via the unique row key
    val spread = facts.filter($"k" === "HOT")
      .select(pmod(xxhash64($"v"), lit(8L)).as("b"))
      .distinct().count()
    assert(spread > 1, s"hot key collapsed to $spread buckets")
  }

  test("Skew.saltedJoin left join keeps unmatched fact rows with null payload") {
    val facts = Seq(("a", 1L), ("zzz", 2L)).toDF("k", "v")
    val dim = Seq(("a", "pa")).toDF("k", "p")
    val out = Skew.saltedJoin(facts, dim, Seq("k"), buckets = 4, joinType = "left")
      .as[(String, Long, Option[String])].collect().sorted.toSeq
    assert(out == Seq(("a", 1L, Some("pa")), ("zzz", 2L, None)))
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(facts, dim, Seq("k"), joinType = "full_outer")
    }
    // reserved-name collision is rejected, not silently overwritten+dropped
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(facts.withColumn("__salt", lit(1)), dim, Seq("k"))
    }
  }

  test("a hot key needs no salt: the aggregate combines map-side, AQE splits the skewed sort-merge join") {
    // half the rows on key 0, the rest over 1,000 keys. Broadcast is off
    // and the skew thresholds are lowered to fit this size, in a private
    // session so the suite's own conf is never written
    val s = org.apache.spark.sql.GraftBridge.scopedSession(spark, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k"))
    val n = 200000L
    val fact = s.range(0, n, 1, 8).select(
      when(col("id") % 2 === 0, 0L).otherwise(pmod(xxhash64(col("id")), lit(1000L)) + 1).as("k"),
      col("id").as("v"))
    val dim = s.range(1001).select(col("id").as("k"))

    val agg = fact.groupBy("k").agg(count(lit(1)).as("c"), sum(col("v")).as("s"))
    val aggPlan = agg.queryExecution.sparkPlan.toString
    assert(aggPlan.contains("partial_count") && aggPlan.contains("partial_sum"), aggPlan)

    // every fact row meets one dim row; v rides along so the hot
    // partition's shuffle bytes do not compress away
    val joined = fact.join(dim, "k").agg(count(lit(1)), sum(col("v")))
    // collect runs this frame's own plan, so its executed plan is final
    assert(joined.collect().head == org.apache.spark.sql.Row(n, n * (n - 1) / 2))
    val joinPlan = joined.queryExecution.executedPlan.toString
    assert(joinPlan.contains("SortMergeJoin(skew=true)") && joinPlan.contains("skewed"), joinPlan)
  }

  test("Profile.numeric: one row per column, nulls excluded from n_vals, exact distincts") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (2.0, 10.0), (null, 30.0), (2.0, null))
      .toDF("a", "b")
    val p = Profile.numeric(df, Seq("a", "b"))
      .orderBy("column_name")
      .as[(String, Long, Long, Long, Option[Double], Option[Double])].collect()
    assert(p(0) == (("a", 4L, 3L, 2L, Some(1.0), Some(2.0))))
    assert(p(1) == (("b", 4L, 3L, 2L, Some(10.0), Some(30.0))))
  }

  test("topBottomK tags both ends with deterministic tie-breaks") {
    val df = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0)).toDF("k", "v")
    val out = Aggs.topBottomK(df, 1, col("v"), col("k"))
      .select("k", "side").as[(String, String)].collect().toSet
    assert(out == Set(("d", "top"), ("a", "bottom")))
  }
}
