package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.CutFrame
import org.apache.spark.sql.functions._

/** Host-level link-graph analytics — the web-graph quality prior that
  * large-scale curation pipelines (Common Crawl ranking, URL-level
  * quality filtering) attach to every crawled document.
  *
  * The reference has no graph surface (its corpus is two flat CSV
  * feeds); this module is part of the LLM-pipeline extension surface.
  * The input is an edge list (src_host, dst_host) — typically built by
  * extracting link targets from crawled HTML and reducing them to
  * registered hosts with [[UrlOps.host]] — and the output is a
  * per-host PageRank score usable as a join-side quality prior in the
  * Gopher/CCNet-style cascades.
  *
  * Scale shape (the 100 TB story): every iteration is ONE shuffle —
  * the edge list joins the current rank vector on `src` (both sides
  * hash-partitioned on the same key, so the edge side's exchange is
  * reusable across iterations) and aggregates contributions by `dst`.
  * The dangling-node mass is a one-row aggregate crossJoin-broadcast
  * back onto the rank vector, never a driver-side collect. State per
  * iteration is one row per host (the rank vector) — at web scale
  * ~10^8 rows, far below the edge count, and the whole loop is
  * edge-proportional with a fixed iteration count.
  *
  * Determinism (the oracle-gate discipline): per-edge contribution
  * terms and the dangling mass are quantized onto an exact integer
  * grid — `floor(term * 1e15)` — BEFORE summing, so the aggregation
  * is an exact integer sum: order- and partition-invariant AND
  * engine-portable. The grid step is pure IEEE double arithmetic
  * (multiply, floor), which every engine computes bit-identically;
  * a direct double→DECIMAL cast is NOT portable (Spark rounds the
  * shortest decimal representation half-up, DuckDB scales in double),
  * and that 1-ulp divergence is exactly what the grid removes. The
  * scaled sums stay below 2^53 because total rank mass is ≤ 1, so the
  * sum-of-longs → double cast is exact at any corpus size. All other
  * arithmetic is straight-line IEEE double with a fixed expression
  * tree mirrored in the oracle SQL.
  */
object LinkGraph {

  /** The distinct edge list, its out-degrees, and the two joined once —
    * every power-iteration round reuses `eDeg`, so the (src-keyed)
    * exchange below it is reused across rounds. */
  private final case class HostGraph(e: DataFrame, outdeg: DataFrame, eDeg: DataFrame)

  private def distinctEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()

  private def hostGraph(edges: DataFrame, srcCol: String, dstCol: String): HostGraph = {
    val e = distinctEdges(edges, srcCol, dstCol)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    HostGraph(e, outdeg, e.join(outdeg, "src"))
  }

  /** Every host of the edge list `e`, plus `extra` host frames. */
  private def hosts(e: DataFrame, extra: DataFrame*): DataFrame =
    (Seq(e.select(col("src").as("host")), e.select(col("dst").as("host"))) ++ extra)
      .reduce(_ unionAll _)
      .distinct()

  /** Σ x on the exact 1e-15 integer grid (see object doc). */
  private def gridSum(x: Column): Column =
    coalesce(sum(floor(x * lit(1.0e15))), lit(0L)).cast("double") / lit(1.0e15)

  /** PageRank's reset mass: (1−d)/N + d·dm/N for every host. */
  private def uniformReset(n: Long, damping: Double): Column =
    lit((1.0 - damping) / n) + (lit(damping) * col("dm")) / lit(n.toDouble)

  /** The power-iteration rounds shared by [[pageRank]], [[trustRank]] and
    * [[pageRankWarm]]: r'(v) = Σ_{u→v} d·r(u)/odeg(u) + reset(v), where
    * `reset` is an expression over the round's dangling mass `dm` and
    * `nodes`' columns (trustRank's `p`). `nodes` carries one row per
    * host; `cached` are released once no returned plan reads them.
    */
  private def rankRounds(g: HostGraph, nodes: DataFrame, init: DataFrame,
                         iters: Int, damping: Double, reset: Column,
                         cached: Seq[DataFrame]): DataFrame =
    Rounds.run(CutFrame(init), iters,
        invariants = cached.map(df => () => { df.unpersist(); () })) { (ranks, _) =>
      val dm = ranks
        .join(g.outdeg, ranks("host") === g.outdeg("src"), "left_anti")
        .agg(gridSum(col("rank")).as("dm"))
      val contrib = g.eDeg
        .join(ranks.withColumnRenamed("host", "src"), "src")
        .groupBy(col("dst"))
        .agg((sum(floor(((lit(damping) * col("rank")) / col("odeg")) * lit(1.0e15)))
          .cast("double") / lit(1.0e15)).as("csum"))
      nodes
        .join(contrib, nodes("host") === contrib("dst"), "left")
        .crossJoin(broadcast(dm))
        .select(nodes("host"), (coalesce(col("csum"), lit(0.0)) + reset).as("rank"))
    }.df

  /** Deterministic PageRank over a directed host graph.
    *
    * Multi-edges are collapsed (DISTINCT src→dst) so out-degree is the
    * count of distinct link targets; self-loops are kept as given.
    * Dangling nodes (no out-edges) redistribute their mass uniformly,
    * the textbook formulation:
    *
    *   r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/odeg(u) + d·(Σ_dangling r)/N
    *
    * @param edges  edge list; only `srcCol`/`dstCol` are read
    * @param iters  fixed power-iteration count (callers needing
    *               convergence detection compare successive outputs)
    * @return one row per host: (host STRING, rank DOUBLE); ranks sum
    *         to ~1 up to the quantization grid
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    val g = hostGraph(edges, srcCol, dstCol)
    val nodes = hosts(g.e).cache()
    val n = nodes.count() // bounded driver scalar: one row per host
    require(n > 0, "pageRank: empty edge list")
    rankRounds(g, nodes, nodes.select(col("host"), lit(1.0 / n).as("rank")),
      iters, damping, uniformReset(n, damping), Seq(nodes))
  }

  /** Unrolled DuckDB mirror of [[pageRank]] for oracle gates: the SQL
    * is GENERATED per iteration from the same formula so the two
    * engines share a single source of truth for the expression tree.
    * `edgesCte` must define a relation `e(src, dst)` (already
    * distinct). Damping is emitted as a SQL literal; pass values with
    * short exact decimal forms (0.85, 0.5, …) so the literal parses to
    * the identical IEEE double the Scala side uses.
    */
  def pageRankOracleSql(edgesCte: String, iters: Int, damping: Double): String = {
    // DuckDB parses bare numeric literals as DECIMAL and computes
    // (1.0 - 0.85) EXACTLY — Scala computes it in IEEE doubles — so
    // every literal is cast to DOUBLE before any arithmetic touches it.
    val d = s"CAST(${damping.toString} AS DOUBLE)"
    val nD = "(SELECT CAST(n AS DOUBLE) FROM nn)"
    val it = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (SELECT CAST(coalesce(sum(CAST(floor(rank * 1.0e15) AS BIGINT)), 0) AS DOUBLE) / 1.0e15 AS dm
         |        FROM $p WHERE host NOT IN (SELECT src FROM outdeg)),
         |c$i AS (SELECT dst, CAST(sum(CAST(floor((($d * rank) / odeg) * 1.0e15) AS BIGINT)) AS DOUBLE) / 1.0e15 AS csum
         |        FROM e JOIN outdeg USING (src) JOIN $p ON $p.host = e.src
         |        GROUP BY dst),
         |r$i AS (SELECT nodes.host,
         |               coalesce(c$i.csum, 0.0) +
         |                 ((CAST(1.0 AS DOUBLE) - $d) / $nD +
         |                  ($d * d$i.dm) / $nD) AS rank
         |        FROM nodes LEFT JOIN c$i ON c$i.dst = nodes.host, d$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |nodes AS (SELECT DISTINCT host FROM
       |            (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |outdeg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |r0 AS (SELECT host, CAST(1.0 AS DOUBLE) / $nD AS rank FROM nodes),
       |$it
       |SELECT host, rank FROM r$iters ORDER BY host""".stripMargin
  }

  /** TrustRank — personalized PageRank whose reset (and dangling)
    * mass flows ONLY to a trusted seed set instead of uniformly to
    * all hosts (Gyöngyi et al., VLDB 2004: propagate trust from a
    * hand-vetted seed list; hosts reachable mostly from spam get
    * scores near zero). The standard host-level spam screen for crawl
    * curation: join the scores onto documents and drop (or
    * down-weight) hosts below a trust floor.
    *
    *   r'(v) = (1−d)·p(v) + d·Σ_{u→v} r(u)/odeg(u) + d·(Σ_dangling r)·p(v)
    *
    * where p(v) = 1/|S| for seed hosts, 0 otherwise; r₀ = p. Same
    * per-iteration shuffle shape, integer-grid quantization and round
    * step as [[pageRank]]. Seeds not present in the
    * graph still receive reset mass (they are added as nodes), so a
    * vetted-but-unlinked host keeps a nonzero score.
    *
    * @param seeds one string column of trusted hosts
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, iters: Int,
                damping: Double = 0.85): DataFrame = {
    val g = hostGraph(edges, srcCol, dstCol)
    val seedHosts = seeds
      .select(col(seeds.columns.head).cast("string").as("host"))
      .distinct()
    val nodes = hosts(g.e, seedHosts).cache()
    val ns = seedHosts.count() // bounded: the vetted seed list
    require(ns > 0, "trustRank: empty seed set")

    val seedP = 1.0 / ns
    val nodesP = nodes
      .join(seedHosts.withColumnRenamed("host", "__seed"),
        nodes("host") === col("__seed"), "left")
      .select(nodes("host"),
        when(col("__seed").isNotNull, lit(seedP)).otherwise(lit(0.0)).as("p"))
      .cache()
    rankRounds(g, nodesP, nodesP.select(col("host"), col("p").as("rank")),
      iters, damping,
      lit(1.0 - damping) * col("p") + (lit(damping) * col("dm")) * col("p"),
      Seq(nodesP, nodes))
  }

  /** Unrolled DuckDB mirror of [[trustRank]]. `graphCte` must define
    * `e(src, dst)` (distinct) AND `s(host)` (the distinct seed set).
    */
  def trustRankOracleSql(graphCte: String, iters: Int, damping: Double): String = {
    val d = s"CAST(${damping.toString} AS DOUBLE)"
    val it = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (SELECT CAST(coalesce(sum(CAST(floor(rank * 1.0e15) AS BIGINT)), 0) AS DOUBLE) / 1.0e15 AS dm
         |        FROM $p WHERE host NOT IN (SELECT src FROM outdeg)),
         |c$i AS (SELECT dst, CAST(sum(CAST(floor((($d * rank) / odeg) * 1.0e15) AS BIGINT)) AS DOUBLE) / 1.0e15 AS csum
         |        FROM e JOIN outdeg USING (src) JOIN $p ON $p.host = e.src
         |        GROUP BY dst),
         |r$i AS (SELECT np.host,
         |               coalesce(c$i.csum, 0.0) +
         |                 ((CAST(1.0 AS DOUBLE) - $d) * np.p +
         |                  ($d * d$i.dm) * np.p) AS rank
         |        FROM np LEFT JOIN c$i ON c$i.dst = np.host, d$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphCte,
       |nodes AS (SELECT DISTINCT host FROM
       |            (SELECT src AS host FROM e UNION ALL SELECT dst FROM e
       |             UNION ALL SELECT host FROM s)),
       |sn AS (SELECT count(*) AS ns FROM s),
       |np AS (SELECT nodes.host,
       |              CASE WHEN nodes.host IN (SELECT host FROM s)
       |                THEN CAST(1.0 AS DOUBLE) / (SELECT CAST(ns AS DOUBLE) FROM sn)
       |                ELSE CAST(0.0 AS DOUBLE) END AS p
       |       FROM nodes),
       |outdeg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |r0 AS (SELECT host, p AS rank FROM np),
       |$it
       |SELECT host, rank FROM r$iters ORDER BY host""".stripMargin
  }

  /** Host-level edge extraction from crawled HTML: every absolute
    * http(s) `href` target reduced to its lowercased host via
    * [[UrlOps.host]], distinct per (document host → target host).
    * Narrow per-row work (regexp + explode) — no shuffle until the
    * final distinct, which is the edge-list dedup any graph build
    * pays. Relative links carry no cross-host signal and are skipped.
    */
  def hostEdgesFromHtml(docs: DataFrame, srcHost: Column, html: Column,
                        followOnly: Boolean = false): DataFrame = {
    val targets =
      if (!followOnly)
        docs.select(srcHost.cast("string").as("src"),
          explode(regexp_extract_all(html,
            lit("(?i)href\\s*=\\s*[\"']([^\"']+)[\"']"), lit(1))).as("__target"))
      else
        // rel=nofollow carries no endorsement — the PageRank-hygiene
        // mode extracts whole <a> open tags so the rel attribute is
        // visible, then drops nofollow'd ones before taking the href
        docs.select(srcHost.cast("string").as("src"),
            explode(regexp_extract_all(html,
              lit("(?i)<a\\s[^>]*>"), lit(0))).as("__tag"))
          .filter(!col("__tag")
            .rlike("(?i)rel\\s*=\\s*[\"'][^\"']*nofollow"))
          .select(col("src"), regexp_extract(col("__tag"),
            "(?i)href\\s*=\\s*[\"']([^\"']+)[\"']", 1).as("__target"))
    targets
      .filter(col("__target").rlike("(?i)^https?://"))
      .select(col("src"), UrlOps.host(col("__target")).as("dst"))
      .filter(col("dst").isNotNull && col("dst") =!= "")
      .distinct()
  }

  /** Warm-start [[pageRank]]: resume power iteration from a stored
    * rank table instead of uniform — the daily-crawl lifecycle (the
    * [[EmbeddingSearch.rebuildIvfIndex]] discipline applied to the
    * link graph: the graph grows, the persisted scores are nearly
    * right, so refresh from them instead of paying cold-start
    * iterations). Hosts new to the graph start at 1/N; the seeded
    * vector is renormalized to total mass 1 (grid-quantized sum, so
    * the renormalization is as portable and partition-invariant as
    * the iteration itself). With `stored` already at the fixed point
    * and an unchanged graph, one warm iteration moves nothing beyond
    * the quantization grid.
    */
  def pageRankWarm(edges: DataFrame, srcCol: String, dstCol: String,
                   stored: DataFrame, iters: Int,
                   damping: Double = 0.85): DataFrame = {
    val g = hostGraph(edges, srcCol, dstCol)
    val nodes = hosts(g.e).cache()
    val n = nodes.count()
    require(n > 0, "pageRankWarm: empty edge list")

    val seeded = nodes
      .join(stored.select(col("host"), col("rank").as("__stored")),
        Seq("host"), "left")
      .select(col("host"), coalesce(col("__stored"), lit(1.0 / n)).as("rank"))
    val tot = seeded.agg(gridSum(col("rank")).as("tot"))
    val init = seeded.crossJoin(broadcast(tot))
      .select(col("host"), (col("rank") / col("tot")).as("rank"))
    rankRounds(g, nodes, init, iters, damping, uniformReset(n, damping), Seq(nodes))
  }

  /** Mutually-linked host pairs: (a, b) with a→b AND b→a, a < b.
    * Reciprocal linking at the host level is the standard first cut
    * for mirror/farm detection — organic cross-host links are mostly
    * one-directional, mirrors and link farms reciprocate. One
    * self-equi-join of the (already distinct) edge list on the
    * reversed key — shuffle carries host pairs only.
    */
  def mutualPairs(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    e.join(e.select(col("dst").as("__rs"), col("src").as("__rd")),
        col("src") === col("__rs") && col("dst") === col("__rd"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("id1"), col("dst").as("id2"))
  }

  /** Mirror-host clusters: connected components over [[mutualPairs]]
    * ([[DedupClusters.connectedComponents]] works unchanged on string
    * ids — min-label is lexicographic). A cluster is a set of hosts
    * transitively joined by reciprocal links; feed the cluster id to
    * [[Sampling.capPerGroup]] (cap per mirror cluster, not per host)
    * or [[DedupClusters.keepCanonical]] to keep one mirror.
    */
  def mirrorClusters(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    DedupClusters.connectedComponents(mutualPairs(edges, srcCol, dstCol))

  /** HITS hubs & authorities (Kleinberg 1999) — EXACT integer
    * iterations. The textbook mutual recursion
    *
    *   auth_t(v) = Σ_{u→v} hub_{t-1}(u),   hub_t(v) = Σ_{v→w} auth_t(w)
    *
    * run UNNORMALIZED from hub₀ = 1: every score is then an exact
    * integer (the count of length-2t alternating walks ending at v),
    * so DECIMAL(38,0) sums make the whole computation
    * order-invariant and bit-identical cross-engine — the same
    * discipline as [[EmbeddingSearch.powerIteration2]], where the
    * caller normalizes the final vector in doubles downstream (HITS
    * ranking only needs the order, which normalization preserves).
    * Scores grow like (in·out degree)^t: iters ≤ 3 keeps them inside
    * DECIMAL(38,0) for degrees up to ~1e6, and 2-3 iterations already
    * dominate toward the principal singular pair.
    *
    * Shuffle shape per iteration: two host-keyed hash aggregates over
    * the (distinct) edge list joined to a host-sized score vector —
    * no corpus row ever carries more than (host, score). The rounds run
    * on [[Rounds]], like [[pageRank]]'s.
    *
    * @return one row per host: (host STRING, hub DECIMAL(38,0),
    *         auth DECIMAL(38,0))
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 3,
      s"iters in [1, 3] (unnormalized integer scores grow as (degree^2)^iters), got $iters")
    val e = distinctEdges(edges, srcCol, dstCol)
    val nodes = hosts(e).cache()
    val zero = lit(0).cast("decimal(38,0)")
    val init = nodes.select(col("host"),
      lit(1).cast("decimal(38,0)").as("hub"), zero.as("auth"))
    Rounds.run(CutFrame(init), iters,
        invariants = Seq(() => nodes.unpersist())) { (scores, _) =>
      val aSum = e.join(scores.select(col("host").as("src"), col("hub")), "src")
        .groupBy(col("dst")).agg(sum(col("hub")).as("__a"))
      val auth = nodes.join(aSum, nodes("host") === aSum("dst"), "left")
        .select(nodes("host"), coalesce(col("__a"), zero).as("auth"))
      val hSum = e.join(auth.withColumnRenamed("host", "dst"), "dst")
        .groupBy(col("src")).agg(sum(col("auth")).as("__h"))
      auth.join(hSum, auth("host") === hSum("src"), "left")
        .select(auth("host"), coalesce(col("__h"), zero).as("hub"), auth("auth"))
    }.df
  }

  /** Unrolled DuckDB mirror of [[hits]] for oracle gates — generated
    * per iteration from the same recursion so both engines share one
    * source of truth. `edgesCte` must define `e(src, dst)` (already
    * distinct). All sums are exact integers (HUGEINT in DuckDB), so
    * no grid/quantization is needed.
    */
  def hitsOracleSql(edgesCte: String, iters: Int): String = {
    val it = (1 to iters).map { i =>
      val ph = s"h${i - 1}"
      s"""a$i AS (SELECT n.host, coalesce(x.s, 0) AS auth
         |        FROM nodes n LEFT JOIN
         |          (SELECT e.dst AS host, sum($ph.hub) AS s
         |           FROM e JOIN $ph ON $ph.host = e.src GROUP BY e.dst) x
         |          USING (host)),
         |h$i AS (SELECT n.host, coalesce(x.s, 0) AS hub
         |        FROM nodes n LEFT JOIN
         |          (SELECT e.src AS host, sum(a$i.auth) AS s
         |           FROM e JOIN a$i ON a$i.host = e.dst GROUP BY e.src) x
         |          USING (host))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |nodes AS (SELECT DISTINCT host FROM
       |            (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS (SELECT host, CAST(1 AS HUGEINT) AS hub FROM nodes),
       |$it
       |SELECT n.host, CAST(h$iters.hub AS BIGINT) AS hub,
       |       CAST(a$iters.auth AS BIGINT) AS auth
       |FROM nodes n JOIN h$iters USING (host) JOIN a$iters USING (host)
       |ORDER BY n.host""".stripMargin
  }

  /** Multi-source BFS distance from a seed set — the crawl-frontier
    * DEPTH signal: how many link hops a host sits from the vetted
    * seeds (Common-Crawl-style curation caps harvest depth because
    * quality decays with distance from the seed list). Exact integer
    * min-plus iteration, `maxDepth` rounds:
    *
    *   d_t(v) = min(d_{t-1}(v), 1 + min_{u→v} d_{t-1}(u)),  d_0 = 0 on seeds
    *
    * Hosts not reached within `maxDepth` hops are ABSENT from the
    * output (unreachable-at-depth is decidable from absence — no ∞
    * sentinel to overflow). Seeds not present in the graph keep their
    * depth-0 row, mirroring [[trustRank]]'s unlinked-seed rule.
    *
    * Level-order BFS: round k joins ONLY round k−1's newly-reached
    * frontier against the edge list (unit weights mean a settled
    * host's depth can never improve, so re-joining the whole reached
    * set — the naive min-plus formulation the oracle unrolls — does
    * strictly redundant work; the two are output-identical). State is
    * one row per reached host; the loop exits early when a round
    * reaches nothing new, so sparse seed sets on disconnected graphs
    * stop in O(reached diameter) rounds, not maxDepth.
    *
    * @return (host STRING, depth BIGINT), depth ∈ [0, maxDepth]
    */
  def seedDistance(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 30,
      s"maxDepth in [1, 30] (each round is a shuffle; real crawl caps are single digits), got $maxDepth")
    val e = distinctEdges(edges, srcCol, dstCol)
    val seedRows = seeds
      .select(col(seeds.columns.head).cast("string").as("host"))
      .distinct()
      .withColumn("depth", lit(0L))
    Rounds.run(CutFrame(seedRows), maxDepth, Rounds.Until.NoNewRows) { (dist, depth) =>
      // hosts first reached THIS round: the previous round's frontier's
      // successors minus everything already settled (left_anti on the
      // reached set)
      val frontier = dist.filter(col("depth") === depth - 1L)
      dist.unionByName(
        e.join(frontier.select(col("host").as("src")), "src")
          .select(col("dst").as("host")).distinct()
          .join(dist, Seq("host"), "left_anti")
          .withColumn("depth", lit(depth.toLong)))
    }.df
  }

  /** Unrolled DuckDB mirror of [[seedDistance]]: `edgesCte` must
    * define `e(src, dst)` (distinct) and `seeds(host)`.
    */
  def seedDistanceOracleSql(edgesCte: String, maxDepth: Int): String = {
    val it = (1 to maxDepth).map { i =>
      val p = s"d${i - 1}"
      s"""d$i AS (SELECT host, min(depth) AS depth FROM (
         |          SELECT host, depth FROM $p
         |          UNION ALL
         |          SELECT e.dst AS host, $p.depth + 1 AS depth
         |          FROM e JOIN $p ON $p.host = e.src)
         |        GROUP BY host)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |d0 AS (SELECT DISTINCT host, CAST(0 AS BIGINT) AS depth FROM seeds),
       |$it
       |SELECT host, depth FROM d$maxDepth ORDER BY host""".stripMargin
  }

  /** Depth screen: keep documents whose host lies within `maxDepth`
    * hops of the seeds per a precomputed [[seedDistance]] table. The
    * distance table is host-cardinality (tiny next to the corpus), so
    * this is one broadcast LEFT SEMI join — the blockScreen
    * discipline; never a corpus shuffle.
    */
  def depthScreen(docs: DataFrame, hostCol: Column, dists: DataFrame,
                  maxDepth: Int): DataFrame = {
    val ok = dists.filter(col("depth") <= maxDepth)
      .select(col("host").as("__okhost"))
    docs.join(broadcast(ok), hostCol === col("__okhost"), "left_semi")
  }

  /** Anchor-text terms per target host: what the web SAYS a host is
    * about — the classic topical/quality signal (link text is
    * author-curated description of the TARGET, not the source). For
    * every absolute http(s) `<a href=…>text</a>` whose inner text is
    * plain (no nested markup), emit the target host with each
    * lowercased anchor token; returns (dst, term, n_links) counts.
    * Counting is per LINK (one host linking twice with the same term
    * counts twice — repetition is signal here, unlike dedup).
    * Per-row regex work then ONE count shuffle keyed (dst, term) with
    * map-side combine; join the result to [[pageRank]] output or feed
    * the per-host top-k via [[graft.functions.TopKAgg]].
    */
  def anchorTexts(docs: DataFrame, html: Column): DataFrame = {
    val anchorRe = "(?i)<a\\s[^>]*href\\s*=\\s*[\"'][^\"']+[\"'][^>]*>[^<]*</a>"
    docs
      .select(explode(regexp_extract_all(html, lit(anchorRe), lit(0))).as("__a"))
      .select(
        regexp_extract(col("__a"),
          "(?i)href\\s*=\\s*[\"']([^\"']+)[\"']", 1).as("__target"),
        lower(regexp_extract(col("__a"), ">([^<]*)<", 1)).as("__text"))
      .filter(col("__target").rlike("(?i)^https?://"))
      .select(UrlOps.host(col("__target")).as("dst"),
        explode(split(trim(col("__text")), "\\s+")).as("term"))
      .filter(col("dst") =!= "" && col("term") =!= "")
      .groupBy(col("dst"), col("term"))
      .agg(count(lit(1)).as("n_links"))
  }
}
