package graft.ext

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Near-duplicate cluster canonicalization: connected components over
  * a candidate-pair list, then one keeper per component.
  *
  * LSH families (MinHashLsh / SimHash / EmbeddingSearch) emit PAIRS;
  * an actual dedup pass must then group transitively-linked documents
  * (A~B, B~C ⇒ {A,B,C} is one duplicate cluster) and keep one
  * canonical member. The reference's dedup is key-equality only
  * (`load_hhs.py:96-137`) — transitive closure is the extension a
  * near-dup pipeline needs.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each
  * round rewires the edge set toward a star per component rooted at
  * the component's minimum id:
  *
  *   - large-star(u): link every neighbor v > u to m = min(Γ(u)∪{u})
  *   - small-star(u): over edges directed larger→smaller, link every
  *     smaller neighbor (and u itself) to m = min of them
  *
  * Both preserve connectivity and never create cross-component edges;
  * the fixpoint is a star graph whose root is the component minimum.
  * Unlike min-label propagation (rounds = component DIAMETER — a
  * chain-shaped cluster from template drift needs O(n) rounds and a
  * capped iteration silently SPLITS the component), star contraction
  * converges in O(log n) rounds regardless of diameter, at the same
  * one-shuffle-per-phase cost over the pair list.
  *
  * Scale design:
  *   - All shuffles are over the PAIR list — near-dup pair sets are
  *     orders of magnitude smaller than the corpus
  *     (candidate-proportional by LSH design) — and the edge set only
  *     shrinks toward |nodes| as stars form.
  *   - The rounds run on [[Rounds]]: each round's edge set is a
  *     releasable lineage cut, and the fixpoint test is one fused
  *     aggregate per round — a Pregel-style control-flow read, not a
  *     data collect.
  *   - Hitting maxIter without convergence is an ERROR, never a
  *     partial result: downstream guarantees (leakageSafeSplit's
  *     no-straddle property) depend on component integrity, so a
  *     silently split component is strictly worse than a loud failure.
  *   - Labels converge deterministically (min is order-insensitive),
  *     so results are partition-invariant and oracle-checkable.
  */
object DedupClusters {

  /** Connected components of the undirected graph given by a pair
    * list. Input: columns `id1`, `id2` (one row per candidate pair).
    * Output: (id, component) for every node appearing in any pair,
    * where `component` is the smallest id in the node's component.
    *
    * @throws IllegalStateException if star contraction has not reached
    *         its fixpoint within maxIter rounds (default 30 covers
    *         graphs far beyond 2^30 nodes; non-convergence indicates a
    *         bug or corrupted input, not a tuning problem).
    *
    * Retention note: each round runs under a releasable persisted
    * lineage cut ([[GraftBridge.persistCutFrame]] — plans stay
    * constant-size, and a freed block is recomputed); round N-1's
    * blocks are freed as soon as round N materializes, so in-flight
    * retention is O(1) frames, not O(rounds). What survives the call
    * is the node set + final star edges backing the returned labels —
    * [[connectedComponentsReleasable]] hands back the release for
    * those; the plain entry point leaves them to the session-level
    * sweep (sparkContext.getPersistentRDDs unpersist).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    componentsWithRounds(pairs, maxIter)._1

  /** [[connectedComponents]] returning the labels together with an
    * explicit release handle for the persisted blocks that back them
    * (node set + final star edges). Call `release()` once the labels
    * are consumed (written, counted, joined-and-materialized) —
    * storage returns to its pre-call level, which is what lets a
    * long-lived service session run CC per batch indefinitely
    * (pinned: ScaleCheck's 10-invocation flat-storage probe). The
    * labels remain CORRECT after release (the cut keeps recompute
    * lineage); consuming them again merely re-executes.
    */
  def connectedComponentsReleasable(pairs: DataFrame,
                                    maxIter: Int = 30): (DataFrame, () => Unit) = {
    val (labels, _, release) = componentsImpl(pairs, maxIter)
    (labels, release)
  }

  /** [[connectedComponents]] plus the number of star rounds executed —
    * exposed so tests and ScaleCheck can pin the O(log n) round bound
    * (a 500-link chain must converge in ~log rounds, not 500).
    */
  private[graft] def componentsWithRounds(pairs: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    val (labels, iters, _) = componentsImpl(pairs, maxIter)
    (labels, iters)
  }

  private def componentsImpl(pairs: DataFrame, maxIter: Int): (DataFrame, Int, () => Unit) = {
    // ONE traversal of the caller's pair plan (r17): nodes and edges
    // both derive from the pair list, and materializing each cut
    // straight off `pairs` executed the upstream candidate-generation
    // subtree (LSH banding over the corpus in every cluster gate)
    // TWICE. Cut the raw list once, derive both, release the raw cut.
    // EXCEPT when the pair plan is already cheap to traverse twice —
    // a materialized leaf (the composed gates hand in cut frames) or a
    // plain scan: an extra eager cut there is pure overhead (measured
    // +1.2 s on q215).
    val pairPlanHeavy = {
      import org.apache.spark.sql.catalyst.plans.logical._
      pairs.queryExecution.optimizedPlan.collectFirst {
        case p @ (_: Join | _: Aggregate | _: Generate | _: Window |
                  _: Distinct | _: Deduplicate) => p
      }.isDefined
    }
    val rawCut =
      if (pairPlanHeavy)
        Some(GraftBridge.persistCutFrame(
          pairs.select(col("id1"), col("id2")), eager = true))
      else None
    val raw = rawCut.map(_.df).getOrElse(pairs.select(col("id1"), col("id2")))

    // every node that appears in any pair — the output row contract;
    // kept separately because star rewiring erases singleton self-pairs
    val nodesCut = GraftBridge.persistCutFrame(
      raw.select(col("id1").as("id"))
        .unionAll(raw.select(col("id2").as("id")))
        .distinct(), eager = true)
    val nodes = nodesCut.df

    // canonical directed edge set, larger → smaller; self-loops carry
    // no connectivity. distinct() here bounds every later round by the
    // true edge count (LSH emits the same pair from multiple bands).
    val edgesCut = GraftBridge.persistCutFrame(
      raw
        .select(greatest(col("id1"), col("id2")).as("u"),
          least(col("id1"), col("id2")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), eager = true)
    rawCut.foreach(_.release())

    // Star rounds run over BOUNDED state (the candidate-pair edge set,
    // which only shrinks), so the per-round cost is driver/job overhead,
    // not data (r17 PERF: 8-core beat 32-core on every CC gate; wall ≈
    // 2× in-job time). Rounds runs them non-adaptively in a private
    // session with partitions sized from the measured edge count, and
    // tests the fixpoint with one fused aggregate per round (r18).
    val rounds = Rounds.run(edgesCut, maxIter, Rounds.Until.SameRows,
        adaptive = false) { (edges, _) =>
      // Each phase computes its per-node minimum with a WINDOW over the
      // phase's one hash-exchange — not a groupBy + self-join, which
      // would shuffle the edge set twice per phase. 3 shuffles/round
      // total (large-star window, small-star window, final distinct).

      // ---- large-star: for each node u over the UNDIRECTED
      // neighborhood, attach every strictly larger neighbor to
      // m = min(Γ(u) ∪ {u}).
      val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
      val nbrs = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val afterLarge = nbrs
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        // v > u ≥ m, so (v, m) is already larger→smaller; duplicates
        // ride to the end-of-round distinct (they don't affect mins)
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))

      // ---- small-star: over directed edges (u > v), attach u and all
      // its smaller neighbors to the minimum of them. Both outputs —
      // (v, m) per row with v ≠ m, and one (u, m) per node — emit from
      // ONE windowed pass via a 2-slot explode (no two-branch union,
      // which would recompute the window subtree twice).
      val wUv = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy("v")
      afterLarge
        .withColumn("m", min(col("v")).over(wU))
        .withColumn("__rn", row_number().over(wUv))
        .select(explode(array(
          when(col("v") =!= col("m"),
            struct(col("v").as("u"), col("m").as("v"))),
          when(col("__rn") === 1,
            struct(col("u"), col("m").as("v"))))).as("__e"))
        .filter(col("__e").isNotNull)
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
        .distinct()
    }
    if (!rounds.converged)
      throw new IllegalStateException(
        s"connectedComponents: star contraction did not converge in $maxIter rounds; " +
          "refusing to return possibly-split components (leakage-safety depends on " +
          "component integrity). This indicates corrupted input or a bug, not tuning.")

    // at the fixpoint the edge set is a star per component: (member,
    // root). Emit every node; nodes absent from edges (singletons via
    // self-pairs, or roots) label themselves via the left join.
    val labels = nodes
      .join(rounds.df.withColumnRenamed("u", "id").withColumnRenamed("v", "__root"),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("component"))
    (labels, rounds.rounds, () => { nodesCut.release(); rounds.release() })
  }

  /** Incremental connected components: fold a new batch of candidate
    * pairs into previously-persisted component labels WITHOUT re-deriving
    * pairs for the old corpus. Correctness identity:
    *
    *   incrementalComponents(cc(P_old), P_new) ≡ cc(P_old ∪ P_new)
    *
    * because a component's label table IS a star subgraph (member —
    * root edges) with the same connectivity as the original pairs, and
    * star contraction is indifferent to which spanning structure
    * carries the connectivity. Cost: the old corpus contributes only
    * |labels| star edges (already diameter ≤ 2), so re-convergence is
    * O(log) rounds over |labels| + |new pairs| — no old text is
    * re-read, no old pair list re-materialized. Completes the
    * incremental-ingest family: q58 (exact digests), q66 (near-dup
    * signatures), this (cluster labels).
    *
    * @param prevLabels (id, component) as produced by
    *                   [[connectedComponents]] — e.g. read back from a
    *                   parquet state table.
    * @param newPairs   (id1, id2) candidate pairs from the new batch
    *                   (including pairs that bridge old and new docs —
    *                   the caller probes new docs against stored LSH
    *                   signatures, see MinHashLsh.incrementalPairs).
    */
  def incrementalComponents(prevLabels: DataFrame, newPairs: DataFrame): DataFrame = {
    val starEdges = prevLabels.select(col("id").as("id1"), col("component").as("id2"))
    connectedComponents(starEdges.unionAll(
      newPairs.select(col("id1"), col("id2"))))
  }

  /** Leakage-safe train/val/test split: assign every document to a
    * split by the HASH OF ITS NEAR-DUP COMPONENT, not its own id — so
    * two near-duplicate documents can never land on opposite sides of
    * a train/test boundary (the classic eval-leakage failure: the
    * test doc's near-copy was trained on). Documents in no pair are
    * their own singleton component and split independently.
    *
    * Composition: [[connectedComponents]] over the candidate-pair
    * list (LSH-proportional, not corpus-proportional), left-joined
    * back, then [[Sampling.hashSplit]] on the component id —
    * deterministic, per-component stable, engine-portable (md5).
    * Output: input columns + `component` + `split`.
    *
    * The component frame is joined under reserved names so a caller
    * whose idCol is literally "id" keeps their column; pre-existing
    * `component`/`split` columns in docs are rejected loudly (the
    * output contract would otherwise be ambiguous).
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       cuts: Seq[(String, Int)], salt: String = ""): DataFrame =
    leakageSafeSplitFromComponents(docs, idCol, connectedComponents(pairs),
      cuts, salt)

  /** [[leakageSafeSplit]] over PRECOMPUTED component labels
    * ((id, component) — [[connectedComponents]] output): a pipeline
    * that also canonicalizes ([[keepCanonicalFromComponents]]) runs
    * the iterative CC rounds ONCE and feeds both consumers — the
    * composed-build shape (gate q215), where running CC per consumer
    * would double the most job-heavy stage of the chain.
    */
  def leakageSafeSplitFromComponents(docs: DataFrame, idCol: String,
                                     components: DataFrame,
                                     cuts: Seq[(String, Int)],
                                     salt: String = ""): DataFrame = {
    require(!docs.columns.contains("component") && !docs.columns.contains("split"),
      s"leakageSafeSplit appends 'component' and 'split'; input already has " +
        s"[${docs.columns.filter(c => c == "component" || c == "split").mkString(", ")}] — rename first")
    val comp = components
      .select(col("id").as("__cc_id"), col("component").as("__cc_component"))
    docs.join(comp, docs(idCol) === col("__cc_id"), "left")
      .withColumn("component", coalesce(col("__cc_component"), docs(idCol)))
      .drop("__cc_id", "__cc_component")
      .withColumn("split", Sampling.hashSplit(col("component"), cuts, salt))
  }

  /** Canonical corpus after near-dup clustering: for each component
    * keep the minimum-id member; documents in no pair pass through.
    * `pairs` must carry id1/id2 drawn from `id`'s value space.
    */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    keepCanonicalFromComponents(docs, idCol, connectedComponents(pairs))

  /** [[keepCanonical]] over precomputed component labels — see
    * [[leakageSafeSplitFromComponents]] for when to use which.
    */
  def keepCanonicalFromComponents(docs: DataFrame, idCol: String,
                                  components: DataFrame): DataFrame = {
    val losers = components.filter(col("id") =!= col("component"))
      .select(col("id").as("__loser"))
    // no broadcast hint: on a duplicate-heavy corpus the loser set is
    // corpus-proportional — let AQE pick broadcast when it measures small
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** Canonical corpus by QUALITY: per near-dup component keep the
    * member with the highest `scoreCol` (min id breaks ties);
    * documents in no pair pass through. [[keepCanonical]] keeps the
    * min-ID member — fine when duplicates are byte-identical, wrong
    * for near-dups, where members genuinely differ (boilerplate
    * variants, truncations, OCR noise): crawl order decides what
    * survives instead of the best copy. This is the curation form:
    * score with any per-doc signal already in the frame
    * (quality-classifier output, Gopher pass count, length) and the
    * cluster keeps its best representative.
    *
    * Scale shape: the argmax is `max(struct(score, -id))` per
    * component — an associative+commutative aggregate with map-side
    * partial combine, so a 10M-member template cluster reduces inside
    * each scan task instead of sorting through one reducer (the
    * window-rank formulation would). One pair-list CC, one
    * corpus-shuffle groupBy, one join back; AQE picks broadcast for
    * the winner list when it measures small.
    *
    * `id` must be non-negative (the negation trick needs the order
    * flip to be exact — checked); gate q122 re-derives components,
    * the argmax, and the tiebreak independently in DuckDB SQL.
    */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: String,
               pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    val labeled = docs
      .join(comp, docs(idCol) === col("__cc_id"), "left")
      .withColumn("__comp", coalesce(col("__cc_comp"), docs(idCol)))
      .drop("__cc_id", "__cc_comp")
    val guarded = labeled.withColumn("__negid",
      when(col(idCol) >= 0, -col(idCol))
        .otherwise(raise_error(concat(
          lit(s"keepBest: negative $idCol breaks the argmax tiebreak: "),
          col(idCol).cast("string")))))
    val winners = guarded
      .groupBy(col("__comp"))
      .agg(max(struct(col(scoreCol), col("__negid"))).as("__b"))
      .select((-col("__b.__negid")).as("__win_id"))
    labeled.join(winners, labeled(idCol) === col("__win_id"), "left_semi")
      .drop("__comp")
  }
}
