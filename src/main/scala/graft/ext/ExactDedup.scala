package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Exact (full-content) deduplication for document corpora.
  *
  * Spark shape: one hash-aggregate on the content key, keeping the
  * smallest id per group (deterministic winner, unlike dropDuplicates).
  *
  * Scale notes (100 TB): grouping by raw text shuffles the full text.
  * `byContentHash` groups on sha2-256 of the content instead — the
  * shuffle then carries 32 bytes + id per row, and collision probability
  * (~2^-128) is below hardware error rates. Use `byContent` when the
  * oracle must be able to reproduce the grouping in ANSI SQL.
  */
object ExactDedup {

  /** Keeper id + multiplicity per distinct content value. */
  def byContent(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(content.as("__content"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))
      .drop("__content")
      .select(col("keeper_id"), col("n_copies"))

  /** Same, but shuffles a 256-bit digest instead of the content. */
  def byContentHash(df: DataFrame, content: Column, id: Column): DataFrame =
    // spread before the per-row sha2 (runs in the aggregate's map
    // stage — serialized on single-row-group local scans; no-op on
    // multi-split inputs); min/count are order-invariant
    org.apache.spark.sql.GraftBridge.spreadForMapWork(df.toDF(), id)
      .groupBy(sha2(content.cast("string"), 256).as("__h"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))

  /** The deduplicated corpus itself: one row per distinct content, the
    * row with the smallest id wins (left_semi back-join keeps all
    * original columns without shuffling them through the aggregate).
    */
  def dedupedCorpus(df: DataFrame, content: Column, id: Column,
                    idName: String): DataFrame = {
    val keepers = byContentHash(df, content, id)
      .select(col("keeper_id").as(idName))
    df.join(keepers, Seq(idName), "left_semi")
  }

  /** THE content-digest definition — sha2-256 of the content string,
    * 32 bytes regardless of document size. Every exact-dedup path
    * (batch incremental, digest state table, streaming admission)
    * derives from this one expression: a change here (e.g.
    * normalization before hashing) changes them all together, which
    * is what keeps the batch/stream agreement StreamingSpec pins.
    */
  def contentDigest(content: Column): Column =
    sha2(content.cast("string"), 256)

  /** The persisted digest-state form of a corpus: one row per distinct
    * content digest. This IS the state table an incremental pipeline
    * maintains instead of rescanning the corpus: [[incremental]]
    * anti-joins against it, and
    * [[graft.streaming.DocStream.admitNew]] screens a document stream
    * against it statically.
    */
  def digestTable(df: DataFrame, content: Column): DataFrame =
    df.select(contentDigest(content).as("digest")).distinct()

  /** Incremental ingest dedup: rows of `incoming` whose content does
    * not already exist in `existing` — the daily-batch operation of a
    * continuously-built corpus (the reference's batched set-membership
    * dedup, `load_quality.py:114-136`, generalized from key equality
    * to content identity). Also dedups WITHIN the incoming batch
    * (smallest id wins), so the result is directly appendable.
    *
    * Scale: both sides reduce to 32-byte sha2-256 digests before the
    * anti-join — the existing corpus contributes one digest per row
    * (in practice a maintained digest table, not a rescan), and the
    * join shuffles digests, never text.
    */
  def incremental(incoming: DataFrame, existing: DataFrame,
                  content: Column, idName: String): DataFrame = {
    val existingDigests = digestTable(existing, content)
      .select(col("digest").as("__h"))
    val incomingKeyed = incoming
      .withColumn("__h", contentDigest(content))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col(idName))
    incomingKeyed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(existingDigests, Seq("__h"), "left_anti")
      .drop("__h", "__rn")
  }

  /** Cross-source duplication matrix — the governance report behind
    * "how much of source A is already in source B": for every ORDERED
    * pair of distinct sources, the number of distinct contents present
    * in both (`n_shared`) and the number of `src` ROWS whose content
    * also appears in `other` (`n_rows_dup` — the directional overlap
    * burden; it is NOT symmetric when a source holds multiple copies).
    * Mixture planning reads this before weighting sources: two mirrors
    * of the same crawl must not be budgeted as independent mass, and
    * the matrix is where that shows up first.
    *
    * Spark shape: one hash-aggregate to distinct (digest, source,
    * row-count), a digest-keyed self-join whose per-digest fanout is
    * bounded by the number of sources holding that content (squared —
    * tiny against corpus size), and a final (src, other) aggregate.
    * Text never shuffles: the digest is [[contentDigest]], 32 bytes.
    * Intra-source redundancy is deliberately NOT on the diagonal —
    * that is [[byContent]]'s n_copies view; this matrix is the
    * cross-source complement.
    */
  def crossSourceOverlap(df: DataFrame, content: Column,
                         source: Column): DataFrame =
    // two consumers of the per-(digest, source) aggregate — same
    // materialize-once discipline as the shingle frames (the frame is
    // digest + source + count, compact at any corpus size)
    overlapFromState(GraftBridge.persistCut(
      sourcePresenceState(df, content, source)))

  /** The maintained STATE behind [[crossSourceOverlap]]: one row per
    * (content digest, source) with its row count — the same counted-
    * ledger discipline as [[digestTable]]+[[graft.ext.Forget]], so the
    * matrix becomes maintainable without corpus rescans: new batches
    * fold in via [[mergePresenceStates]] (counts are a commutative
    * monoid), takedowns subtract via [[retractPresenceState]] (counts
    * are a group; a presence row dies when its count reaches zero —
    * exactly why the state holds counts and not booleans).
    */
  def sourcePresenceState(df: DataFrame, content: Column,
                          source: Column): DataFrame =
    df.groupBy(contentDigest(content).as("digest"), source.as("src"))
      .agg(count(lit(1)).as("n_rows"))

  /** merge(state(a), state(b)) = state(a ∪ b): one key-shuffle over
    * the compact states, never the corpora.
    */
  def mergePresenceStates(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergePresenceStates: no states")
    states.reduce(_ unionByName _)
      .groupBy("digest", "src")
      .agg(sum(col("n_rows")).cast("long").as("n_rows"))
  }

  /** Takedown propagation for the presence state: subtract the deleted
    * batch's own state; rows whose count reaches zero drop. BOTH
    * desync shapes raise instead of clamping — deleting more copies
    * than the ledger holds, and deleting a (digest, source) the
    * ledger never saw (the full-outer join makes the unknown key
    * visible as a NULL stored count) — because a silently-absorbed
    * bad delete desynchronizes ledger and corpus forever
    * ([[graft.ext.Forget]]'s contract).
    */
  def retractPresenceState(state: DataFrame,
                           deletedState: DataFrame): DataFrame = {
    val d = deletedState.select(col("digest"), col("src"),
      col("n_rows").as("__del"))
    state.join(d, Seq("digest", "src"), "full")
      .withColumn("__left",
        when(col("n_rows").isNull, expr(
          "raise_error('retractPresenceState: deleting content the ledger never saw')"))
          .otherwise(col("n_rows") - coalesce(col("__del"), lit(0L))))
      .withColumn("__left",
        when(col("__left") < 0, expr(
          "raise_error('retractPresenceState: deleting more rows than present')"))
          .otherwise(col("__left")))
      .filter(col("__left") > 0)
      .select(col("digest"), col("src"), col("__left").as("n_rows"))
  }

  /** The duplication matrix from a (possibly merged / retracted)
    * presence state — see [[crossSourceOverlap]] for the semantics.
    * Per-digest join fanout is bounded by sources-holding-it squared.
    */
  def overlapFromState(state: DataFrame): DataFrame =
    state.select(col("digest").as("__h"), col("src"),
        col("n_rows").as("__rows"))
      .join(state.select(col("digest").as("__h"), col("src").as("other")),
        Seq("__h"))
      .filter(col("src") =!= col("other"))
      .groupBy("src", "other")
      .agg(count(lit(1)).as("n_shared"),
        sum(col("__rows")).cast("long").as("n_rows_dup"))
}
