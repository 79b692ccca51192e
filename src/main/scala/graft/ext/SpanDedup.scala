package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repeated-SPAN removal — exact substring deduplication in the style
  * of "Deduplicating Training Data Makes Language Models Better"
  * (Lee et al., 2021): delete from every document any span of `n` or
  * more consecutive tokens that occurs at least `minCount` times
  * across the whole corpus (including repeats inside one document).
  *
  * This is the REWRITING complement of [[Boilerplate]] (which only
  * MINES frequent grams) and of document-level dedup ([[ExactDedup]] /
  * [[MinHashLsh]], which drop whole rows): license footers, navigation
  * chrome and copy-pasted paragraphs are cut out of otherwise-unique
  * documents, which document-level dedup can never do. Spans longer
  * than `n` are handled for free: every length-`n` window inside a
  * longer duplicated span is itself duplicated, so the union of
  * flagged windows covers the full span.
  *
  * Scale shape (the 100 TB question):
  *   - gram occurrences explode to one row per token position, but the
  *     shuffle key is a fixed-width md5 of the gram — gram TEXT never
  *     shuffles, so shuffle bytes are O(corpus tokens · 32 B)
  *     regardless of `n`.
  *   - ONE grouped count on the gram key; partial aggregation absorbs
  *     the hottest (= most duplicated) grams map-side, so boilerplate
  *     keys do not skew the shuffle.
  *   - flagged occurrences shuffle once more on doc_id (sorted start
  *     list per document — bounded by the document's own token count).
  *   - span masking is a per-row array expression — the native
  *     codegen'd [[graft.functions.SpanMask]] two-pointer sweep,
  *     O(len + |starts|) per row with NO shuffle. Even a document
  *     that is pure boilerplate (every position flagged) costs one
  *     linear pass, so corpus inflation stress stays
  *     input-proportional (q68 runs in the ×10 and ×100 bench tiers).
  *
  * Determinism: md5 keys and integer arithmetic only — bit-identical
  * on any engine, partitioning-invariant (oracle-checkable end to
  * end, q68).
  */
object SpanDedup {

  /** One row per input document:
    * (doc_id, clean_text, n_kept, n_removed) — `clean_text` is the
    * document with every corpus-duplicated n-token span deleted
    * (surviving tokens re-joined with single spaces; whitespace
    * normalization is the documented price of token-level rewriting),
    * `n_kept`/`n_removed` count surviving/deleted tokens.
    */
  def cleanRepeatedSpans(df: DataFrame, id: Column, text: Column,
                         n: Int, minCount: Long = 2L): DataFrame = {
    require(n >= 1 && minCount >= 2, s"need n >= 1, minCount >= 2; got n=$n minCount=$minCount")
    // spread before the per-position gram explode + md5: a
    // single-row-group local scan serializes the pass onto one core;
    // no-op on multi-split inputs. Counts and sorted start lists are
    // order-invariant.
    val dfS = org.apache.spark.sql.GraftBridge.spreadForMapWork(df.toDF(), id)
    val base = dfS.select(id.as("doc_id"), text.as("__text"),
        split(trim(text), "\\s+").as("__t"))
      .withColumn("__len", size(col("__t")))

    // one row per n-gram occurrence; key = md5(gram) as 16-byte BINARY
    // (unhex halves the shuffle/sort key vs the 32-char hex string —
    // the digest is bijective either way, so groups and counts are
    // unchanged), never gram text. Grams come from the native
    // word_ngram_seq loop (one StringBuilder pass per document inside
    // codegen) rather than a slice + concat_ws per exploded position —
    // same trim/\s+ tokenization, same space-joined windows, and the
    // __len >= n guard keeps the short-document "all tokens as one
    // gram" case out, exactly like the slice form it replaces.
    // posexplode is 0-based where the mask positions are 1-based.
    val occ = base
      .filter(col("__len") >= n)
      .select(col("doc_id"),
        posexplode(graft.functions.NGrams.wordNGramSeq(col("__text"), n)))
      .select(col("doc_id"), (col("pos") + 1).as("__s"),
        unhex(md5(col("col").cast("binary"))).as("__g"))

    // corpus-wide occurrence count (multiplicity, not document
    // frequency: a doc repeating its own span twice is also cut) as a
    // WINDOW over the gram key, not a groupBy + join-back: the join
    // formulation planned the occ subtree TWICE (tokenize + explode +
    // md5 over every corpus position — the dominant CPU at blowup
    // scale) and shuffled occ by __g twice (once into the aggregate,
    // once into the join). The window shuffles occ by __g ONCE and
    // counts per gram in place; a hot gram's occurrences land on one
    // reducer either way (the join keyed them identically), and the
    // window buffer spills gracefully. Counts, filter and start lists
    // are value-identical.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
    val starts = occ
      .withColumn("__c", count(lit(1)).over(wg))
      .filter(col("__c") >= minCount)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("__s"))).as("__starts"))

    val st = coalesce(col("__starts"), array().cast("array<int>"))
    // keep token at 1-based position p iff no flagged window covers it
    val kept = graft.functions.SpanMask(col("__t"), st, n)
    base.join(starts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        concat_ws(" ", kept).as("clean_text"),
        size(kept).cast("long").as("n_kept"),
        (col("__len") - size(kept)).cast("long").as("n_removed"))
  }
}
