package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NGrams

/** Benchmark decontamination: remove (or flag) training documents that
  * share any word n-gram with an evaluation corpus.
  *
  * This is the standard pre-training hygiene pass (cf. GPT-3 appendix C
  * / PaLM §6-style 13-gram overlap): a training document is
  * "contaminated" if any of its word n-grams also occurs in any eval
  * document. No analogue exists in the reference (its dedup family —
  * `load_hhs.py:96-137` — is key-equality within one corpus); this is
  * the cross-corpus membership variant a training-data pipeline needs.
  *
  * Scale design (100 TB corpus, MB-scale eval suite):
  *   - The eval side is tiny by construction (benchmarks are thousands
  *     of documents, not billions). Its DISTINCT gram keys are
  *     broadcast, so the training corpus is scanned once with NO
  *     shuffle of training grams — the contamination check is a
  *     map-side broadcast hash semi-join.
  *   - Gram keys travel as 64-bit md5 prefixes (16 hex chars), not
  *     gram text: the broadcast table and the hash probes carry 16
  *     bytes per gram regardless of n. md5 (not xxhash64) keeps the
  *     key engine-portable, so the whole operator is oracle-checkable.
  *   - Shingling runs through the codegen'd [[NGrams]] expression
  *     (distinct n-grams per document in one pass), not interpreted
  *     higher-order functions.
  */
object Decontaminate {

  /** 64-bit-equivalent portable gram key: first 16 hex chars of md5. */
  private def gramKey(g: Column): Column = substring(md5(g.cast("binary")), 1, 16)

  /** Distinct broadcast-ready gram keys of the eval corpus. */
  private def evalGramKeys(evalDocs: DataFrame, text: Column, n: Int): DataFrame =
    evalDocs
      .select(explode(NGrams.wordNGrams(text, n)).as("__g"))
      .select(gramKey(col("__g")).as("__gk"))
      .distinct()

  /** One row per contaminated training document:
    * (doc_id, shared_grams) where shared_grams counts the DISTINCT
    * word n-grams the document shares with the eval corpus.
    */
  def contamination(train: DataFrame, evalDocs: DataFrame,
                    id: Column, text: Column, n: Int): DataFrame = {
    // NGrams.wordNGrams is distinct-per-document, so after the
    // broadcast semi-join a plain count() is the distinct shared count
    train
      .select(id.as("doc_id"), explode(NGrams.wordNGrams(text, n)).as("__g"))
      .select(col("doc_id"), gramKey(col("__g")).as("__gk"))
      .join(broadcast(evalGramKeys(evalDocs, text, n)), "__gk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** SEMANTIC contamination: training vectors whose embedding lies
    * within cosine `tau` of ANY eval-set embedding — the
    * paraphrase-robust complement of the n-gram overlap check above
    * (a reworded benchmark question shares no 8-gram but sits at
    * cosine ≈ 1 in embedding space; the classic failure is an eval
    * suite leaked verbatim OR paraphrased into the crawl).
    *
    * One row per contaminated training vector:
    * (train id, eval_id = nearest eval vector, max_cos, n_hits).
    *
    * Scale shape: the eval side is tiny by construction (benchmark
    * suites) — broadcast; the corpus is scanned ONCE, cosines through
    * the codegen'd [[graft.functions.VecDot]] fold (norms precomputed
    * per side, bit-exact vs a sequential oracle, same discipline as
    * [[EmbeddingSearch.bruteForceTopK]]); per-vector argmax/count via
    * aggregation, no window over the corpus. Cost |corpus|·|eval| dot
    * products, embarrassingly parallel. For eval sets too large to
    * broadcast-multiply, [[byEmbeddingLsh]] prunes candidates first.
    */
  def byEmbedding(train: DataFrame, trainId: String, trainVec: String,
                  evalSet: DataFrame, evalId: String, evalVec: String,
                  tau: Double): DataFrame = {
    val c = train.select(col(trainId).as("__tid"), col(trainVec).as("__tvec"))
      .withColumn("__tn", EmbeddingSearch.norm(col("__tvec")))
    val q = evalSet.select(col(evalId).as("__eid"), col(evalVec).as("__evec"))
      .withColumn("__en", EmbeddingSearch.norm(col("__evec")))
    c.crossJoin(broadcast(q))
      .withColumn("__cos",
        EmbeddingSearch.dot(col("__tvec"), col("__evec")) / (col("__tn") * col("__en")))
      .filter(col("__cos") >= tau)
      .groupBy(col("__tid"))
      .agg(
        // deterministic argmax: highest cosine, lowest eval id on ties
        min(struct(negate(col("__cos")).as("__negcos"), col("__eid").as("__eid"))).as("__best"),
        max(col("__cos")).as("max_cos"),
        count(lit(1)).as("n_hits"))
      .select(col("__tid").as(trainId), col("__best.__eid").as("eval_id"),
        col("max_cos"), col("n_hits"))
  }

  /** Scale path for large eval sets: SRP-bucketed candidate
    * generation (identical b-bit signatures ⇒ candidate) followed by
    * the same exact-cosine confirm. Identical vectors always share a
    * signature, so verbatim leaks are caught with certainty; near-
    * duplicates are caught with SRP's standard collision probability
    * (1 - θ/π)^bits — lower `bits` for recall, higher for pruning.
    * Both sides shuffle on an 8-byte signature; no cross join.
    *
    * `bands` > 1 = OR-amplification over a (bands·bits)-plane
    * signature ([[EmbeddingSearch.srpBandKeys]]): a pair is a
    * candidate if ANY band agrees — catch probability
    * 1-(1-p^bits)^bands instead of p^bits — and each pair is kept
    * only at its FIRST shared band so n_hits/max_cos never
    * double-count (the lshNearDupPairs dedup). A missed paraphrase
    * here is EVAL LEAKAGE, so this screen wants the banded operating
    * points (RecallSpec pins it on planted near-dup contamination:
    * bits=8 bands=4 catches all of it, single-band bits=8 misses some).
    */
  def byEmbeddingLsh(train: DataFrame, trainId: String, trainVec: String,
                     evalSet: DataFrame, evalId: String, evalVec: String,
                     tau: Double, bits: Int = 16, bands: Int = 1): DataFrame = {
    require(bands >= 1 && bits * bands <= 62,
      s"bands*bits must fit a long signature, got bits=$bits bands=$bands")
    val c = train.select(col(trainId).as("__tid"), col(trainVec).as("__tvec"))
      .withColumn("__tsig", EmbeddingSearch.srpSignature(col("__tvec"), bits * bands))
      .withColumn("__tn", EmbeddingSearch.norm(col("__tvec")))
    val q = evalSet.select(col(evalId).as("__eid"), col(evalVec).as("__evec"))
      .withColumn("__esig", EmbeddingSearch.srpSignature(col("__evec"), bits * bands))
      .withColumn("__en", EmbeddingSearch.norm(col("__evec")))
    val joined =
      if (bands == 1) c.join(q, col("__tsig") === col("__esig"))
      else EmbeddingSearch.bandedJoin(c, "__tsig", q, "__esig", bits, bands)
    joined
      .withColumn("__cos",
        EmbeddingSearch.dot(col("__tvec"), col("__evec")) / (col("__tn") * col("__en")))
      .filter(col("__cos") >= tau)
      .groupBy(col("__tid"))
      .agg(
        min(struct(negate(col("__cos")).as("__negcos"), col("__eid").as("__eid"))).as("__best"),
        max(col("__cos")).as("max_cos"),
        count(lit(1)).as("n_hits"))
      .select(col("__tid").as(trainId), col("__best.__eid").as("eval_id"),
        col("max_cos"), col("n_hits"))
  }

  /** The decontaminated training corpus: every row of `train` whose
    * document shares no word n-gram with the eval corpus. Broadcast
    * anti-join — single scan of the training side.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame,
                    id: Column, text: Column, n: Int): DataFrame = {
    val contaminated = contamination(train, evalDocs, id, text, n)
      .select(col("doc_id").as("__cid"))
    // broadcast assumes realistic contamination rates (well under 1%
    // of a web corpus overlaps a benchmark suite at n >= 8); for a
    // pathological corpus drop the hint and let AQE decide
    train.join(broadcast(contaminated), id === col("__cid"), "left_anti")
  }
}
