package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.ext.{MinHashLsh, NgramLm, ShingleJaccard}

/** Streaming document ingest: near-dup screening of a document STREAM
  * against a static corpus-state table — the continuous form of the
  * daily-batch `MinHashLsh.incrementalNearDup` (q66), for pipelines
  * that admit documents as they arrive rather than in batches.
  *
  * The whole plan is STATELESS, which is what makes it a legal and
  * scale-safe streaming query:
  *
  *   - signatures are per-row higher-order-function arithmetic
  *     ([[MinHashLsh.rowSignature]]) — no streaming aggregation, so no
  *     watermark or state store for the signature stage;
  *   - candidates come from a stream-static equi-join on band keys
  *     (static side re-resolved per micro-batch);
  *   - a pair sharing SEVERAL bands would join once per shared band —
  *     instead of a stateful dropDuplicates, each joined row keeps
  *     itself only when its band index equals the pair's FIRST shared
  *     band, recomputed from both signatures carried on the row (band
  *     keys embed their index, so cross-band key collisions cannot
  *     occur). Exactly one output row per matching pair, zero state.
  *
  * Same slot-agreement estimate as the batch form (exact multiples of
  * 1/k); results are row-for-row equal to
  * `MinHashLsh.incrementalNearDup` on the same data (pinned in
  * StreamingSpec). The batch form's `maxBucket` guard is a window over
  * corpus bands and is intentionally not replicated here — pre-filter
  * hot bands OUT of the stored state table instead (one batch pass)
  * when boilerplate bands are a concern.
  */
object DocStream {

  /** @param newDocs    streaming DataFrame of (id, text)
    * @param corpusSigs STATIC signature table from
    *                   [[MinHashLsh.portableSignatures]]: (id, m0..m{k-1})
    * @return streaming (new_id, corpus_id, est_jaccard ≥ threshold)
    */
  def incrementalNearDup(newDocs: DataFrame, id: Column, text: Column,
                         corpusSigs: DataFrame, n: Int = 3, k: Int = 8,
                         bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val sigCols = MinHashLsh.rowSignature(ShingleJaccard.wordShingles(text, n), k)
    val sig = newDocs.select(
      id.as("new_id") +: sigCols.zipWithIndex.map { case (c, i) => c.as(s"__nm$i") }: _*)
    val nBandKeys = MinHashLsh.portableBandKeys(k, bands, "__nm")
    val nb = sig.select(col("new_id") +:
      (0 until k).map(i => col(s"__nm$i")) :+
      posexplode(array(nBandKeys: _*)).as(Seq("__bidx", "__bh")): _*)

    val cBandKeys = MinHashLsh.portableBandKeys(k, bands, "__cm")
    val cb = corpusSigs.select(col("id").as("corpus_id") +:
        (0 until k).map(i => col(s"m$i").as(s"__cm$i")): _*)
      .select(col("corpus_id") +:
        (0 until k).map(i => col(s"__cm$i")) :+
        explode(array(cBandKeys: _*)).as("__bh"): _*)

    val joined = nb.join(cb, "__bh")
    // first shared band of the PAIR, from both signatures on the row
    val firstShared = (0 until bands).foldRight(lit(bands)) { (bd, acc) =>
      when(nBandKeys(bd) === cBandKeys(bd), lit(bd)).otherwise(acc)
    }
    val est = (0 until k)
      .map(i => when(col(s"__nm$i") === col(s"__cm$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    joined
      .filter(col("__bidx") === firstShared)
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("est_jaccard"))
  }

  /** Exact-content admission screen for a document STREAM: pass
    * through only documents whose content digest does NOT already
    * exist in the persisted corpus digest state
    * ([[graft.ext.ExactDedup.digestTable]]) — the streaming face of
    * the batch incremental ingest dedup (q58 semantics), for
    * pipelines that reject re-crawled/re-delivered content on arrival.
    *
    * Stateless: one sha2-256 per row and a stream-static LEFT-ANTI
    * join on the 32-byte digest — no watermark, no state store, and
    * the join shuffles digests, never text. NO broadcast hint: the
    * digest table is corpus-proportional.
    *
    * Intra-stream caveat (the [[routedSplit]] unseen-document
    * pattern): two NEW documents with identical content arriving
    * before the digest state is refreshed both pass — fold admitted
    * digests back into the state table on the batch cadence (or run
    * the watermarked
    * [[graft.streaming.EventStream.dedupedStream]] downstream) to
    * close that window. Pinned in StreamingSpec.
    *
    * @param corpusDigests STATIC (digest) table from
    *                      [[graft.ext.ExactDedup.digestTable]]
    */
  def admitNew(docs: DataFrame, content: Column, corpusDigests: DataFrame): DataFrame = {
    require(!docs.columns.contains("__h"),
      "admitNew reserves '__h'; the input already carries it — rename first")
    docs.withColumn("__h", graft.ext.ExactDedup.contentDigest(content))
      .join(corpusDigests.select(col("digest").as("__h")), Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Leakage-safe split routing for a document STREAM: assign each
    * arriving document to train/val/test by the hash of its NEAR-DUP
    * COMPONENT (from a batch-computed, persisted label table), falling
    * back to its own id for unseen documents — so a streamed document
    * can never land opposite its near-duplicates from the batch
    * corpus. The streaming face of
    * [[graft.ext.DedupClusters.leakageSafeSplit]]: stream-static
    * broadcast join + a pure per-row md5 bucket decision — stateless,
    * no watermark, and the SAME md5 arithmetic as the batch splitter,
    * so batch and stream route every shared document identically
    * (pinned in StreamingSpec).
    *
    * Unseen-document caveat: a NEW document that is a near-dup of a
    * batch document but wasn't in the label table routes by its own
    * id — run [[incrementalNearDup]] on the same stream and fold its
    * pairs into the labels ([[graft.ext.DedupClusters.incrementalComponents]])
    * on the batch cadence to close that gap.
    *
    * @param labels (id, component) from connectedComponents, read from
    *               parquet state; must be a STATIC frame
    */
  def routedSplit(docs: DataFrame, id: Column, labels: DataFrame,
                  cuts: Seq[(String, Int)], salt: String = ""): DataFrame = {
    val comp = labels.select(col("id").as("__cc_id"),
      col("component").as("__cc_component"))
    docs.join(broadcast(comp), id === col("__cc_id"), "left")
      .withColumn("component", coalesce(col("__cc_component"), id))
      .drop("__cc_id", "__cc_component")
      .withColumn("split", graft.ext.Sampling.hashSplit(col("component"), cuts, salt))
  }

  /** N-gram LM quality scoring for a document STREAM: each arriving
    * document gets its [[NgramLm]] score against a static trained
    * model — the streaming face of the q101/q103 curation signal, for
    * pipelines that score (and cut) documents at ingest.
    *
    * Why foreachBatch and not a declarative streaming plan: the score
    * is a pure function of (one row, static model), but expressing it
    * declaratively takes explode → stream-static count-table joins →
    * a per-doc re-aggregation, and THAT final groupBy is a streaming
    * aggregation whose state store holds every doc_id ever seen —
    * unbounded at corpus scale, and no watermark can bound it because
    * document ids never expire. Every document arrives whole in one
    * row, so scoring each micro-batch with the batch scorer is EXACT:
    * per-doc output is independent of how the stream was batched
    * (pinned in StreamingSpec), zero cross-batch state, and the body
    * reuses the oracle-gated batch code verbatim.
    *
    * foreachBatch delivery is at-least-once; compose with
    * [[StreamSink.keyedIdempotent]] semantics in `emit` (scores are
    * deterministic per doc, so key-level dedup is safe) when the sink
    * is not idempotent.
    *
    * @param model trained (typically [[NgramLm.readModel]] from
    *              parquet state); must be STATIC
    * @param emit  receives each scored micro-batch
    *              (doc_id, n_bigrams, n_oov, lm_score)
    */
  def lmScored(docs: DataFrame, id: Column, text: Column,
               model: NgramLm.NgramModel,
               emit: DataFrame => Unit,
               checkpoint: String,
               interpolated: Boolean = true): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(
          if (interpolated) NgramLm.scoreDocsInterpolated(batch, id, text, model)
          else NgramLm.scoreDocs(batch, id, text, model))
      }

  /** Gopher fixed-rule screening at ingest — the cheapest filter in
    * the admission chain, so it runs FIRST on a crawl stream (every
    * rule is a per-row expression over the document's own text: no
    * model, no state, no join). Stateless and batch-invariant by
    * construction ([[graft.ext.QualityFilter.gopherFlags]] reads one
    * row at a time), pinned in StreamingSpec; compose the `passes`
    * column with [[admitNew]]/the decontamination screens for the
    * full admission cascade.
    */
  def gopherScreened(docs: DataFrame, id: Column, text: Column): DataFrame =
    graft.ext.QualityFilter.gopherFlags(docs, id, text)

  /** Hashed-ngram quality scoring at ingest — the streaming face of
    * the q188 classifier: each micro-batch scores against STATIC
    * fitted weights through [[graft.ext.HashedNgram.score]], the
    * exact expression tree the trainer used. Same foreachBatch
    * argument as [[lmScored]]: the score is a pure per-document
    * function (hashed features never cross documents), but the
    * declarative form's per-doc feature re-aggregation would be a
    * streaming groupBy whose state holds every doc_id ever seen —
    * unbounded, unexpirable. Batching a micro-batch through the batch
    * scorer is EXACT (pinned batch-invariant in StreamingSpec), zero
    * cross-batch state.
    *
    * @param weights fitted (bucket, weight) rows from
    *                [[graft.ext.HashedNgram.fit]] — must be STATIC
    * @param emit    receives each scored micro-batch (doc_id, score)
    */
  def hashedScored(docs: DataFrame, id: Column, text: Column,
                   weights: Seq[(Long, Double)],
                   emit: DataFrame => Unit,
                   checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.ext.HashedNgram.score(batch, id, text, weights))
      }

  /** Unigram-vocabulary encode statistics at ingest: each micro-batch
    * runs [[graft.ext.UnigramLm.encode]] against the STATIC serving
    * table. foreachBatch for the [[lmScored]] reason — the batch
    * encode aggregates per doc_id, which as a declarative streaming
    * plan would be an unbounded-state groupBy; per-doc stats are a
    * pure function of one row + the static vocab, so per-micro-batch
    * batch encoding is exact (pinned batch-invariant in
    * StreamingSpec).
    */
  def unigramEncoded(docs: DataFrame, id: Column, text: Column,
                     table: DataFrame,
                     emit: DataFrame => Unit,
                     checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.ext.UnigramLm.encode(batch, id, text, table))
      }

  /** DOM-density extraction at ingest — a pure per-row expression
    * ([[graft.ext.Boilerplate.densityStats]]), so it composes
    * declaratively into any streaming plan like [[gopherScreened]]:
    * stateless, batch-invariant by construction, no watermark.
    * Run it between WARC admission and the text-quality screens so
    * nav/footer chrome never reaches tokenization.
    */
  def densityExtracted(docs: DataFrame, id: Column, html: Column,
                       minChars: Int = 20): DataFrame =
    graft.ext.Boilerplate.densityStats(docs, id, html, minChars)

  /** Byte-level BPE token counting at ingest — a pure per-row
    * codegen'd expression ([[graft.functions.ByteBpe.count]]), so it
    * composes declaratively into any streaming plan like
    * [[densityExtracted]]: stateless, batch-invariant by
    * construction, no watermark. The table (builtin or learned by
    * [[graft.ext.BpeTrain.learnMergesBytes]]) rides inside the
    * expression tree — token-budget accounting on multilingual crawl
    * streams with no OOV risk at the byte level.
    */
  def byteTokenCounted(docs: DataFrame, text: Column,
                       table: graft.functions.MergeTable =
                         graft.functions.ByteBpeUtil.Builtin): DataFrame =
    docs.withColumn("n_byte_tokens",
      graft.functions.ByteBpe.count(text, table))

  /** LZ-coverage repetitiveness screening at ingest
    * ([[graft.ext.CompressionSignal.lzCoverage]] — the deflate
    * screen's oracle-checkable twin). Per document the statistic is a
    * pure function of one row, but the batch implementation explodes
    * gram positions and re-aggregates per doc_id — as a declarative
    * streaming plan that groupBy's state would hold every doc ever
    * seen. foreachBatch through the batch face is EXACT (positions of
    * a document all originate from its single row, so no aggregation
    * ever crosses a micro-batch boundary; pinned batch-invariant in
    * StreamingSpec), zero cross-batch state — the [[hashedScored]]
    * argument.
    */
  def lzScreened(docs: DataFrame, id: Column, text: Column,
                 emit: DataFrame => Unit,
                 checkpoint: String,
                 gram: Int = 8, window: Int = 64,
                 thresholdTenths: Int = 6): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.ext.CompressionSignal.lzCoverage(
          batch, id, text, gram, window, thresholdTenths))
      }

  /** WARC ingest front door for a CRAWL stream: each arriving
    * `.warc.gz`-style blob is inflated and split into records in one
    * per-partition pass ([[graft.ext.Warc.parseRecords]] — the
    * Content-Length-driven walk; mapPartitions is a legal stateless
    * stream op, the [[graft.ext.Multimodal]] precedent), payloads are
    * UTF-8 decoded, and the resulting documents run through the
    * exact-content admission screen ([[admitNew]]) against the
    * persisted corpus digest state — so re-crawled pages die at the
    * door without any corpus text being re-read.
    *
    * Stateless end to end: no watermark, no state store; the one join
    * is stream-static on 32-byte digests. Output: (record_id,
    * target_uri, text) for admitted documents only. Same intra-stream
    * caveat as [[admitNew]] (two copies of NEW content in one
    * micro-batch both pass until digests fold back on the batch
    * cadence).
    */
  def warcAdmitted(blobs: DataFrame, blobId: Column, blob: Column,
                   corpusDigests: DataFrame,
                   gzipped: Boolean = true): DataFrame = {
    val docs = graft.ext.Warc.parseRecords(blobs, blobId, blob, gzipped)
      .select(col("record_id"), col("target_uri"),
              decode(col("payload"), "UTF-8").as("text"))
    admitNew(docs, col("text"), corpusDigests)
  }

  /** Host-trust screen for a document STREAM: stream-static join of
    * arriving documents against a persisted host-score table
    * ([[graft.ext.LinkGraph.trustRank]] output, refreshed on the batch
    * cadence as the crawl's link graph grows) and a `passes` verdict
    * at the given floor. Stateless — the scores are the state, held
    * outside the stream like the IVF/decontamination screens.
    *
    * A host ABSENT from the score table scores 0.0: under TrustRank
    * semantics absence means "no trust path from the seeds", which is
    * exactly the spam default; pass `floor = 0.0` and treat
    * `score > 0` as the screen when unknown-but-linked hosts should
    * still pass.
    *
    * @param scores STATIC (host, rank) from trustRank/pageRank
    */
  /** robots.txt compliance screen for a URL STREAM: stream-static
    * equi-join of arriving documents' hosts against a persisted
    * per-host rule cache ([[graft.ext.Robots.hostRules]] output,
    * refreshed on the crawl cadence as new robots bodies are
    * fetched), with the RFC 9309 longest-match verdict evaluated as
    * a PURE EXPRESSION over the joined rules array
    * ([[graft.ext.Robots.verdict]]) — no aggregation, no watermark,
    * no state store; the rule cache is the state, held outside the
    * stream like the trust/IVF/decontamination screens. A host with
    * no robots entry is allowed (the crawl default). Appends
    * `allowed`.
    */
  def robotsScreened(docs: DataFrame, url: Column,
                     hostRules: DataFrame): DataFrame = {
    require(!docs.columns.contains("allowed"),
      "robotsScreened appends `allowed`; the input already has one")
    docs
      .join(hostRules.select(col("host").as("__rbHost"),
        col("rules").as("__rbRules")),
        graft.ext.UrlOps.host(url) === col("__rbHost"), "left")
      .withColumn("allowed",
        graft.ext.Robots.verdict(col("__rbRules"),
          graft.ext.UrlOps.path(url)))
      .drop("__rbHost", "__rbRules")
  }

  /** Curation-cascade screening at ingest: each micro-batch runs the
    * full batch cascade ([[graft.ext.Curation.survival]]) and emits
    * the per-batch survival flags. foreachBatch for the [[lzScreened]]
    * reason — stages 3/4 (exact dedup, source pass-rate) aggregate
    * per digest/source, which as a declarative streaming plan would
    * hold every digest and source ever seen; per-BATCH semantics are
    * the intended ones at ingest (dedup within the arriving batch
    * against itself; a source's rate judged on the batch's evidence),
    * with corpus-level dedup owned by the persisted-state admission
    * faces ([[admitNew]]). Pinned batch ≡ stream with zero state rows
    * in StreamingSpec.
    */
  def cascadeScreened(docs: DataFrame, id: Column, text: Column,
                      source: Column,
                      p: graft.ext.Curation.CascadeParams,
                      emit: DataFrame => Unit,
                      checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.ext.Curation.survival(batch, id, text, source, p))
      }

  /** The composed streaming ADMISSION front door — the continuous
    * form of the q216 chain: each micro-batch runs per-row quality
    * bounds → exact dedup (batch-internal keep-first, then the
    * persisted-digest screen [[admitNew]]) → the near-dup probe
    * against persisted signatures ([[MinHashLsh.incrementalNearDup]]
    * batch form — the stream is a static frame inside foreachBatch,
    * so the anti-join against the probe's hits is legal) → and the
    * manifest fold ([[graft.ext.Sharding.admitManifest]] — pure
    * addition against the group-cardinality stored manifest). Emits
    * (admitted docs, updated manifest) per batch.
    *
    * foreachBatch for the [[cascadeScreened]] reason: intra-batch
    * keep-first and the hit anti-join are aggregations/self-joins a
    * declarative streaming plan cannot express statelessly, and
    * per-batch semantics ARE the admission semantics. Corpus state
    * (32-byte digests, k-long signatures, per-shard manifest rows) is
    * static and never re-read as text; the caller refolds admitted
    * digests/signatures/manifest on its batch cadence. Pinned
    * stream ≡ per-batch q216 chain in StreamingSpec.
    *
    * DEDUP WINDOWS, stated exactly: EXACT duplicates are screened
    * both within the batch (the keep-first window) and against the
    * corpus ([[admitNew]]); NEAR-duplicates are screened against the
    * persisted corpus signatures only — two mutually-near-dup NEW
    * docs arriving in the SAME micro-batch are both admitted (the
    * probe sees neither in state yet). This is the same caveat as
    * [[admitNew]]'s batch form, one level up: the window closes at
    * the caller's refold cadence, and a caller that needs
    * within-batch near-dup closure runs
    * [[graft.ext.MinHashLsh.selfNearDupEstimate]] over the fresh
    * batch's signatures before folding them in.
    *
    * The admitted frame is cut for the batch and released once `emit`
    * returns: frames used after that are recomputed, not held.
    */
  def corpusAdmitted(docs: DataFrame, id: Column, text: Column,
                     corpusDigests: DataFrame, corpusSigs: DataFrame,
                     storedManifest: DataFrame, nShards: Int,
                     minWords: Long, maxWords: Long,
                     n: Int, k: Int, bands: Int, threshold: Double,
                     emit: (DataFrame, DataFrame) => Unit,
                     checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val nw = size(filter(split(lower(trim(text)), "\\s+"),
          w => w =!= lit(""))).cast("long")
        val qual = batch.filter(nw >= minWords && nw <= maxWords)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(graft.ext.ExactDedup.contentDigest(text)).orderBy(id)
        val fresh = admitNew(
          qual.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn"),
          text, corpusDigests)
        val hits = MinHashLsh.incrementalNearDup(fresh, id, text,
          corpusSigs, n, k, bands, threshold)
        val cut = GraftBridge.persistCutFrame(fresh.join(
          hits.select(col("new_id")).distinct(), id === col("new_id"), "left_anti"))
        val admitted = cut.df
        val updated = graft.ext.Sharding.admitManifest(storedManifest,
          admitted.withColumn("__shard", pmod(id, lit(nShards.toLong))),
          col("__shard"), text, graft.ext.TextAnalysis.charCount(text))
        try emit(admitted, updated) finally cut.release()
      }

  def trustScreened(docs: DataFrame, host: Column, scores: DataFrame,
                    floor: Double): DataFrame = {
    require(!docs.columns.contains("trust") && !docs.columns.contains("passes"),
      "trustScreened appends `trust`/`passes`; the input already has one")
    docs
      .join(scores.select(col("host").as("__trustHost"),
        col("rank").as("__trustScore")), host === col("__trustHost"), "left")
      .withColumn("trust", coalesce(col("__trustScore"), lit(0.0)))
      .withColumn("passes", col("trust") >= lit(floor) &&
        (lit(floor) > 0.0 || col("trust") > 0.0))
      .drop("__trustHost", "__trustScore")
  }
}
