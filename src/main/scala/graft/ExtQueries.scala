package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.CoreQueries.Q
import graft.ext.{Bloom, Boilerplate, Calibrate, Chunking, Decontaminate, DedupClusters, EmbeddingSearch, ExactDedup, Forget, Keywords, MinHashLsh, Mixture, Multimodal, NgramLm, Packing, ParagraphDedup, QualityFilter, QualityModel, QualityTrain, Sampling, SemDedup, Sharding, ShingleJaccard, SimHash, SpanDedup, TextAnalysis, UrlOps}
import graft.functions.KmvSketchAgg
import graft.ops.{Aggs, Cdc}

/** LLM-training-pipeline extension queries (dedup, similarity search,
  * text analysis, event analytics) over the documents/embeddings/events
  * tables — each oracle-checked where ANSI SQL can express it.
  *
  * events.ts reaches these queries as nanoseconds-since-epoch BIGINT
  * regardless of the on-disk encoding ([[Tables.normalizeEventTs]] —
  * TIMESTAMP(NANOS) testdata arrives as ns-longs via nanosAsLong,
  * TIMESTAMP(MICROS) testdata as TIMESTAMP_NTZ converted at the
  * loader); the DuckDB oracles read the same instants with
  * `epoch_ns(ts)`, so the two engines agree bit-for-bit.
  */
object ExtQueries {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    Tables.table(s, dir, name)

  /** Exact content dedup: keeper id + multiplicity per distinct text. */
  val q20 = Q(
    "q20_exact_dedup",
    (s, dir) => {
      import s.implicits._
      ExactDedup.byContent(t(s, dir, "documents"), $"text", $"doc_id")
        .orderBy($"keeper_id")
    },
    Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
            FROM documents GROUP BY text ORDER BY keeper_id"""))

  /** Token / char-class statistics per document. */
  val q21 = Q(
    "q21_token_stats",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(
        $"doc_id",
        TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
        TextAnalysis.charCount($"text").cast("long").as("n_chars_m"),
        TextAnalysis.digitCount($"text").cast("long").as("n_digits"),
        TextAnalysis.spaceCount($"text").cast("long").as("n_spaces"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                   length(text) AS n_chars_m,
                   length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
                   length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_spaces
            FROM documents ORDER BY doc_id"""))

  /** Quality score — one mirrored arithmetic tree, bit-exact. */
  val q22 = Q(
    "q22_quality_score",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(
        $"doc_id",
        TextAnalysis.stopwordCount($"text", TextAnalysis.langWords.head._2)
          .cast("long").as("n_stopwords"),
        TextAnalysis.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    },
    Some("""WITH s AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                          t -> list_contains(['the','a','of','and','is'], t))) AS DOUBLE) AS stop,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ntok,
                     CAST(greatest(length(text), 1) AS DOUBLE) AS nchar,
                     CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS ndig
              FROM documents)
            SELECT doc_id, CAST(stop AS BIGINT) AS n_stopwords,
                   0.4 * (stop / ntok) + 0.3 * (1.0 - ndig / nchar)
                     + 0.3 * least(ntok / 100.0, 1.0) AS quality
            FROM s ORDER BY doc_id"""))

  /** Language-ID heuristic: argmax of per-language stopword hits. */
  val q23 = Q(
    "q23_lang_id",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", $"lang", TextAnalysis.langId($"text").as("pred_lang"))
        .orderBy($"doc_id")
    },
    Some("""WITH s AS (
              SELECT doc_id, lang,
                len(list_filter(string_split_regex(trim(text), '\s+'),
                    t -> list_contains(['the','a','of','and','is'], t))) AS en,
                len(list_filter(string_split_regex(trim(text), '\s+'),
                    t -> list_contains(['der','die','das','und','ist'], t))) AS de,
                len(list_filter(string_split_regex(trim(text), '\s+'),
                    t -> list_contains(['el','los','una','y','es'], t))) AS es,
                len(list_filter(string_split_regex(trim(text), '\s+'),
                    t -> list_contains(['le','les','une','et','est'], t))) AS fr
              FROM documents)
            SELECT doc_id, lang,
                   CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
                        WHEN de >= es AND de >= fr THEN 'de'
                        WHEN es >= fr THEN 'es'
                        ELSE 'fr' END AS pred_lang
            FROM s ORDER BY doc_id"""))

  /** Exact 3-gram Jaccard near-dup pairs on a bounded slice (the
    * unbounded scale path is MinHashLsh; this exact variant is the
    * oracle-checkable rerank kernel).
    */
  val q24 = Q(
    "q24_shingle_jaccard",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").filter($"doc_id" < 120)
      ShingleJaccard.similarPairs(docs, $"doc_id", $"text", 3, 0.66)
        .orderBy($"id1", $"id2")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
            pos AS (SELECT doc_id, text,
                           unnest(generate_series(1, greatest(length(text)-2, 1))) AS i
                    FROM d),
            sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS s FROM pos),
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id id1, b.doc_id id2, count(*) i
                      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT id1, id2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id1
            JOIN sizes sb ON sb.doc_id = id2
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.66
            ORDER BY id1, id2"""))

  /** Brute-force cosine top-5 for 10 query vectors (exact ANN baseline;
    * ordered left-fold dot product makes the doubles bit-match DuckDB's
    * sequential list_inner_product).
    */
  val q25 = Q(
    "q25_embed_topk",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      EmbeddingSearch.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5)
        .select($"qid".as("vec_id"), $"neighbor_id", $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"vec_id", $"rank")
    },
    Some("""WITH c AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                       FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 10),
            pairs AS (SELECT q.qid, c.vec_id AS nid,
                             list_inner_product(qv, v) /
                               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
                      FROM c, q WHERE c.vec_id != q.qid),
            ranked AS (SELECT qid, nid, cos,
                              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
                       FROM pairs)
            SELECT qid AS vec_id, nid AS neighbor_id, rnk AS rank, cos
            FROM ranked WHERE rnk <= 5 ORDER BY vec_id, rank"""))

  /** Hourly event rollup (timestamps surfaced as strings so the ns/µs
    * unit difference between engines can't leak into the hash).
    */
  val q26 = Q(
    "q26_event_hourly",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
        .groupBy(date_format($"ts_us", "yyyy-MM-dd HH:00").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
             Aggs.dsumAsDouble($"value").as("total_value"))
        .orderBy($"hour", $"event_type")
    },
    Some("""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  /** Sessionization: 30-minute-gap sessions per user (lag window over
    * raw ns-longs on both engines → exact integer arithmetic).
    */
  val q27 = Q(
    "q27_sessionize",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val gapNs = 1800L * 1000000000L
      t(s, dir, "events")
        .withColumn("new_sess",
          when(lag($"ts", 1).over(w).isNull || ($"ts" - lag($"ts", 1).over(w)) > gapNs, 1)
            .otherwise(0))
        .groupBy($"user_id")
        .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn FROM events),
            m AS (SELECT user_id,
                         CASE WHEN lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn) IS NULL
                                   OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn)
                                      > 1800000000000 THEN 1 ELSE 0 END AS s
                  FROM e)
            SELECT user_id, CAST(sum(s) AS BIGINT) AS n_sessions, count(*) AS n_events
            FROM m GROUP BY user_id ORDER BY user_id"""))

  /** MinHash-LSH near-dedup over documents ∪ 20 planted mutations (ids
    * shifted by 100000). Hash-based → no SQL oracle (driver records a
    * rows-only check); the planted pairs make the expected output
    * non-empty and order-stable, and NearDupSpec pins exact behavior.
    */
  val q28 = Q(
    "q28_minhash_neardup",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val planted = docs.filter($"doc_id" < 20)
        .select(($"doc_id" + 100000L).as("doc_id"),
          concat($"text", lit(" mutated tail token")).as("text"))
      MinHashLsh.nearDupPairs(docs.unionAll(planted), $"doc_id", $"text",
          n = 3, k = 64, bands = 16, threshold = 0.5,
          shingler = ShingleJaccard.wordShingles _)
        .orderBy($"id1", $"id2")
    },
    None)

  /** SimHash near-dedup, same planted-mutation scheme (rows-only). */
  val q29 = Q(
    "q29_simhash_neardup",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val planted = docs.filter($"doc_id" < 20)
        .select(($"doc_id" + 100000L).as("doc_id"),
          concat($"text", lit(" zz")).as("text"))
      SimHash.nearDupPairs(docs.unionAll(planted), $"doc_id", $"text",
          maxDist = 3, bands = 4)
        .orderBy($"id1", $"id2")
    },
    None)

  /** Multimodal metadata path: synthetic GRFT containers are encoded to
    * binary, decoded per-partition (mapPartitions stub codec), resized.
    * The oracle reproduces the expected METADATA arithmetically — the
    * binary round-trip is exactly what the Spark side must get right.
    */
  val q30 = Q(
    "q30_media_meta",
    (s, dir) => {
      import s.implicits._
      val media = Multimodal.syntheticTable(s, 500)
      val decoded = Multimodal.withMetadata(media.toDF())
      Multimodal.resize(decoded, maxSide = 256)
        .select($"media_id", $"media_type",
          $"meta.width".cast("long").as("width"),
          $"meta.height".cast("long").as("height"),
          $"meta.nFrames".cast("long").as("n_frames"),
          $"resized_width".cast("long").as("resized_width"),
          $"resized_height".cast("long").as("resized_height"))
        .orderBy($"media_id")
    },
    Some("""WITH m AS (
              SELECT i AS media_id,
                     CASE WHEN i % 3 = 0 THEN 'video' ELSE 'image' END AS media_type,
                     64 + (i % 16) * 32 AS width,
                     64 + (i % 9) * 48 AS height,
                     1 + (i % 30) AS n_frames
              FROM range(0, 500) t(i)),
            r AS (SELECT *, least(1.0, CAST(256 AS DOUBLE) / greatest(width, height, 1)) AS scale FROM m)
            SELECT media_id, media_type, width, height, n_frames,
                   CAST(floor(width * scale) AS BIGINT) AS resized_width,
                   CAST(floor(height * scale) AS BIGINT) AS resized_height
            FROM r ORDER BY media_id"""))

  /** Frame sampling (stride 7) over the decoded synthetic media. */
  val q31 = Q(
    "q31_frame_sample",
    (s, dir) => {
      import s.implicits._
      val decoded = Multimodal.withMetadata(Multimodal.syntheticTable(s, 500).toDF())
      Multimodal.sampleFrames(decoded, stride = 7)
        .select($"media_id", $"frame_idx".cast("long").as("frame_idx"))
        .orderBy($"media_id", $"frame_idx")
    },
    Some("""SELECT i AS media_id,
                   unnest(generate_series(0, (1 + (i % 30)) - 1, 7)) AS frame_idx
            FROM range(0, 500) t(i) ORDER BY media_id, frame_idx"""))

  /** Capstone composed pipeline: exact-dedup the corpus → score quality
    * → filter → per-predicted-language rollup. The whole chain is one
    * Catalyst plan and one ANSI mirror — the end-to-end shape of a
    * training-data curation job.
    */
  val q32 = Q(
    "q32_doc_pipeline",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val deduped = ExactDedup.dedupedCorpus(docs, $"text", $"doc_id", "doc_id")
      deduped.select(
          TextAnalysis.langId($"text").as("pred_lang"),
          TextAnalysis.qualityScore($"text").as("quality"),
          TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
        .filter($"quality" >= 0.5)
        .groupBy($"pred_lang")
        .agg(count(lit(1)).as("n_docs"),
             sum($"n_tokens").as("total_tokens"),
             Aggs.davg($"quality").as("avg_quality"))
        .orderBy($"pred_lang")
    },
    Some("""WITH dd AS (SELECT min(doc_id) AS keep FROM documents GROUP BY text),
            d AS (SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT keep FROM dd)),
            s AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                          t -> list_contains(['the','a','of','and','is'], t))) AS DOUBLE) AS stop,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ntok,
                     CAST(greatest(length(text), 1) AS DOUBLE) AS nchar,
                     CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS ndig,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> list_contains(['the','a','of','and','is'], t))) AS en,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> list_contains(['der','die','das','und','ist'], t))) AS de,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> list_contains(['el','los','una','y','es'], t))) AS es,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> list_contains(['le','les','une','et','est'], t))) AS fr
              FROM d),
            m AS (
              SELECT CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
                          WHEN de >= es AND de >= fr THEN 'de'
                          WHEN es >= fr THEN 'es'
                          ELSE 'fr' END AS pred_lang,
                     0.4 * (stop / ntok) + 0.3 * (1.0 - ndig / nchar)
                       + 0.3 * least(ntok / 100.0, 1.0) AS quality,
                     CAST(ntok AS BIGINT) AS n_tokens
              FROM s)
            SELECT pred_lang, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(CAST(quality AS DECIMAL(38,6))) AS DOUBLE) / count(quality) AS avg_quality
            FROM m WHERE quality >= 0.5
            GROUP BY pred_lang ORDER BY pred_lang"""))

  /** JSON extraction over the events props column (beyond-reference):
    * path extraction + typed aggregation, mirrored via DuckDB's json
    * functions.
    */
  val q33 = Q(
    "q33_json_props",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("k_val", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count($"k_val").as("n_with_k"),
             sum($"k_val").as("sum_k"),
             min($"k_val").as("min_k"),
             max($"k_val").as("max_k"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
                   count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Embedding-cosine near-dup pairs over the corpus ∪ 20 planted
    * duplicates (same direction, doubled magnitude — cosine is
    * scale-invariant and ×2 is exact in float, so both engines see
    * bit-identical vectors). Threshold 0.99 isolates the planted pairs
    * (max natural pairwise cosine in this table is ~0.46).
    */
  val q34 = Q(
    "q34_embed_neardup",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
      val planted = emb.filter($"vec_id" < 20)
        .select(($"vec_id" + 100000L).as("vec_id"),
          transform($"embedding", x => x + x).as("embedding"))
      EmbeddingSearch.cosineNearDupPairs(emb.unionAll(planted),
          "vec_id", "embedding", threshold = 0.99)
        .orderBy($"id1", $"id2")
    },
    Some("""WITH planted AS (
              SELECT vec_id + 100000 AS vec_id,
                     list_transform(embedding, x -> CAST(x + x AS FLOAT)) AS embedding
              FROM embeddings WHERE vec_id < 20),
            u AS (SELECT vec_id, embedding FROM embeddings
                  UNION ALL SELECT vec_id, embedding FROM planted),
            c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
            p AS (SELECT a.vec_id id1, b.vec_id id2,
                         list_inner_product(a.v, b.v) /
                           (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cos
                  FROM c a JOIN c b ON a.vec_id < b.vec_id)
            SELECT id1, id2, cos FROM p WHERE cos >= 0.99 ORDER BY id1, id2"""))

  /** Deterministic train/val/test split (~80/10/10) — a pure function
    * of doc_id via md5, reproducible on any engine / partitioning.
    */
  val q35 = Q(
    "q35_hash_split",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          Sampling.hashSplit($"doc_id",
            Seq(("train", 204), ("val", 26), ("test", 26))).as("split"))
        .orderBy($"doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
            v AS (SELECT doc_id,
                         (CASE WHEN ascii(substring(h,1,1)) <= 57
                               THEN ascii(substring(h,1,1)) - 48
                               ELSE ascii(substring(h,1,1)) - 87 END) * 16 +
                         (CASE WHEN ascii(substring(h,2,1)) <= 57
                               THEN ascii(substring(h,2,1)) - 48
                               ELSE ascii(substring(h,2,1)) - 87 END) AS bucket
                  FROM b)
            SELECT doc_id,
                   CASE WHEN bucket < 204 THEN 'train'
                        WHEN bucket < 230 THEN 'val'
                        ELSE 'test' END AS split
            FROM v ORDER BY doc_id"""))

  /** Stratified deterministic sampling: keep 25% of English docs, 50%
    * of everything else (mixture re-weighting as ONE narrow filter).
    */
  val q36 = Q(
    "q36_stratified_sample",
    (s, dir) => {
      import s.implicits._
      val frac = when($"lang" === "en", 64).otherwise(128)
      Sampling.stratifiedSample(t(s, dir, "documents"), $"doc_id", frac, salt = "strat")
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR) || 'strat') AS h
              FROM documents),
            v AS (SELECT doc_id, lang,
                         (CASE WHEN ascii(substring(h,1,1)) <= 57
                               THEN ascii(substring(h,1,1)) - 48
                               ELSE ascii(substring(h,1,1)) - 87 END) * 16 +
                         (CASE WHEN ascii(substring(h,2,1)) <= 57
                               THEN ascii(substring(h,2,1)) - 48
                               ELSE ascii(substring(h,2,1)) - 87 END) AS bucket
                  FROM b)
            SELECT doc_id, lang FROM v
            WHERE bucket < CASE WHEN lang = 'en' THEN 64 ELSE 128 END
            ORDER BY doc_id"""))

  /** Deterministic global shuffle: reproducible pseudo-random training
    * order (position = rank of md5(doc_id)), via the distributed
    * bucket-prefix path — no single-task window bottleneck, no RDD
    * round-trip.
    */
  val q37 = Q(
    "q37_shuffle_order",
    (s, dir) => {
      import s.implicits._
      Sampling.shuffled(t(s, dir, "documents").select($"doc_id"),
          $"doc_id", salt = "ord")
        .select($"doc_id", $"pos")
        .orderBy($"doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'ord') AS h FROM documents)
            SELECT doc_id,
                   row_number() OVER (ORDER BY h, doc_id) AS pos
            FROM b ORDER BY doc_id"""))

  /** As-of join: attach the most recent at-or-before 'view' value to
    * every 'click', per user (point-in-time correctness — the
    * feature-store / time-series operator Spark lacks natively). The
    * right side is pre-aggregated to one row per (user, ts) so the
    * match is deterministic; the oracle mirrors the same union+window
    * merge in ANSI SQL. Timestamps stay ns-longs end to end.
    */
  val q38 = Q(
    "q38_asof_join",
    (s, dir) => {
      import s.implicits._
      // µs-truncate the ns-longs up front: DuckDB reads this parquet at
      // TIMESTAMP(µs) precision, so both engines must order the SAME
      // timeline (sub-µs ordering could otherwise flip at-or-before
      // decisions near ties)
      val ev = t(s, dir, "events")
        .withColumn("tsn", expr("ts div 1000 * 1000"))
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"tsn").agg(max($"value").as("last_view_value"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"tsn")
      graft.ops.AsOfJoin.backward(clicks, views, Seq("user_id"), "tsn", "tsn")
        .select($"event_id", $"user_id", $"tsn".as("ts_ns"), $"last_view_value")
        .orderBy($"event_id")
    },
    Some("""WITH v AS (SELECT user_id, epoch_ns(ts) AS tsn, max(value) AS vv
                       FROM events WHERE event_type = 'view' GROUP BY 1, 2),
            c AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn
                  FROM events WHERE event_type = 'click'),
            u AS (SELECT user_id, tsn, 0 AS side, vv, NULL::BIGINT AS event_id FROM v
                  UNION ALL
                  SELECT user_id, tsn, 1, NULL, event_id FROM c),
            w AS (SELECT user_id, tsn, side, event_id,
                         last_value(vv IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY tsn, side
                           ROWS UNBOUNDED PRECEDING) AS m
                  FROM u)
            SELECT event_id, user_id, tsn AS ts_ns, m AS last_view_value
            FROM w WHERE side = 1 ORDER BY event_id"""))

  /** BPE-style pre-tokenization stats: subword count + fertility
    * (subwords per whitespace token) — LLM token-cost estimation.
    */
  val q39 = Q(
    "q39_subword_tokens",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(
          $"doc_id",
          TextAnalysis.subwordCount($"text").cast("long").as("n_subwords"),
          TextAnalysis.fertility($"text").as("fertility"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE)
                     / len(string_split_regex(trim(text), '\s+')) AS fertility
            FROM documents ORDER BY doc_id"""))

  /** Gopher-style repetition filter stats: most-frequent word-bigram
    * share per document (≈1 ⇒ boilerplate/looping text).
    */
  val q40 = Q(
    "q40_repetition",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.repetitionStats(t(s, dir, "documents"), $"doc_id", $"text", n = 2)
        .withColumnRenamed("__id", "doc_id")
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                          FROM documents),
            idx AS (SELECT doc_id, t,
                           unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
                    FROM toks),
            grams AS (SELECT doc_id,
                             CASE WHEN len(t) < 2 THEN array_to_string(t, ' ')
                                  ELSE t[i] || ' ' || t[i + 1] END AS g
                      FROM idx),
            counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_grams,
                   count(*) AS n_distinct,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_ratio
            FROM counts GROUP BY doc_id ORDER BY doc_id"""))

  /** Pivot: events-per-type counts as one row per user (wide-format
    * feature table; explicit value list keeps the schema deterministic).
    */
  val q41 = Q(
    "q41_pivot",
    (s, dir) => {
      import s.implicits._
      val types = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events")
        .groupBy($"user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select($"user_id" +: types.map(ty =>
          coalesce(col(ty), lit(0L)).as(s"n_$ty")): _*)
        .orderBy($"user_id")
    },
    Some("""SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS n_click,
                   count(*) FILTER (WHERE event_type = 'view') AS n_view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
                   count(*) FILTER (WHERE event_type = 'error') AS n_error
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** SQL-text face with correlated EXISTS + scalar subqueries — the
    * same string runs through spark.sql AND DuckDB. The avg comparison
    * is rewritten as price·N > Σprice over DECIMAL(38,6) so both
    * engines decide every row with exact arithmetic (a double avg
    * could flip rows within an ulp of the threshold).
    */
  private val q42Sql =
    """SELECT c_mktsegment, count(*) AS n_big_spenders
      |FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND CAST(o.o_totalprice AS DECIMAL(38,6)) * (SELECT count(*) FROM orders)
      |        > (SELECT sum(CAST(o_totalprice AS DECIMAL(38,6))) FROM orders))
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val q42 = Q(
    "q42_sql_subqueries",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(q42Sql)
    },
    Some(q42Sql))

  /** One-scan numeric column profiling (nulls, exact distincts,
    * min/max) — the data-quality audit step of an ingest pipeline.
    */
  val q43 = Q(
    "q43_profile",
    (s, dir) => {
      import s.implicits._
      graft.ops.Profile.numeric(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy($"column_name")
    },
    Some("""SELECT 'l_discount' AS column_name, count(*) AS n_rows,
                   count(l_discount) AS n_vals,
                   CAST(count(DISTINCT l_discount) AS BIGINT) AS n_distinct,
                   min(l_discount) AS min_val, max(l_discount) AS max_val
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', count(*), count(l_extendedprice),
                   CAST(count(DISTINCT l_extendedprice) AS BIGINT),
                   min(l_extendedprice), max(l_extendedprice)
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', count(*), count(l_quantity),
                   CAST(count(DISTINCT l_quantity) AS BIGINT),
                   min(l_quantity), max(l_quantity)
            FROM lineitem
            ORDER BY column_name"""))

  /** Two-phase salted aggregation under a deliberately hot key space
    * (5 event types over the whole table) — the skew path produces the
    * SAME exact answer as the plain group-by the oracle runs.
    */
  val q44 = Q(
    "q44_salted_agg",
    (s, dir) => {
      import s.implicits._
      graft.ops.Skew.saltedAgg(t(s, dir, "events"), Seq("event_type"), buckets = 32,
          Seq("n_events" -> count(lit(1)),
            "total_value" -> sum($"value".cast("decimal(38,6)"))),
          n => sum(col(n)))
        .select($"event_type", $"n_events",
          $"total_value".cast("double").as("total_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Oracle SQL for the PORTABLE MinHash pipeline — generated so the
    * slot constants are the single source of truth shared with
    * MinHashLsh.portableMul/portableAdd.
    */
  /** SQL text of MinHashLsh.portableHash32 over a column named `h`
    * (md5 hex): 8 nibbles Horner-folded into a BIGINT in [0, 2^32).
    */
  private[graft] def hornerSql: String = {
    def nibSql(j: Int) =
      s"(CASE WHEN ascii(substring(h,$j,1)) <= 57 THEN ascii(substring(h,$j,1))-48 " +
        s"ELSE ascii(substring(h,$j,1))-87 END)"
    (2 to 8).foldLeft(s"CAST(${nibSql(1)} AS BIGINT)") {
      (acc, j) => s"($acc*16+${nibSql(j)})"
    }
  }

  private def q45Sql: String = {
    val horner = hornerSql
    val slotVals = (0 until 8).map(i =>
      s"($i, ${MinHashLsh.portableMul(i)}, ${MinHashLsh.portableAdd(i)})").mkString(", ")
    val sigCols = (0 until 8).map(i => s"max(CASE WHEN i=$i THEN m END) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { bd =>
      val ms = (bd * 2 until bd * 2 + 2).map(i => s"CAST(m$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, md5(concat_ws(',', '$bd', $ms)) AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 150
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' mutated tail token'
       |  FROM documents WHERE doc_id < 10),
       |toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d),
       |win AS (SELECT doc_id, t,
       |               unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
       |        FROM toks),
       |sh AS (SELECT DISTINCT doc_id,
       |              CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
       |                   ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS s
       |       FROM win),
       |hx AS (SELECT doc_id, s, md5(s) AS h FROM sh),
       |hv AS (SELECT doc_id, $horner AS h32 FROM hx),
       |slots(i, a, b) AS (VALUES $slotVals),
       |mins AS (SELECT doc_id, i, min((h32 * a + b) % 4294967296) AS m
       |         FROM hv CROSS JOIN slots GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, $sigCols FROM mins GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |         FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id1, c.id2, count(*) AS i
       |          FROM cand c
       |          JOIN sh x ON x.doc_id = c.id1
       |          JOIN sh y ON y.doc_id = c.id2 AND y.s = x.s
       |          GROUP BY c.id1, c.id2)
       |SELECT id1, id2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id1
       |JOIN sizes sb ON sb.doc_id = id2
       |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
       |ORDER BY id1, id2""".stripMargin
  }

  /** MinHash+LSH near-dedup, portable variant: the full pipeline (md5
    * base hash, slot permutations, band keys, bucket join, exact
    * rerank) mirrored step-for-step in the oracle — upgrading the
    * minhash FAMILY from rows-only (q28) to hash-checked.
    */
  val q45 = Q(
    "q45_minhash_portable",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val docs = base.filter($"doc_id" < 150)
      val planted = base.filter($"doc_id" < 10)
        .select(($"doc_id" + 100000L).as("doc_id"),
          concat($"text", lit(" mutated tail token")).as("text"))
      MinHashLsh.nearDupPairsPortable(docs.unionAll(planted), $"doc_id", $"text",
          n = 3, k = 8, bands = 4, threshold = 0.5)
        .orderBy($"id1", $"id2")
    },
    Some(q45Sql))

  private def q46Sql: String = {
    val bitVals = (0 until 32).map(b => s"($b, ${1L << b})").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, f, $b AS band, (f // ${1L << (b * 8)}) % 256 AS chunk FROM fp"
    }.mkString(" UNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 150
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' zz' FROM documents WHERE doc_id < 10),
       |toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tk FROM d),
       |hx AS (SELECT doc_id, md5(tk) AS h FROM toks),
       |hv AS (SELECT doc_id, $hornerSql AS h32 FROM hx),
       |bitvals(bit, bv) AS (VALUES $bitVals),
       |votes AS (SELECT doc_id, bit, bv,
       |                 sum(CASE WHEN (h32 // bv) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |          FROM hv CROSS JOIN bitvals GROUP BY 1, 2, 3),
       |fp AS (SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN bv ELSE 0 END) AS BIGINT) AS f
       |       FROM votes GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.f AS f1, b.f AS f2
       |         FROM bands a
       |         JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
       |                     AND a.doc_id < b.doc_id)
       |SELECT id1, id2, CAST(bit_count(xor(f1, f2)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(f1, f2)) <= 3
       |ORDER BY id1, id2""".stripMargin
  }

  /** SimHash near-dedup, portable 32-bit variant: md5-derived token
    * hashes, per-bit vote aggregation, chunk-band pigeonhole join and
    * exact Hamming — mirrored step-for-step in the oracle, upgrading
    * the SimHash family from rows-only (q29) to hash-checked.
    */
  val q46 = Q(
    "q46_simhash_portable",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val docs = base.filter($"doc_id" < 150)
      val planted = base.filter($"doc_id" < 10)
        .select(($"doc_id" + 100000L).as("doc_id"),
          concat($"text", lit(" zz")).as("text"))
      SimHash.nearDupPairsPortable(docs.unionAll(planted), $"doc_id", $"text",
          maxDist = 3, bands = 4)
        .orderBy($"id1", $"id2")
    },
    Some(q46Sql))

  /** PII-style redaction: scrub emails and long digit runs, emit the
    * redacted text plus occurrence counts — hash-comparing the full
    * redacted string pins the transform byte-for-byte. The synthetic
    * corpus contains no PII shapes, so every 5th document gets a
    * deterministic planted contact line (both engines plant the same
    * text) — the scrub provably fires, not vacuously passes.
    */
  val q47 = Q(
    "q47_redact_pii",
    (s, dir) => {
      import s.implicits._
      val planted = t(s, dir, "documents").withColumn("text",
        when($"doc_id" % 5 === 0,
          concat($"text", lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com or call 5551234567")))
          .otherwise($"text"))
      // n_longnums counts on the email-redacted text, so digit runs
      // INSIDE an email (swallowed by <EMAIL>) are not double-counted —
      // the counts reconcile exactly with the placeholders in `redacted`
      val emailScrubbed = regexp_replace($"text",
        TextAnalysis.EmailPattern, "<EMAIL>")
      planted.select(
          $"doc_id",
          TextAnalysis.emailCount($"text").cast("long").as("n_emails"),
          TextAnalysis.longNumberCount(emailScrubbed).cast("long").as("n_longnums"),
          TextAnalysis.redactPii($"text").as("redacted"))
        .orderBy($"doc_id")
    },
    Some("""WITH planted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com or call 5551234567'
                          ELSE text END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(
                        regexp_replace(text,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                        '[0-9]{4,}')) AS BIGINT) AS n_longnums,
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '[0-9]{4,}', '<NUM>', 'g') AS redacted
            FROM planted ORDER BY doc_id"""))

  /** Deterministic training mixture: English docs at weight 3
    * interleaved with everything else at weight 1 — at any prefix of
    * the mix-key order, ~3 en rows arrive per non-en row.
    */
  val q48 = Q(
    "q48_mixture_interleave",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"lang")
      val en = docs.filter($"lang" === "en")
      // null-lang rows must land in SOME source — `=!=` alone drops them
      val rest = docs.filter($"lang".isNull || $"lang" =!= "en")
      Sampling.weightedInterleave(Seq((en, 3), (rest, 1)), "doc_id", salt = "mix")
        .select($"doc_id", $"source_id", $"pos", $"mix_key")
        .orderBy($"mix_key", $"source_id", $"doc_id")
    },
    Some("""WITH en AS (SELECT doc_id, 0 AS source_id, 3 AS w,
                               md5(CAST(doc_id AS VARCHAR) || 'mix') AS h
                        FROM documents WHERE lang = 'en'),
            rest AS (SELECT doc_id, 1 AS source_id, 1 AS w,
                            md5(CAST(doc_id AS VARCHAR) || 'mix') AS h
                     FROM documents WHERE lang IS NULL OR lang != 'en'),
            u AS (SELECT * FROM en UNION ALL SELECT * FROM rest),
            p AS (SELECT doc_id, source_id, w,
                         row_number() OVER (PARTITION BY source_id ORDER BY h, doc_id) AS pos
                  FROM u)
            SELECT doc_id, source_id, pos,
                   (CAST(pos AS DOUBLE) - 0.5) / w AS mix_key
            FROM p ORDER BY mix_key, source_id, doc_id"""))

  /** Word-3-gram CTE chain over a (doc_id, text) relation named `REL`:
    * emits `SELECT DISTINCT doc_id, gram` with q45's tokenize/window
    * shape. Kept as a helper so q49's two corpora share one mirror.
    */
  private def wordGramSql(rel: String): String =
    s"""SELECT DISTINCT doc_id,
       |       CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
       |            ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS g
       |FROM (SELECT doc_id, t,
       |             unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
       |      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |            FROM $rel))""".stripMargin

  /** Benchmark decontamination: training docs sharing any word 3-gram
    * with an eval slice. Plants mutated eval copies into the training
    * side so the overlap join provably fires (vacuity guard). The eval
    * gram keys broadcast — the 100 TB scale story (see Decontaminate).
    */
  val q49 = Q(
    "q49_decontaminate",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val evalDocs = base.filter($"doc_id" % 50 === 0)
      val planted = evalDocs.select(($"doc_id" + 200000L).as("doc_id"),
        concat(lit("prefix token glue "), $"text").as("text"))
      val train = base.filter($"doc_id" % 50 =!= 0).unionAll(planted)
      Decontaminate.contamination(train, evalDocs, $"doc_id", $"text", n = 3)
        .orderBy($"doc_id")
    },
    Some(s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
            |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
            |       UNION ALL
            |       SELECT doc_id + 200000, 'prefix token glue ' || text FROM ev),
            |eg AS (SELECT DISTINCT substring(md5(g), 1, 16) AS gk
            |       FROM (${wordGramSql("ev")})),
            |tg AS (SELECT doc_id, substring(md5(g), 1, 16) AS gk
            |       FROM (${wordGramSql("tr")}))
            |SELECT tg.doc_id, count(*) AS shared_grams
            |FROM tg JOIN eg USING (gk)
            |GROUP BY tg.doc_id
            |ORDER BY tg.doc_id""".stripMargin))

  /** KMV distinct-count sketch per event_type: bounded mergeable
    * k-minimum-values state (KmvSketchAgg) over a portable 32-bit
    * md5-derived hash, estimator arithmetic mirrored exactly in the
    * oracle. k=12 (production would use 1024+) so the estimator branch
    * fires even at the smallest SF's 15 distinct users per group.
    */
  val q50 = Q(
    "q50_kmv_distinct",
    (s, dir) => {
      import s.implicits._
      val k = 12
      val ev = t(s, dir, "events").select($"event_type", $"user_id")
      val sk = ev
        .select($"event_type",
          MinHashLsh.portableHash32($"user_id".cast("string")).as("h32"))
        .groupBy($"event_type")
        .agg(KmvSketchAgg.kMinima($"h32", k).as("mins"))
      // exact count kept separate: a distinct aggregate would force the
      // Expand-based distinct plan around the object-hash sketch agg
      val exact = ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      sk.join(exact, "event_type")
        .select(
          $"event_type",
          $"exact_users",
          size($"mins").cast("long").as("sketch_size"),
          try_element_at($"mins", lit(k)).as("kth_hash"),
          when(size($"mins") < k, size($"mins").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
              try_element_at($"mins", lit(k)).cast("double"))
            .as("est_users"))
        .orderBy($"event_type")
    },
    Some(s"""WITH hx AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
            |hv AS (SELECT DISTINCT event_type, $hornerSql AS h32 FROM hx),
            |rk AS (SELECT event_type, h32,
            |              row_number() OVER (PARTITION BY event_type ORDER BY h32) AS r
            |       FROM hv),
            |sk AS (SELECT event_type, count(*) AS n_le,
            |              max(CASE WHEN r = 12 THEN h32 END) AS kth
            |       FROM rk WHERE r <= 12 GROUP BY event_type),
            |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
            |       FROM events GROUP BY event_type)
            |SELECT s.event_type, e.exact_users,
            |       CAST(s.n_le AS BIGINT) AS sketch_size,
            |       s.kth AS kth_hash,
            |       CASE WHEN s.n_le < 12 THEN CAST(s.n_le AS DOUBLE)
            |            ELSE 11.0 * 4294967296.0 / CAST(s.kth AS DOUBLE) END AS est_users
            |FROM sk s JOIN ex e USING (event_type)
            |ORDER BY s.event_type""".stripMargin))

  /** Top-3 tf-idf keywords per document (smoothed-ratio idf — the ln
    * form differs cross-engine in the last ulp; see Keywords scaladoc).
    */
  val q51 = Q(
    "q51_tfidf_keywords",
    (s, dir) => {
      import s.implicits._
      Keywords.topKeywords(t(s, dir, "documents"), $"doc_id", $"text", k = 3)
        .orderBy($"doc_id", $"rank")
    },
    Some("""WITH toks AS (
            |  SELECT doc_id, unnest(list_filter(
            |           string_split_regex(trim(lower(text)), '\s+'),
            |           tk -> regexp_matches(tk, '^[a-z]{3,}$'))) AS token
            |  FROM documents),
            |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
            |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            |scored AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
            |                  CAST(tf.tf AS DOUBLE) *
            |                    ((CAST(n.n_docs AS DOUBLE) + 1.0) /
            |                     (CAST(df.df AS DOUBLE) + 1.0)) AS score
            |           FROM tf JOIN df USING (token) CROSS JOIN n),
            |rk AS (SELECT *, row_number() OVER
            |                   (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
            |       FROM scored)
            |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
            |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
            |FROM rk WHERE rank <= 3
            |ORDER BY doc_id, rank""".stripMargin))

  /** Quantile-band quality filter: survivors of the [p10, p95] band of
    * n_chars, per-language counts with the cutoffs surfaced. Exact
    * percentile ≡ DuckDB quantile_cont (verified r1).
    */
  val q52 = Q(
    "q52_quantile_filter",
    (s, dir) => {
      import s.implicits._
      QualityFilter.quantileBand(t(s, dir, "documents"), $"n_chars", 0.10, 0.95)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"),
          min($"cut_lo").as("cut_lo"),
          min($"cut_hi").as("cut_hi"))
        .orderBy($"lang")
    },
    Some("""WITH cuts AS (SELECT quantile_cont(n_chars, 0.10) AS cut_lo,
            |                     quantile_cont(n_chars, 0.95) AS cut_hi
            |              FROM documents),
            |s AS (SELECT d.lang, d.n_chars, c.cut_lo, c.cut_hi
            |      FROM documents d CROSS JOIN cuts c
            |      WHERE CAST(d.n_chars AS DOUBLE) BETWEEN c.cut_lo AND c.cut_hi)
            |SELECT lang, count(*) AS n_docs,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
            |       min(cut_lo) AS cut_lo, min(cut_hi) AS cut_hi
            |FROM s GROUP BY lang ORDER BY lang""".stripMargin))

  /** Planted near-dup corpus + char-3-gram jaccard pair CTEs shared by
    * q53/q54: docs < 60 plus TWO mutated copies of docs < 10, so
    * clusters are transitive (original ~ copyA ~ copyB). Mirrors
    * ShingleJaccard.similarPairs at threshold 0.6 (q24's chain).
    */
  private val clusterCorpusSql: String =
    """d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60
      |      UNION ALL
      |      SELECT doc_id + 300000, text || ' tail a' FROM documents WHERE doc_id < 10
      |      UNION ALL
      |      SELECT doc_id + 600000, text || ' tail b' FROM documents WHERE doc_id < 10),
      |pos AS (SELECT doc_id, text,
      |               unnest(generate_series(1, greatest(length(text)-2, 1))) AS i
      |        FROM d),
      |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS s FROM pos),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id1, b.doc_id id2, count(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id1, id2
      |          FROM inter
      |          JOIN sizes sa ON sa.doc_id = id1
      |          JOIN sizes sb ON sb.doc_id = id2
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6),
      |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
      |          UNION SELECT id2, id1 FROM pairs),
      |reach(id, r) AS (SELECT a, a FROM edges
      |                 UNION
      |                 SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  /** The planted Spark-side corpus matching clusterCorpusSql's `d`. */
  private def clusterCorpus(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    val base = t(s, dir, "documents").select($"doc_id", $"text")
    val p10 = base.filter($"doc_id" < 10)
    base.filter($"doc_id" < 60)
      .unionAll(p10.select(($"doc_id" + 300000L).as("doc_id"),
        concat($"text", lit(" tail a")).as("text")))
      .unionAll(p10.select(($"doc_id" + 600000L).as("doc_id"),
        concat($"text", lit(" tail b")).as("text")))
  }

  /** Near-dup cluster assignment: connected components (iterative
    * min-label propagation) over jaccard candidate pairs — the
    * transitive-closure step after any LSH family. Oracle: DuckDB
    * recursive CTE closure over the same pair chain.
    */
  val q53 = Q(
    "q53_dedup_clusters",
    (s, dir) => {
      import s.implicits._
      val d = clusterCorpus(s, dir)
      val pairs = ShingleJaccard.similarPairs(d, $"doc_id", $"text", 3, 0.6)
      DedupClusters.connectedComponents(pairs).orderBy($"id")
    },
    Some(s"""WITH RECURSIVE
            |$clusterCorpusSql
            |SELECT id, component FROM comp ORDER BY id""".stripMargin))

  /** Canonical corpus after cluster dedup: min-id keeper per
    * component, unpaired docs pass through.
    */
  val q54 = Q(
    "q54_canonical_corpus",
    (s, dir) => {
      import s.implicits._
      val d = clusterCorpus(s, dir)
      val pairs = ShingleJaccard.similarPairs(d, $"doc_id", $"text", 3, 0.6)
      DedupClusters.keepCanonical(d, "doc_id", pairs)
        .select($"doc_id").orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE
            |$clusterCorpusSql,
            |losers AS (SELECT id FROM comp WHERE id <> component)
            |SELECT doc_id FROM d
            |WHERE doc_id NOT IN (SELECT id FROM losers)
            |ORDER BY doc_id""".stripMargin))

  /** Token-budget sequence packing: md5-bucketed offset packing with
    * 512-token bins; every step integer/window arithmetic mirrored in
    * the oracle.
    */
  val q55 = Q(
    "q55_sequence_pack",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id",
        TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      Packing.packByBudget(docs, $"doc_id", $"n_tokens", budget = 512L, salt = "pack")
        .orderBy($"bucket", $"pack_pos")
    },
    Some("""WITH d AS (SELECT doc_id,
            |                 len(string_split_regex(trim(text), '\s+')) AS n,
            |                 md5(CAST(doc_id AS VARCHAR) || 'pack') AS h
            |          FROM documents),
            |v AS (SELECT doc_id, n, h,
            |             (CASE WHEN ascii(substring(h,1,1)) <= 57
            |                   THEN ascii(substring(h,1,1)) - 48
            |                   ELSE ascii(substring(h,1,1)) - 87 END) * 16 +
            |             (CASE WHEN ascii(substring(h,2,1)) <= 57
            |                   THEN ascii(substring(h,2,1)) - 48
            |                   ELSE ascii(substring(h,2,1)) - 87 END) AS bucket
            |      FROM d),
            |p AS (SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
            |             row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS pack_pos,
            |             CAST(sum(n) OVER (PARTITION BY bucket ORDER BY h, doc_id
            |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
            |             CAST(n AS BIGINT) AS nn
            |      FROM v)
            |SELECT doc_id, bucket, CAST(pack_pos AS BIGINT) AS pack_pos,
            |       cum_tokens, (cum_tokens - nn) // 512 AS bin_id
            |FROM p ORDER BY bucket, pack_pos""".stripMargin))

  /** Canonical text normalization with planted messy rows (tabs, CRLF,
    * a bell control byte, double spaces, mixed case) so every branch
    * of the regexp chain provably fires.
    */
  val q56 = Q(
    "q56_normalize_text",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val messy = base.filter($"doc_id" < 20).select(
        ($"doc_id" + 400000L).as("doc_id"),
        concat(lit("  MiXeD \t Case\r\n"), $"text",
          lit("\u0007  trailing   ")).as("text"))
      val d = base.unionAll(messy)
      val norm = TextAnalysis.normalize($"text")
      d.select($"doc_id", norm.as("norm"), ($"text" =!= norm).as("changed"))
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
            |           UNION ALL
            |           SELECT doc_id + 400000,
            |                  '  MiXeD ' || chr(9) || ' Case' || chr(13) || chr(10) ||
            |                  text || chr(7) || '  trailing   '
            |           FROM documents WHERE doc_id < 20),
            |n AS (SELECT doc_id, text,
            |             lower(trim(regexp_replace(
            |               regexp_replace(text, '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
            |               '[ \t\n\r\f\x0b]+', ' ', 'g'))) AS norm
            |      FROM d)
            |SELECT doc_id, norm, text <> norm AS changed
            |FROM n ORDER BY doc_id""".stripMargin))

  /** One deterministic Lloyd k-means step over the embeddings table:
    * first-8-by-id init, bit-exact cosine assignment, DECIMAL(38,6)
    * per-dimension means — centroid rows mirrored per (cell, pos).
    */
  val q57 = Q(
    "q57_kmeans_step",
    (s, dir) => {
      import s.implicits._
      EmbeddingSearch.kmeansCentroids(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 1)
        .select($"cell", $"n_members",
          posexplode($"centroid").as(Seq("pos", "m")))
        .select($"cell", $"pos".cast("long").as("pos"), $"m", $"n_members")
        .orderBy($"cell", $"pos")
    },
    Some("""WITH c AS (SELECT vec_id,
            |                 list_transform(embedding, x -> CAST(x AS DOUBLE)) v
            |          FROM embeddings),
            |cents AS (SELECT vec_id AS ctr_id, v AS cv FROM c ORDER BY vec_id LIMIT 8),
            |scored AS (SELECT c.vec_id, c.v, ctr_id,
            |                  list_inner_product(c.v, cv) /
            |                    (sqrt(list_inner_product(c.v, c.v)) *
            |                     sqrt(list_inner_product(cv, cv))) AS cos
            |           FROM c CROSS JOIN cents),
            |best AS (SELECT vec_id, v, ctr_id FROM (
            |           SELECT vec_id, v, ctr_id,
            |                  row_number() OVER (PARTITION BY vec_id
            |                                     ORDER BY cos DESC, ctr_id) AS rn
            |           FROM scored) WHERE rn = 1),
            |dims AS (SELECT ctr_id, v,
            |                unnest(generate_series(1, len(v))) AS p
            |         FROM best),
            |means AS (SELECT ctr_id, p - 1 AS pos,
            |                 CAST(sum(CAST(v[CAST(p AS INT)] AS DECIMAL(38,6))) AS DOUBLE)
            |                   / count(*) AS m,
            |                 count(*) AS n
            |          FROM dims GROUP BY ctr_id, p)
            |SELECT ctr_id AS cell, CAST(pos AS BIGINT) AS pos, m,
            |       CAST(n AS BIGINT) AS n_members
            |FROM means ORDER BY cell, pos""".stripMargin))

  /** Incremental ingest dedup: an incoming batch checked against the
    * existing corpus by content digest. Planted: 20 incoming rows are
    * content-copies of existing docs (new ids), plus one intra-batch
    * duplicate pair — both planted shapes must be dropped, everything
    * else appended. sha2-256 hex is byte-identical across engines.
    */
  val q58 = Q(
    "q58_incremental_dedup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val existing = base.filter($"doc_id" < 250)
      val fresh = base.filter($"doc_id" >= 250)
        .select(($"doc_id" + 500000L).as("doc_id"), $"text")
      val replayed = base.filter($"doc_id" < 20)
        .select(($"doc_id" + 600000L).as("doc_id"), $"text")
      val intraDup = base.filter($"doc_id" >= 250 && $"doc_id" < 255)
        .select(($"doc_id" + 700000L).as("doc_id"), $"text")
      val incoming = fresh.unionAll(replayed).unionAll(intraDup)
      ExactDedup.incremental(incoming, existing, $"text", "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    },
    Some("""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
            |inc AS (SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id >= 250
            |        UNION ALL
            |        SELECT doc_id + 600000, text FROM documents WHERE doc_id < 20
            |        UNION ALL
            |        SELECT doc_id + 700000, text FROM documents WHERE doc_id >= 250 AND doc_id < 255),
            |keep AS (SELECT doc_id, text FROM (
            |           SELECT doc_id, text,
            |                  row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
            |           FROM inc) WHERE rn = 1)
            |SELECT k.doc_id FROM keep k
            |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE sha256(ex.text) = sha256(k.text))
            |ORDER BY k.doc_id""".stripMargin))

  /** HTML boilerplate stripping with planted markup (script+style
    * blocks, nested tags, all six decoded entities) so every branch of
    * the chain provably fires; composed with normalize for canonical
    * output.
    */
  val q59 = Q(
    "q59_html_extract",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val wrapped = base.filter($"doc_id" < 30).select(
        ($"doc_id" + 800000L).as("doc_id"),
        concat(
          lit("<html><head><STYLE>p {color: red}</STYLE></head><body><p class=\"x\">"),
          $"text",
          lit("</p><script type=\"text/javascript\">var a = \"<tag>\";</script>" +
            "&nbsp;&amp;tail &lt;kept&gt; &quot;q&quot; &#39;s&#39;</body></html>"))
          .as("text"))
      val d = base.unionAll(wrapped)
      val extracted = TextAnalysis.normalize(TextAnalysis.htmlToText($"text"))
      d.select($"doc_id", extracted.as("extracted"),
          ($"text" =!= extracted).as("changed"))
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (
            |  SELECT doc_id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id + 800000,
            |         '<html><head><STYLE>p {color: red}</STYLE></head><body><p class="x">'
            |         || text ||
            |         '</p><script type="text/javascript">var a = "<tag>";</script>&nbsp;&amp;tail &lt;kept&gt; &quot;q&quot; &#39;s&#39;</body></html>'
            |  FROM documents WHERE doc_id < 30),
            |h AS (SELECT doc_id, text,
            |             regexp_replace(regexp_replace(text,
            |               '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
            |               '(?s)<[^>]+>', ' ', 'g') AS t1
            |      FROM d),
            |e AS (SELECT doc_id, text,
            |             regexp_replace(regexp_replace(regexp_replace(
            |               regexp_replace(regexp_replace(regexp_replace(t1,
            |                 '&nbsp;', ' ', 'g'),
            |                 '&lt;', '<', 'g'),
            |                 '&gt;', '>', 'g'),
            |                 '&quot;', '"', 'g'),
            |                 '&#39;', '''', 'g'),
            |                 '&amp;', '&', 'g') AS t2
            |      FROM h),
            |n AS (SELECT doc_id, text,
            |             lower(trim(regexp_replace(regexp_replace(t2,
            |               '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
            |               '[ \t\n\r\f\x0b]+', ' ', 'g'))) AS extracted
            |      FROM e)
            |SELECT doc_id, extracted, text <> extracted AS changed
            |FROM n ORDER BY doc_id""".stripMargin))

  /** Oracle mirror of the q60 Bloom filter, generated so the probe
    * arithmetic (md5 nibble Horner h1/h2, double-hash positions, word
    * packing) has a single source of truth with `Bloom`'s constants.
    * `//` (DuckDB integer division) mirrors Spark's
    * `(p / 32).cast("int")` truncation — CAST(double AS INT) in DuckDB
    * ROUNDS, so the `//` form is load-bearing.
    */
  private def q60Sql: String = {
    def nibAt(j: Int) =
      s"(CASE WHEN ascii(substring(h,$j,1)) <= 57 THEN ascii(substring(h,$j,1))-48 " +
        s"ELSE ascii(substring(h,$j,1))-87 END)"
    def hornerAt(from: Int) =
      (from + 1 until from + 8).foldLeft(s"CAST(${nibAt(from)} AS BIGINT)") {
        (acc, j) => s"($acc*16+${nibAt(j)})"
      }
    val h1 = hornerAt(1); val h2 = hornerAt(9)
    s"""WITH ev AS (SELECT DISTINCT text FROM documents WHERE doc_id % 50 = 0),
       |tr AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 50 <> 0
       |       UNION ALL
       |       SELECT doc_id + 300000, text FROM documents WHERE doc_id % 50 = 0),
       |evh AS (SELECT DISTINCT md5(text) AS h FROM ev),
       |evhh AS (SELECT $h1 AS h1, $h2 AS h2 FROM evh),
       |evp AS (SELECT (h1 + i*(2*h2+1)) % 64 AS p
       |        FROM evhh CROSS JOIN (SELECT unnest(generate_series(0,1)) AS i) g),
       |words AS (SELECT CAST(p // 32 AS INT) AS w,
       |                 bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
       |          FROM evp GROUP BY 1),
       |trh AS (SELECT id, text, md5(text) AS h FROM tr),
       |trhh AS (SELECT id, text, $h1 AS h1, $h2 AS h2 FROM trh),
       |trp AS (SELECT id, text, (h1 + i*(2*h2+1)) % 64 AS p
       |        FROM trhh CROSS JOIN (SELECT unnest(generate_series(0,1)) AS i) g),
       |probe AS (SELECT id, text,
       |                 bool_and((COALESCE(w.word, 0) &
       |                   (CAST(1 AS BIGINT) << CAST(p % 32 AS INT))) <> 0) AS hit
       |          FROM trp LEFT JOIN words w ON CAST(p // 32 AS INT) = w.w
       |          GROUP BY id, text),
       |cand AS (SELECT id, text FROM probe WHERE hit)
       |SELECT c.id, (e.text IS NOT NULL) AS confirmed
       |FROM cand c LEFT JOIN ev e ON c.text = e.text
       |ORDER BY c.id""".stripMargin
  }

  /** Bloom-prefiltered exact-membership decontamination: the filter is
    * undersized ON PURPOSE (64 bits, 2 probes, 10+ keys) so the
    * false-positive branch provably fires (vacuity guard) — FP
    * candidates surface as confirmed=false and never reach the
    * confirmed set, which stays ≡ the exact semi-join. Exact copies of
    * the eval slice are planted into the training side so
    * confirmed=true provably fires too. Production sizing: words
    * chosen for ~10 bits/key (<1% FP), where the filter broadcast is
    * ~100× smaller than the raw key set `Decontaminate` ships.
    */
  val q60 = Q(
    "q60_bloom_decontaminate",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val evalDocs = base.filter($"doc_id" % 50 === 0)
      val planted = evalDocs.select(($"doc_id" + 300000L).as("doc_id"), $"text")
      val train = base.filter($"doc_id" % 50 =!= 0).unionAll(planted)
      Bloom.decontaminateExact(train, evalDocs, $"doc_id", $"text",
          k = 2, words = 2)
        .orderBy($"id")
    },
    Some(q60Sql))

  /** Overlapping token-window chunking (RAG indexing shape): 40-token
    * windows every 30 tokens. Long documents are planted (4× repeats)
    * so the multi-chunk and short-tail branches provably fire; base
    * docs are mostly single-chunk.
    */
  val q61 = Q(
    "q61_token_chunks",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val long = base.filter($"doc_id" % 25 === 0)
        .select(($"doc_id" + 400000L).as("doc_id"),
          repeat(concat($"text", lit(" ")), 4).as("text"))
      Chunking.tokenChunks(base.unionAll(long), $"doc_id", $"text",
          width = 40, stride = 30)
        .orderBy($"doc_id", $"chunk_id")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
            |           UNION ALL
            |           SELECT doc_id + 400000, repeat(text || ' ', 4)
            |           FROM documents WHERE doc_id % 25 = 0),
            |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM d),
            |s AS (SELECT doc_id, t,
            |             unnest(generate_series(1,
            |               1 + 30 * ((greatest(len(t) - 40, 0) + 29) // 30),
            |               30)) AS s
            |      FROM t)
            |SELECT doc_id, CAST((s-1)//30 AS BIGINT) AS chunk_id,
            |       array_to_string(t[s:s+39], ' ') AS chunk,
            |       CAST(least(40, len(t)-s+1) AS BIGINT) AS n_tokens
            |FROM s ORDER BY doc_id, chunk_id""".stripMargin))

  /** URL parse + normalization over synthesized crawl-style URLs
    * (every branch planted: mixed-case scheme/host, userinfo, ccTLD
    * public-suffix hosts, default and non-default ports, utm params
    * leading/trailing/only, `utm_` INSIDE a value (must survive), a
    * '?' inside the fragment (must NOT become a query), fragments).
    * Components and the canonical form are portable regex arithmetic —
    * mirrored verbatim in the oracle (RE2-safe patterns; DuckDB
    * regexp_replace needs the 'g' flag to match Spark's replace-all).
    */
  val q62 = Q(
    "q62_url_normalize",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"lang", $"source")
      val url = concat(
        when($"doc_id" % 3 === 0, lit("HTTPS://"))
          .when($"doc_id" % 3 === 1, lit("http://")).otherwise(lit("https://")),
        when($"doc_id" % 11 === 0, lit("crawler:Secret@")).otherwise(lit("")),
        when($"doc_id" % 6 < 3, upper($"source")).otherwise($"source"),
        when($"doc_id" % 2 === 0, lit(".Example.COM"))
          .otherwise(lit(".example.CO.UK")),
        when($"doc_id" % 5 === 0, lit(":8080"))
          .when($"doc_id" % 5 === 1, lit(":443")).otherwise(lit("")),
        lit("/"), $"lang", lit("/doc/"), $"doc_id".cast("string"),
        when($"doc_id" % 4 === 0, lit("?utm_source=ads&ref=a"))
          .when($"doc_id" % 4 === 1, lit("?ref=butm_k&utm_c=z"))
          .when($"doc_id" % 4 === 2, lit("?utm_only=1")).otherwise(lit("")),
        when($"doc_id" % 7 === 0, lit("#f?x=1")).otherwise(lit("")))
      d.select($"doc_id", url.as("url"))
        .select($"doc_id", $"url",
          UrlOps.scheme($"url").as("scheme"),
          UrlOps.host($"url").as("host"),
          when(UrlOps.portStr($"url") =!= "", UrlOps.portStr($"url").cast("long"))
            .as("port"),
          UrlOps.path($"url").as("path"),
          UrlOps.registeredDomain($"url").as("domain"),
          UrlOps.normalized($"url").as("norm"))
        .orderBy($"doc_id")
    },
    Some("""WITH u AS (SELECT doc_id,
            |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
            |        WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'https://' END)
            |  || (CASE WHEN doc_id % 11 = 0 THEN 'crawler:Secret@' ELSE '' END)
            |  || (CASE WHEN doc_id % 6 < 3 THEN upper(source) ELSE source END)
            |  || (CASE WHEN doc_id % 2 = 0 THEN '.Example.COM'
            |           ELSE '.example.CO.UK' END)
            |  || (CASE WHEN doc_id % 5 = 0 THEN ':8080'
            |           WHEN doc_id % 5 = 1 THEN ':443' ELSE '' END)
            |  || '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR)
            |  || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=ads&ref=a'
            |           WHEN doc_id % 4 = 1 THEN '?ref=butm_k&utm_c=z'
            |           WHEN doc_id % 4 = 2 THEN '?utm_only=1' ELSE '' END)
            |  || (CASE WHEN doc_id % 7 = 0 THEN '#f?x=1' ELSE '' END) AS url
            |  FROM documents),
            |a AS (SELECT doc_id, url,
            |  regexp_replace(regexp_extract(url,
            |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '^[^@]*@', '') AS hp
            |  FROM u),
            |c AS (SELECT doc_id, url,
            |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            |  regexp_extract(lower(hp), '^([^:]+)', 1) AS host,
            |  regexp_extract(hp, ':([0-9]+)$', 1) AS p,
            |  regexp_extract(url,
            |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
            |  regexp_extract(url,
            |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+[^?#]*\?([^#]*)', 1) AS q
            |  FROM a),
            |n AS (SELECT *,
            |  regexp_replace(regexp_replace(q, '(^|&)utm_[^&]*', '', 'g'),
            |                 '^&', '') AS cq,
            |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS l2,
            |  regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) AS l3
            |  FROM c)
            |SELECT doc_id, url, scheme, host,
            |  CAST(NULLIF(p, '') AS BIGINT) AS port,
            |  path,
            |  CASE WHEN l3 <> '' AND l2 IN ('co.uk') THEN l3 ELSE l2 END AS domain,
            |  scheme || '://' || host
            |  || (CASE WHEN p <> '' AND NOT ((scheme = 'http' AND p = '80')
            |             OR (scheme = 'https' AND p = '443'))
            |       THEN ':' || p ELSE '' END)
            |  || (CASE WHEN path = '' THEN '/' ELSE path END)
            |  || (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS norm
            |FROM n ORDER BY doc_id""".stripMargin))

  /** SCD type-2 history from a synthesized CDC stream over customer:
    * v1 full snapshot, v2 upserts for every 10th key, v3 deletes for
    * every 20th — so open, closed-by-upsert and closed-by-delete
    * intervals all provably occur. One window shuffle, no joins
    * (ops.Cdc).
    */
  val q63 = Q(
    "q63_scd2_history",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal", $"c_mktsegment")
      val v1 = c.select($"c_custkey", $"c_acctbal", $"c_mktsegment",
        lit(1).as("v"), lit("U").as("op"))
      val v2 = c.filter($"c_custkey" % 10 === 0)
        .select($"c_custkey", ($"c_acctbal" + 100.0).as("c_acctbal"),
          lit("MOVED").as("c_mktsegment"), lit(2).as("v"), lit("U").as("op"))
      val v3 = c.filter($"c_custkey" % 20 === 0)
        .select($"c_custkey", $"c_acctbal", $"c_mktsegment",
          lit(3).as("v"), lit("D").as("op"))
      Cdc.scd2(v1.unionAll(v2).unionAll(v3), $"c_custkey", $"v", $"op")
        .select($"c_custkey", $"valid_from", $"valid_to", $"is_current",
          $"c_acctbal", $"c_mktsegment")
        .orderBy($"c_custkey", $"valid_from")
    },
    Some("""WITH ch AS (
            |  SELECT c_custkey, c_acctbal, c_mktsegment, 1 AS v, 'U' AS op
            |  FROM customer
            |  UNION ALL
            |  SELECT c_custkey, c_acctbal + 100.0, 'MOVED', 2, 'U'
            |  FROM customer WHERE c_custkey % 10 = 0
            |  UNION ALL
            |  SELECT c_custkey, c_acctbal, c_mktsegment, 3, 'D'
            |  FROM customer WHERE c_custkey % 20 = 0),
            |h AS (SELECT c_custkey, c_acctbal, c_mktsegment, op,
            |             CAST(v AS BIGINT) AS valid_from,
            |             lead(CAST(v AS BIGINT)) OVER
            |               (PARTITION BY c_custkey ORDER BY v) AS valid_to
            |      FROM ch)
            |SELECT c_custkey, valid_from, valid_to,
            |       (valid_to IS NULL AND op = 'U') AS is_current,
            |       c_acctbal, c_mktsegment
            |FROM h WHERE op = 'U'
            |ORDER BY c_custkey, valid_from""".stripMargin))

  /** Corpus-wide boilerplate mining: word bigrams in ≥ 50 distinct
    * documents. A license-footer is planted on every 4th doc (df ≈
    * corpus/4, far above threshold) alongside whatever natural bigrams
    * clear it; top-25 by document frequency, gram-tiebroken.
    */
  val q64 = Q(
    "q64_boilerplate_grams",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val planted = base.filter($"doc_id" % 4 === 0)
        .select($"doc_id",
          concat($"text",
            lit(" released under the synthetic commons license terms"))
            .as("text"))
      val d = base.filter($"doc_id" % 4 =!= 0).unionAll(planted)
      Boilerplate.frequentGrams(d, $"doc_id", $"text", n = 2, minDf = 50L)
        .orderBy($"n_docs".desc, $"gram")
        .limit(25)
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
            |           UNION ALL
            |           SELECT doc_id,
            |                  text || ' released under the synthetic commons license terms'
            |           FROM documents WHERE doc_id % 4 = 0),
            |g AS (SELECT DISTINCT doc_id,
            |             CASE WHEN len(t) < 2 THEN array_to_string(t, ' ')
            |                  ELSE t[i] || ' ' || t[i+1] END AS gram
            |      FROM (SELECT doc_id, t,
            |                   unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
            |            FROM (SELECT doc_id,
            |                         string_split_regex(trim(text), '\s+') AS t
            |                  FROM d)))
            |SELECT gram, count(*) AS n_docs FROM g GROUP BY gram
            |HAVING count(*) >= 50
            |ORDER BY n_docs DESC, gram LIMIT 25""".stripMargin))

  /** Real-tokenizer (BPE merge-loop) token counts per document, next to
    * the q39 pre-tokenizer estimate. The Spark side is one narrow
    * codegen'd expression per row; the oracle mirrors the ENTIRE merge
    * loop as a recursive CTE over the corpus's distinct pre-tokens
    * (one merge per recursion step; the rule table joins on rank so
    * recursion terminates when every word passes rank max(r)) — both
    * sides share one checked-in merge table
    * ([[graft.functions.BpeUtil.mergesSqlValues]]), so the counts are
    * hash-compared exactly. Restricted to doc_id % 3 = 0 to keep the
    * oracle's recursion volume proportionate.
    */
  val q65 = Q(
    "q65_bpe_tokens",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").filter($"doc_id" % 3 === 0)
        .select($"doc_id",
          TextAnalysis.subwordCount($"text").cast("long").as("n_subwords"),
          graft.functions.Bpe.count($"text").as("n_bpe"))
        // always-true filter on the computed column: keeps BpeCount
        // alive under the bench's count() (column pruning would
        // otherwise time a bare scan); result set unchanged
        .filter($"n_bpe" >= 0)
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE
            |d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
            |w AS (SELECT doc_id,
            |             unnest(regexp_extract_all(text,
            |               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
            |      FROM d),
            |wc AS (SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY doc_id, w),
            |dw AS (SELECT DISTINCT w FROM wc),
            |m(r, a, b) AS (VALUES ${graft.functions.BpeUtil.mergesSqlValues}),
            |e(w, s, r) AS (
            |  SELECT w, regexp_extract_all(w, '.'), 1 FROM dw
            |  UNION ALL
            |  SELECT w,
            |         CASE WHEN i IS NULL THEN s
            |              ELSE s[1:i-1] || [s[i] || s[i+1]] || s[i+2:len(s)] END,
            |         CASE WHEN i IS NULL THEN r + 1 ELSE r END
            |  FROM (SELECT e.w AS w, e.s AS s, e.r AS r,
            |               list_filter(generate_series(1, len(e.s) - 1),
            |                 ix -> e.s[ix] = m.a AND e.s[ix + 1] = m.b)[1] AS i
            |        FROM e JOIN m ON m.r = e.r)),
            |n AS (SELECT w, len(s) AS n FROM e
            |      WHERE r = (SELECT max(r) FROM m) + 1)
            |SELECT d.doc_id,
            |       CAST(coalesce(sum(wc.cnt), 0) AS BIGINT) AS n_subwords,
            |       CAST(coalesce(sum(wc.cnt * n.n), 0) AS BIGINT) AS n_bpe
            |FROM d
            |LEFT JOIN wc ON wc.doc_id = d.doc_id
            |LEFT JOIN n ON n.w = wc.w
            |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin))

  private def q66Sql: String = {
    val horner = hornerSql
    val slotVals = (0 until 8).map(i =>
      s"($i, ${MinHashLsh.portableMul(i)}, ${MinHashLsh.portableAdd(i)})").mkString(", ")
    val sigCols = (0 until 8).map(i => s"max(CASE WHEN i=$i THEN m END) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { bd =>
      val ms = (bd * 2 until bd * 2 + 2).map(i => s"CAST(m$i AS VARCHAR)").mkString(", ")
      s"SELECT side, doc_id, md5(concat_ws(',', '$bd', $ms)) AS bk FROM sig"
    }.mkString(" UNION ALL ")
    val agree = (0 until 8)
      .map(i => s"(CASE WHEN ns.m$i = cs.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT 'c' AS side, doc_id, text FROM documents WHERE doc_id < 200
       |  UNION ALL
       |  SELECT 'n', doc_id + 500000, text || ' mutated tail token'
       |  FROM documents WHERE doc_id < 12
       |  UNION ALL
       |  SELECT 'n', doc_id + 500000, text
       |  FROM documents WHERE doc_id >= 20 AND doc_id < 26
       |  UNION ALL
       |  SELECT 'n', doc_id + 500000, text
       |  FROM documents WHERE doc_id >= 300 AND doc_id < 310),
       |toks AS (SELECT side, doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d),
       |win AS (SELECT side, doc_id, t,
       |               unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
       |        FROM toks),
       |sh AS (SELECT DISTINCT side, doc_id,
       |              CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
       |                   ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS s
       |       FROM win),
       |hx AS (SELECT side, doc_id, md5(s) AS h FROM sh),
       |hv AS (SELECT side, doc_id, $horner AS h32 FROM hx),
       |slots(i, a, b) AS (VALUES $slotVals),
       |mins AS (SELECT side, doc_id, i, min((h32 * a + b) % 4294967296) AS m
       |         FROM hv CROSS JOIN slots GROUP BY side, doc_id, i),
       |sig AS (SELECT side, doc_id, $sigCols FROM mins GROUP BY side, doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
       |         FROM bands nb JOIN bands cb
       |           ON nb.bk = cb.bk AND nb.side = 'n' AND cb.side = 'c')
       |SELECT cand.new_id, cand.corpus_id,
       |       CAST($agree AS DOUBLE) / 8 AS est_jaccard
       |FROM cand
       |JOIN sig ns ON ns.side = 'n' AND ns.doc_id = cand.new_id
       |JOIN sig cs ON cs.side = 'c' AND cs.doc_id = cand.corpus_id
       |WHERE CAST($agree AS DOUBLE) / 8 >= 0.5
       |ORDER BY new_id, corpus_id""".stripMargin
  }

  /** Incremental near-dup ingest: a new batch (mutated replays of
    * corpus docs, exact replays, and genuinely new docs — every branch
    * planted) probed against the corpus's STORED portable MinHash
    * signatures; the corpus text is never re-shingled. Slot-agreement
    * estimates are exact multiples of 1/8, hash-compared against a
    * full SQL mirror of signature build + banding + bipartite probe.
    * (The parquet round-trip of the signature state is pinned in
    * NearDupSpec — same math, so the inline form here is what the
    * oracle can see.)
    */
  val q66 = Q(
    "q66_incremental_neardup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val corpusSigs = MinHashLsh.portableSignatures(
        base.filter($"doc_id" < 200), $"doc_id", $"text", n = 3, k = 8)
      val newBatch = base.filter($"doc_id" < 12)
        .select(($"doc_id" + 500000L).as("doc_id"),
          concat($"text", lit(" mutated tail token")).as("text"))
        .unionAll(base.filter($"doc_id" >= 20 && $"doc_id" < 26)
          .select(($"doc_id" + 500000L).as("doc_id"), $"text"))
        .unionAll(base.filter($"doc_id" >= 300 && $"doc_id" < 310)
          .select(($"doc_id" + 500000L).as("doc_id"), $"text"))
      MinHashLsh.incrementalNearDup(newBatch, $"doc_id", $"text", corpusSigs,
          n = 3, k = 8, bands = 4, threshold = 0.5)
        .orderBy($"new_id", $"corpus_id")
    },
    Some(q66Sql))

  private def q67Sql: String =
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
       |wo AS (SELECT doc_id,
       |              unnest(regexp_extract_all(text,
       |                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS wd,
       |              unnest(generate_series(1, len(regexp_extract_all(text,
       |                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))) AS i
       |       FROM d),
       |dw AS (SELECT DISTINCT wd AS w FROM wo),
       |m(r, a, b) AS (VALUES ${graft.functions.BpeUtil.mergesSqlValues}),
       |e(w, s, r) AS (
       |  SELECT w, regexp_extract_all(w, '.'), 1 FROM dw
       |  UNION ALL
       |  SELECT w,
       |         CASE WHEN i IS NULL THEN s
       |              ELSE s[1:i-1] || [s[i] || s[i+1]] || s[i+2:len(s)] END,
       |         CASE WHEN i IS NULL THEN r + 1 ELSE r END
       |  FROM (SELECT e.w AS w, e.s AS s, e.r AS r,
       |               list_filter(generate_series(1, len(e.s) - 1),
       |                 ix -> e.s[ix] = m.a AND e.s[ix + 1] = m.b)[1] AS i
       |        FROM e JOIN m ON m.r = e.r)),
       |n AS (SELECT w, s FROM e WHERE r = (SELECT max(r) FROM m) + 1),
       |seq AS (SELECT d.doc_id, coalesce(x.t, CAST([] AS VARCHAR[])) AS t
       |        FROM d LEFT JOIN
       |          (SELECT wo.doc_id, flatten(list(n.s ORDER BY wo.i)) AS t
       |           FROM wo JOIN n ON n.w = wo.wd GROUP BY wo.doc_id) x
       |        ON x.doc_id = d.doc_id),
       |st AS (SELECT doc_id, t,
       |              unnest(generate_series(1,
       |                1 + 48 * ((greatest(len(t) - 64, 0) + 47) // 48),
       |                48)) AS s
       |       FROM seq)
       |SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
       |       array_to_string(t[s:s + 63], ' ') AS chunk,
       |       CAST(least(64, len(t) - s + 1) AS BIGINT) AS n_tokens
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  /** Context-window chunking in REAL tokenizer units: 64-BPE-token
    * windows every 48 over each document's full token sequence. The
    * oracle re-derives per-doc token STREAMS (q65's recursive merge
    * loop over distinct pre-tokens, flattened back in occurrence
    * order) and mirrors the stride-grid window math — chunk text and
    * counts hash-compared exactly.
    */
  val q67 = Q(
    "q67_bpe_chunks",
    (s, dir) => {
      import s.implicits._
      Chunking.bpeTokenChunks(
          t(s, dir, "documents").filter($"doc_id" % 7 === 0),
          $"doc_id", $"text", width = 64, stride = 48)
        .orderBy($"doc_id", $"chunk_id")
    },
    Some(q67Sql))

  /** Repeated-span removal (exact substring dedup, Lee et al. 2021
    * style): every 5-token span occurring ≥ 2 times corpus-wide is cut
    * from every document. A shared license span is planted on every
    * 5th doc (its 4 interior 5-grams are duplicated across ~100 docs;
    * the windows straddling unique text survive, so exactly the
    * planted suffix is removed) — natural duplicates (the corpus's
    * exact-dup docs) exercise the whole-document path. Rewritten text,
    * kept and removed token counts hash-compared against a full SQL
    * mirror (gram → hot-gram → covered-position anti-join → rebuild).
    */
  val q68 = Q(
    "q68_span_dedup",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id",
        when($"doc_id" % 5 === 0,
          concat($"text",
            lit(" shared boilerplate sentinel span alpha beta gamma delta")))
          .otherwise($"text").as("text"))
      SpanDedup.cleanRepeatedSpans(d, $"doc_id", $"text", n = 5, minCount = 2L)
        // always-true filter on the computed columns: keeps the span
        // mask alive under the bench's count() (column pruning would
        // otherwise time only the gram side); result set unchanged
        .filter($"n_kept" >= 0 && length($"clean_text") >= 0)
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
            |                  CASE WHEN doc_id % 5 = 0
            |                       THEN text || ' shared boilerplate sentinel span alpha beta gamma delta'
            |                       ELSE text END AS text
            |           FROM documents),
            |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM d),
            |occ AS (SELECT doc_id, i AS s, md5(array_to_string(t[i:i+4], ' ')) AS g
            |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
            |              FROM toks WHERE len(t) >= 5)),
            |hot AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
            |cov AS (SELECT DISTINCT doc_id, p FROM (
            |          SELECT occ.doc_id, unnest(generate_series(occ.s, occ.s + 4)) AS p
            |          FROM occ JOIN hot USING (g))),
            |tp AS (SELECT doc_id, i AS p, t[i] AS tok
            |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)),
            |kept AS (SELECT tp.doc_id, tp.p, tp.tok
            |         FROM tp ANTI JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p),
            |agg AS (SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS clean_text,
            |               count(*) AS n_kept
            |        FROM kept GROUP BY doc_id)
            |SELECT toks.doc_id,
            |       coalesce(agg.clean_text, '') AS clean_text,
            |       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
            |       CAST(len(toks.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
            |FROM toks LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin))

  private def q69Sql: String = {
    val horner = hornerSql
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |r AS (SELECT lang,
       |             sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
       |      FROM c),
       |hv AS (SELECT doc_id, lang,
       |              md5(CAST(doc_id AS VARCHAR) || 'mix') AS h
       |       FROM documents)
       |SELECT hv.doc_id, hv.lang, r.rate
       |FROM hv JOIN r USING (lang)
       |WHERE $horner < r.rate * 4294967296.0
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature mixture sampling at α = ½: per-language keep rate
    * √(c_min/c_lang) (en ≈ 0.54, fr = 1.0 on this corpus), decided by
    * the portable 32-bit hash of the doc id. α = ½ goes through sqrt —
    * correctly rounded by IEEE 754 on every engine — so the rate
    * doubles and therefore the sampled row SET hash-match exactly.
    */
  val q69 = Q(
    "q69_temperature_sample",
    (s, dir) => {
      import s.implicits._
      Sampling.temperatureSample(
          t(s, dir, "documents").select($"doc_id", $"lang"),
          $"lang", $"doc_id", alpha = 0.5, salt = "mix")
        .select($"doc_id", $"lang", $"rate")
        .orderBy($"doc_id")
    },
    Some(q69Sql))

  /** Semantic decontamination: the eval suite (vec_id % 97 = 0) has
    * leaked into the training corpus — flag every training vector
    * within cosine 0.9 of ANY eval vector. Two planted branches:
    * verbatim leaks (the eval rows themselves, cos = 1) and
    * PARAPHRASE-grade near-duplicates — each eval vector re-enters the
    * corpus (id + 1e6) with its first component zeroed, a mutation
    * both engines perform exactly (0.0f / 0.0), landing at cos ≈ 0.99.
    * Argmax eval id, max cosine and hit count hash-compared against
    * the exact SQL mirror (same fold-ordered dot product as q25).
    */
  val q70 = Q(
    "q70_semantic_decontaminate",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val evalSet = emb.filter($"vec_id" % 97 === 0)
        .select($"vec_id".as("eval_id"), $"embedding".as("evec"))
      val planted = evalSet.select(
        ($"eval_id" + 1000000L).as("vec_id"),
        transform($"evec",
          (x, i) => when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
      val train = emb.select($"vec_id", $"embedding").unionAll(planted)
      Decontaminate.byEmbedding(train, "vec_id", "embedding",
          evalSet, "eval_id", "evec", tau = 0.9)
        .orderBy($"vec_id")
    },
    Some("""WITH e AS (SELECT vec_id,
            |                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            |          FROM embeddings),
            |q AS (SELECT vec_id AS eval_id, v AS qv FROM e WHERE vec_id % 97 = 0),
            |pl AS (SELECT eval_id + 1000000 AS vec_id,
            |              list_transform(generate_series(1, len(qv)),
            |                             i -> CASE WHEN i = 1 THEN 0.0 ELSE qv[i] END) AS v
            |       FROM q),
            |c AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM pl),
            |p AS (SELECT c.vec_id, q.eval_id,
            |             list_inner_product(qv, v) /
            |               (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))) AS cos
            |      FROM c, q),
            |f AS (SELECT vec_id, eval_id, cos,
            |             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn,
            |             max(cos) OVER (PARTITION BY vec_id) AS max_cos,
            |             count(*) OVER (PARTITION BY vec_id) AS n_hits
            |      FROM p WHERE cos >= 0.9)
            |SELECT vec_id, eval_id, max_cos, CAST(n_hits AS BIGINT) AS n_hits
            |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin))

  /** Leakage-safe split: near-dup clusters (q53's planted corpus and
    * pair chain) hash-split BY COMPONENT — a near-dup pair can never
    * straddle train/test. Component closure via the recursive-CTE
    * mirror; the 80/10/10 bucket assignment mirrors bucket256 exactly.
    */
  val q71 = Q(
    "q71_leakage_safe_split",
    (s, dir) => {
      import s.implicits._
      val d = clusterCorpus(s, dir)
      val pairs = ShingleJaccard.similarPairs(d, $"doc_id", $"text", 3, 0.6)
      DedupClusters.leakageSafeSplit(d, "doc_id", pairs,
          Seq("train" -> 204, "val" -> 26, "test" -> 26), salt = "split")
        .select($"doc_id", $"component", $"split")
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE
            |$clusterCorpusSql,
            |allc AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component
            |         FROM d LEFT JOIN comp ON comp.id = d.doc_id),
            |hb AS (SELECT doc_id, component,
            |              md5(CAST(component AS VARCHAR) || 'split') AS h
            |       FROM allc),
            |b AS (SELECT doc_id, component,
            |             (CASE WHEN ascii(substring(h,1,1)) <= 57
            |                   THEN ascii(substring(h,1,1)) - 48
            |                   ELSE ascii(substring(h,1,1)) - 87 END) * 16 +
            |             (CASE WHEN ascii(substring(h,2,1)) <= 57
            |                   THEN ascii(substring(h,2,1)) - 48
            |                   ELSE ascii(substring(h,2,1)) - 87 END) AS bucket
            |      FROM hb)
            |SELECT doc_id, component,
            |       CASE WHEN bucket < 204 THEN 'train'
            |            WHEN bucket < 230 THEN 'val'
            |            ELSE 'test' END AS split
            |FROM b ORDER BY doc_id""".stripMargin))

  /** Broadcast interval join: every part defines a non-overlapping
    * key range [pk·1000, pk·1000+499]; lineitem probes with a key that
    * lands inside iff l_orderkey % 1000 < 500 (both branches planted
    * corpus-wide). The probe is a codegen'd binary search — the plan
    * has NO join operator at all (pinned) — while the oracle runs the
    * equivalent BETWEEN join.
    */
  val q72 = Q(
    "q72_interval_join",
    (s, dir) => {
      import s.implicits._
      val iv = graft.ops.RangeJoin.intervalTable(
        t(s, dir, "part"),
        $"p_partkey" * 1000L, $"p_partkey" * 1000L + 499L, $"p_partkey")
      val probed = graft.ops.RangeJoin.lookupJoin(
        t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber",
            ($"l_partkey" * 1000L + pmod($"l_orderkey", lit(1000L))).as("probe")),
        $"probe", iv, as = "part_ref")
      probed.filter($"part_ref".isNotNull)
        .select($"l_orderkey", $"l_linenumber".cast("long").as("l_linenumber"),
          $"probe", $"part_ref")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""WITH iv AS (SELECT p_partkey * 1000 AS lo,
            |                  p_partkey * 1000 + 499 AS hi,
            |                  p_partkey AS v
            |           FROM part),
            |pr AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
            |              l_partkey * 1000 + l_orderkey % 1000 AS probe
            |       FROM lineitem)
            |SELECT pr.l_orderkey, pr.l_linenumber, pr.probe, iv.v AS part_ref
            |FROM pr JOIN iv ON pr.probe BETWEEN iv.lo AND iv.hi
            |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** Grouped top-k through the mergeable bounded aggregate (no window,
    * no full-fact sort — pinned): top-3 orders per customer by price,
    * id-tiebroken; the oracle is the window formulation it replaces.
    */
  val q73 = Q(
    "q73_grouped_topk",
    (s, dir) => {
      import s.implicits._
      Aggs.groupedTopK(t(s, dir, "orders"),
          Seq($"o_custkey"), $"o_totalprice", $"o_orderkey", k = 3,
          scoreName = "o_totalprice", idName = "o_orderkey")
        .orderBy($"o_custkey", $"rank")
    },
    Some("""SELECT o_custkey, CAST(rnk AS BIGINT) AS rank, o_totalprice, o_orderkey
            |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
            |             row_number() OVER (PARTITION BY o_custkey
            |                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            |      FROM orders)
            |WHERE rnk <= 3 ORDER BY o_custkey, rank""".stripMargin))

  /** As-of join with a tolerance bound (pandas/polars semantics): the
    * q38 click→view attribution, but a view more than 10 minutes old
    * no longer matches — those clicks planted-revert to NULL. Oracle
    * masks the same window match by the same ns gap.
    */
  val q74 = Q(
    "q74_asof_tolerance",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .withColumn("tsn", expr("ts div 1000 * 1000"))
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"tsn").agg(max($"value").as("last_view_value"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"tsn")
      graft.ops.AsOfJoin.backward(clicks, views, Seq("user_id"), "tsn", "tsn",
          tolerance = Some(600L * 1000000000L))
        .select($"event_id", $"user_id", $"tsn".as("ts_ns"), $"last_view_value")
        .orderBy($"event_id")
    },
    Some("""WITH v AS (SELECT user_id, epoch_ns(ts) AS tsn, max(value) AS vv
            |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
            |c AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn
            |      FROM events WHERE event_type = 'click'),
            |u AS (SELECT user_id, tsn, 0 AS side, vv, NULL::BIGINT AS event_id FROM v
            |      UNION ALL
            |      SELECT user_id, tsn, 1, NULL, event_id FROM c),
            |w AS (SELECT user_id, tsn, side, event_id,
            |             last_value(vv IGNORE NULLS) OVER (
            |               PARTITION BY user_id ORDER BY tsn, side
            |               ROWS UNBOUNDED PRECEDING) AS m,
            |             last_value(CASE WHEN side = 0 THEN tsn END IGNORE NULLS) OVER (
            |               PARTITION BY user_id ORDER BY tsn, side
            |               ROWS UNBOUNDED PRECEDING) AS mts
            |      FROM u)
            |SELECT event_id, user_id, tsn AS ts_ns,
            |       CASE WHEN tsn - mts <= 600000000000 THEN m END AS last_view_value
            |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin))

  /** Unpivot / melt — the inverse of q41's pivot: four lineitem
    * measures to (key, measure, value) rows via Spark's native
    * unpivot; oracle is the UNION ALL it desugars to.
    */
  val q75 = Q(
    "q75_unpivot",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").filter($"l_orderkey" % 50 === 0)
        .select($"l_orderkey", $"l_linenumber".cast("long").as("l_linenumber"),
          $"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax")
        .unpivot(
          Array($"l_orderkey", $"l_linenumber"),
          Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
          "measure", "value")
        .orderBy($"l_orderkey", $"l_linenumber", $"measure")
    },
    Some("""WITH b AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
            |                  l_quantity, l_extendedprice, l_discount, l_tax
            |           FROM lineitem WHERE l_orderkey % 50 = 0)
            |SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM b
            |UNION ALL
            |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM b
            |UNION ALL
            |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM b
            |UNION ALL
            |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM b
            |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin))

  private def q76Sql: String = {
    // the same 10-bit Morton interleave, generated term by term
    val terms = (0 until 10).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i + 1})", s"(((y >> $i) & 1) << ${2 * i})")
    }.mkString(" | ")
    s"""WITH r AS (SELECT c_custkey,
       |                  c_custkey % 1024 AS x,
       |                  (c_nationkey * 41) % 1024 AS y
       |           FROM customer)
       |SELECT c_custkey, $terms AS z FROM r ORDER BY c_custkey""".stripMargin
  }

  /** Z-order (Morton) curve values — the clustering key behind
    * `Layout.zOrderedWrite`'s data-skipping layout: pure integer bit
    * arithmetic (shift/and/or), mirrored term-for-term in the oracle.
    */
  val q76 = Q(
    "q76_zorder_value",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .select($"c_custkey",
          graft.ops.Layout.zValue(
            pmod($"c_custkey", lit(1024L)),
            pmod($"c_nationkey" * 41L, lit(1024L)), bits = 10).as("z"))
        .orderBy($"c_custkey")
    },
    Some(q76Sql))

  /** Blocked fuzzy join (entity resolution): part names vs a batch of
    * typo'd replays (every 7th name + ' zq', 3 edits); candidates
    * blocked on the first TWO name tokens, confirmed by Levenshtein
    * ≤ 3 — planted typos hit, plus whatever naturally-close same-block
    * name pairs exist. Oracle mirrors block + editdistance exactly.
    * (Block selectivity is the user's scale dial: with a ONE-token
    * block over the ~92-word part vocabulary this gate measured
    * 6.9 s → 81.8 s at ×10; the two-token key cuts that to
    * 1.4 s → 11.8 s. The ×10 pass scales BOTH sides, so candidates
    * grow ×100 regardless — wall time grows ×8.4, sublinear in
    * candidates; production entity resolution probes a bounded dirty
    * batch against the corpus, which is linear.)
    */
  val q77 = Q(
    "q77_fuzzy_join",
    (s, dir) => {
      import s.implicits._
      val p = t(s, dir, "part")
      val typos = p.filter($"p_partkey" % 7 === 0)
        .select(($"p_partkey" + 1000000L).as("rid"),
          concat($"p_name", lit(" zq")).as("rname"))
      graft.ops.FuzzyJoin.byEditDistance(
          p, $"p_partkey", $"p_name",
          typos, $"rid", $"rname",
          block = t => concat_ws(" ", slice(split(t, " "), 1, 2)), maxDist = 3)
        .orderBy($"left_id", $"right_id")
    },
    Some("""WITH l AS (SELECT p_partkey AS lid, p_name AS lname,
            |                 array_to_string(string_split(p_name, ' ')[1:2], ' ') AS bk
            |           FROM part),
            |r AS (SELECT p_partkey + 1000000 AS rid, p_name || ' zq' AS rname,
            |             array_to_string(string_split(p_name, ' ')[1:2], ' ') AS bk
            |      FROM part WHERE p_partkey % 7 = 0)
            |SELECT l.lid AS left_id, r.rid AS right_id,
            |       CAST(levenshtein(l.lname, r.rname) AS BIGINT) AS dist
            |FROM l JOIN r USING (bk)
            |WHERE levenshtein(l.lname, r.rname) <= 3
            |ORDER BY left_id, right_id""".stripMargin))

  /** Time-series gap filling: the hourly × event-type grid from min to
    * max hour, zero-filled where no events landed — dashboards and
    * anomaly detectors need the EMPTY hours (a missing row reads as
    * "no data", not "zero events"). Dense grid via sequence + explode
    * (no calendar table), counts left-joined back; hour arithmetic on
    * raw ns-longs so both engines bucket identically.
    */
  val q78 = Q(
    "q78_gap_fill",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(expr("ts div 3600000000000").as("h"), $"event_type")
      val counts = ev.groupBy($"h", $"event_type")
        .agg(count(lit(1)).as("n_events"))
      val grid = ev.agg(min($"h").as("mn"), max($"h").as("mx"))
        .select(explode(sequence($"mn", $"mx")).as("h"))
        .crossJoin(ev.select($"event_type").distinct())
      grid.join(counts, Seq("h", "event_type"), "left")
        .select($"h", $"event_type", coalesce($"n_events", lit(0L)).as("n_events"))
        .orderBy($"h", $"event_type")
    },
    Some("""WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS h, event_type
            |           FROM events),
            |c AS (SELECT h, event_type, count(*) AS n FROM e GROUP BY 1, 2),
            |b AS (SELECT min(h) AS mn, max(h) AS mx FROM e),
            |t AS (SELECT DISTINCT event_type FROM e),
            |g AS (SELECT unnest(generate_series(mn, mx)) AS h, event_type FROM b, t)
            |SELECT g.h, g.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
            |FROM g LEFT JOIN c USING (h, event_type)
            |ORDER BY h, event_type""".stripMargin))

  /** Cohort retention: users bucketed by first-seen week; for each
    * (cohort week, week offset) the distinct users still active —
    * the standard retention triangle, all integer week arithmetic on
    * ns-longs so both engines agree exactly.
    */
  val q79 = Q(
    "q79_cohort_retention",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", expr("ts div 604800000000000").as("w"))
      val cohorts = ev.groupBy($"user_id").agg(min($"w").as("cw"))
      val active = ev.distinct()
      active.join(cohorts, "user_id")
        .groupBy($"cw".as("cohort_week"), ($"w" - $"cw").as("week_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_week", $"week_offset")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS w
            |           FROM events),
            |u AS (SELECT user_id, min(w) AS cw FROM e GROUP BY 1),
            |a AS (SELECT DISTINCT user_id, w FROM e)
            |SELECT u.cw AS cohort_week, a.w - u.cw AS week_offset,
            |       count(DISTINCT a.user_id) AS n_users
            |FROM a JOIN u USING (user_id)
            |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin))

  /** Funnel analysis (view → click → purchase within 6 h per step) as
    * TWO chained forward as-of joins with tolerance — per view, the
    * earliest click at-or-after it; per matched click, the earliest
    * purchase at-or-after it; stale steps revert to null, so the row
    * set is the full per-view funnel state. Linear (two key-shuffles),
    * never the per-pair blowup a range-join funnel would pay. Oracle
    * chains two union+window mirrors of the same merge.
    */
  val q80 = Q(
    "q80_funnel",
    (s, dir) => {
      import s.implicits._
      val tol = 21600000000000L // 6 h in ns
      val ev = t(s, dir, "events").withColumn("tsn", expr("ts div 1000 * 1000"))
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", $"tsn".as("vts"), $"event_id".as("view_id"))
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"tsn".as("cts"))
        .agg(min($"event_id").as("click_id"))
        .select($"user_id", $"cts", $"click_id", $"cts".as("click_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id", $"tsn".as("pts"))
        .agg(min($"event_id").as("purchase_id"))
        .select($"user_id", $"pts", $"purchase_id")
      val s1 = graft.ops.AsOfJoin.forward(views, clicks, Seq("user_id"),
        "vts", "cts", tolerance = Some(tol))
      val s2 = graft.ops.AsOfJoin.forward(s1, purchases, Seq("user_id"),
        "click_ts", "pts", tolerance = Some(tol))
      s2.select($"view_id", $"user_id", $"vts".as("view_ts_ns"),
          $"click_id", $"purchase_id")
        .orderBy($"view_id")
    },
    Some("""WITH v AS (SELECT event_id AS view_id, user_id, epoch_ns(ts) AS vt
            |           FROM events WHERE event_type = 'view'),
            |c AS (SELECT user_id, epoch_ns(ts) AS ct, min(event_id) AS click_id
            |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
            |p AS (SELECT user_id, epoch_ns(ts) AS pt, min(event_id) AS purchase_id
            |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
            |u1 AS (SELECT user_id, vt AS t, 1 AS side, view_id,
            |              NULL::BIGINT AS click_id, NULL::BIGINT AS ct FROM v
            |       UNION ALL
            |       SELECT user_id, ct, 0, NULL, click_id, ct FROM c),
            |w1 AS (SELECT user_id, t, side, view_id,
            |              last_value(click_id IGNORE NULLS) OVER fw AS mc,
            |              last_value(ct IGNORE NULLS) OVER fw AS mct
            |       FROM u1
            |       WINDOW fw AS (PARTITION BY user_id ORDER BY t DESC, side
            |                     ROWS UNBOUNDED PRECEDING)),
            |s1 AS (SELECT user_id, view_id, t AS vt,
            |              CASE WHEN mct - t <= 21600000000000 THEN mc END AS click_id,
            |              CASE WHEN mct - t <= 21600000000000 THEN mct END AS click_ts
            |       FROM w1 WHERE side = 1),
            |u2 AS (SELECT user_id, click_ts AS t, 1 AS side, view_id, vt, click_id,
            |              NULL::BIGINT AS purchase_id, NULL::BIGINT AS pt FROM s1
            |       UNION ALL
            |       SELECT user_id, pt, 0, NULL, NULL, NULL, purchase_id, pt FROM p),
            |w2 AS (SELECT user_id, t, side, view_id, vt, click_id,
            |              last_value(purchase_id IGNORE NULLS) OVER fw AS mp,
            |              last_value(pt IGNORE NULLS) OVER fw AS mpt
            |       FROM u2
            |       WINDOW fw AS (PARTITION BY user_id ORDER BY t DESC, side
            |                     ROWS UNBOUNDED PRECEDING)),
            |s2 AS (SELECT view_id, user_id, vt AS view_ts_ns, click_id,
            |              CASE WHEN mpt - t <= 21600000000000 THEN mp END AS purchase_id
            |       FROM w2 WHERE side = 1)
            |SELECT view_id, user_id, view_ts_ns, click_id, purchase_id
            |FROM s2 ORDER BY view_id""".stripMargin))

  /** Equi-width histogram of document lengths: 20 bins over the
    * corpus [min, max] range, empty bins kept (zero), the binning
    * arithmetic one correctly-rounded division + floor so both
    * engines place every value identically (no engine-private
    * width_bucket). Bin assignment is a narrow projection; ONE
    * grouped count + a tiny grid left-join carries the zeros.
    */
  val q81 = Q(
    "q81_histogram",
    (s, dir) => {
      import s.implicits._
      val nBins = 20
      val d = t(s, dir, "documents").select($"n_chars")
      val b = d.agg(min($"n_chars").as("mn"), max($"n_chars").as("mx"))
      val binned = d.crossJoin(broadcast(b))
        .select(least(
          floor(($"n_chars" - $"mn").cast("double") * nBins /
            ($"mx" - $"mn" + 1).cast("double")).cast("long"),
          lit(nBins - 1L)).as("bin"))
        .groupBy($"bin").agg(count(lit(1)).as("n_docs"))
      b.select(explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"),
          $"mn", $"mx")
        .join(binned, Seq("bin"), "left")
        .select($"bin",
          ($"mn" + floor($"bin".cast("double") * ($"mx" - $"mn" + 1).cast("double") / nBins)
            .cast("long")).as("bin_lo"),
          coalesce($"n_docs", lit(0L)).as("n_docs"))
        .orderBy($"bin")
    },
    Some("""WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
            |h AS (SELECT least(CAST(floor(CAST(n_chars - mn AS DOUBLE) * 20 /
            |                        CAST(mx - mn + 1 AS DOUBLE)) AS BIGINT), 19) AS bin,
            |             count(*) AS n
            |      FROM documents, b GROUP BY 1),
            |g AS (SELECT unnest(generate_series(0, 19)) AS bin, mn, mx FROM b)
            |SELECT g.bin,
            |       g.mn + CAST(floor(CAST(g.bin AS DOUBLE) * CAST(g.mx - g.mn + 1 AS DOUBLE) / 20) AS BIGINT) AS bin_lo,
            |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_docs
            |FROM g LEFT JOIN h USING (bin)
            |ORDER BY bin""".stripMargin))

  /** Value-RANGE window frame (vs q14's row frame): per user, each
    * event's count and value-sum over the trailing 7 days — the
    * rolling-aggregate shape monitoring and features use. Frame
    * bounds in raw ns-longs (exact integer arithmetic both engines).
    */
  val q82 = Q(
    "q82_rolling_window",
    (s, dir) => {
      import s.implicits._
      val weekNs = 7L * 86400L * 1000000000L
      // µs-truncate BEFORE the window: DuckDB reads this parquet at µs
      // precision, and a sub-µs skew at an exact 7-day frame edge
      // would flip row inclusion (same discipline as q38)
      val w = Window.partitionBy($"user_id").orderBy($"tsn")
        .rangeBetween(-weekNs, Window.currentRow)
      t(s, dir, "events")
        .withColumn("tsn", expr("ts div 1000 * 1000"))
        .select($"event_id", $"user_id", $"tsn".as("ts"),
          count(lit(1)).over(w).as("n_7d"),
          Aggs.dsum($"value").over(w).cast("double").as("sum_7d"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, epoch_ns(ts) AS ts,
            |       CAST(count(*) OVER tw AS BIGINT) AS n_7d,
            |       CAST(sum(CAST(value AS DECIMAL(38,6))) OVER tw AS DOUBLE) AS sum_7d
            |FROM events
            |WINDOW tw AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
            |              RANGE BETWEEN 604800000000000 PRECEDING AND CURRENT ROW)
            |ORDER BY event_id""".stripMargin))

  /** Data-quality expectations report over a deliberately-dirtied
    * orders table: planted FK orphans (%97), null keys (%93),
    * non-positive prices (%89) and duplicated rows (%101) — every
    * check fires with a non-zero, exactly-mirrored violation count.
    */
  val q83 = Q(
    "q83_expectations",
    (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val mutated = o
        .withColumn("o_custkey",
          when($"o_orderkey" % 97 === 0, $"o_custkey" + 1000000000L)
            .when($"o_orderkey" % 93 === 0, lit(null))
            .otherwise($"o_custkey"))
        .withColumn("o_totalprice",
          when($"o_orderkey" % 89 === 0, -$"o_totalprice")
            .otherwise($"o_totalprice"))
      val dirty = mutated.unionAll(mutated.filter($"o_orderkey" % 101 === 0))
      graft.ops.Expectations.report(dirty,
        rowChecks = Seq(
          "custkey_not_null" -> $"o_custkey".isNull,
          "totalprice_positive" -> ($"o_totalprice" <= 0)),
        uniqueKeys = Seq("orderkey_unique" -> Seq($"o_orderkey")),
        foreignKeys = Seq(
          ("custkey_fk", $"o_custkey", t(s, dir, "customer"), $"c_custkey")))
        .orderBy($"check")
    },
    Some("""WITH p AS (SELECT o_orderkey,
            |                  CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000000
            |                       WHEN o_orderkey % 93 = 0 THEN NULL
            |                       ELSE o_custkey END AS o_custkey,
            |                  CASE WHEN o_orderkey % 89 = 0 THEN -o_totalprice
            |                       ELSE o_totalprice END AS o_totalprice
            |           FROM orders),
            |d AS (SELECT * FROM p
            |      UNION ALL SELECT * FROM p WHERE o_orderkey % 101 = 0)
            |SELECT 'custkey_not_null' AS check, count(*) AS n_violations
            |FROM d WHERE o_custkey IS NULL
            |UNION ALL
            |SELECT 'totalprice_positive', count(*) FROM d WHERE o_totalprice <= 0
            |UNION ALL
            |SELECT 'orderkey_unique', CAST(coalesce(sum(n - 1), 0) AS BIGINT)
            |FROM (SELECT o_orderkey, count(*) AS n FROM d GROUP BY 1) WHERE n > 1
            |UNION ALL
            |SELECT 'custkey_fk', count(*)
            |FROM d WHERE o_custkey IS NOT NULL
            |  AND o_custkey NOT IN (SELECT c_custkey FROM customer)
            |ORDER BY "check"""".stripMargin))

  /** Incremental connected components: fold a new pair batch into
    * previously-computed component labels (stored-star-edge union, see
    * DedupClusters.incrementalComponents) instead of recomputing from
    * the full historical pair list. Old batch: (i,i+1) chains per
    * decade; new batch: bridges that MERGE old components plus a
    * brand-new component. Oracle: recursive closure over the unioned
    * pair set — the equivalence the incremental identity guarantees.
    */
  val q84 = Q(
    "q84_incremental_components",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id".as("i")).filter($"i" < 200)
      val oldPairs = d
        .filter($"i" % 10 === 0 || $"i" % 10 === 1 || $"i" % 10 === 5)
        .select($"i".as("id1"), ($"i" + 1L).as("id2"))
      val newPairs = d.filter($"i" % 10 === 3).select($"i".as("id1"), ($"i" + 2L).as("id2"))
        .unionAll(d.filter($"i" % 10 === 2).select($"i".as("id1"), ($"i" + 3L).as("id2")))
        .unionAll(d.filter($"i" % 10 === 8).select($"i".as("id1"), ($"i" + 1L).as("id2")))
      val stored = DedupClusters.connectedComponents(oldPairs)
      DedupClusters.incrementalComponents(stored, newPairs).orderBy($"id")
    },
    Some("""WITH RECURSIVE
            |u AS (SELECT doc_id AS i FROM documents WHERE doc_id < 200),
            |pairs AS (SELECT i AS id1, i + 1 AS id2 FROM u WHERE i % 10 IN (0, 1, 5)
            |          UNION ALL SELECT i, i + 2 FROM u WHERE i % 10 = 3
            |          UNION ALL SELECT i, i + 3 FROM u WHERE i % 10 = 2
            |          UNION ALL SELECT i, i + 1 FROM u WHERE i % 10 = 8),
            |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
            |          UNION SELECT id2, id1 FROM pairs),
            |reach(id, r) AS (SELECT a, a FROM edges
            |                 UNION
            |                 SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
            |SELECT id, min(r) AS component FROM reach GROUP BY id
            |ORDER BY id""".stripMargin))

  /** Quantile-band filter via the MERGEABLE bounded sketch
    * (QuantileSketchAgg — bottom-64-by-portable-hash distinct sample
    * with exact counts) instead of q52's exact percentile sort: the
    * scale path for distribution-relative filtering. The sketch is a
    * pure function of the input multiset fed by portable md5 hashing,
    * so the sampled cutoffs — and therefore the kept row set — are
    * reproduced exactly by the DuckDB mirror: a full oracle gate on an
    * APPROXIMATE operator.
    */
  val q85 = Q(
    "q85_sketch_quantile_band",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val h = MinHashLsh.portableHash32($"n_chars".cast("long").cast("string"))
      QualityFilter.quantileBandSketch(d, $"n_chars", h, 0.10, 0.95, k = 64)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"),
          min($"cut_lo").as("cut_lo"), min($"cut_hi").as("cut_hi"))
        .orderBy($"lang")
    },
    Some(s"""WITH hx AS (SELECT n_chars, md5(CAST(n_chars AS VARCHAR)) AS h FROM documents),
            |d AS (SELECT n_chars, $hornerSql AS h32, count(*) AS c
            |      FROM hx GROUP BY n_chars, h),
            |rk AS (SELECT n_chars, c, row_number() OVER (ORDER BY h32, n_chars) AS r
            |       FROM d),
            |samp AS (SELECT CAST(n_chars AS DOUBLE) AS v, c FROM rk WHERE r <= 64),
            |cdf AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS tot
            |        FROM samp),
            |cuts AS (SELECT min(CASE WHEN CAST(cum AS DOUBLE) >=
            |                              CAST(0.10 AS DOUBLE) * CAST(tot AS DOUBLE)
            |                         THEN v END) AS cut_lo,
            |                min(CASE WHEN CAST(cum AS DOUBLE) >=
            |                              CAST(0.95 AS DOUBLE) * CAST(tot AS DOUBLE)
            |                         THEN v END) AS cut_hi
            |         FROM cdf),
            |s AS (SELECT dd.lang, dd.n_chars, c2.cut_lo, c2.cut_hi
            |      FROM documents dd CROSS JOIN cuts c2
            |      WHERE CAST(dd.n_chars AS DOUBLE) BETWEEN c2.cut_lo AND c2.cut_hi)
            |SELECT lang, count(*) AS n_docs,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
            |       min(cut_lo) AS cut_lo, min(cut_hi) AS cut_hi
            |FROM s GROUP BY lang ORDER BY lang""".stripMargin))

  /** Paragraph-level exact dedup (C4/RefinedWeb curation): paragraphs
    * appearing in ≥ 2 distinct docs removed from ALL of them. Planted:
    * a shared footer paragraph on every third doc, plus whole-document
    * copies (which empty out but remain in the corpus). Every step —
    * split positions, distinct-doc df, order-preserving reassembly —
    * mirrored in the oracle.
    */
  val q86 = Q(
    "q86_paragraph_dedup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").filter($"doc_id" < 120)
        .select($"doc_id", when($"doc_id" % 3 === 0,
          concat($"text", lit("\n\nSubscribe to our newsletter today")))
          .otherwise($"text").as("text"))
      val d = base.unionAll(base.filter($"doc_id" < 8)
        .select(($"doc_id" + 500000L).as("doc_id"), $"text"))
      ParagraphDedup.dedupParagraphs(d, $"doc_id", $"text").orderBy($"id")
    },
    Some("""WITH b AS (SELECT doc_id,
            |                 CASE WHEN doc_id % 3 = 0
            |                      THEN text || chr(10) || chr(10) || 'Subscribe to our newsletter today'
            |                      ELSE text END AS text
            |          FROM documents WHERE doc_id < 120),
            |d AS (SELECT * FROM b
            |      UNION ALL SELECT doc_id + 500000, text FROM b WHERE doc_id < 8),
            |sp AS (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM d),
            |p0 AS (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i FROM sp),
            |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ps[CAST(i AS INT)] AS para FROM p0),
            |hot AS (SELECT para FROM p WHERE trim(para) <> ''
            |        GROUP BY para HAVING count(DISTINCT doc_id) >= 2),
            |kept AS (SELECT doc_id, pos, para FROM p
            |         WHERE para NOT IN (SELECT para FROM hot)),
            |tot AS (SELECT doc_id, count(*) AS total FROM p GROUP BY doc_id),
            |k AS (SELECT doc_id, count(*) AS n_kept,
            |             string_agg(para, chr(10)||chr(10) ORDER BY pos) AS clean_text
            |      FROM kept GROUP BY doc_id)
            |SELECT t.doc_id AS id,
            |       coalesce(k.clean_text, '') AS clean_text,
            |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
            |       CAST(t.total - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
            |FROM tot t LEFT JOIN k USING (doc_id)
            |ORDER BY id""".stripMargin))

  /** Vocabulary-coverage quality score: per-doc fraction of tokens
    * inside the corpus top-200 vocabulary (count desc, token asc —
    * deterministic at the boundary). The LM-free perplexity stand-in:
    * exact integer counting + one IEEE division, fully mirrored.
    * Grouped summary keeps the gate result compact.
    */
  val q87 = Q(
    "q87_vocab_coverage",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      ext.VocabScore.coverage(d, $"doc_id", $"text", topN = 200)
        .join(d.select($"doc_id".as("id"), $"lang"), "id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("tot_tokens"),
          sum($"n_in_vocab").as("tot_in_vocab"),
          min($"coverage").as("min_cov"), max($"coverage").as("max_cov"))
        .orderBy($"lang")
    },
    Some("""WITH toks AS (SELECT doc_id,
            |                     unnest(list_filter(
            |                       string_split_regex(trim(lower(text)), '\s+'),
            |                       t -> t <> '')) AS tok
            |              FROM documents),
            |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM toks
            |                           GROUP BY tok ORDER BY c DESC, tok LIMIT 200)),
            |cov AS (SELECT doc_id,
            |               count(*) AS n_tokens,
            |               sum(CASE WHEN tok IN (SELECT tok FROM vocab)
            |                        THEN 1 ELSE 0 END) AS n_in_vocab
            |        FROM toks GROUP BY doc_id)
            |SELECT d.lang, count(*) AS n_docs,
            |       CAST(sum(c.n_tokens) AS BIGINT) AS tot_tokens,
            |       CAST(sum(c.n_in_vocab) AS BIGINT) AS tot_in_vocab,
            |       min(CAST(c.n_in_vocab AS DOUBLE) / CAST(c.n_tokens AS DOUBLE)) AS min_cov,
            |       max(CAST(c.n_in_vocab AS DOUBLE) / CAST(c.n_tokens AS DOUBLE)) AS max_cov
            |FROM cov c JOIN documents d USING (doc_id)
            |GROUP BY d.lang ORDER BY d.lang""".stripMargin))

  /** Salted equi-join (hot-key mitigation): fact rows salted
    * positionally, dimension replicated per salt, join on (key, salt)
    * — row-identical to the plain join, which IS the oracle. Summary
    * aggregate keeps the gate compact; decimal-exact sum.
    */
  val q88 = Q(
    "q88_salted_join",
    (s, dir) => {
      import s.implicits._
      val l = t(s, dir, "lineitem").select($"l_orderkey", $"l_quantity")
      val o = t(s, dir, "orders")
        .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
      graft.ops.Skew.saltedJoin(l, o, Seq("l_orderkey"), buckets = 8)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Aggs.dsum($"l_quantity").cast("double").as("qty"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
            |       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** Persistent IVF index probe under the oracle gate: build the index
    * (parquet-ready state), probe ALL cells — at nprobe = nlist the
    * probe is exhaustive, so the result is exactly cosine brute force
    * and the oracle is the q25 pair/rank formulation. Pins the whole
    * stored-index path (build → assign → probe → rerank) to
    * bit-exactness, complementing the unit probe≡fresh pin.
    */
  val q89 = Q(
    "q89_ivf_probe",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val idx = EmbeddingSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
      EmbeddingSearch.ivfProbe(idx, emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 4, nprobe = 8)
        .select($"qid".as("vec_id"), $"neighbor_id",
          $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"vec_id", $"rank")
    },
    Some("""WITH c AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                       FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 8),
            pairs AS (SELECT q.qid, c.vec_id AS nid,
                             list_inner_product(qv, v) /
                               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
                      FROM c, q WHERE c.vec_id != q.qid),
            ranked AS (SELECT qid, nid, cos,
                              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
                       FROM pairs)
            SELECT qid AS vec_id, nid AS neighbor_id, rnk AS rank, cos
            FROM ranked WHERE rnk <= 4 ORDER BY vec_id, rank"""))

  /** Cross-load drift report under the oracle gate: profiles of two
    * deterministic documents "loads" (the second with planted nulls
    * and a row-count delta), compared with explicit bounds — every
    * profile count, rate, drift, and ok/fail mirrored exactly.
    */
  val q90 = Q(
    "q90_drift_report",
    (s, dir) => {
      import s.implicits._
      val prev = t(s, dir, "documents").filter($"doc_id" < 300)
        .select($"doc_id", $"lang", $"source")
      val cur = t(s, dir, "documents").filter($"doc_id" < 360)
        .select($"doc_id",
          when($"doc_id" % 5 === 0, lit(null)).otherwise($"lang").as("lang"),
          $"source")
      val cols = Seq("doc_id", "lang", "source")
      graft.ops.Expectations.driftReport(
          graft.ops.Expectations.loadProfile(cur, cols),
          graft.ops.Expectations.loadProfile(prev, cols),
          maxRowDeltaPct = 0.5, maxNullRateDrift = 0.05)
        .orderBy($"check", $"column")
    },
    Some("""WITH prev AS (SELECT doc_id, lang, source FROM documents WHERE doc_id < 300),
            |cur AS (SELECT doc_id,
            |               CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang,
            |               source
            |        FROM documents WHERE doc_id < 360),
            |pp AS (SELECT 'doc_id' AS col, count(*) AS n_rows,
            |              sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_nulls FROM prev
            |       UNION ALL SELECT 'lang', count(*),
            |              sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) FROM prev
            |       UNION ALL SELECT 'source', count(*),
            |              sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) FROM prev),
            |cp AS (SELECT 'doc_id' AS col, count(*) AS n_rows,
            |              sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_nulls FROM cur
            |       UNION ALL SELECT 'lang', count(*),
            |              sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) FROM cur
            |       UNION ALL SELECT 'source', count(*),
            |              sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) FROM cur),
            |rowd AS (SELECT 'row_count_delta' AS check, CAST(NULL AS VARCHAR) AS "column",
            |                CAST(max(c.n_rows) AS DOUBLE) AS current,
            |                CAST(max(p.n_rows) AS DOUBLE) AS previous,
            |                CAST(abs(max(c.n_rows) - max(p.n_rows)) AS DOUBLE) /
            |                  CAST(greatest(max(p.n_rows), 1) AS DOUBLE) AS drift
            |         FROM cp c, pp p),
            |nulld AS (SELECT 'null_rate_drift' AS check, c.col AS "column",
            |                 CAST(c.n_nulls AS DOUBLE) / CAST(greatest(c.n_rows, 1) AS DOUBLE) AS current,
            |                 CAST(p.n_nulls AS DOUBLE) / CAST(greatest(p.n_rows, 1) AS DOUBLE) AS previous,
            |                 abs(CAST(c.n_nulls AS DOUBLE) / CAST(greatest(c.n_rows, 1) AS DOUBLE) -
            |                     CAST(p.n_nulls AS DOUBLE) / CAST(greatest(p.n_rows, 1) AS DOUBLE)) AS drift
            |          FROM cp c JOIN pp p ON c.col = p.col)
            |SELECT "check", "column", current, previous, drift,
            |       drift <= 0.5 AS ok FROM rowd
            |UNION ALL
            |SELECT "check", "column", current, previous, drift,
            |       drift <= 0.05 AS ok FROM nulld
            |ORDER BY "check", "column"""".stripMargin))

  /** Hard-negative mining (contrastive training data): per labeled
    * (query, positive) pair, top-3 cosine neighbors excluding self AND
    * the positive — exclusion below the ranking window so ranks stay
    * filled. Positives planted as qid+1 so the exclusion provably
    * bites (the adjacent vector is often a near neighbor).
    */
  val q91 = Q(
    "q91_hard_negatives",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val pairs = emb.filter($"vec_id" < 6)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"),
          ($"vec_id" + 1L).as("pos_id"))
      EmbeddingSearch.hardNegatives(emb, "vec_id", "embedding",
          pairs, "qid", "qvec", "pos_id", k = 3)
        .select($"qid", $"negative_id", $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"qid", $"rank")
    },
    Some("""WITH c AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                       FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv, vec_id + 1 AS pos_id
                  FROM c WHERE vec_id < 6),
            pairs AS (SELECT q.qid, c.vec_id AS nid,
                             list_inner_product(qv, v) /
                               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
                      FROM c, q WHERE c.vec_id != q.qid AND c.vec_id != q.pos_id),
            ranked AS (SELECT qid, nid, cos,
                              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
                       FROM pairs)
            SELECT qid, nid AS negative_id, rnk AS rank, cos
            FROM ranked WHERE rnk <= 3 ORDER BY qid, rank"""))

  /** Corpus-scale hard-negative mining via IVF cells. With nprobe ==
    * nlist every cell is probed, so the output must be row-identical
    * to exact brute-force mining — which is what makes an approximate
    * serving path oracle-gatable (the q89 discipline): the oracle IS
    * the exact computation.
    */
  val q92 = Q(
    "q92_hard_negatives_ivf",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val pairs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"),
          ($"vec_id" + 1L).as("pos_id"))
      val idx = EmbeddingSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
      EmbeddingSearch.hardNegativesIvf(idx, emb, "vec_id", "embedding",
          pairs, "qid", "qvec", "pos_id", k = 4, nprobe = 8)
        .select($"qid", $"negative_id", $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"qid", $"rank")
    },
    Some("""WITH c AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                       FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv, vec_id + 1 AS pos_id
                  FROM c WHERE vec_id < 10),
            pairs AS (SELECT q.qid, c.vec_id AS nid,
                             list_inner_product(qv, v) /
                               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
                      FROM c, q WHERE c.vec_id != q.qid AND c.vec_id != q.pos_id),
            ranked AS (SELECT qid, nid, cos,
                              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
                       FROM pairs)
            SELECT qid, nid AS negative_id, rnk AS rank, cos
            FROM ranked WHERE rnk <= 4 ORDER BY qid, rank"""))

  /** Supervised quality classifier: the checked-in linear model's
    * score and keep decision, feature arithmetic and the left-folded
    * dot mirrored term-for-term in ANSI SQL — a trained classifier's
    * serving path as an oracle-gated operator.
    */
  val q93 = Q(
    "q93_quality_classifier",
    (s, dir) => {
      import s.implicits._
      QualityModel.classify(t(s, dir, "documents"), $"text", threshold = 0.0)
        .select($"doc_id", $"quality_score", $"keep")
        .orderBy($"doc_id")
    },
    Some("""WITH f AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                          t -> list_contains(['the','a','of','and','is'], t))) AS DOUBLE) AS stop,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ntok_raw,
                     CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) AS ntok,
                     CAST(greatest(length(text), 1) AS DOUBLE) AS nchar,
                     CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS ndig,
                     CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) AS nspace
              FROM documents),
            sc AS (
              SELECT doc_id,
                     (-1.6) + 4.0 * (stop / ntok) + (-3.0) * (ndig / nchar)
                       + 1.5 * (nspace / nchar) + 0.05 * (nchar / ntok)
                       + 1.0 * least(ntok_raw / 100.0, 1.0) AS quality_score
              FROM f)
            SELECT doc_id, quality_score, quality_score >= 0.0 AS keep
            FROM sc ORDER BY doc_id"""))

  /** Banded SRP near-dup pairs under a FULL oracle: the planted pairs
    * are exact scaled copies (θ = 0), which share EVERY SRP band with
    * certainty, so the banded LSH output must EQUAL the exact
    * all-pairs screen — turning the approximate path's certainty case
    * into a DuckDB hash gate (the q89/q92 discipline: the oracle IS
    * the exact computation). Deterministic: signatures are seedless
    * pure functions, so band agreement is a fixed property of the
    * fixture, not a probability.
    */
  val q94 = Q(
    "q94_banded_neardup",
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
      val planted = emb.filter($"vec_id" < 20)
        .select(($"vec_id" + 100000L).as("vec_id"),
          transform($"embedding", x => x + x).as("embedding"))
      EmbeddingSearch.lshNearDupPairs(emb.unionAll(planted),
          "vec_id", "embedding", threshold = 0.99, bits = 4, bands = 8)
        .orderBy($"id1", $"id2")
    },
    Some("""WITH planted AS (
              SELECT vec_id + 100000 AS vec_id,
                     list_transform(embedding, x -> CAST(x + x AS FLOAT)) AS embedding
              FROM embeddings WHERE vec_id < 20),
            u AS (SELECT vec_id, embedding FROM embeddings
                  UNION ALL SELECT vec_id, embedding FROM planted),
            c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
            p AS (SELECT a.vec_id id1, b.vec_id id2,
                         list_inner_product(a.v, b.v) /
                           (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cos
                  FROM c a JOIN c b ON a.vec_id < b.vec_id)
            SELECT id1, id2, cos FROM p WHERE cos >= 0.99 ORDER BY id1, id2"""))

  /** Deletion propagation through stored component labels — the
    * takedown cascade's hard case, oracle-gated on BOTH failure modes:
    * even decades delete a BRIDGE member (the stored component must
    * split in two), odd decades delete the ROOT (survivors must adopt
    * the new minimum as canonical). Identity proved by the gate:
    * retract-then-read ≡ rebuild-from-scratch over the pairs whose
    * endpoints both survive, with pair-nodes that lost every pair
    * surviving as singletons.
    */
  val q95 = Q(
    "q95_retract_components",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id".as("i")).filter($"i" < 200)
      // decade d gets the chain d—d+1—d+2—d+3
      val pairs = d.filter($"i" % 10 <= 2)
        .select($"i".as("id1"), ($"i" + 1L).as("id2"))
      // decades ≡ 0 (mod 40) lose the bridge (d+1): {d} splits from
      // {d+2,d+3}; decades ≡ 30 lose the root (d): {d+1,d+2,d+3}
      // re-canonicalizes; decades ≡ 10, 20 lose NOTHING — their stored
      // labels must pass through the untouched-component path, so the
      // gate exercises split, re-root, AND passthrough together
      val deleted = d.filter($"i" % 40 === 1 || $"i" % 40 === 30)
        .select($"i".as("id"))
      // stored labels built ANALYTICALLY, not by running CC: each
      // decade's chain d—d+1—d+2—d+3 has component min = d, so the
      // persisted label table a prior CC run would have written is
      // exactly (node, node - node % 10). The gate used to pay a full
      // connectedComponents invocation just to construct this fixture
      // (~half its bench cost, r9 verdict); the measured quantity —
      // retractComponents — and the oracle identity are unchanged.
      // FixtureParitySpec pins analytic ≡ connectedComponents(pairs)
      // on this exact pair list so the shortcut can never drift.
      val stored = pairs.select($"id1".as("id"))
        .unionAll(pairs.select($"id2".as("id")))
        .distinct()
        .select($"id", ($"id" - $"id" % 10).as("component"))
      Forget.retractComponents(stored, pairs, deleted).orderBy($"id")
    },
    Some("""WITH RECURSIVE
            |u AS (SELECT doc_id AS i FROM documents WHERE doc_id < 200),
            |pairs AS (SELECT i AS id1, i + 1 AS id2 FROM u WHERE i % 10 IN (0, 1, 2)),
            |del AS (SELECT i FROM u WHERE i % 40 = 1 OR i % 40 = 30),
            |nodes AS (SELECT id1 AS id FROM pairs UNION SELECT id2 FROM pairs),
            |retained AS (SELECT id FROM nodes WHERE id NOT IN (SELECT i FROM del)),
            |sp AS (SELECT id1, id2 FROM pairs
            |       WHERE id1 NOT IN (SELECT i FROM del)
            |         AND id2 NOT IN (SELECT i FROM del)),
            |edges AS (SELECT id1 AS a, id2 AS b FROM sp
            |          UNION SELECT id2, id1 FROM sp
            |          UNION SELECT id, id FROM retained),
            |reach(id, r) AS (SELECT a, a FROM edges
            |                 UNION
            |                 SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
            |SELECT id, min(r) AS component FROM reach GROUP BY id
            |ORDER BY id""".stripMargin))

  /** Deletion propagation through counted exact-dedup digest state:
    * subtract the deleted rows' multiplicities, digests hitting zero
    * leave. The gate pins the cascade identity — retracted state ≡
    * digestCounts of the retained corpus — cross-engine (DuckDB's
    * sha256 and Spark's sha2(...,256) agree on UTF-8 text).
    */
  val q96 = Q(
    "q96_retract_digests",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val state = Forget.digestCounts(docs, $"text")
      val deletedRows = docs.filter($"doc_id" % 7 === 0)
      Forget.retractDigests(state, deletedRows, $"text").orderBy($"digest")
    },
    Some("""SELECT sha256(text) AS digest, count(*) AS n
            FROM documents WHERE doc_id % 7 <> 0
            GROUP BY sha256(text) ORDER BY digest"""))

  /** Wide-coverage language ID: script detection (9 non-Latin scripts)
    * over planted multilingual rows + stopword argmax (7 Latin
    * languages) over the corpus, the whole two-branch CASE mirrored in
    * the oracle. The synthetic documents exercise the Latin branch;
    * the planted VALUES rows (identical literals both sides) exercise
    * every script branch including the kana-vs-ideograph ja/zh split.
    *
    * The two astral rows pin the length-semantics identity: both
    * engines count CODEPOINTS (Spark `UTF8String.numChars`, DuckDB
    * `length`), and row 100013 sits exactly ON the 30% threshold under
    * codepoint counting (3 Cyrillic / 10 non-space) — an engine that
    * counted UTF-16 units (denominator 14) would flip it ru→en and the
    * gate would hash-mismatch. Row 100014 pins that CJK-extension-B
    * ideographs stay OUT of the zh class while still counting in the
    * denominator, identically on both sides. Both rows are built from
    * raw codepoints (`Character.toChars` / `chr()`) so no source or
    * wire encoding can silently change what's being compared.
    */
  val q97 = Q(
    "q97_lang_id_wide",
    (s, dir) => {
      import s.implicits._
      val emoji = new String(Character.toChars(0x1F600))
      val extB = new String(Character.toChars(0x20000))
      val planted = Seq(
        (100000L, "это новый дом и мы живём здесь уже давно"),
        (100001L, "αυτό είναι ένα καλό σπίτι και μένουμε εδώ χρόνια"),
        (100002L, "هذا بيت جديد ونحن نعيش هنا منذ زمن طويل"),
        (100003L, "זה בית חדש ואנחנו גרים כאן הרבה זמן"),
        (100004L, "यह एक नया घर है और हम यहाँ रहते हैं"),
        (100005L, "นี่คือบ้านใหม่และเราอยู่ที่นี่มานาน"),
        (100006L, "이것은 새 집이고 우리는 여기 오래 살았다"),
        (100007L, "これは新しい家でわたしたちはここに住んでいます"),
        (100008L, "这是一个新房子我们在这里住了很久"),
        (100009L, "il gatto è sul tetto della casa e non vuole scendere che bello"),
        (100010L, "o menino não quer uma coisa que ele viu e o pai dele também"),
        (100011L, "de man en het kind zijn in een huis en dat is mooi"),
        // mixed row BETWEEN the two thresholds (script chars > 3× the
        // space count but < 30% of non-space chars): distinguishes the
        // correct non-space denominator from a space-count denominator
        // — the regression the r9 review caught in this oracle
        (100012L, "the quick brown fox список слов plus more english words here"),
        (100013L, "ввв " + (emoji * 4) + " abc"),
        (100014L, (extB * 2) + " 这是一个新房子"))
        .toDF("doc_id", "text")
      t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
        .select($"doc_id", TextAnalysis.langIdWide($"text").as("pred_lang"))
        .orderBy($"doc_id")
    },
    Some("""WITH planted(doc_id, text) AS (VALUES
            |  (100000, 'это новый дом и мы живём здесь уже давно'),
            |  (100001, 'αυτό είναι ένα καλό σπίτι και μένουμε εδώ χρόνια'),
            |  (100002, 'هذا بيت جديد ونحن نعيش هنا منذ زمن طويل'),
            |  (100003, 'זה בית חדש ואנחנו גרים כאן הרבה זמן'),
            |  (100004, 'यह एक नया घर है और हम यहाँ रहते हैं'),
            |  (100005, 'นี่คือบ้านใหม่และเราอยู่ที่นี่มานาน'),
            |  (100006, '이것은 새 집이고 우리는 여기 오래 살았다'),
            |  (100007, 'これは新しい家でわたしたちはここに住んでいます'),
            |  (100008, '这是一个新房子我们在这里住了很久'),
            |  (100009, 'il gatto è sul tetto della casa e non vuole scendere che bello'),
            |  (100010, 'o menino não quer uma coisa que ele viu e o pai dele também'),
            |  (100011, 'de man en het kind zijn in een huis en dat is mooi'),
            |  (100012, 'the quick brown fox список слов plus more english words here'),
            |  (100013, 'ввв ' || repeat(chr(128512), 4) || ' abc'),
            |  (100014, repeat(chr(131072), 2) || ' 这是一个新房子')),
            |u AS (SELECT doc_id, text FROM documents
            |      UNION ALL SELECT doc_id, text FROM planted),
            |c AS (SELECT doc_id,
            |  length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS ru,
            |  length(text) - length(regexp_replace(text, '[\x{0370}-\x{03FF}]', '', 'g')) AS el,
            |  length(text) - length(regexp_replace(text, '[\x{0600}-\x{06FF}\x{0750}-\x{077F}]', '', 'g')) AS ar,
            |  length(text) - length(regexp_replace(text, '[\x{0590}-\x{05FF}]', '', 'g')) AS he,
            |  length(text) - length(regexp_replace(text, '[\x{0900}-\x{097F}]', '', 'g')) AS hi,
            |  length(text) - length(regexp_replace(text, '[\x{0E00}-\x{0E7F}]', '', 'g')) AS th,
            |  length(text) - length(regexp_replace(text, '[\x{AC00}-\x{D7A3}\x{1100}-\x{11FF}\x{3130}-\x{318F}]', '', 'g')) AS ko,
            |  length(text) - length(regexp_replace(text, '[\x{3040}-\x{30FF}]', '', 'g')) AS ja,
            |  length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}]', '', 'g')) AS zh,
            |  greatest(length(regexp_replace(text, ' ', '', 'g')), 1) AS nonspace,
            |  len(list_filter(string_split_regex(trim(text), '\s+'),
            |      t -> list_contains(['the','a','of','and','is'], t))) AS en,
            |  len(list_filter(string_split_regex(trim(text), '\s+'),
            |      t -> list_contains(['der','die','das','und','ist'], t))) AS de,
            |  len(list_filter(string_split_regex(trim(text), '\s+'),
            |      t -> list_contains(['el','los','una','y','es'], t))) AS es,
            |  len(list_filter(string_split_regex(trim(text), '\s+'),
            |      t -> list_contains(['le','les','une','et','est'], t))) AS fr,
            |  len(list_filter(string_split_regex(trim(text), '\s+'),
            |      t -> list_contains(['il','della','che','e','è'], t))) AS it,
            |  len(list_filter(string_split_regex(trim(text), '\s+'),
            |      t -> list_contains(['o','uma','que','e','não'], t))) AS pt,
            |  len(list_filter(string_split_regex(trim(text), '\s+'),
            |      t -> list_contains(['de','het','een','en','is'], t))) AS nl
            |FROM u),
            |a AS (SELECT *, CASE WHEN ja > 0 THEN ja + zh ELSE 0 END AS jaa FROM c)
            |SELECT doc_id,
            |  CASE WHEN greatest(ru, el, ar, he, hi, th, ko, jaa, zh) * 10 >= nonspace * 3 THEN
            |    CASE WHEN ru >= el AND ru >= ar AND ru >= he AND ru >= hi AND ru >= th AND ru >= ko AND ru >= jaa AND ru >= zh THEN 'ru'
            |         WHEN el >= ar AND el >= he AND el >= hi AND el >= th AND el >= ko AND el >= jaa AND el >= zh THEN 'el'
            |         WHEN ar >= he AND ar >= hi AND ar >= th AND ar >= ko AND ar >= jaa AND ar >= zh THEN 'ar'
            |         WHEN he >= hi AND he >= th AND he >= ko AND he >= jaa AND he >= zh THEN 'he'
            |         WHEN hi >= th AND hi >= ko AND hi >= jaa AND hi >= zh THEN 'hi'
            |         WHEN th >= ko AND th >= jaa AND th >= zh THEN 'th'
            |         WHEN ko >= jaa AND ko >= zh THEN 'ko'
            |         WHEN jaa >= zh THEN 'ja'
            |         ELSE 'zh' END
            |  ELSE
            |    CASE WHEN en >= de AND en >= es AND en >= fr AND en >= it AND en >= pt AND en >= nl THEN 'en'
            |         WHEN de >= es AND de >= fr AND de >= it AND de >= pt AND de >= nl THEN 'de'
            |         WHEN es >= fr AND es >= it AND es >= pt AND es >= nl THEN 'es'
            |         WHEN fr >= it AND fr >= pt AND fr >= nl THEN 'fr'
            |         WHEN it >= pt AND it >= nl THEN 'it'
            |         WHEN pt >= nl THEN 'pt'
            |         ELSE 'nl' END
            |  END AS pred_lang
            |FROM a ORDER BY doc_id""".stripMargin))

  /** Deletion propagation through a stored packed-sequence manifest:
    * only the md5 buckets that lost a document repack (their orders,
    * prefix sums, and bin boundaries shift); the rest of the manifest
    * passes through untouched. The gate pins the full identity —
    * retract ≡ repack-from-scratch over the retained corpus — via the
    * q55 oracle restricted to retained doc_ids.
    */
  val q98 = Q(
    "q98_retract_packing",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id",
        TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      val stored = Packing.packByBudget(docs, $"doc_id", $"n_tokens",
        budget = 512L, salt = "pack")
      val deleted = docs.filter($"doc_id" % 9 === 2).select($"doc_id".as("id"))
      Forget.retractPacking(stored, docs, "doc_id", "n_tokens", deleted,
          budget = 512L, salt = "pack")
        .orderBy($"bucket", $"pack_pos")
    },
    Some("""WITH d AS (SELECT doc_id,
            |                 len(string_split_regex(trim(text), '\s+')) AS n,
            |                 md5(CAST(doc_id AS VARCHAR) || 'pack') AS h
            |          FROM documents WHERE doc_id % 9 <> 2),
            |v AS (SELECT doc_id, n, h,
            |             (CASE WHEN ascii(substring(h,1,1)) <= 57
            |                   THEN ascii(substring(h,1,1)) - 48
            |                   ELSE ascii(substring(h,1,1)) - 87 END) * 16 +
            |             (CASE WHEN ascii(substring(h,2,1)) <= 57
            |                   THEN ascii(substring(h,2,1)) - 48
            |                   ELSE ascii(substring(h,2,1)) - 87 END) AS bucket
            |      FROM d),
            |p AS (SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
            |             row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS pack_pos,
            |             CAST(sum(n) OVER (PARTITION BY bucket ORDER BY h, doc_id
            |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
            |             CAST(n AS BIGINT) AS nn
            |      FROM v)
            |SELECT doc_id, bucket, CAST(pack_pos AS BIGINT) AS pack_pos,
            |       cum_tokens, (cum_tokens - nn) // 512 AS bin_id
            |FROM p ORDER BY bucket, pack_pos""".stripMargin))

  /** The TRAINER itself under a full oracle: three batch-gradient
    * iterations of QualityTrain.fit unrolled in SQL — per-row IEEE
    * gradients, DECIMAL(38,6) quantization, exact decimal sums, and
    * the identical step arithmetic — so the learned weights hash-match
    * cross-engine, not just cross-partitioning (the q85 discipline:
    * determinism claims get gated, not asserted). Labels are a
    * deterministic function of doc_id; the gate pins the FIT, not the
    * fixture's learnability.
    */
  val q99 = Q(
    "q99_trained_classifier",
    (s, dir) => {
      import s.implicits._
      val labeled = t(s, dir, "documents")
        .select($"doc_id", $"text", ($"doc_id" % 3 === 0).cast("int").as("label"))
      QualityTrain.fit(labeled, $"text", $"label", iters = 3, lr = 0.5)
        .toDF("feature", "weight").orderBy($"feature")
    },
    Some("""WITH base AS (
            |  SELECT CAST(CAST(doc_id % 3 = 0 AS INTEGER) AS DOUBLE) AS y,
            |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
            |              t -> list_contains(['the','a','of','and','is'], t))) AS DOUBLE) AS stop,
            |         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ntok_raw,
            |         CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) AS ntok,
            |         CAST(greatest(length(text), 1) AS DOUBLE) AS nchar,
            |         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS ndig,
            |         CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) AS nspace
            |  FROM documents),
            |f AS (SELECT y, 1.0 AS f0, stop / ntok AS f1, ndig / nchar AS f2,
            |             nspace / nchar AS f3, nchar / ntok AS f4,
            |             least(ntok_raw / 100.0, 1.0) AS f5
            |      FROM base),
            |n AS (SELECT count(*) AS n FROM f),
            |w0 AS (SELECT 0.0 AS a0, 0.0 AS a1, 0.0 AS a2, 0.0 AS a3, 0.0 AS a4, 0.0 AS a5),
            |g1 AS (SELECT
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f0 AS DECIMAL(38,6))) AS DOUBLE) AS g0,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f1 AS DECIMAL(38,6))) AS DOUBLE) AS g1,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f2 AS DECIMAL(38,6))) AS DOUBLE) AS g2,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f3 AS DECIMAL(38,6))) AS DOUBLE) AS g3,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f4 AS DECIMAL(38,6))) AS DOUBLE) AS g4,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f5 AS DECIMAL(38,6))) AS DOUBLE) AS g5
            |  FROM f, w0),
            |w1 AS (SELECT a0 - 0.5*(g0/n) AS a0, a1 - 0.5*(g1/n) AS a1,
            |              a2 - 0.5*(g2/n) AS a2, a3 - 0.5*(g3/n) AS a3,
            |              a4 - 0.5*(g4/n) AS a4, a5 - 0.5*(g5/n) AS a5
            |       FROM w0, g1, n),
            |g2s AS (SELECT
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f0 AS DECIMAL(38,6))) AS DOUBLE) AS g0,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f1 AS DECIMAL(38,6))) AS DOUBLE) AS g1,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f2 AS DECIMAL(38,6))) AS DOUBLE) AS g2,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f3 AS DECIMAL(38,6))) AS DOUBLE) AS g3,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f4 AS DECIMAL(38,6))) AS DOUBLE) AS g4,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f5 AS DECIMAL(38,6))) AS DOUBLE) AS g5
            |  FROM f, w1),
            |w2 AS (SELECT a0 - 0.5*(g0/n) AS a0, a1 - 0.5*(g1/n) AS a1,
            |              a2 - 0.5*(g2/n) AS a2, a3 - 0.5*(g3/n) AS a3,
            |              a4 - 0.5*(g4/n) AS a4, a5 - 0.5*(g5/n) AS a5
            |       FROM w1, g2s, n),
            |g3s AS (SELECT
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f0 AS DECIMAL(38,6))) AS DOUBLE) AS g0,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f1 AS DECIMAL(38,6))) AS DOUBLE) AS g1,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f2 AS DECIMAL(38,6))) AS DOUBLE) AS g2,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f3 AS DECIMAL(38,6))) AS DOUBLE) AS g3,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f4 AS DECIMAL(38,6))) AS DOUBLE) AS g4,
            |  CAST(SUM(CAST((1.0/(1.0+exp(-(a0*f0+a1*f1+a2*f2+a3*f3+a4*f4+a5*f5))) - y)*f5 AS DECIMAL(38,6))) AS DOUBLE) AS g5
            |  FROM f, w2),
            |w3 AS (SELECT a0 - 0.5*(g0/n) AS a0, a1 - 0.5*(g1/n) AS a1,
            |              a2 - 0.5*(g2/n) AS a2, a3 - 0.5*(g3/n) AS a3,
            |              a4 - 0.5*(g4/n) AS a4, a5 - 0.5*(g5/n) AS a5
            |       FROM w2, g3s, n)
            |SELECT feature, weight FROM (
            |  SELECT 'intercept' AS feature, a0 AS weight FROM w3
            |  UNION ALL SELECT 'stopword_ratio', a1 FROM w3
            |  UNION ALL SELECT 'digit_ratio', a2 FROM w3
            |  UNION ALL SELECT 'space_ratio', a3 FROM w3
            |  UNION ALL SELECT 'mean_token_len', a4 FROM w3
            |  UNION ALL SELECT 'len_norm', a5 FROM w3)
            |ORDER BY feature""".stripMargin))

  /** PQ-compressed IVF serving at the exact-reconstruction degenerate
    * point: with iters = 0 and ksub covering every distinct sub-vector
    * the codebook IS the sub-vector set, reconstruction is bit-exact
    * (|s|² − 2·s·c + |c|² is exactly 0.0 in IEEE when s == c), and the
    * quantized probe — encode, store codes, decode in-row, rerank —
    * must reproduce the EXACT probe bit for bit. With nprobe = nlist
    * every cell is probed, so the oracle is plain brute force over the
    * slice (the q89 discipline: the oracle is the exact computation).
    * The whole PQ pipeline — subspace split, L2 argmin encode, coded
    * serving state, literal-codebook decode — sits under this gate;
    * RecallSpec pins the lossy operating points.
    */
  val q100 = Q(
    "q100_pq_exact",
    (s, dir) => {
      import s.implicits._
      val slice = t(s, dir, "embeddings").filter($"vec_id" < 64)
        .select($"vec_id", $"embedding")
      val queries = slice.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val book = graft.ext.VectorQuant.pqTrain(slice, "vec_id", "embedding",
        m = 8, ksub = 64, iters = 0, dim = 64)
      val ivf = EmbeddingSearch.buildIvfIndex(slice, "vec_id", "embedding", nlist = 4)
      val pidx = graft.ext.VectorQuant.quantizeIndex(ivf, slice, "vec_id", "embedding", book)
      graft.ext.VectorQuant.ivfProbePq(pidx, queries, "qid", "qvec", k = 4, nprobe = 4)
        .select($"qid".as("vec_id"), $"neighbor_id",
          $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"vec_id", $"rank")
    },
    Some("""WITH c AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                       FROM embeddings WHERE vec_id < 64),
            q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 8),
            pairs AS (SELECT q.qid, c.vec_id AS nid,
                             list_inner_product(qv, v) /
                               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
                      FROM c, q WHERE c.vec_id != q.qid),
            ranked AS (SELECT qid, nid, cos,
                              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
                       FROM pairs)
            SELECT qid AS vec_id, nid AS neighbor_id, rnk AS rank, cos
            FROM ranked WHERE rnk <= 4 ORDER BY vec_id, rank"""))

  /** N-gram LM quality scoring under the oracle gate: the model (bigram
    * + history counts + vocab size) trains on the documents corpus and
    * scores the corpus plus two planted rows — an OOV gibberish doc
    * (every bigram unseen → n_oov = n_bigrams, score = 1/V-ish) and a
    * repeated-common-word doc (all bigrams seen). The gated score is
    * the RATIONAL face — mean add-one bigram probability with
    * DECIMAL(38,6) order-invariant sums over 1e6-prescaled terms — so
    * the whole train→score loop hash-matches cross-engine with no ln()
    * anywhere (the q51 discipline; ln lives in the ungated
    * [[graft.ext.NgramLm.avgLogProb]]).
    */
  val q101 = Q(
    "q101_ngram_lm",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val planted = Seq(
        (200000L, "zxqw vbnk qpzm zxqw vbnk qpzm zxqw"),
        (200001L, "the the the the the the")).toDF("doc_id", "text")
      val model = NgramLm.train(docs, $"text")
      NgramLm.scoreDocs(docs.unionAll(planted), $"doc_id", $"text", model)
        .orderBy($"doc_id")
    },
    Some("""WITH src AS (SELECT doc_id, text FROM documents),
            |cand AS (SELECT doc_id, text FROM src
            |         UNION ALL SELECT * FROM (VALUES
            |           (200000, 'zxqw vbnk qpzm zxqw vbnk qpzm zxqw'),
            |           (200001, 'the the the the the the')) p(doc_id, text)),
            |rtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM src),
            |vocab AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(t) AS tok FROM rtok)),
            |rbig AS (SELECT t[i] || ' ' || t[i+1] AS gram, t[i] AS w1
            |         FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM rtok WHERE len(t) >= 2)),
            |bc AS (SELECT gram, count(*) AS c12 FROM rbig GROUP BY gram),
            |hc AS (SELECT w1, count(*) AS c1 FROM rbig GROUP BY w1),
            |ctok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM cand),
            |cbig AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, t[i] AS w1
            |         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM ctok WHERE len(t) >= 2)),
            |j AS (SELECT doc_id,
            |             (CAST(coalesce(bc.c12, 0) AS DOUBLE) + 1.0) /
            |             (CAST(coalesce(hc.c1, 0) AS DOUBLE) + CAST(v AS DOUBLE)) AS p,
            |             CASE WHEN bc.c12 IS NULL THEN 1 ELSE 0 END AS oov
            |      FROM cbig LEFT JOIN bc USING (gram) LEFT JOIN hc USING (w1), vocab)
            |SELECT doc_id, count(*) AS n_bigrams, CAST(SUM(oov) AS BIGINT) AS n_oov,
            |       CAST(SUM(CAST(p * 1e6 AS DECIMAL(38,6))) AS DOUBLE) /
            |         CAST(count(*) AS DOUBLE) / 1e6 AS lm_score
            |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** The PQ TRAINER under the oracle gate (the q99 discipline applied
    * to codebook training): one full Lloyd round — deterministic
    * distinct-subvector init, L2-argmin assignment with the expanded
    * |s|²−2sc+|c|² kernel, DECIMAL(38,6) order-invariant per-dimension
    * means — mirrored completely in SQL, and the learned codebook
    * itself hash-matches cross-engine. Together with q100 (degenerate
    * encode/serve identity) the train→encode→serve loop is closed the
    * way q99+q93 closed the classifier's.
    */
  val q102 = Q(
    "q102_pq_train",
    (s, dir) => {
      import s.implicits._
      val slice = t(s, dir, "embeddings").filter($"vec_id" < 64)
        .select($"vec_id", $"embedding")
      graft.ext.VectorQuant.pqTrain(slice, "vec_id", "embedding",
          m = 8, ksub = 4, iters = 1, dim = 64)
        .codebook
        .select($"sub", $"code", posexplode($"centroid").as(Seq("pos", "m")))
        .select($"sub", $"code", $"pos".cast("int").as("pos"),
          $"m".cast("double").as("m"))
        .orderBy($"sub", $"code", $"pos")
    },
    Some("""WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 64),
            |sv AS (SELECT vec_id, s.sub,
            |              list_transform(embedding[s.sub * 8 + 1 : s.sub * 8 + 8],
            |                             x -> CAST(x AS DOUBLE)) AS v
            |       FROM c, (SELECT unnest(generate_series(0, 7)) AS sub) s),
            |init AS (SELECT sub, centroid,
            |                CAST(row_number() OVER (PARTITION BY sub ORDER BY fid) - 1 AS INT) AS code
            |         FROM (SELECT sub, v AS centroid, min(vec_id) AS fid
            |               FROM sv GROUP BY sub, v)
            |         QUALIFY code < 4),
            |d AS (SELECT sv.vec_id, sv.sub, sv.v, i.code,
            |             list_inner_product(sv.v, sv.v)
            |               - 2.0 * list_inner_product(sv.v, i.centroid)
            |               + list_inner_product(i.centroid, i.centroid) AS d2
            |      FROM sv JOIN init i ON sv.sub = i.sub),
            |a AS (SELECT vec_id, sub, v, code,
            |             row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
            |      FROM d QUALIFY rn = 1),
            |dims AS (SELECT sub, code, u.pos, u.val
            |         FROM a, LATERAL (SELECT unnest(v) AS val,
            |                                 generate_subscripts(v, 1) AS pos) u),
            |mu AS (SELECT sub, code, pos,
            |              CAST(CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS FLOAT) AS m
            |       FROM dims GROUP BY sub, code, pos)
            |SELECT CAST(sub AS INT) AS sub, code, CAST(pos - 1 AS INT) AS pos,
            |       CAST(m AS DOUBLE) AS m
            |FROM mu ORDER BY sub, code, pos""".stripMargin))

  /** The interpolated (Jelinek–Mercer) LM face under the oracle gate:
    * same train corpus and planted rows as q101, but the score backs
    * off onto an add-one unigram — the face that orders known-word
    * salad above OOV gibberish (see
    * [[graft.ext.NgramLm.scoreDocsInterpolated]]). λ = 0.75 is dyadic,
    * every term is one exactly-rounded IEEE op mirrored verbatim in
    * the SQL, and the mean uses the same 1e6-prescaled DECIMAL(38,6)
    * order-invariant sum — so the whole train→back-off→score loop
    * hash-matches cross-engine.
    */
  val q103 = Q(
    "q103_lm_interpolated",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val planted = Seq(
        (200000L, "zxqw vbnk qpzm zxqw vbnk qpzm zxqw"),
        (200001L, "the the the the the the")).toDF("doc_id", "text")
      val model = NgramLm.train(docs, $"text")
      NgramLm.scoreDocsInterpolated(docs.unionAll(planted), $"doc_id", $"text", model)
        .orderBy($"doc_id")
    },
    Some("""WITH src AS (SELECT doc_id, text FROM documents),
            |cand AS (SELECT doc_id, text FROM src
            |         UNION ALL SELECT * FROM (VALUES
            |           (200000, 'zxqw vbnk qpzm zxqw vbnk qpzm zxqw'),
            |           (200001, 'the the the the the the')) p(doc_id, text)),
            |rtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM src),
            |toks AS (SELECT unnest(t) AS tok FROM rtok),
            |tots AS (SELECT count(DISTINCT tok) AS v, count(*) AS n FROM toks),
            |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY tok),
            |rbig AS (SELECT t[i] || ' ' || t[i+1] AS gram, t[i] AS w1
            |         FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM rtok WHERE len(t) >= 2)),
            |bc AS (SELECT gram, count(*) AS c12 FROM rbig GROUP BY gram),
            |hc AS (SELECT w1, count(*) AS c1 FROM rbig GROUP BY w1),
            |ctok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM cand),
            |cbig AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, t[i] AS w1, t[i+1] AS w2
            |         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM ctok WHERE len(t) >= 2)),
            |j AS (SELECT doc_id,
            |             CASE WHEN coalesce(hc.c1, 0) > 0
            |                  THEN 0.75 * (CAST(coalesce(bc.c12, 0) AS DOUBLE) /
            |                               CAST(hc.c1 AS DOUBLE))
            |                  ELSE 0.0 END +
            |             0.25 * ((CAST(coalesce(uni.cu, 0) AS DOUBLE) + 1.0) /
            |                     CAST(n + v AS DOUBLE)) AS p,
            |             CASE WHEN bc.c12 IS NULL THEN 1 ELSE 0 END AS oov
            |      FROM cbig LEFT JOIN bc USING (gram) LEFT JOIN hc USING (w1)
            |                LEFT JOIN uni ON cbig.w2 = uni.tok, tots)
            |SELECT doc_id, count(*) AS n_bigrams, CAST(SUM(oov) AS BIGINT) AS n_oov,
            |       CAST(SUM(CAST(p * 1e6 AS DECIMAL(38,6))) AS DOUBLE) /
            |         CAST(count(*) AS DOUBLE) / 1e6 AS lm_score
            |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** int8 scalar quantization under the oracle gate, via the same
    * degenerate-exactness discipline as q100: a planted corpus whose
    * values all sit on a DYADIC affine grid — v[i] = ((id+i) mod
    * 256)/256, so every dimension sees all 256 residues, per-dim lo
    * is 0 and hi is 255/256, and the learned scale is exactly 2⁻⁸.
    * On that grid encode→decode is bit-exact (round((v−0)/2⁻⁸) = k,
    * decode k·2⁻⁸ = v), so serving brute-force top-k FROM THE
    * INT8-DECODED corpus must equal the oracle's brute force over the
    * same generated values. Every intermediate is exact dyadic (dot
    * terms k₁k₂/2¹⁶ summed to < 2²²), so the comparison is
    * order-independent and hash-exact cross-engine; ties break on
    * neighbor id on both sides.
    */
  val q104 = Q(
    "q104_int8_exact",
    (s, dir) => {
      import s.implicits._
      val corpus = s.range(256).select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((($"id" + i) % 256).cast("double") / lit(256.0)).cast("float"))
          .as("embedding"))
      val params = graft.ext.VectorQuant.int8Params(corpus, "embedding")
      val served = corpus.select($"vec_id",
        graft.ext.VectorQuant.int8DecodeExpr(params,
          graft.ext.VectorQuant.int8EncodeExpr(params, $"embedding"))
          .as("embedding"))
      val queries = corpus.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      EmbeddingSearch.bruteForceTopK(served, "vec_id", "embedding",
          queries, "qid", "qvec", k = 4)
        .select($"qid".as("vec_id"), $"neighbor_id",
          $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"vec_id", $"rank")
    },
    Some("""WITH c AS (SELECT id AS vec_id,
            |                  list_transform(generate_series(0, 63),
            |                    i -> CAST((id + i) % 256 AS DOUBLE) / 256.0) AS v
            |           FROM range(256) t(id)),
            |q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 8),
            |pairs AS (SELECT q.qid, c.vec_id AS nid,
            |                 list_inner_product(qv, v) /
            |                   (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
            |          FROM c, q WHERE c.vec_id != q.qid),
            |ranked AS (SELECT qid, nid, cos,
            |                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
            |           FROM pairs)
            |SELECT qid AS vec_id, nid AS neighbor_id, rnk AS rank, cos
            |FROM ranked WHERE rnk <= 4 ORDER BY vec_id, rank""".stripMargin))

  /** Takedown cascade through PQ-quantized ANN serving state, under
    * the retract ≡ rebuild oracle discipline of q95/q96/q98 at q100's
    * degenerate-exactness point: quantize the 64-vector corpus with
    * the exact codebook, retract a 16-id block from the (id, cell,
    * codes) state via [[graft.ext.Forget.retractPq]], then full-probe
    * it. Reconstruction stays bit-exact for every RETAINED vector
    * (its sub-vectors are still codebook entries), so the probe from
    * retracted quantized state must equal plain brute force over the
    * retained corpus — which is all the oracle computes. Deleted ids
    * must be absent from every neighbor list; survivors shift up.
    */
  val q105 = Q(
    "q105_retract_pq",
    (s, dir) => {
      import s.implicits._
      val slice = t(s, dir, "embeddings").filter($"vec_id" < 64)
        .select($"vec_id", $"embedding")
      val queries = slice.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val book = graft.ext.VectorQuant.pqTrain(slice, "vec_id", "embedding",
        m = 8, ksub = 64, iters = 0, dim = 64)
      val ivf = EmbeddingSearch.buildIvfIndex(slice, "vec_id", "embedding", nlist = 4)
      val pidx = graft.ext.VectorQuant.quantizeIndex(ivf, slice, "vec_id", "embedding", book)
      val deleted = s.range(32, 48).select($"id".as("vec_id"))
      val retracted = graft.ext.Forget.retractPq(pidx, deleted)
      graft.ext.VectorQuant.ivfProbePq(retracted, queries, "qid", "qvec",
          k = 4, nprobe = 4)
        .select($"qid".as("vec_id"), $"neighbor_id",
          $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"vec_id", $"rank")
    },
    Some("""WITH c AS (SELECT vec_id,
            |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) v
            |           FROM embeddings WHERE vec_id < 64),
            |ret AS (SELECT * FROM c WHERE vec_id < 32 OR vec_id >= 48),
            |q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 8),
            |pairs AS (SELECT q.qid, ret.vec_id AS nid,
            |                 list_inner_product(qv, v) /
            |                   (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
            |          FROM ret, q WHERE ret.vec_id != q.qid),
            |ranked AS (SELECT qid, nid, cos,
            |                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
            |           FROM pairs)
            |SELECT qid AS vec_id, nid AS neighbor_id, rnk AS rank, cos
            |FROM ranked WHERE rnk <= 4 ORDER BY vec_id, rank""".stripMargin))

  /** Hard-negative mining from QUANTIZED serving state under the
    * oracle gate: q92's mining semantics with candidates decoded
    * per-row from (cell, codes) instead of joined from the corpus —
    * at the q100 degenerate-exactness point (ksub covers every
    * distinct sub-vector, full probe), where reconstruction is
    * bit-exact and the mined negatives must equal plain brute force
    * with self + positive excluded, which is all the oracle computes.
    */
  val q106 = Q(
    "q106_hard_negatives_pq",
    (s, dir) => {
      import s.implicits._
      val slice = t(s, dir, "embeddings").filter($"vec_id" < 64)
        .select($"vec_id", $"embedding")
      val pairs = slice.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"),
          ($"vec_id" + 1L).as("pos_id"))
      val book = graft.ext.VectorQuant.pqTrain(slice, "vec_id", "embedding",
        m = 8, ksub = 64, iters = 0, dim = 64)
      val ivf = EmbeddingSearch.buildIvfIndex(slice, "vec_id", "embedding", nlist = 4)
      val pidx = graft.ext.VectorQuant.quantizeIndex(ivf, slice, "vec_id", "embedding", book)
      graft.ext.VectorQuant.hardNegativesIvfPq(pidx, pairs, "qid", "qvec",
          "pos_id", k = 4, nprobe = 4)
        .select($"qid", $"negative_id", $"rank".cast("long").as("rank"), $"cos")
        .orderBy($"qid", $"rank")
    },
    Some("""WITH c AS (SELECT vec_id,
            |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) v
            |           FROM embeddings WHERE vec_id < 64),
            |q AS (SELECT vec_id AS qid, v AS qv, vec_id + 1 AS pos_id
            |      FROM c WHERE vec_id < 10),
            |pairs AS (SELECT q.qid, c.vec_id AS nid,
            |                 list_inner_product(qv, v) /
            |                   (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))) AS cos
            |          FROM c, q WHERE c.vec_id != q.qid AND c.vec_id != q.pos_id),
            |ranked AS (SELECT qid, nid, cos,
            |                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
            |           FROM pairs)
            |SELECT qid, nid AS negative_id, rnk AS rank, cos
            |FROM ranked WHERE rnk <= 4 ORDER BY qid, rank""".stripMargin))

  /** Interpolated Kneser–Ney LM scoring under the oracle gate: the
    * smoothing KenLM actually ships, kept rational (see
    * [[graft.ext.NgramLm.scoreDocsKneserNey]] — every term one
    * exactly-rounded IEEE op over integer counts, D = 0.75 dyadic,
    * continuation counts derived from the distinct-bigram table).
    * Same train corpus and planted rows as q101/q103; the third
    * smoothing face closes the family: add-one (q101), Jelinek–Mercer
    * (q103), Kneser–Ney (here), each hash-matched cross-engine from
    * the same model tables.
    */
  val q107 = Q(
    "q107_kneser_ney",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val planted = Seq(
        (200000L, "zxqw vbnk qpzm zxqw vbnk qpzm zxqw"),
        (200001L, "the the the the the the")).toDF("doc_id", "text")
      val model = NgramLm.train(docs, $"text")
      NgramLm.scoreDocsKneserNey(docs.unionAll(planted), $"doc_id", $"text", model)
        .orderBy($"doc_id")
    },
    Some("""WITH src AS (SELECT doc_id, text FROM documents),
            |cand AS (SELECT doc_id, text FROM src
            |         UNION ALL SELECT * FROM (VALUES
            |           (200000, 'zxqw vbnk qpzm zxqw vbnk qpzm zxqw'),
            |           (200001, 'the the the the the the')) p(doc_id, text)),
            |rtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM src),
            |vocab AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(t) AS tok FROM rtok)),
            |rbig AS (SELECT t[i] || ' ' || t[i+1] AS gram, t[i] AS w1
            |         FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM rtok WHERE len(t) >= 2)),
            |bc AS (SELECT gram, count(*) AS c12 FROM rbig GROUP BY gram),
            |hc AS (SELECT w1, count(*) AS c1 FROM rbig GROUP BY w1),
            |fwd AS (SELECT split_part(gram, ' ', 1) AS w1, count(*) AS n1pf
            |        FROM bc GROUP BY 1),
            |bwd AS (SELECT split_part(gram, ' ', 2) AS w2, count(*) AS n1pb
            |        FROM bc GROUP BY 1),
            |btot AS (SELECT count(*) AS b FROM bc),
            |ctok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM cand),
            |cbig AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, t[i] AS w1, t[i+1] AS w2
            |         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM ctok WHERE len(t) >= 2)),
            |j AS (SELECT doc_id,
            |             CASE WHEN coalesce(hc.c1, 0) > 0
            |                  THEN greatest(CAST(coalesce(bc.c12, 0) AS DOUBLE) - 0.75, 0.0) /
            |                         CAST(hc.c1 AS DOUBLE) +
            |                       ((0.75 * CAST(coalesce(fwd.n1pf, 0) AS DOUBLE)) /
            |                         CAST(hc.c1 AS DOUBLE)) *
            |                         ((CAST(coalesce(bwd.n1pb, 0) AS DOUBLE) + 1.0) /
            |                           CAST(b + v AS DOUBLE))
            |                  ELSE (CAST(coalesce(bwd.n1pb, 0) AS DOUBLE) + 1.0) /
            |                         CAST(b + v AS DOUBLE) END AS p,
            |             CASE WHEN bc.c12 IS NULL THEN 1 ELSE 0 END AS oov
            |      FROM cbig LEFT JOIN bc USING (gram) LEFT JOIN hc USING (w1)
            |                LEFT JOIN fwd USING (w1) LEFT JOIN bwd ON cbig.w2 = bwd.w2,
            |           btot, vocab)
            |SELECT doc_id, count(*) AS n_bigrams, CAST(SUM(oov) AS BIGINT) AS n_oov,
            |       CAST(SUM(CAST(p * 1e6 AS DECIMAL(38,6))) AS DOUBLE) /
            |         CAST(count(*) AS DOUBLE) / 1e6 AS lm_score
            |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** CCNet-style perplexity bucketing under the oracle gate: q103's
    * interpolated scores ranked globally (score DESC, id ASC) and cut
    * into head/middle/tail thirds by INTEGER threshold arithmetic
    * (3·rank ≤ n / ≤ 2n). The scores hash-match cross-engine (q103),
    * so the exact-rank labels do too; the sketch-threshold scale face
    * is [[graft.ext.QualityFilter.quantileBandSketch]] (gated at q85).
    */
  val q108 = Q(
    "q108_perplexity_buckets",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val planted = Seq(
        (200000L, "zxqw vbnk qpzm zxqw vbnk qpzm zxqw"),
        (200001L, "the the the the the the")).toDF("doc_id", "text")
      val model = NgramLm.train(docs, $"text")
      val scored = NgramLm.scoreDocsInterpolated(
        docs.unionAll(planted), $"doc_id", $"text", model)
      NgramLm.perplexityBuckets(scored, $"doc_id", $"lm_score")
        .orderBy($"doc_id")
    },
    Some("""WITH src AS (SELECT doc_id, text FROM documents),
            |cand AS (SELECT doc_id, text FROM src
            |         UNION ALL SELECT * FROM (VALUES
            |           (200000, 'zxqw vbnk qpzm zxqw vbnk qpzm zxqw'),
            |           (200001, 'the the the the the the')) p(doc_id, text)),
            |rtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM src),
            |toks AS (SELECT unnest(t) AS tok FROM rtok),
            |tots AS (SELECT count(DISTINCT tok) AS v, count(*) AS n FROM toks),
            |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY tok),
            |rbig AS (SELECT t[i] || ' ' || t[i+1] AS gram, t[i] AS w1
            |         FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM rtok WHERE len(t) >= 2)),
            |bc AS (SELECT gram, count(*) AS c12 FROM rbig GROUP BY gram),
            |hc AS (SELECT w1, count(*) AS c1 FROM rbig GROUP BY w1),
            |ctok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM cand),
            |cbig AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, t[i] AS w1, t[i+1] AS w2
            |         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM ctok WHERE len(t) >= 2)),
            |j AS (SELECT doc_id,
            |             CASE WHEN coalesce(hc.c1, 0) > 0
            |                  THEN 0.75 * (CAST(coalesce(bc.c12, 0) AS DOUBLE) /
            |                               CAST(hc.c1 AS DOUBLE))
            |                  ELSE 0.0 END +
            |             0.25 * ((CAST(coalesce(uni.cu, 0) AS DOUBLE) + 1.0) /
            |                     CAST(n + v AS DOUBLE)) AS p
            |      FROM cbig LEFT JOIN bc USING (gram) LEFT JOIN hc USING (w1)
            |                LEFT JOIN uni ON cbig.w2 = uni.tok, tots),
            |scored AS (SELECT doc_id,
            |                  CAST(SUM(CAST(p * 1e6 AS DECIMAL(38,6))) AS DOUBLE) /
            |                    CAST(count(*) AS DOUBLE) / 1e6 AS lm_score
            |           FROM j GROUP BY doc_id),
            |ranked AS (SELECT doc_id, lm_score,
            |                  row_number() OVER (ORDER BY lm_score DESC, doc_id) AS rn,
            |                  count(*) OVER () AS nn
            |           FROM scored)
            |SELECT doc_id, lm_score,
            |       CASE WHEN rn * 3 <= nn THEN 'head'
            |            WHEN rn * 3 <= nn * 2 THEN 'middle'
            |            ELSE 'tail' END AS bucket
            |FROM ranked ORDER BY doc_id""".stripMargin))

  /** Gopher fixed-rule quality cascade under the oracle gate
    * ([[graft.ext.QualityFilter.gopherFlags]] — every rule an INTEGER
    * comparison, no float boundary anywhere). Planted rows trip each
    * rule individually: a 64-word passing doc, a too-short doc, a
    * long-word doc, a `#`-ridden doc, an all-bullet doc, an
    * ellipsis-line doc, and a stopword-free doc — so every flag column
    * exercises both values regardless of what the synthetic corpus
    * happens to contain.
    */
  val q109 = Q(
    "q109_gopher_rules",
    (s, dir) => {
      import s.implicits._
      val passing = ("the quick brown fox jumps over the lazy dog " +
        "and runs to the river of dreams ") * 4
      val planted = Seq(
        (300000L, passing.trim),
        (300001L, "the cat sat on the mat and that is all"),
        (300002L, ("pneumonoultramicroscopic " * 60).trim),
        (300003L, ("# value " * 30).trim + " the of"),
        (300004L, "- item one\n- item two\n- item three\n- item four"),
        (300005L, "well this is a line...\nand another line goes here...\nthe final line is plain"),
        (300006L, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5).trim))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      QualityFilter.gopherFlags(docs.unionAll(planted), $"doc_id", $"text")
        .orderBy($"doc_id")
    },
    Some("""WITH cand AS (SELECT doc_id, text FROM documents
            |             UNION ALL SELECT * FROM (VALUES
            |  (300000, trim(repeat('the quick brown fox jumps over the lazy dog and runs to the river of dreams ', 4))),
            |  (300001, 'the cat sat on the mat and that is all'),
            |  (300002, trim(repeat('pneumonoultramicroscopic ', 60))),
            |  (300003, trim(repeat('# value ', 30)) || ' the of'),
            |  (300004, '- item one' || chr(10) || '- item two' || chr(10) || '- item three' || chr(10) || '- item four'),
            |  (300005, 'well this is a line...' || chr(10) || 'and another line goes here...' || chr(10) || 'the final line is plain'),
            |  (300006, trim(repeat('alpha beta gamma delta epsilon zeta eta theta iota kappa ', 5)))) p(doc_id, text)),
            |stats AS (SELECT doc_id,
            |    len(string_split_regex(trim(text), '\s+')) AS n_words,
            |    length(regexp_replace(text, '\s+', '', 'g')) AS sum_word_len,
            |    length(text) - length(replace(text, '#', '')) AS n_hash,
            |    CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ellipsis,
            |    len(string_split(text, chr(10))) AS n_lines,
            |    len(list_filter(string_split(text, chr(10)),
            |                    l -> l LIKE '- %' OR l LIKE '* %')) AS n_bullet_lines,
            |    len(list_filter(string_split(text, chr(10)),
            |                    l -> l LIKE '%...')) AS n_ellipsis_lines,
            |    len(list_filter(string_split_regex(trim(text), '\s+'),
            |                    x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha_words,
            |    len(list_filter(['the','be','to','of','and','that','have','with'],
            |                    w -> list_contains(string_split_regex(trim(lower(text)), '\s+'), w))) AS n_stopwords
            |  FROM cand),
            |flags AS (SELECT *,
            |    CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS f_word_count,
            |    CAST(n_words * 3 <= sum_word_len AND sum_word_len <= n_words * 10 AS BIGINT) AS f_mean_word_len,
            |    CAST((n_hash + n_ellipsis) * 10 <= n_words AS BIGINT) AS f_symbol_ratio,
            |    CAST(n_bullet_lines * 10 <= n_lines * 9 AS BIGINT) AS f_bullet_lines,
            |    CAST(n_ellipsis_lines * 10 <= n_lines * 3 AS BIGINT) AS f_ellipsis_lines,
            |    CAST(n_alpha_words * 5 >= n_words * 4 AS BIGINT) AS f_alpha_words,
            |    CAST(n_stopwords >= 2 AS BIGINT) AS f_stopwords
            |  FROM stats)
            |SELECT doc_id, n_words, sum_word_len, n_hash, n_ellipsis, n_lines,
            |       n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stopwords,
            |       f_word_count, f_mean_word_len, f_symbol_ratio, f_bullet_lines,
            |       f_ellipsis_lines, f_alpha_words, f_stopwords,
            |       CAST(f_word_count = 1 AND f_mean_word_len = 1 AND f_symbol_ratio = 1
            |            AND f_bullet_lines = 1 AND f_ellipsis_lines = 1
            |            AND f_alpha_words = 1 AND f_stopwords = 1 AS BIGINT) AS passes
            |FROM flags ORDER BY doc_id""".stripMargin))

  /** SemDeDup-style cluster-bounded semantic dedup under the oracle
    * gate ([[graft.ext.SemDedup.semanticDedup]]): coarse cells from
    * the deterministic nlist-lowest-id centroids (the q89/q100 IVF
    * layout), min-id witness rule within each cell at cosine ≥ 0.9.
    * Planted rows duplicate the eight lowest-id vectors verbatim under
    * new ids — identical vectors land in identical cells, so each
    * planted copy must be dropped with `dup_of` = its original, while
    * the (randomized, mutually-distant) corpus vectors pass through
    * kept. The oracle recomputes assignment + the full within-cell
    * pairwise sweep from scratch; cosines are bit-identical
    * cross-engine (the strict-left-fold dot kernel, q25), so the
    * kept/dropped partition hash-matches exactly.
    */
  val q110 = Q(
    "q110_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "embeddings").filter($"vec_id" < 128)
        .select($"vec_id", $"embedding")
      val planted = base.filter($"vec_id" < 8)
        .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
      SemDedup.semanticDedup(base.unionAll(planted), "vec_id", "embedding",
          nlist = 4, tau = 0.9)
        .select($"id".as("vec_id"), $"cell", $"dup_of", $"kept")
        .orderBy($"vec_id")
    },
    Some("""WITH base AS (SELECT vec_id,
            |                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            |              FROM embeddings WHERE vec_id < 128),
            |corpus AS (SELECT * FROM base
            |           UNION ALL SELECT vec_id + 1000, v FROM base WHERE vec_id < 8),
            |cents AS (SELECT vec_id AS cell, v AS cv FROM corpus ORDER BY vec_id LIMIT 4),
            |asg AS (SELECT vec_id, cell FROM (
            |          SELECT c.vec_id, ct.cell,
            |                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
            |                   list_inner_product(c.v, ct.cv) /
            |                     (sqrt(list_inner_product(c.v, c.v)) *
            |                      sqrt(list_inner_product(ct.cv, ct.cv))) DESC,
            |                   ct.cell) AS rn
            |          FROM corpus c, cents ct) WHERE rn = 1),
            |mem AS (SELECT a.vec_id, a.cell, c.v
            |        FROM asg a JOIN corpus c USING (vec_id)),
            |wit AS (SELECT b.vec_id AS bid, min(a.vec_id) AS dup_of
            |        FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
            |        WHERE list_inner_product(a.v, b.v) /
            |                (sqrt(list_inner_product(a.v, a.v)) *
            |                 sqrt(list_inner_product(b.v, b.v))) >= 0.9
            |        GROUP BY b.vec_id)
            |SELECT asg.vec_id, asg.cell, wit.dup_of,
            |       CASE WHEN wit.dup_of IS NULL THEN 1 ELSE 0 END AS kept
            |FROM asg LEFT JOIN wit ON asg.vec_id = wit.bid
            |ORDER BY vec_id""".stripMargin))

  /** DSIR-style importance weighting under the oracle gate
    * ([[graft.ext.Dsir]]): a target LM trains on the in-domain slice
    * (documents mentioning "spark"), a raw LM on the whole corpus;
    * every document's importance weight is the ratio of its two
    * Jelinek–Mercer scores (each the q103-gated rational face, the
    * ratio one further IEEE division of bit-identical doubles), and
    * the top quarter by weight is selected with integer rank
    * arithmetic. The oracle replays BOTH train→score pipelines and
    * the ranked cut from scratch.
    */
  val q111 = Q(
    "q111_dsir_weights",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val tm = NgramLm.train(docs.filter($"text".contains("spark")), $"text")
      val rm = NgramLm.train(docs, $"text")
      val w = graft.ext.Dsir.importanceWeights(docs, $"doc_id", $"text", tm, rm)
      graft.ext.Dsir.selectTopFraction(w, $"doc_id", $"weight", 1, 4)
        .orderBy($"doc_id")
    },
    Some("""WITH src AS (SELECT doc_id, text FROM documents),
            |tgt AS (SELECT doc_id, text FROM src WHERE text LIKE '%spark%'),
            |rtokR AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM src),
            |toksR AS (SELECT unnest(t) AS tok FROM rtokR),
            |totsR AS (SELECT count(DISTINCT tok) AS v, count(*) AS n FROM toksR),
            |uniR AS (SELECT tok, count(*) AS cu FROM toksR GROUP BY tok),
            |rbigR AS (SELECT t[i] || ' ' || t[i+1] AS gram, t[i] AS w1
            |          FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            |                FROM rtokR WHERE len(t) >= 2)),
            |bcR AS (SELECT gram, count(*) AS c12 FROM rbigR GROUP BY gram),
            |hcR AS (SELECT w1, count(*) AS c1 FROM rbigR GROUP BY w1),
            |rtokT AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM tgt),
            |toksT AS (SELECT unnest(t) AS tok FROM rtokT),
            |totsT AS (SELECT count(DISTINCT tok) AS v, count(*) AS n FROM toksT),
            |uniT AS (SELECT tok, count(*) AS cu FROM toksT GROUP BY tok),
            |rbigT AS (SELECT t[i] || ' ' || t[i+1] AS gram, t[i] AS w1
            |          FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            |                FROM rtokT WHERE len(t) >= 2)),
            |bcT AS (SELECT gram, count(*) AS c12 FROM rbigT GROUP BY gram),
            |hcT AS (SELECT w1, count(*) AS c1 FROM rbigT GROUP BY w1),
            |ctok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM src),
            |cbig AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, t[i] AS w1, t[i+1] AS w2
            |         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            |               FROM ctok WHERE len(t) >= 2)),
            |jR AS (SELECT doc_id,
            |              CASE WHEN coalesce(hcR.c1, 0) > 0
            |                   THEN 0.75 * (CAST(coalesce(bcR.c12, 0) AS DOUBLE) /
            |                                CAST(hcR.c1 AS DOUBLE))
            |                   ELSE 0.0 END +
            |              0.25 * ((CAST(coalesce(uniR.cu, 0) AS DOUBLE) + 1.0) /
            |                      CAST(n + v AS DOUBLE)) AS p
            |       FROM cbig LEFT JOIN bcR USING (gram) LEFT JOIN hcR USING (w1)
            |                 LEFT JOIN uniR ON cbig.w2 = uniR.tok, totsR),
            |scoredR AS (SELECT doc_id,
            |                   CAST(SUM(CAST(p * 1e6 AS DECIMAL(38,6))) AS DOUBLE) /
            |                     CAST(count(*) AS DOUBLE) / 1e6 AS score_raw
            |            FROM jR GROUP BY doc_id),
            |jT AS (SELECT doc_id,
            |              CASE WHEN coalesce(hcT.c1, 0) > 0
            |                   THEN 0.75 * (CAST(coalesce(bcT.c12, 0) AS DOUBLE) /
            |                                CAST(hcT.c1 AS DOUBLE))
            |                   ELSE 0.0 END +
            |              0.25 * ((CAST(coalesce(uniT.cu, 0) AS DOUBLE) + 1.0) /
            |                      CAST(n + v AS DOUBLE)) AS p
            |       FROM cbig LEFT JOIN bcT USING (gram) LEFT JOIN hcT USING (w1)
            |                 LEFT JOIN uniT ON cbig.w2 = uniT.tok, totsT),
            |scoredT AS (SELECT doc_id,
            |                   CAST(SUM(CAST(p * 1e6 AS DECIMAL(38,6))) AS DOUBLE) /
            |                     CAST(count(*) AS DOUBLE) / 1e6 AS score_target
            |            FROM jT GROUP BY doc_id),
            |joined AS (SELECT doc_id, score_target, score_raw,
            |                  score_target / score_raw AS weight
            |           FROM scoredT JOIN scoredR USING (doc_id)),
            |ranked AS (SELECT *,
            |                  row_number() OVER (ORDER BY weight DESC, doc_id) AS rn,
            |                  count(*) OVER () AS nn
            |           FROM joined)
            |SELECT doc_id, score_target, score_raw, weight,
            |       CAST(rn * 4 <= nn AS BIGINT) AS selected
            |FROM ranked ORDER BY doc_id""".stripMargin))

  /** WARC round-trip under the oracle gate: serialize every document as
    * a WARC/1.0 response record (headers built by codegen'd column
    * expressions), gzip each record into its own member
    * ([[graft.ext.Warc.gzipRecords]]), concatenate members into 8
    * deterministic `.warc.gz`-shaped blobs, then parse the blobs back
    * with the Content-Length-driven streaming walk
    * ([[graft.ext.Warc.parseRecords]] with per-partition multi-member
    * gunzip). The gate projects the parsed header fields plus an md5 of
    * the recovered payload bytes, so a single bit of loss anywhere in
    * build → compress → concat → inflate → parse flips the hash; the
    * oracle computes the same fields straight from `documents`,
    * independent of any WARC machinery.
    */
  val q112 = Q(
    "q112_warc_roundtrip",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val rec = graft.ext.Warc.recordBytes(
        concat(lit("urn:graft:doc:"), $"doc_id"),
        concat(lit("https://"), $"source", lit(".example/"), $"doc_id"),
        $"text")
      val gz = graft.ext.Warc.gzipRecords(
        docs, pmod($"doc_id", lit(8)), $"doc_id", rec)
      val blobs = graft.ext.Warc.buildBlobs(
        gz, col("blob_id"), col("ord"), col("rec"))
      graft.ext.Warc.parseRecords(blobs, col("blob_id"), col("blob"),
                                  gzipped = true)
        .select(
          regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long").as("doc_id"),
          $"warc_type", $"target_uri", $"content_length",
          md5($"payload").as("payload_md5"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
                   'response' AS warc_type,
                   'https://' || source || '.example/' || CAST(doc_id AS VARCHAR)
                     AS target_uri,
                   CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
                   md5(text) AS payload_md5
            FROM documents ORDER BY doc_id"""))

  /** Z-order layout under the oracle gate: normalize l_shipdate (days
    * since 1995-01-01) and l_quantity (×80 grid) onto a 12-bit grid,
    * Morton-interleave ([[graft.ops.Layout.zValue]] — a codegen'd
    * 24-term shift/mask fold), slice the top 8 z bits into quadtree
    * cells, and emit each cell's min-max index — the structure a
    * 100 TB reader prunes files with. The oracle re-derives the full
    * bit interleave in DuckDB integer arithmetic, so any disagreement
    * in a single bit position moves rows across cells and breaks the
    * hash. Cell spans measured at sf0.01: 160 cells, 80% skippable for
    * a one-year date slice, 75% for a quantity band (LayoutSpec pins
    * the skip-rate floor; the balanced `repartitionByRange` write face
    * is plan-pinned there too).
    */
  val q113 = Q(
    "q113_zorder_stats",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      graft.ops.Layout.cellStats(
        li,
        datediff($"l_shipdate", lit("1995-01-01")),
        floor($"l_quantity" * 80),
        bits = 12, cellBits = 8)
        .orderBy($"cell")
    },
    Some {
      // zValue convention (pinned by q76): x on ODD bit positions, y even
      val terms = (0 until 12).map { i =>
        s"(((x >> $i) & 1) << ${2 * i + 1}) | (((y >> $i) & 1) << ${2 * i})"
      }.mkString(" | ")
      s"""WITH g AS (SELECT CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS x,
                            CAST(floor(l_quantity * 80) AS BIGINT) AS y
                     FROM lineitem)
          SELECT (($terms) >> 16) AS cell,
                 count(*) AS n, min(x) AS min_x, max(x) AS max_x,
                 min(y) AS min_y, max(y) AS max_y
          FROM g GROUP BY 1 ORDER BY cell"""
    })

  /** Count-Min sketch under the oracle gate: the full depth×width
    * counter matrix ([[graft.functions.CountMinAgg]] — bounded
    * mergeable state, map-side partial matrices) built over document
    * tokens with the portable md5/affine hash family, emitted as
    * non-zero (j, col, cnt) cells. Width 32 over a 31-token vocabulary
    * forces real collisions, so the oracle mirror (same Horner hash,
    * same splitmix64 slot constants, same mod) must land every
    * colliding token in the same cell to hash-match.
    */
  val q114 = Q(
    "q114_cm_sketch",
    (s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      graft.ext.CountMin.sketchCells(toks, $"tok", depth = 4, width = 32)
        .orderBy($"j", $"col")
    },
    Some {
      val slotVals = (0 until 4).map(i =>
        s"($i, ${MinHashLsh.portableMul(i)}, ${MinHashLsh.portableAdd(i)})").mkString(", ")
      s"""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
                        FROM documents),
          hx AS (SELECT md5(tok) AS h FROM toks),
          hh AS (SELECT $hornerSql AS h32 FROM hx),
          slots(j, mul, addc) AS (VALUES $slotVals),
          cells AS (SELECT j, (h32 * mul + addc) % 32 AS col FROM hh CROSS JOIN slots)
          SELECT CAST(j AS BIGINT) AS j, col, count(*) AS cnt
          FROM cells GROUP BY 1, 2 ORDER BY j, col"""
    })

  /** Heavy hitters via sketch-prune + exact confirm: bigram keys (916
    * distinct) sketched at width 64 — heavy collisions by design, so
    * estimates genuinely over-count — then candidates are confirmed
    * with an exact count over only candidate rows. The gate output is
    * EXACT (collisions can add candidates, never survivors), which is
    * why a plain GROUP BY ... HAVING oracle matches regardless of the
    * sketch's internal collision pattern. CountMinSpec pins the
    * overcount-only invariant and the candidate-superset property.
    */
  val q115 = Q(
    "q115_cm_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      // spread before the bigram explode + per-row md5 sketch hashing:
      // a single-row-group local scan would serialize that map work on
      // one core (no-op on multi-split inputs); counts are integers, so
      // partitioning is result-invariant
      val toks = org.apache.spark.sql.GraftBridge.spreadForMapWork(
          t(s, dir, "documents"), $"doc_id")
        .select($"doc_id", split(lower(trim($"text")), "\\s+").as("ts"))
        .filter(size($"ts") >= 2)
      val bigrams = toks.select(
        explode(expr("transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i+1]))"))
          .as("g"))
      graft.ext.CountMin.heavyHittersExact(bigrams, $"g", threshold = 40L,
                                           depth = 4, width = 64)
        .orderBy($"key")
    },
    Some("""WITH t AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
                       FROM documents),
            big AS (SELECT t[i] || ' ' || t[i+1] AS g
                    FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                          FROM t WHERE len(t) >= 2))
            SELECT g AS key, count(*) AS n
            FROM big GROUP BY g HAVING count(*) >= 40 ORDER BY key"""))

  /** Within-doc duplicate-line removal (CCNet dedup_lines) under the
    * oracle gate: corpus docs (single-line — pass through unchanged,
    * proving no false removals) plus three planted multi-line docs — a
    * nav block repeated mid-page and at the foot, an exact triple
    * repeat, and an all-unique control. Zero-shuffle per-row op
    * ([[graft.ext.TextAnalysis.dedupLinesWithin]] — `array_distinct`
    * keeps first occurrences in order); the oracle re-derives
    * keep-first-in-order with an explicit min-position GROUP BY +
    * position-ordered string_agg, independent of any list-dedup
    * ordering semantics.
    */
  val q116 = Q(
    "q116_dedup_lines_within",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (900001L, "nav home about\nreal content one\nnav home about\nreal content two\nnav home about"),
        (900002L, "same line\nsame line\nsame line"),
        (900003L, "alpha\nbeta\ngamma")
      ).toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      TextAnalysis.dedupLinesWithin(docs, $"doc_id", $"text")
        .select($"id".as("doc_id"), $"clean_text", $"n_lines", $"n_removed")
        .orderBy($"doc_id")
    },
    Some("""WITH src AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT * FROM (VALUES
                (900001, 'nav home about' || chr(10) || 'real content one' || chr(10) ||
                         'nav home about' || chr(10) || 'real content two' || chr(10) ||
                         'nav home about'),
                (900002, 'same line' || chr(10) || 'same line' || chr(10) || 'same line'),
                (900003, 'alpha' || chr(10) || 'beta' || chr(10) || 'gamma')
              ) v(doc_id, text)),
            ls AS (SELECT doc_id, ls[i] AS line, i
                   FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
                        unnest(generate_series(1, len(ls))) AS u(i)),
            firsts AS (SELECT doc_id, line, min(i) AS fi
                       FROM ls GROUP BY doc_id, line),
            agg AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY fi) AS clean_text,
                           count(*) AS n_kept
                    FROM firsts GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*) AS n_lines FROM ls GROUP BY doc_id)
            SELECT doc_id, clean_text, n_lines, n_lines - n_kept AS n_removed
            FROM agg JOIN tot USING (doc_id) ORDER BY doc_id"""))

  /** Compression-ratio screening, rows-only by design (DuckDB exposes
    * no deflate, so no cross-engine mirror exists — the q28/q29
    * precedent): corpus docs plus two planted rows (template spam that
    * must flag, prose that must not). Semantics are pinned in
    * CompressionSignalSpec: deterministic sizes, partition-layout
    * invariance, monotone-in-redundancy ordering.
    */
  val q117 = Q(
    "q117_compression_signal",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (900001L, Seq.fill(40)("click here to win a prize now").mkString(" ")),
        (900002L, "the migration of arctic terns spans both hemispheres " +
                  "each year crossing oceans deserts and storm systems")
      ).toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      graft.ext.CompressionSignal.flagged(docs, $"doc_id", $"text", k = 4)
        .orderBy($"id")
    },
    None)

  /** Incremental aggregate-state maintenance, merge identity:
    * merge(state(old), state(delta)) must equal state(full) — the
    * materialized-rollup absorb-a-day path with no corpus rescan. The
    * oracle computes state(full) directly (one GROUP BY with exact
    * DECIMAL sums), so the gate pins the whole split → per-batch state
    * → union-merge algebra against an implementation-free mirror.
    */
  val q118 = Q(
    "q118_incremental_agg",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val old = li.filter($"l_orderkey" % 5 =!= 0)
      val delta = li.filter($"l_orderkey" % 5 === 0)
      graft.ops.IncrementalAgg.merge(
        Seq(graft.ops.IncrementalAgg.state(old, Seq($"l_suppkey"), $"l_extendedprice"),
            graft.ops.IncrementalAgg.state(delta, Seq($"l_suppkey"), $"l_extendedprice")),
        Seq("l_suppkey"))
        .withColumn("s", $"s".cast("double"))
        .orderBy($"l_suppkey")
    },
    Some("""SELECT l_suppkey, count(*) AS n,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS s,
                   min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
            FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"""))

  /** Retraction identity for the aggregate state: count/sum are exact
    * group inverses; stored extrema survive with `stale_minmax`
    * flagging EXACTLY the groups whose min or max the deleted batch
    * touched (the affected-only rescan list — the [[graft.ext.Forget]]
    * contract applied to rollup state). The oracle derives the same
    * staleness from full-vs-deleted states independently.
    */
  val q119 = Q(
    "q119_retract_agg",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val full = graft.ops.IncrementalAgg.state(li, Seq($"l_suppkey"), $"l_extendedprice")
      val deleted = graft.ops.IncrementalAgg.state(
        li.filter($"l_orderkey" % 7 === 0), Seq($"l_suppkey"), $"l_extendedprice")
      graft.ops.IncrementalAgg.retract(full, deleted, Seq("l_suppkey"))
        .withColumn("s", $"s".cast("double"))
        .orderBy($"l_suppkey")
    },
    Some("""WITH f AS (SELECT l_suppkey, count(*) AS n,
                              sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS s,
                              min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
                       FROM lineitem GROUP BY l_suppkey),
                 d AS (SELECT l_suppkey, count(*) AS n,
                              sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS s,
                              min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
                       FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY l_suppkey)
            SELECT f.l_suppkey,
                   f.n - coalesce(d.n, 0) AS n,
                   CAST(CAST(f.s - coalesce(d.s, CAST(0 AS DECIMAL(38,6)))
                             AS DECIMAL(38,6)) AS DOUBLE) AS s,
                   f.mn, f.mx,
                   (d.mn IS NOT DISTINCT FROM f.mn OR
                    d.mx IS NOT DISTINCT FROM f.mx) AS stale_minmax
            FROM f LEFT JOIN d USING (l_suppkey)
            WHERE f.n - coalesce(d.n, 0) > 0
            ORDER BY f.l_suppkey"""))

  /** Skew-robust Z-order layout under the oracle gate: keys are first
    * mapped onto a 12-bit grid by GLOBAL RANK
    * ([[graft.ops.Layout.rankGrid]] — `(rank*4096) div n`, integer
    * arithmetic, total tiebreak) so the marginal grid distribution is
    * uniform by construction; the squared-price column is the planted
    * skew (a fixed affine normalization measures 5.9× cell imbalance
    * on it at sf0.01 where this face holds 1.11× — LayoutSpec pins
    * the separation). The oracle re-derives
    * both global ranks, the floor-division, the 24-term Morton
    * interleave, and the per-cell spans independently.
    *
    * The gate runs on a 1-in-10 orderkey slice: the exact-rank face
    * is the ORACLE KERNEL (two global window sorts — each a single
    * task by construction, the very anti-pattern Layout.rankGrid's
    * doc warns about; unbounded it was the bench's largest ×10 line
    * at 68 s), while the corpus-scale layout path is q123's sketch
    * cutpoint grid, which replaces both sorts with one mergeable
    * partial aggregate. The rank/Morton arithmetic is
    * scale-independent, so the slice loses no pinning.
    */
  val q120 = Q(
    "q120_rank_zorder",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem").filter($"l_orderkey" % 10 === 0)
      val tie = Seq($"l_orderkey", $"l_linenumber")
      val xn = graft.ops.Layout.rankGrid(
        $"l_extendedprice" * $"l_extendedprice", tie, 4096)
      val yn = graft.ops.Layout.rankGrid(
        datediff($"l_shipdate", lit("1995-01-01")), tie, 4096)
      graft.ops.Layout.cellStats(li, xn, yn, bits = 12, cellBits = 6)
        .orderBy($"cell")
    },
    Some {
      val terms = (0 until 12).map { i =>
        s"(((x >> $i) & 1) << ${2 * i + 1}) | (((y >> $i) & 1) << ${2 * i})"
      }.mkString(" | ")
      s"""WITH r AS (
            SELECT row_number() OVER (ORDER BY l_extendedprice * l_extendedprice,
                                               l_orderkey, l_linenumber) - 1 AS xr,
                   row_number() OVER (ORDER BY date_diff('day', DATE '1995-01-01', l_shipdate),
                                               l_orderkey, l_linenumber) - 1 AS yr,
                   count(*) OVER () AS n
            FROM lineitem WHERE l_orderkey % 10 = 0),
          g AS (SELECT (xr * 4096) // n AS x, (yr * 4096) // n AS y FROM r)
          SELECT (($terms) >> 18) AS cell,
                 count(*) AS n, min(x) AS min_x, max(x) AS max_x,
                 min(y) AS min_y, max(y) AS max_y
          FROM g GROUP BY 1 ORDER BY cell"""
    })

  /** Unicode NFC normalization ([[graft.functions.NormalizeUnicode]]):
    * the encoding-unification step before any hash-based dedup — é
    * composed (U+00E9) and decomposed (e+U+0301) must digest
    * identically or web corpora under-dedup. Planted rows exercise
    * every NFC rewrite class: combining-mark composition, singleton
    * replacement (OHM→Ω, ANGSTROM→Å), Hangul jamo LVT composition,
    * mixed composed/decomposed, plus the no-op fast paths (pure ASCII
    * and already-composed). The oracle is DuckDB's own independent
    * UAX #15 implementation (`nfc_normalize`), so the gate pins the
    * normalization itself, not a mirror of this engine's arithmetic;
    * the codepoint length re-checks composition shrank the string.
    * Scale: per-row, zero-shuffle, whole-stage codegen; the dominant
    * already-NFC path is a quick-check scan returning the input
    * buffer unchanged.
    */
  val q121 = Q(
    "q121_nfc_normalize",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (200000L, "résumé and café"),
        (200001L, "Ω load and Å scale"),
        (200002L, "각 hangul jamo"),
        (200003L, "Å is Å already"),
        (200004L, "plain ascii stays identical"),
        (200005L, "café already composed")).toDF("doc_id", "text")
      t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
        .select($"doc_id",
          graft.functions.NormalizeUnicode.nfc($"text").as("norm"))
        .select($"doc_id", $"norm", length($"norm").cast("long").as("n_cp"))
        .orderBy($"doc_id")
    },
    Some("""WITH planted(doc_id, text) AS (VALUES
            |  (200000, 're' || chr(769) || 'sume' || chr(769) || ' and cafe' || chr(769)),
            |  (200001, chr(8486) || ' load and ' || chr(8491) || ' scale'),
            |  (200002, chr(4352) || chr(4449) || chr(4520) || ' hangul jamo'),
            |  (200003, 'A' || chr(778) || ' is ' || chr(197) || ' already'),
            |  (200004, 'plain ascii stays identical'),
            |  (200005, 'caf' || chr(233) || ' already composed')),
            |u AS (SELECT doc_id, text FROM documents
            |      UNION ALL SELECT doc_id, text FROM planted)
            |SELECT doc_id, nfc_normalize(text) AS norm,
            |       length(nfc_normalize(text)) AS n_cp
            |FROM u ORDER BY doc_id""".stripMargin))

  /** Quality-aware canonical selection
    * ([[graft.ext.DedupClusters.keepBest]]): per near-dup component
    * keep the HIGHEST-QUALITY member (score = char length here; any
    * per-doc signal works), min id on ties — the curation-correct
    * complement to q54's min-id keeper, which lets crawl order pick
    * the survivor. On the planted fixture the ' tail a'/' tail b'
    * copies are strictly longer than their originals, so the keeper
    * set provably differs from q54's (originals lose); the two tails
    * tie on length and the id tiebreak decides. The oracle re-derives
    * components (recursive CTE), the argmax, and the tiebreak with an
    * independent window-rank formulation of the same selection.
    * Scale: the argmax is max(struct(score,-id)) — map-side-combinable,
    * no per-component sort; shuffles touch the pair list and one
    * corpus groupBy.
    */
  val q122 = Q(
    "q122_keep_best",
    (s, dir) => {
      import s.implicits._
      val d = clusterCorpus(s, dir)
      val pairs = ShingleJaccard.similarPairs(d, $"doc_id", $"text", 3, 0.6)
      DedupClusters.keepBest(d.withColumn("n_chars_d", length($"text")),
          "doc_id", "n_chars_d", pairs)
        .select($"doc_id", $"n_chars_d".cast("long").as("n"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE
            |$clusterCorpusSql,
            |lab AS (SELECT d.doc_id, d.text,
            |               coalesce(c.component, d.doc_id) AS cmp
            |        FROM d LEFT JOIN comp c ON c.id = d.doc_id),
            |rk AS (SELECT doc_id, length(text) AS n,
            |               row_number() OVER (PARTITION BY cmp
            |                 ORDER BY length(text) DESC, doc_id) AS rn
            |        FROM lab)
            |SELECT doc_id, n FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Sort-free grid normalization from the mergeable quantile sketch
    * ([[graft.ops.Layout.sketchCutpoints]] / `sketchGridCell`) — the
    * corpus-scale face of q120's exact rank grid: cutpoints come from
    * one partially-aggregated sketch scan instead of a global sort,
    * and cell assignment is a broadcast probe of the grid-1 cutpoint
    * array. k=64 over floor(l_extendedprice) keeps the sketch LOSSY
    * (thousands of distinct prices), so the gate pins the whole
    * sampled path cross-engine — the md5-Horner base hash, the
    * bottom-64-by-(hash,value) sample with exact survivor counts, the
    * integer-compare cutpoint rule (`cum*grid >= i*tot`), and the
    * count-distinct-cuts cell assignment — against an independent
    * DuckDB window/series mirror, not just the degenerate exact
    * regime.
    */
  val q123 = Q(
    "q123_sketch_grid",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "lineitem")
        .select(floor($"l_extendedprice").cast("long").as("v"))
      val cuts = graft.ops.Layout.sketchCutpoints(
        base, $"v", MinHashLsh.portableHash32($"v".cast("string")),
        grid = 8, k = 64)
      graft.ops.Layout.sketchGridCell(base, $"v", cuts, "cell")
        .groupBy($"cell")
        .agg(count(lit(1)).as("n"), min($"v").as("min_v"), max($"v").as("max_v"))
        .orderBy($"cell")
    },
    Some(s"""WITH base AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v
            |              FROM lineitem),
            |hx AS (SELECT v, md5(CAST(v AS VARCHAR)) AS h FROM base),
            |d AS (SELECT v, $hornerSql AS h32, count(*) AS c
            |      FROM hx GROUP BY v, h),
            |rk AS (SELECT v, c, row_number() OVER (ORDER BY h32, v) AS r FROM d),
            |samp AS (SELECT CAST(v AS DOUBLE) AS sv, c FROM rk WHERE r <= 64),
            |cdf AS (SELECT sv, sum(c) OVER (ORDER BY sv) AS cum,
            |               sum(c) OVER () AS tot
            |        FROM samp),
            |cuts AS (SELECT i, min(CASE WHEN cum * 8 >= i * tot THEN sv END) AS cut
            |         FROM cdf CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS i) g
            |         GROUP BY i),
            |cells AS (SELECT b.v,
            |                 (SELECT count(DISTINCT c.cut) FROM cuts c
            |                  WHERE c.cut <= CAST(b.v AS DOUBLE)) AS cell
            |          FROM base b)
            |SELECT cell, count(*) AS n, min(v) AS min_v, max(v) AS max_v
            |FROM cells GROUP BY cell ORDER BY cell""".stripMargin))

  /** Per-group quota cap ([[graft.ext.Sampling.capPerGroup]] — the
    * C4-style per-host rule: no source contributes more than `cap`
    * docs). Selection is the cap smallest salted portable hashes of
    * doc_id per source — deterministic and engine-portable, so the
    * oracle re-derives the md5-Horner hash, the per-source ranking,
    * and the cutoff independently. cap=10 binds on every source at
    * every SF (25+ docs/source), so the gate is never vacuous.
    * SamplingSpec pins the bounded-state aggregate face
    * ([[graft.ext.Sampling.capPerGroupAgg]] — the skew-immune
    * 100 TB path) row-identical to this window face.
    */
  val q124 = Q(
    "q124_cap_per_group",
    (s, dir) => {
      import s.implicits._
      Sampling.capPerGroup(t(s, dir, "documents"), $"source", $"doc_id",
          cap = 10, salt = "q124")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },
    Some(s"""WITH hx AS (SELECT doc_id, source,
            |                   md5(CAST(doc_id AS VARCHAR) || 'q124') AS h
            |            FROM documents),
            |rk AS (SELECT doc_id, source,
            |               row_number() OVER (PARTITION BY source
            |                 ORDER BY $hornerSql, doc_id) AS rn
            |        FROM hx)
            |SELECT doc_id, source FROM rk WHERE rn <= 10
            |ORDER BY doc_id""".stripMargin))

  /** Luhn-validated card redaction ([[graft.functions.RedactCards]]):
    * the precision upgrade over q47's blanket digit-run scrub — only
    * maximal digit/separator spans that strip to 13-19 digits AND
    * pass the ISO 7812 Luhn checksum become `<CARD>`; order ids,
    * dates, and random digit runs survive. Planted rows cover a
    * grouped valid card, a checksum-failing lookalike, a 13-digit
    * PAN, a 20-digit overlong run, dash separators, and no-digit
    * text. The oracle rebuilds the ENTIRE operator independently in
    * DuckDB — candidate spans via the same regex, Luhn via a list
    * lambda, and the redacted string itself reassembled from
    * regexp_split_to_array + per-span verdicts — so spans, checksum,
    * and splice are all pinned cross-engine, alongside audit counts.
    * Scale: one O(len) codegen'd pass per row, zero shuffle.
    */
  val q125 = Q(
    "q125_redact_cards",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (300000L, "pay with 4111 1111 1111 1111 now"),
        (300001L, "fake 4111111111111112 number"),
        (300002L, "id 12345 and card 4222222222222 ok"),
        (300003L, "no digits here"),
        (300004L, "overlong 41111111111111110000 run"),
        (300005L, "5500-0000-0000-0004 and 1234"),
        (300006L, "4111111111111111")).toDF("doc_id", "text")
      val pat = "[0-9]+(?:[ -][0-9]+)*"
      val runs = regexp_extract_all($"text", lit(pat), lit(0))
      t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
        .select($"doc_id",
          graft.functions.RedactCards($"text").as("red"),
          size(runs).cast("long").as("n_runs"),
          size(filter(runs, r => graft.functions.LuhnCard(r)))
            .cast("long").as("n_valid"))
        .orderBy($"doc_id")
    },
    Some("""WITH planted(doc_id, text) AS (VALUES
            |  (300000, 'pay with 4111 1111 1111 1111 now'),
            |  (300001, 'fake 4111111111111112 number'),
            |  (300002, 'id 12345 and card 4222222222222 ok'),
            |  (300003, 'no digits here'),
            |  (300004, 'overlong 41111111111111110000 run'),
            |  (300005, '5500-0000-0000-0004 and 1234'),
            |  (300006, '4111111111111111')),
            |u AS (SELECT doc_id, text FROM documents
            |      UNION ALL SELECT doc_id, text FROM planted),
            |m AS (SELECT doc_id, text,
            |        regexp_split_to_array(text, '[0-9]+(?:[ -][0-9]+)*') AS parts,
            |        regexp_extract_all(text, '[0-9]+(?:[ -][0-9]+)*') AS runs
            |      FROM u),
            |z AS (SELECT doc_id, i,
            |        regexp_replace(runs[i], '[ -]', '', 'g') AS d,
            |        runs[i] AS run, parts[i+1] AS tail_part
            |      FROM m, unnest(range(1, len(runs)+1)) AS t(i)),
            |v AS (SELECT *,
            |        len(d) BETWEEN 13 AND 19 AND
            |        (list_sum(list_transform(range(1, len(d)+1), j ->
            |           CASE WHEN (len(d) - j) % 2 = 1
            |                THEN CASE WHEN 2*CAST(d[j] AS INT) > 9
            |                          THEN 2*CAST(d[j] AS INT) - 9
            |                          ELSE 2*CAST(d[j] AS INT) END
            |                ELSE CAST(d[j] AS INT) END)) % 10 = 0) AS ok
            |      FROM z),
            |agg AS (SELECT doc_id,
            |          string_agg(CASE WHEN ok THEN '<CARD>' ELSE run END
            |                       || tail_part, '' ORDER BY i) AS tail,
            |          count(*) FILTER (ok) AS n_valid,
            |          count(*) AS n_runs
            |        FROM v GROUP BY doc_id)
            |SELECT m.doc_id, m.parts[1] || coalesce(a.tail, '') AS red,
            |       coalesce(a.n_runs, 0) AS n_runs,
            |       coalesce(a.n_valid, 0) AS n_valid
            |FROM m LEFT JOIN agg a USING (doc_id) ORDER BY m.doc_id""".stripMargin))

  /** URL blocklist screen ([[graft.ext.UrlOps.blockScreen]] — the
    * UT1-convention domain list every web-corpus pipeline applies
    * before any content work): a rule blocks its host and every
    * subdomain (dot-suffix match), optionally narrowed to a path
    * prefix; overlapping rules resolve to the smallest rule_id.
    * Synthesized URLs put every branch in play: whole-ccTLD-domain
    * block (rule 1), single-host block (2), path-prefix block over a
    * domain suffix (3, fires only for lang=de), a dead prefix rule
    * (4), and a never-matching domain (5); src3+de docs exercise the
    * overlap→min resolution. The oracle re-derives host, path,
    * suffix match, prefix match, and min-rule independently.
    * Scale: rules broadcast; the corpus never shuffles.
    */
  val q126 = Q(
    "q126_blocklist_screen",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"lang", $"source")
      // TLD switch on doc_id % 3, NOT parity: source correlates with
      // parity in the testdata, and a parity switch would leave the
      // single-host rule (2) and the overlap→min branch vacuous
      val url = concat(lit("https://"), $"source",
        when($"doc_id" % 3 === 0, lit(".example.com"))
          .otherwise(lit(".example.co.uk")),
        lit("/"), $"lang", lit("/doc/"), $"doc_id".cast("string"))
      val rules = Seq(
        ("example.co.uk", "", 1L),
        ("src3.example.com", "", 2L),
        ("example.com", "/de/", 3L),
        ("src5.example.com", "/xx/", 4L),
        ("nomatch.org", "", 5L)).toDF("domain", "prefix", "rule_id")
      UrlOps.blockScreen(d.select($"doc_id", url.as("url")),
          $"doc_id", $"url", rules)
        .select($"doc_id", $"blocked", $"block_rule")
        .orderBy($"doc_id")
    },
    Some("""WITH u AS (SELECT doc_id,
            |        'https://' || source ||
            |        (CASE WHEN doc_id % 3 = 0 THEN '.example.com'
            |              ELSE '.example.co.uk' END) ||
            |        '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS url
            |      FROM documents),
            |c AS (SELECT doc_id,
            |        lower(regexp_extract(url,
            |          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS h,
            |        regexp_extract(url,
            |          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS p
            |      FROM u),
            |bl(domain, prefix, rule_id) AS (VALUES
            |  ('example.co.uk', '', 1), ('src3.example.com', '', 2),
            |  ('example.com', '/de/', 3), ('src5.example.com', '/xx/', 4),
            |  ('nomatch.org', '', 5)),
            |hits AS (SELECT c.doc_id, CAST(min(bl.rule_id) AS BIGINT) AS block_rule
            |         FROM c JOIN bl
            |           ON (c.h = bl.domain OR c.h LIKE '%.' || bl.domain)
            |          AND (bl.prefix = '' OR starts_with(c.p, bl.prefix))
            |         GROUP BY c.doc_id)
            |SELECT d.doc_id, h2.block_rule IS NOT NULL AS blocked, h2.block_rule
            |FROM documents d LEFT JOIN hits h2 USING (doc_id)
            |ORDER BY doc_id""".stripMargin))

  /** Incremental quota admission ([[graft.ext.Sampling.quotaAdmit]]):
    * the crawl-front-door form of q124's per-source cap — earlier
    * batches keep their slots, open slots within a batch go to the
    * smallest salted hashes, and the only cross-batch state is the
    * (source, n_admitted) counts table (state-sized join, no corpus
    * rescan). Three sequential batches (doc_id mod 3) at cap=12 over
    * 25-doc sources force every admission shape: a whole batch
    * admitted, a PARTIAL batch (some of its rows lose to prior
    * batches' slots), and a fully-rejected batch. The oracle collapses
    * the three-step protocol into one independent ranking — priority
    * (batch, hash, id) truncated at cap — which equals the sequential
    * admission exactly iff slot-holding works.
    */
  val q127 = Q(
    "q127_quota_admit",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"source")
      var stored = Seq.empty[(String, Long)].toDF("source", "n_admitted")
      var admitted = Seq.empty[(Long, String)].toDF("doc_id", "source")
      for (b <- 0 to 2) {
        val batch = d.filter($"doc_id" % 3 === b)
        val (adm, ns) = Sampling.quotaAdmit(batch, stored,
          "source", "doc_id", cap = 12, salt = "q127")
        admitted = admitted.unionByName(adm.select($"doc_id", $"source"))
        stored = ns
      }
      admitted.orderBy($"doc_id")
    },
    Some(s"""WITH hx AS (SELECT doc_id, source, doc_id % 3 AS b,
            |                   md5(CAST(doc_id AS VARCHAR) || 'q127') AS h
            |            FROM documents),
            |rk AS (SELECT doc_id, source,
            |               row_number() OVER (PARTITION BY source
            |                 ORDER BY b, $hornerSql, doc_id) AS rn
            |        FROM hx)
            |SELECT doc_id, source FROM rk WHERE rn <= 12
            |ORDER BY doc_id""".stripMargin))

  /** Perceptual image dedup pipeline
    * ([[graft.ext.Multimodal.syntheticGridDHash]] →
    * [[graft.ext.Multimodal.dHashNearDupPairs]]): dHash's 9×8
    * gradient-sign grid packed to 64 bits, 16-bit LSH bands, bucket
    * join, exact bit_count(xor) Hamming confirm. This gate runs the
    * oracle-checkable face — the deterministic GRFT payload IS the
    * luminance grid, so DuckDB independently re-derives grid values,
    * comparison directions, the bit-index layout (y*8+x), the band
    * slicing, the candidate join, and the distances; the REAL pixel
    * path (ImageIO decode → integer box sums → the same packDHash)
    * is pinned on real PNG bytes in MultimodalImageSpec. Fixture: 200
    * mixed-grid media + 10 one-cell-perturbed copies — the planted
    * pairs land at distance 1-2 and ~116 random single-band
    * collisions must be rejected by the exact confirm.
    */
  val q128 = Q(
    "q128_image_dhash_pairs",
    (s, dir) => {
      import s.implicits._
      val media = s.range(210).map { id =>
        val i: Long = id
        val base: Long = if (i < 200) i else i - 200
        val payload = Array.tabulate(72) { j =>
          val v = ((base * 31 + j.toLong * j * 7 + base * j * 13) % 251).toInt
          (if (i >= 200 && j == 30) (v + 100) % 251 else v).toByte
        }
        Multimodal.MediaRow(i, "image", Multimodal.encode(9, 8, 1, payload))
      }
      val hashes = Multimodal.syntheticGridDHash(media).toDF()
        .filter($"valid")
      Multimodal.dHashNearDupPairs(hashes, "media_id", "dhash",
          bands = 4, maxDist = 6)
        .orderBy($"id1", $"id2")
    },
    Some("""WITH g AS (
            |  SELECT i, j,
            |         CASE WHEN i < 200
            |              THEN (i*31 + j*j*7 + i*j*13) % 251
            |              ELSE CASE WHEN j = 30
            |                   THEN (((i-200)*31 + j*j*7 + (i-200)*j*13) % 251 + 100) % 251
            |                   ELSE ((i-200)*31 + j*j*7 + (i-200)*j*13) % 251 END
            |         END AS v
            |  FROM range(0, 210) t(i), range(0, 72) s(j)),
            |bits AS (
            |  SELECT a.i, (a.j // 9) * 8 + (a.j % 9) AS b,
            |         CASE WHEN r.v > a.v THEN 1 ELSE 0 END AS bit
            |  FROM g a JOIN g r ON r.i = a.i AND r.j = a.j + 1
            |  WHERE a.j % 9 < 8),
            |bands AS (SELECT i, b // 16 AS k, sum(bit * (1 << (b % 16))) AS v
            |          FROM bits GROUP BY i, b // 16),
            |cand AS (SELECT DISTINCT a.i AS id1, b2.i AS id2
            |         FROM bands a JOIN bands b2
            |           ON a.k = b2.k AND a.v = b2.v AND a.i < b2.i),
            |dist AS (SELECT c.id1, c.id2,
            |           CAST((SELECT sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
            |            FROM bits x JOIN bits y
            |            ON x.b = y.b AND x.i = c.id1 AND y.i = c.id2)
            |            AS BIGINT) AS dist
            |         FROM cand c)
            |SELECT id1, id2, dist FROM dist WHERE dist <= 6
            |ORDER BY id1, id2""".stripMargin))

  /** Rule-based sentence segmentation
    * ([[graft.ext.TextAnalysis.sentences]]): terminator-run + space
    * boundaries, trimmed non-empty segments, order preserved — the
    * granularity between paragraph blocks and whole docs. Planted
    * rows exercise every branch: multi-sentence with !/?? runs, a
    * trailing unterminated fragment, leading/multiple/trailing
    * whitespace, a no-terminator doc (one sentence), and the
    * documented abbreviation split ("Dr." DOES split — the rule-based
    * contract). The corpus (punctuation-free synthetic text) runs the
    * one-sentence path at scale. The oracle rebuilds the mark-split
    * pipeline in RE2 syntax (no lookbehind on either engine — that is
    * WHY the mark-then-split mechanism exists) with list lambdas +
    * ordinality. Zero shuffle but the final sort.
    */
  val q129 = Q(
    "q129_sentences",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (400000L, "First sentence. Second one! Third?? Trailing fragment"),
        (400001L, "One only."),
        (400002L, "  Leading space. multiple   spaces after.  "),
        (400003L, "No terminator at all"),
        (400004L, "Dr. Smith went home. He slept.")).toDF("doc_id", "text")
      t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
        .select($"doc_id", posexplode(TextAnalysis.sentences($"text"))
          .as(Seq("sent_idx", "sentence")))
        .select($"doc_id", $"sent_idx".cast("long").as("sent_idx"), $"sentence")
        .orderBy($"doc_id", $"sent_idx")
    },
    Some("""WITH planted(doc_id, text) AS (VALUES
            |  (400000, 'First sentence. Second one! Third?? Trailing fragment'),
            |  (400001, 'One only.'),
            |  (400002, '  Leading space. multiple   spaces after.  '),
            |  (400003, 'No terminator at all'),
            |  (400004, 'Dr. Smith went home. He slept.')),
            |u AS (SELECT doc_id, text FROM documents
            |      UNION ALL SELECT doc_id, text FROM planted),
            |m AS (SELECT doc_id,
            |        list_filter(list_transform(
            |          string_split(regexp_replace(text, '([.!?]+)\s+',
            |                                      '\1' || chr(1), 'g'), chr(1)),
            |          x -> trim(x)), x -> x <> '') AS l
            |      FROM u)
            |SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx, l[i] AS sentence
            |FROM m, unnest(range(1, len(l) + 1)) t(i)
            |ORDER BY doc_id, sent_idx""".stripMargin))

  /** Cross-document common-sentence detection — the template/boilerplate
    * signal at sentence granularity (the "All rights reserved" class
    * that paragraph-level dedup misses when surrounding text differs):
    * segment, distinct per (doc, sentence), count distinct docs per
    * sentence, keep df ≥ 2. Planted: five docs with unique leads
    * sharing one footer sentence (must surface at n_docs=5); corpus
    * exact-dupe texts surface as their whole-text "sentence". Shuffle
    * shape: (doc_id, sentence) distinct + one keyed count — sentence
    * text shuffles once; at corpus scale swap the sentence for its
    * digest (the q86 discipline) — same plan, narrower rows.
    */
  val q130 = Q(
    "q130_common_sentences",
    (s, dir) => {
      import s.implicits._
      val planted = (0 until 5).map(i =>
        (500000L + i, s"Unique lead number $i in doc. All rights reserved by example."))
        .toDF("doc_id", "text")
        // a second repeat at exactly the df=2 boundary (and one doc
        // repeating the footer twice, which must count ONCE)
        .unionAll(Seq(
          (500005L, "Pair sentence here. Something else entirely now."),
          (500006L, "Pair sentence here. All rights reserved by example. All rights reserved by example."))
          .toDF("doc_id", "text"))
      t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
        .select($"doc_id", explode(TextAnalysis.sentences($"text")).as("sentence"))
        .distinct()
        .groupBy($"sentence").agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs" >= 2)
        .orderBy($"sentence")
    },
    Some("""WITH planted(doc_id, text) AS (
            |  SELECT 500000 + i,
            |         'Unique lead number ' || CAST(i AS VARCHAR) ||
            |         ' in doc. All rights reserved by example.'
            |  FROM range(0, 5) t(i)),
            |planted2(doc_id, text) AS (VALUES
            |  (500005, 'Pair sentence here. Something else entirely now.'),
            |  (500006, 'Pair sentence here. All rights reserved by example. All rights reserved by example.')),
            |u AS (SELECT doc_id, text FROM documents
            |      UNION ALL SELECT doc_id, text FROM planted
            |      UNION ALL SELECT doc_id, text FROM planted2),
            |m AS (SELECT doc_id,
            |        list_filter(list_transform(
            |          string_split(regexp_replace(text, '([.!?]+)\s+',
            |                                      '\1' || chr(1), 'g'), chr(1)),
            |          x -> trim(x)), x -> x <> '') AS l
            |      FROM u),
            |sent AS (SELECT DISTINCT doc_id, unnest(l) AS sentence FROM m)
            |SELECT sentence, count(*) AS n_docs
            |FROM sent GROUP BY sentence HAVING count(*) >= 2
            |ORDER BY sentence""".stripMargin))

  /** Host-graph PageRank quality prior ([[graft.ext.LinkGraph]]): the
    * web-graph signal URL-level curation attaches to every crawl. The
    * fixture derives a 21-host graph from the documents table — the 20
    * `source` hosts each link to two arithmetic-derived `src{0..6}`
    * targets (so src7..src19 take only the base+dangling share) plus a
    * pure-sink `hub` host with NO out-edges, forcing the
    * dangling-mass branch every iteration. Three power iterations; the
    * oracle SQL is GENERATED from the same per-iteration formula
    * ([[LinkGraph.pageRankOracleSql]]), with per-edge contributions
    * and the dangling mass floored onto a 1e-15 integer grid before
    * summing in both engines so the double-valued ranks hash-match
    * bit for bit (the q99 trainer discipline applied to power
    * iteration, with an IEEE-portable grid instead of a decimal cast).
    */
  val q131 = Q(
    "q131_host_pagerank",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"source")
      val raw = d.select($"source".as("src"),
          concat(lit("src"), ($"doc_id" % 7).cast("string")).as("dst"))
        .unionAll(d.select($"source".as("src"),
          concat(lit("src"), (($"doc_id" * 3 + 1) % 7).cast("string")).as("dst")))
        .unionAll(d.filter($"doc_id" % 11 === 0)
          .select($"source".as("src"), lit("hub").as("dst")))
      graft.ext.LinkGraph.pageRank(raw, "src", "dst", iters = 3, damping = 0.85)
        .orderBy($"host")
    },
    Some(graft.ext.LinkGraph.pageRankOracleSql(
      """raw AS (
        |  SELECT source AS src, 'src' || CAST(doc_id % 7 AS VARCHAR) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT source, 'src' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT source, 'hub' FROM documents WHERE doc_id % 11 = 0),
        |e AS (SELECT DISTINCT src, dst FROM raw)""".stripMargin,
      iters = 3, damping = 0.85)))

  /** Exact-budget stratified sampling
    * ([[graft.ext.Sampling.takeStratified]] over
    * [[graft.ext.Sampling.allocateLargestRemainder]]): Hamilton
    * largest-remainder allocation of a 137-doc budget across the
    * language strata — all-integer arithmetic (BIGINT products,
    * DIV/%, remainder-ranked top-up, stratum-asc ties), then the
    * per-stratum draw by smallest md5(doc_id||salt). 137 is coprime
    * to the stratum counts so base quotas truncate and the remainder
    * top-up path is exercised; the oracle mirrors allocation and draw
    * in window SQL and the quota column audits the allocation table
    * itself.
    */
  val q132 = Q(
    "q132_stratified_budget",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"lang")
      Sampling.takeStratified(d, $"lang", $"doc_id", budget = 137L, salt = "q132")
        .select($"doc_id", $"lang", $"quota")
        .orderBy($"doc_id")
    },
    Some("""WITH c AS (SELECT lang AS stratum, count(*) AS n_rows
            |           FROM documents GROUP BY lang),
            |t AS (SELECT sum(n_rows) AS total FROM c),
            |a AS (SELECT stratum, n_rows,
            |             (137 * n_rows) // total AS base,
            |             (137 * n_rows) % total AS rem
            |      FROM c, t),
            |l AS (SELECT 137 - sum(base) AS leftover FROM a),
            |q AS (SELECT stratum,
            |             base + (CASE WHEN row_number() OVER
            |                 (ORDER BY rem DESC, stratum ASC) <= leftover
            |               THEN 1 ELSE 0 END) AS quota
            |      FROM a, l),
            |h AS (SELECT doc_id, lang,
            |             md5(CAST(doc_id AS VARCHAR) || 'q132') AS hx
            |      FROM documents),
            |r AS (SELECT doc_id, lang, hx, row_number() OVER
            |        (PARTITION BY lang ORDER BY hx ASC, doc_id ASC) AS rn
            |      FROM h)
            |SELECT r.doc_id, r.lang, CAST(q.quota AS BIGINT) AS quota
            |FROM r JOIN q ON q.stratum = r.lang
            |WHERE r.rn <= q.quota
            |ORDER BY r.doc_id""".stripMargin))

  /** TrustRank host spam screen ([[graft.ext.LinkGraph.trustRank]]):
    * personalized PageRank whose reset/dangling mass flows only to a
    * vetted seed set — the Gyöngyi-et-al. host-trust signal crawl
    * curation uses to drop spam hosts. Same 21-host fixture graph as
    * q131 plus a seed list of two linked hosts and one
    * vetted-but-UNLINKED host (exercising the seeds-as-extra-nodes
    * path: it must keep a nonzero score with no edges at all); hosts
    * unreachable from the seeds must land at exactly 0.0. Oracle
    * generated per iteration by [[LinkGraph.trustRankOracleSql]] with
    * the same integer-grid quantization as q131.
    */
  val q133 = Q(
    "q133_trustrank",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"source")
      val raw = d.select($"source".as("src"),
          concat(lit("src"), ($"doc_id" % 7).cast("string")).as("dst"))
        .unionAll(d.select($"source".as("src"),
          concat(lit("src"), (($"doc_id" * 3 + 1) % 7).cast("string")).as("dst")))
        .unionAll(d.filter($"doc_id" % 11 === 0)
          .select($"source".as("src"), lit("hub").as("dst")))
      val seeds = Seq("src0", "src1", "vetted.example").toDF("host")
      graft.ext.LinkGraph.trustRank(raw, "src", "dst", seeds,
          iters = 3, damping = 0.85)
        .orderBy($"host")
    },
    Some(graft.ext.LinkGraph.trustRankOracleSql(
      """raw AS (
        |  SELECT source AS src, 'src' || CAST(doc_id % 7 AS VARCHAR) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT source, 'src' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT source, 'hub' FROM documents WHERE doc_id % 11 = 0),
        |e AS (SELECT DISTINCT src, dst FROM raw),
        |s(host) AS (VALUES ('src0'), ('src1'), ('vetted.example'))""".stripMargin,
      iters = 3, damping = 0.85)))

  /** Mirror-host clusters ([[graft.ext.LinkGraph.mirrorClusters]]):
    * reciprocal-link pairs → connected components over host STRINGS
    * (min-label is lexicographic — the q53 contraction machinery
    * unchanged on a new id type). Fixture plants five a↔b mirror
    * pairs, a reciprocal bridge m0b↔m1a merging two of them into one
    * 4-host cluster (transitivity), and a `one.way` host that links
    * INTO every mirror but is never linked back — it must not appear
    * in any cluster. Oracle: the recursive-CTE closure over the same
    * mutual-pair derivation.
    */
  val q134 = Q(
    "q134_mirror_hosts",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id")
      def m(suffix: String) =
        concat(lit("m"), ($"doc_id" % 5).cast("string"), lit(suffix))
      val raw = d.select(m("a").as("src"), m("b").as("dst"))
        .unionAll(d.filter($"doc_id" % 2 === 0)
          .select(m("b").as("src"), m("a").as("dst")))
        .unionAll(d.filter($"doc_id" % 7 === 0)
          .select(lit("m0b").as("src"), lit("m1a").as("dst")))
        .unionAll(d.filter($"doc_id" % 14 === 0)
          .select(lit("m1a").as("src"), lit("m0b").as("dst")))
        .unionAll(d.select(lit("one.way").as("src"), m("a").as("dst")))
      graft.ext.LinkGraph.mirrorClusters(raw, "src", "dst").orderBy($"id")
    },
    Some("""WITH RECURSIVE
            |raw AS (
            |  SELECT 'm' || CAST(doc_id % 5 AS VARCHAR) || 'a' AS src,
            |         'm' || CAST(doc_id % 5 AS VARCHAR) || 'b' AS dst
            |  FROM documents
            |  UNION ALL
            |  SELECT 'm' || CAST(doc_id % 5 AS VARCHAR) || 'b',
            |         'm' || CAST(doc_id % 5 AS VARCHAR) || 'a'
            |  FROM documents WHERE doc_id % 2 = 0
            |  UNION ALL SELECT 'm0b', 'm1a' FROM documents WHERE doc_id % 7 = 0
            |  UNION ALL SELECT 'm1a', 'm0b' FROM documents WHERE doc_id % 14 = 0
            |  UNION ALL SELECT 'one.way', 'm' || CAST(doc_id % 5 AS VARCHAR) || 'a'
            |  FROM documents),
            |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            |mut AS (SELECT a.src AS id1, a.dst AS id2
            |        FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
            |        WHERE a.src < a.dst),
            |edges AS (SELECT id1 AS a, id2 AS b FROM mut
            |          UNION SELECT id2, id1 FROM mut),
            |reach(id, r) AS (SELECT a, a FROM edges
            |                 UNION
            |                 SELECT reach.id, e2.b FROM reach
            |                 JOIN edges e2 ON reach.r = e2.a),
            |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
            |SELECT id, component FROM comp ORDER BY id""".stripMargin))

  /** Token-budget mixture planner ([[graft.ext.Mixture.epochPlan]]):
    * per-source token inventory × integer mixture parts → exact
    * Hamilton token allocation, capped at maxEpochs×inventory, one
    * redistribution round over the sources with headroom, honest
    * `unallocated` remainder. Budget = 1.5× the corpus total (as
    * (3·T) DIV 2 — integer, mirrored) with parts 1/2/3 by source
    * index and maxEpochs = 2: at every SF the parts-3 sources CAP
    * (target ≈ 2.3 epochs vs the 2-epoch cap), the parts-1/2 sources
    * keep headroom and take the round-2 redistribution, and the
    * SMALLEST parts-2 source's headroom binds the least(head, alloc)
    * branch, leaving a small honest `unallocated` (47 tokens at
    * sf0.01) — every branch of the planner under one hash. The
    * oracle rebuilds both Hamilton rounds (base DIV/%,
    * remainder-ranked top-up, source-asc ties) in window SQL.
    */
  val q135 = Q(
    "q135_epoch_plan",
    (s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .groupBy($"source")
        .agg(sum(TextAnalysis.tokenCount($"text").cast("long")).as("n_tokens"))
      val parts = toks.select($"source",
        (substring($"source", 4, 10).cast("long") % 3 + 1).as("parts"))
      val total = toks.agg(sum($"n_tokens")).first().getLong(0)
      Mixture.epochPlan(toks, parts, budget = 3L * total / 2L, maxEpochs = 2)
        .orderBy($"source")
    },
    Some("""WITH tok AS (SELECT source,
            |        CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
            |      FROM documents GROUP BY source),
            |w AS (SELECT source, n_tokens,
            |             CAST(substring(source, 4) AS BIGINT) % 3 + 1 AS parts
            |      FROM tok),
            |b AS (SELECT CAST((3 * sum(n_tokens)) // 2 AS BIGINT) AS budget FROM tok),
            |pp AS (SELECT CAST(sum(parts) AS BIGINT) AS p FROM w),
            |a1 AS (SELECT source, n_tokens, parts,
            |              ((SELECT budget FROM b) * parts) // (SELECT p FROM pp) AS base1,
            |              ((SELECT budget FROM b) * parts) % (SELECT p FROM pp) AS rem1
            |       FROM w),
            |s1 AS (SELECT (SELECT budget FROM b) - CAST(sum(base1) AS BIGINT) AS seats1 FROM a1),
            |t1 AS (SELECT source, n_tokens, parts,
            |              base1 + (CASE WHEN row_number() OVER
            |                  (ORDER BY rem1 DESC, source ASC) <= (SELECT seats1 FROM s1)
            |                THEN 1 ELSE 0 END) AS t1
            |       FROM a1),
            |g1 AS (SELECT source, n_tokens, parts, t1,
            |              2 * n_tokens AS cap,
            |              least(t1, 2 * n_tokens) AS grant1
            |       FROM t1),
            |ex AS (SELECT (SELECT budget FROM b) - CAST(sum(grant1) AS BIGINT) AS excess FROM g1),
            |el AS (SELECT CAST(sum(CASE WHEN cap - grant1 > 0 THEN parts ELSE 0 END) AS BIGINT) AS p2 FROM g1),
            |a2 AS (SELECT g1.*, cap - grant1 AS head,
            |              CASE WHEN cap - grant1 > 0 AND (SELECT p2 FROM el) > 0
            |                THEN ((SELECT excess FROM ex) * parts) // (SELECT p2 FROM el)
            |                ELSE 0 END AS base2,
            |              CASE WHEN cap - grant1 > 0 AND (SELECT p2 FROM el) > 0
            |                THEN ((SELECT excess FROM ex) * parts) % (SELECT p2 FROM el)
            |                ELSE -1 END AS rem2
            |       FROM g1),
            |s2 AS (SELECT (SELECT excess FROM ex) - CAST(sum(base2) AS BIGINT) AS seats2 FROM a2),
            |t2 AS (SELECT a2.*, base2 + (CASE WHEN rem2 >= 0 AND row_number() OVER
            |                  (ORDER BY rem2 DESC, source ASC) <= (SELECT seats2 FROM s2)
            |                THEN 1 ELSE 0 END) AS alloc2
            |       FROM a2),
            |g2 AS (SELECT source, n_tokens, parts, t1, cap, grant1,
            |              least(head, alloc2) AS grant2
            |       FROM t2),
            |u AS (SELECT (SELECT excess FROM ex) - CAST(sum(grant2) AS BIGINT) AS unallocated FROM g2)
            |SELECT source, n_tokens, parts,
            |       grant1 + grant2 AS target_tokens,
            |       (grant1 + grant2) // n_tokens AS full_epochs,
            |       (grant1 + grant2) % n_tokens AS rem_tokens,
            |       t1 > cap AS capped,
            |       (SELECT unallocated FROM u) AS unallocated
            |FROM g2 ORDER BY source""".stripMargin))

  /** IPv4 redaction ([[graft.ext.TextAnalysis.redactIpv4]]): the PII
    * class the `<NUM>` rule misses (octets are short digit runs).
    * Octet validity (0-255) lives in the regex itself; the maximal
    * boundary is CAPTURED, not looked-around, so the one pattern text
    * drives both java.util.regex and RE2; two passes make it a fixed
    * point across consumed boundaries. Planted rows force every
    * branch: plain hit, invalid octet (1.2.3.999), string-start and
    * string-end quads, adjacent quads one space apart (second pass),
    * a quad inside a five-part dotted run (must NOT redact), a
    * colon-suffixed quad (must redact), and a leading-zero octet
    * (rejected). The oracle runs the SAME pattern constant through
    * DuckDB's regexp_replace.
    */
  val q136 = Q(
    "q136_redact_ipv4",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (600000L, "server at 192.168.1.254 responded"),
        (600001L, "version 1.2.3.999 is not an address"),
        (600002L, "10.0.0.1 leads and 255.255.255.255 8.8.8.8 trail"),
        (600003L, "build 1.2.3.4.5 stays; port 1.2.3.4:80 goes"),
        (600004L, "edge case ends with 0.0.0.0"),
        (600005L, "021.1.1.1 has a leading zero octet")).toDF("doc_id", "text")
      t(s, dir, "documents").select($"doc_id", $"text")
        .filter($"doc_id" < 50)
        .unionAll(planted)
        .select($"doc_id", TextAnalysis.redactIpv4($"text").as("redacted"))
        .orderBy($"doc_id")
    },
    Some {
      val pat = TextAnalysis.Ipv4Pattern
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50
         |           UNION ALL SELECT * FROM (VALUES
         |  (600000, 'server at 192.168.1.254 responded'),
         |  (600001, 'version 1.2.3.999 is not an address'),
         |  (600002, '10.0.0.1 leads and 255.255.255.255 8.8.8.8 trail'),
         |  (600003, 'build 1.2.3.4.5 stays; port 1.2.3.4:80 goes'),
         |  (600004, 'edge case ends with 0.0.0.0'),
         |  (600005, '021.1.1.1 has a leading zero octet')) p(doc_id, text))
         |SELECT doc_id,
         |       regexp_replace(
         |         regexp_replace(text, '$pat', '\\1<IP>\\7', 'g'),
         |         '$pat', '\\1<IP>\\7', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin
    })

  /** Corpus snapshot diff ([[graft.ext.CorpusDiff.snapshotDiff]]):
    * dataset versioning between crawls — (doc_id, added | removed |
    * changed), difference-proportional output, digests shuffle,
    * never text. Fixture: before = docs < 100; after drops 0-9
    * (removed), mutates 10-19 (changed), keeps 20-99 (silent), and
    * brings five new ids (added). The oracle mirrors the semantics
    * with a text-equality full-outer join — digest equality ≡ text
    * equality for the gate's purposes.
    */
  val q137 = Q(
    "q137_snapshot_diff",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val before = base.filter($"doc_id" < 100)
      val after = base.filter($"doc_id" >= 10 && $"doc_id" < 100)
        .select($"doc_id",
          when($"doc_id" < 20, concat($"text", lit(" v2")))
            .otherwise($"text").as("text"))
        .unionAll(base.filter($"doc_id" < 5)
          .select(($"doc_id" + 700000L).as("doc_id"), $"text"))
      graft.ext.CorpusDiff.snapshotDiff(before, after, "doc_id", "text")
        .orderBy($"doc_id")
    },
    Some("""WITH before_s AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
            |after_s AS (SELECT doc_id,
            |              CASE WHEN doc_id < 20 THEN text || ' v2' ELSE text END AS text
            |            FROM documents WHERE doc_id >= 10 AND doc_id < 100
            |            UNION ALL
            |            SELECT doc_id + 700000, text FROM documents WHERE doc_id < 5),
            |j AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
            |             b.text AS tb, a.text AS ta
            |      FROM before_s b FULL OUTER JOIN after_s a USING (doc_id))
            |SELECT doc_id,
            |       CASE WHEN tb IS NULL THEN 'added'
            |            WHEN ta IS NULL THEN 'removed'
            |            WHEN tb <> ta THEN 'changed' END AS status
            |FROM j
            |WHERE (tb IS NULL OR ta IS NULL OR tb <> ta)
            |ORDER BY doc_id""".stripMargin))

  /** Exact JL sign projection over int8 codes
    * ([[graft.ext.VectorQuant.signProjectExpr]]): dimensionality
    * reduction for the compressed ANN path whose arithmetic is ALL
    * integer — centered codes × a ±1 matrix derived from
    * md5(seed:i:j) — so unlike any float JL projection the result is
    * order-free and hash-matches cross-engine exactly. The fixture
    * derives the 64 codes arithmetically from vec_id (the projection
    * is what's under test; real int8 encoding is pinned by q104 and
    * the unit composition), projects to 16 dims, and explodes to
    * (vec_id, j, proj) rows; the oracle recomputes the SAME md5 sign
    * matrix from generate_series and aggregates c·s per (vec_id, j).
    */
  val q138 = Q(
    "q138_sign_project",
    (s, dir) => {
      import s.implicits._
      val codes = t(s, dir, "embeddings").select($"vec_id")
        .withColumn("codes", transform(sequence(lit(0), lit(63)),
          i => ($"vec_id" * 7 + i * 13) % 256))
      val signs = graft.ext.VectorQuant.signMatrix(64, 16, "q138")
      codes
        .select($"vec_id", posexplode(
          graft.ext.VectorQuant.signProjectExpr(signs, $"codes")))
        .select($"vec_id", $"pos".cast("long").as("j"), $"col".as("proj"))
        .orderBy($"vec_id", $"j")
    },
    Some("""WITH g AS (SELECT vec_id, j, i,
            |        (vec_id * 7 + i * 13) % 256 - 128 AS c,
            |        CASE WHEN substring(md5('q138:' || CAST(i AS VARCHAR) || ':' ||
            |                                CAST(j AS VARCHAR)), 1, 1)
            |               IN ('0','1','2','3','4','5','6','7')
            |          THEN 1 ELSE -1 END AS sgn
            |      FROM embeddings, range(0, 16) tj(j), range(0, 64) ti(i))
            |SELECT vec_id, j, CAST(sum(c * sgn) AS BIGINT) AS proj
            |FROM g GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin))

  /** BM25 lexical retrieval ([[graft.ext.Bm25.topK]]): three planted
    * queries over the corpus — common terms, a rarer mix, and one with
    * an unseen token that must silently drop at the postings join.
    * Rational-idf face + the 1e-12 floor grid make the per-doc score
    * sum order-free and hash-exact; the k1/b constants reach the
    * oracle as driver-derived shortest-repr double literals (k1·b =
    * 0.8999999999999999 — interpolating "0.9" would be a different
    * double). The oracle rebuilds tokenization, postings join, corpus
    * stats, the exact term tree, and the grid sum in SQL.
    */
  /** Shared BM25 oracle CTE chain (toks … rk) — q139 selects from it
    * directly, q140 fuses it with a second ranking. Single source of
    * truth for the planted query set and the k1/b-derived literals.
    */
  private def bm25OracleCtes: String = bm25CtesFor(
    "SELECT doc_id, text FROM documents",
    """  (1, 'spark join stream window'),
      |  (2, 'customer table filter'),
      |  (3, 'zzzunseen merge')""".stripMargin)

  /** The chain with corpus and query VALUES injectable — q155 runs it
    * over a planted-augmented corpus with its own queries.
    */
  private def bm25CtesFor(corpusSql: String, queryValues: String): String = {
      val k1 = 1.2; val b = 0.75
      val c1 = (k1 + 1.0).toString
      val c2 = (k1 * (1.0 - b)).toString
      val c3 = (k1 * b).toString
      s"""corp AS ($corpusSql),
         |toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |           string_split_regex(trim(lower(text)), '\\s+'),
         |           tk -> regexp_matches(tk, '^[a-z]{3,}$$'))) AS token
         |  FROM corp),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM corp),
         |tt AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS tot FROM tf),
         |q(query_id, qtext) AS (VALUES
         |$queryValues),
         |qt AS (SELECT DISTINCT query_id, unnest(list_filter(
         |           string_split_regex(trim(lower(qtext)), '\\s+'),
         |           tk -> regexp_matches(tk, '^[a-z]{3,}$$'))) AS token
         |       FROM q),
         |terms AS (SELECT qt.query_id, tf.doc_id,
         |    ((CAST((SELECT n FROM nn) AS DOUBLE) + 1.0) /
         |     (CAST(dfr.df AS DOUBLE) + 1.0)) *
         |    ((CAST(tf.tf AS DOUBLE) * CAST($c1 AS DOUBLE)) /
         |     (CAST(tf.tf AS DOUBLE) +
         |      (CAST($c2 AS DOUBLE) +
         |       (CAST($c3 AS DOUBLE) * CAST(dl.dl AS DOUBLE)) /
         |       (CAST((SELECT tot FROM tt) AS DOUBLE) /
         |        CAST((SELECT n FROM nn) AS DOUBLE))))) AS term
         |  FROM qt JOIN tf USING (token)
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  JOIN dfr ON dfr.token = qt.token),
         |sc AS (SELECT query_id, doc_id,
         |              CAST(sum(CAST(floor(term * 1.0e12) AS BIGINT)) AS DOUBLE) / 1.0e12 AS score
         |       FROM terms GROUP BY 1, 2),
         |rk AS (SELECT query_id, doc_id, score, row_number() OVER
         |         (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
         |       FROM sc)""".stripMargin
  }

  val q139 = Q(
    "q139_bm25_topk",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "spark join stream window"),
        (2L, "customer table filter"),
        (3L, "zzzunseen merge")).toDF("query_id", "qtext")
      graft.ext.Bm25.topK(t(s, dir, "documents"), $"doc_id", $"text",
          queries, $"query_id", $"qtext", k = 5)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH $bm25OracleCtes
            |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
            |FROM rk WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin))

  /** Reciprocal-rank fusion ([[graft.ext.Bm25.rrfTopK]]): BM25
    * relevance fused with a recency prior (top-20 newest doc_ids) —
    * the rank-composition pattern hybrid retrieval uses because raw
    * scores from different scorers don't calibrate. Reciprocal terms
    * on the 1e-15 grid; the oracle extends the shared BM25 CTE chain
    * with the prior list and the grid-exact fusion.
    */
  val q140 = Q(
    "q140_rrf_fusion",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val queries = Seq(
        (1L, "spark join stream window"),
        (2L, "customer table filter"),
        (3L, "zzzunseen merge")).toDF("query_id", "qtext")
      val r1 = graft.ext.Bm25.topK(docs, $"doc_id", $"text",
        queries, $"query_id", $"qtext", k = 20)
      val top20 = docs.select($"doc_id").orderBy($"doc_id".desc).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy($"doc_id".desc)).cast("long"))
      val r2 = queries.select($"query_id").distinct()
        .crossJoin(broadcast(top20))
      graft.ext.Bm25.rrfTopK(
          Seq(r1.select($"query_id", $"doc_id", $"rank"), r2), k = 5)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH $bm25OracleCtes,
            |r1 AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 20),
            |t20 AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id DESC) AS rank
            |        FROM (SELECT doc_id FROM documents ORDER BY doc_id DESC LIMIT 20)),
            |r2 AS (SELECT qq.query_id, t20.doc_id, t20.rank
            |       FROM (SELECT DISTINCT query_id FROM q) qq, t20),
            |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
            |f AS (SELECT query_id, doc_id,
            |        CAST(sum(CAST(floor((CAST(1.0 AS DOUBLE) /
            |               (CAST(60.0 AS DOUBLE) + CAST(rank AS DOUBLE))) * 1.0e15)
            |             AS BIGINT)) AS DOUBLE) / 1.0e15 AS rrf
            |      FROM u GROUP BY 1, 2),
            |fr AS (SELECT query_id, doc_id, rrf, row_number() OVER
            |         (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
            |       FROM f)
            |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf
            |FROM fr WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin))

  /** Index-served BM25 ([[graft.ext.Bm25.probeIndex]]): the q100/q89
    * serving discipline on the lexical side — serve top-k from the
    * PERSISTED postings state with no corpus text touched, and
    * REUSE q139's oracle verbatim: index-served ≡ direct computation
    * is the whole claim, so the two gates share one oracle string.
    * The premise index comes from [[graft.ext.LexFixture]] (built
    * once per process, materialized to parquet — the serving
    * lifecycle the LexIndex doc prescribes); q142 keeps measuring the
    * build itself.
    */
  val q141 = Q(
    "q141_bm25_probe",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "spark join stream window"),
        (2L, "customer table filter"),
        (3L, "zzzunseen merge")).toDF("query_id", "qtext")
      val idx = graft.ext.LexFixture.index(s, dir, "corpus") {
        graft.ext.Bm25.buildIndex(t(s, dir, "documents"), $"doc_id", $"text")
      }
      graft.ext.Bm25.probeIndex(idx, queries, $"query_id", $"qtext", k = 5)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH $bm25OracleCtes
            |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
            |FROM rk WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin))

  /** The inverted index itself under the hash
    * ([[graft.ext.Bm25.buildIndex]] postings): every token's df and
    * its FULL posting list, doc_id-sorted, serialized "doc:tf,…" so
    * the comparison is scalar-string exact (no array-comparator
    * dependence). The oracle is DuckDB's ordered string_agg over the
    * same tf frame.
    */
  val q142 = Q(
    "q142_inverted_index",
    (s, dir) => {
      import s.implicits._
      val idx = graft.ext.Bm25.buildIndex(
        t(s, dir, "documents"), $"doc_id", $"text")
      idx.postings.select($"token", $"df",
          array_join(transform($"postings", p =>
            concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("plist"))
        .orderBy($"token")
    },
    Some("""WITH toks AS (
            |  SELECT doc_id, unnest(list_filter(
            |           string_split_regex(trim(lower(text)), '\s+'),
            |           tk -> regexp_matches(tk, '^[a-z]{3,}$'))) AS token
            |  FROM documents),
            |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2)
            |SELECT token, CAST(count(*) AS BIGINT) AS df,
            |       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
            |                  ',' ORDER BY doc_id) AS plist
            |FROM tf GROUP BY token ORDER BY token""".stripMargin))

  /** Positional phrase match ([[graft.ext.Bm25.phraseMatch]]):
    * exact-phrase search at postings shape — each phrase word joins
    * its positional postings, adjacency is pos = p+offset, work is
    * postings-proportional (the fixed-n n-gram screens can't answer
    * arbitrary-length phrases; this can). Two phrases under one hash:
    * a normal bigram and a SELF-OVERLAPPING one ("batch batch", which
    * a naive self-join-with-dedup gets wrong); planted docs pin the
    * hit/miss boundary (interleaved word, phrase at string start).
    * The oracle re-derives kept-token arrays and scans adjacency with
    * a list lambda.
    */
  val q143 = Q(
    "q143_phrase_match",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (800000L, "alpha join order beta"),
        (800001L, "join xxx order"),
        (800002L, "join order"),
        (800003L, "batch batch once more")).toDF("doc_id", "text")
      val d = t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
      graft.ext.Bm25.phraseMatch(d, $"doc_id", $"text", Seq("join", "order"))
        .select(lit("join order").as("phrase"), $"doc_id")
        .unionAll(
          graft.ext.Bm25.phraseMatch(d, $"doc_id", $"text", Seq("batch", "batch"))
            .select(lit("batch batch").as("phrase"), $"doc_id"))
        .orderBy($"phrase", $"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
            |          UNION ALL SELECT * FROM (VALUES
            |  (800000, 'alpha join order beta'),
            |  (800001, 'join xxx order'),
            |  (800002, 'join order'),
            |  (800003, 'batch batch once more')) p(doc_id, text)),
            |tk AS (SELECT doc_id, list_filter(
            |         string_split_regex(trim(lower(text)), '\s+'),
            |         x -> regexp_matches(x, '^[a-z]{3,}$')) AS t
            |       FROM d),
            |m1 AS (SELECT doc_id FROM tk
            |       WHERE len(list_filter(generate_series(1, len(t) - 1),
            |         i -> t[i] = 'join' AND t[i+1] = 'order')) > 0),
            |m2 AS (SELECT doc_id FROM tk
            |       WHERE len(list_filter(generate_series(1, len(t) - 1),
            |         i -> t[i] = 'batch' AND t[i+1] = 'batch')) > 0)
            |SELECT 'join order' AS phrase, doc_id FROM m1
            |UNION ALL SELECT 'batch batch', doc_id FROM m2
            |ORDER BY phrase, doc_id""".stripMargin))

  /** Incremental lexical-index admission
    * ([[graft.ext.Bm25.admitToIndex]]): build the postings state on
    * 6/7ths of the corpus, fold the remaining 1/7th in through the
    * admission path (postings full-outer merge, df adds, ledger
    * union, scalar adds — no corpus re-read), then SERVE from the
    * merged state. Reuses q139's oracle verbatim: admit-maintained
    * state ≡ direct computation over the full corpus IS the claim —
    * the idf/avgdl arithmetic exercises both merged scalars, and the
    * served scores exercise the merged arrays.
    */
  val q144 = Q(
    "q144_lex_admit",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val base = docs.filter($"doc_id" % 7 =!= 0)
      val delta = docs.filter($"doc_id" % 7 === 0)
      val queries = Seq(
        (1L, "spark join stream window"),
        (2L, "customer table filter"),
        (3L, "zzzunseen merge")).toDF("query_id", "qtext")
      // the 6/7ths premise index is persisted state (LexFixture);
      // the measured operator is the admission fold + the serve
      val idx = graft.ext.Bm25.admitToIndex(
        graft.ext.LexFixture.index(s, dir, "corpus-mod7") {
          graft.ext.Bm25.buildIndex(base, $"doc_id", $"text")
        },
        delta, $"doc_id", $"text")
      graft.ext.Bm25.probeIndex(idx, queries, $"query_id", $"qtext", k = 5)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH $bm25OracleCtes
            |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
            |FROM rk WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin))

  /** Lexical-index takedown cascade
    * ([[graft.ext.Forget.retractLexIndex]]): build the index on the
    * corpus PLUS four planted docs whose vocabulary overlaps real
    * documents (so retraction must FILTER posting arrays and
    * recompute df, not just drop whole tokens), one carrying a
    * unique token (that token must leave the state entirely) and one
    * with no kept tokens at all (exercises the dl=0 row-ledger
    * bookkeeping). Retract the planted rows; the serialized postings
    * table reuses q142's oracle VERBATIM over the plain corpus —
    * retract ≡ rebuild-from-retained, bit for bit across the whole
    * state table.
    */
  val q145 = Q(
    "q145_lex_retract",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (810000L, "spark join stream data table"),
        (810001L, "customer filter window merge"),
        (810002L, "zzzonlyplanted zzzonlyplanted spark"),
        (810003L, "a b c")).toDF("doc_id", "text")
      val full = t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
      // corpus+planted premise index is persisted state (LexFixture);
      // the measured operator is the takedown cascade over it
      val idx = graft.ext.LexFixture.index(s, dir, "corpus-plus810k") {
        graft.ext.Bm25.buildIndex(full, $"doc_id", $"text")
      }
      val cut = graft.ext.Forget.retractLexIndex(
        idx, planted, $"doc_id", $"text")
      cut.postings.select($"token", $"df",
          array_join(transform($"postings", p =>
            concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("plist"))
        .orderBy($"token")
    },
    Some("""WITH toks AS (
            |  SELECT doc_id, unnest(list_filter(
            |           string_split_regex(trim(lower(text)), '\s+'),
            |           tk -> regexp_matches(tk, '^[a-z]{3,}$'))) AS token
            |  FROM documents),
            |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2)
            |SELECT token, CAST(count(*) AS BIGINT) AS df,
            |       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
            |                  ',' ORDER BY doc_id) AS plist
            |FROM tf GROUP BY token ORDER BY token""".stripMargin))

  /** Boolean retrieval from postings state
    * ([[graft.ext.Bm25.booleanProbe]]): three query shapes under one
    * hash — conjunction (must=[spark, join], with one word REPEATED
    * to pin query-term dedup), conjunction-with-negation
    * (must=[spark], not=[join] — negation answered from the negated
    * term's postings, never a corpus scan), and
    * disjunction-with-negation (any=[customer, window],
    * not=[merge]). Planted docs pin every leg's boundary at all SFs;
    * the oracle is INTERSECT / EXCEPT / IN set algebra over the same
    * tf frame.
    */
  val q146 = Q(
    "q146_boolean_probe",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (820000L, "spark join alpha"),
        (820001L, "spark beta"),
        (820002L, "customer window"),
        (820003L, "merge customer")).toDF("doc_id", "text")
      val d = t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
      val idx = graft.ext.LexFixture.index(s, dir, "corpus-plus820k") {
        graft.ext.Bm25.buildIndex(d, $"doc_id", $"text")
      }
      def face(label: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(label).as("q"), $"doc_id")
      face("and", graft.ext.Bm25.booleanProbe(idx,
          must = Seq("spark", "join", "SPARK")))
        .unionAll(face("andnot", graft.ext.Bm25.booleanProbe(idx,
          must = Seq("spark"), not = Seq("join"))))
        .unionAll(face("ornot", graft.ext.Bm25.booleanProbe(idx,
          must = Nil, any = Seq("customer", "window"), not = Seq("merge"))))
        .orderBy($"q", $"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
            |          UNION ALL SELECT * FROM (VALUES
            |  (820000, 'spark join alpha'),
            |  (820001, 'spark beta'),
            |  (820002, 'customer window'),
            |  (820003, 'merge customer')) p(doc_id, text)),
            |toks AS (SELECT doc_id, unnest(list_filter(
            |           string_split_regex(trim(lower(text)), '\s+'),
            |           tk -> regexp_matches(tk, '^[a-z]{3,}$'))) AS token
            |         FROM d),
            |tf AS (SELECT DISTINCT doc_id, token FROM toks),
            |b1 AS (SELECT doc_id FROM tf WHERE token = 'spark'
            |       INTERSECT SELECT doc_id FROM tf WHERE token = 'join'),
            |b2 AS (SELECT doc_id FROM tf WHERE token = 'spark'
            |       EXCEPT SELECT doc_id FROM tf WHERE token = 'join'),
            |b3 AS (SELECT DISTINCT doc_id FROM tf
            |       WHERE token IN ('customer', 'window')
            |         AND doc_id NOT IN
            |           (SELECT doc_id FROM tf WHERE token = 'merge'))
            |SELECT 'and' AS q, doc_id FROM b1
            |UNION ALL SELECT 'andnot', doc_id FROM b2
            |UNION ALL SELECT 'ornot', doc_id FROM b3
            |ORDER BY q, doc_id""".stripMargin))

  /** KMV sketch set algebra ([[graft.ext.KmvSetOps]]): union /
    * intersection / difference cardinality estimates computed purely
    * from two per-group sketch arrays (theta-sketch pattern) — side A
    * = users with `user_id % 3 ≠ 0` events, side B = `% 2 ≠ 0`, so
    * every event_type has a 100/75/50 A/B/A∩B structure. TWO k
    * regimes under one hash: k=12 exercises the estimator (θ from
    * the union sketch, survivor counts scaled by est(A∪B)/k), k=256
    * exercises the EXACT branch (sketches hold every hash, set ops
    * are exact distinct counts). The oracle mirrors the minima
    * ranking, list slicing, θ filter, and the IEEE expression tree
    * verbatim.
    */
  val q147 = Q(
    "q147_kmv_setops",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_type", $"user_id")
      def sideSketch(p: org.apache.spark.sql.Column, k: Int, nm: String) =
        ev.filter(p)
          .select($"event_type",
            MinHashLsh.portableHash32($"user_id".cast("string")).as("h32"))
          .groupBy($"event_type")
          .agg(graft.functions.KmvSketchAgg.kMinima($"h32", k).as(nm))
      Seq(12, 256).map { k =>
        sideSketch($"user_id" % 3 =!= 0, k, "a")
          .join(sideSketch($"user_id" % 2 =!= 0, k, "b"), "event_type")
          .select($"event_type", lit(k.toLong).as("k"),
            graft.ext.KmvSetOps.unionEstimate($"a", $"b", k).as("union_est"),
            graft.ext.KmvSetOps.intersectEstimate($"a", $"b", k).as("inter_est"),
            graft.ext.KmvSetOps.differenceEstimate($"a", $"b", k).as("diffab_est"))
      }.reduce(_ unionAll _).orderBy($"k", $"event_type")
    },
    Some {
      def block(k: Int) =
        s"""l${k}a AS (SELECT event_type, list(h32 ORDER BY h32) AS a
           |        FROM ra WHERE r <= $k GROUP BY event_type),
           |l${k}b AS (SELECT event_type, list(h32 ORDER BY h32) AS b
           |        FROM rb WHERE r <= $k GROUP BY event_type),
           |u$k AS (SELECT la.event_type, la.a, lb.b,
           |          (list_sort(list_distinct(la.a || lb.b)))[1:$k] AS u
           |        FROM l${k}a la JOIN l${k}b lb USING (event_type)),
           |g$k AS (SELECT event_type, a, b, u,
           |          CASE WHEN len(u) < $k THEN CAST(len(u) AS DOUBLE)
           |               ELSE ${(k - 1).toDouble} * 4294967296.0 /
           |                    CAST(u[$k] AS DOUBLE) END AS est_u
           |        FROM u$k),
           |o$k AS (SELECT event_type, CAST($k AS BIGINT) AS k,
           |          est_u AS union_est,
           |          CASE WHEN len(u) < $k
           |               THEN CAST(len(list_filter(a, x -> list_contains(b, x))) AS DOUBLE)
           |               ELSE CAST(len(list_filter(a, x -> list_contains(b, x)
           |                          AND x <= u[$k])) AS DOUBLE) * est_u / ${k.toDouble} END
           |            AS inter_est,
           |          CASE WHEN len(u) < $k
           |               THEN CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS DOUBLE)
           |               ELSE CAST(len(list_filter(a, x -> NOT list_contains(b, x)
           |                          AND x <= u[$k])) AS DOUBLE) * est_u / ${k.toDouble} END
           |            AS diffab_est
           |        FROM g$k)""".stripMargin
      s"""WITH ha AS (SELECT DISTINCT event_type, $hornerSql AS h32
         |      FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
         |            FROM events WHERE user_id % 3 <> 0)),
         |hb AS (SELECT DISTINCT event_type, $hornerSql AS h32
         |      FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
         |            FROM events WHERE user_id % 2 <> 0)),
         |ra AS (SELECT event_type, h32, row_number() OVER
         |         (PARTITION BY event_type ORDER BY h32) AS r FROM ha),
         |rb AS (SELECT event_type, h32, row_number() OVER
         |         (PARTITION BY event_type ORDER BY h32) AS r FROM hb),
         |${block(12)},
         |${block(256)}
         |SELECT * FROM o12 UNION ALL SELECT * FROM o256
         |ORDER BY k, event_type""".stripMargin
    })

  /** robots.txt crawl-permission screen ([[graft.ext.Robots.screen]],
    * RFC 9309): six planted robots bodies exercise disallow-all, the
    * longest-match rule (/cat1 vs /cat12), exact-agent groups
    * shadowing `*`, consecutive User-agent stacking, the equal-length
    * Allow tie-break, and the empty-Disallow allow-all idiom — while
    * the candidate URLs come from the ORDERS table at corpus volume
    * (hosts/paths derived from o_orderkey residues; shop6 has no
    * robots row → default allow). The oracle re-derives line
    * explosion, comment stripping, group assignment (lag + running
    * sum), agent selection, and the struct-max longest-match verdict.
    */
  val q148 = Q(
    "q148_robots_screen",
    (s, dir) => {
      import s.implicits._
      val robots = Seq(
        ("shop0.example.com", "User-agent: *\nDisallow: /"),
        ("shop1.example.com", "User-agent: *\nDisallow: /cat1\nAllow: /cat12"),
        ("shop2.example.com",
          "User-agent: graftbot\nDisallow: /cat3\n\nUser-agent: *\nDisallow: /"),
        ("shop3.example.com", "User-agent: *\nAllow: /cat4\nDisallow: /cat4"),
        ("shop4.example.com",
          "User-agent: otherbot\nUser-agent: graftbot\nDisallow: /cat5"),
        ("shop5.example.com", "# allow everything\nUser-agent: *\nDisallow:"))
        .toDF("host", "body")
      val urls = t(s, dir, "orders").select($"o_orderkey".as("id"),
        concat(lit("https://shop"), ($"o_orderkey" % 7).cast("string"),
          lit(".example.com/cat"), ($"o_orderkey" % 15).cast("string")).as("url"))
      graft.ext.Robots.screen(urls, $"id", $"url",
          robots, $"host", $"body", "graftbot")
        .select(graft.ext.UrlOps.host($"url").as("host"),
          graft.ext.UrlOps.path($"url").as("path"),
          $"allowed", $"rule_len".cast("long").as("rule_len"))
        .distinct()
        .orderBy($"host", $"path")
    },
    Some("""WITH rb(host, body) AS (VALUES
            |  ('shop0.example.com', 'User-agent: *' || chr(10) || 'Disallow: /'),
            |  ('shop1.example.com', 'User-agent: *' || chr(10) || 'Disallow: /cat1'
            |     || chr(10) || 'Allow: /cat12'),
            |  ('shop2.example.com', 'User-agent: graftbot' || chr(10) || 'Disallow: /cat3'
            |     || chr(10) || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /'),
            |  ('shop3.example.com', 'User-agent: *' || chr(10) || 'Allow: /cat4'
            |     || chr(10) || 'Disallow: /cat4'),
            |  ('shop4.example.com', 'User-agent: otherbot' || chr(10)
            |     || 'User-agent: graftbot' || chr(10) || 'Disallow: /cat5'),
            |  ('shop5.example.com', '# allow everything' || chr(10)
            |     || 'User-agent: *' || chr(10) || 'Disallow:')),
            |lx AS (SELECT host,
            |         unnest(string_split(body, chr(10))) AS raw,
            |         unnest(generate_series(1, len(string_split(body, chr(10))))) AS i
            |       FROM rb),
            |cl AS (SELECT host, i,
            |         trim(regexp_replace(regexp_replace(raw, chr(13), ''), '#.*$', '')) AS l
            |       FROM lx),
            |kd AS (SELECT host, i,
            |         CASE WHEN regexp_matches(lower(l), '^user-agent\s*:') THEN 'ua'
            |              WHEN regexp_matches(lower(l), '^allow\s*:') THEN 'allow'
            |              WHEN regexp_matches(lower(l), '^disallow\s*:') THEN 'disallow'
            |         END AS kind,
            |         trim(regexp_replace(l, '^[A-Za-z-]+\s*:', '')) AS v
            |       FROM cl),
            |ng AS (SELECT host, i, kind, v,
            |         CASE WHEN kind = 'ua' AND coalesce(lag(kind) OVER
            |               (PARTITION BY host ORDER BY i), '') <> 'ua'
            |             THEN 1 ELSE 0 END AS newg
            |       FROM (SELECT * FROM kd WHERE kind IS NOT NULL)),
            |gg AS (SELECT host, i, kind, v,
            |         sum(newg) OVER (PARTITION BY host ORDER BY i) AS gid
            |       FROM ng),
            |fl AS (SELECT host, gid,
            |         max(CASE WHEN lower(v) = 'graftbot' THEN 1 ELSE 0 END) AS has_exact,
            |         max(CASE WHEN v = '*' THEN 1 ELSE 0 END) AS has_star
            |       FROM gg WHERE kind = 'ua' GROUP BY host, gid),
            |fe AS (SELECT *, max(has_exact) OVER (PARTITION BY host) AS host_exact FROM fl),
            |ru AS (SELECT g.host, (g.kind = 'allow') AS allow, g.v AS prefix
            |       FROM gg g JOIN fe f ON g.host = f.host AND g.gid = f.gid
            |       WHERE g.kind <> 'ua' AND g.v <> ''
            |         AND ((f.host_exact = 1 AND f.has_exact = 1)
            |           OR (f.host_exact = 0 AND f.has_star = 1))),
            |uu AS (SELECT DISTINCT
            |         'shop' || CAST(o_orderkey % 7 AS VARCHAR) || '.example.com' AS host,
            |         '/cat' || CAST(o_orderkey % 15 AS VARCHAR) AS path
            |       FROM orders),
            |hits AS (SELECT u.host, u.path,
            |           max(struct_pack(l := length(r.prefix), a := r.allow)) AS best
            |         FROM uu u JOIN ru r
            |           ON u.host = r.host AND starts_with(u.path, r.prefix)
            |         GROUP BY u.host, u.path)
            |SELECT u.host, u.path,
            |       coalesce(h.best.a, TRUE) AS allowed,
            |       CAST(h.best.l AS BIGINT) AS rule_len
            |FROM uu u LEFT JOIN hits h ON u.host = h.host AND u.path = h.path
            |ORDER BY u.host, u.path""".stripMargin))

  /** Chunk→document embedding pooling + unit normalization
    * ([[graft.ext.EmbeddingSearch.meanPool]] / `l2Normalized`):
    * groups of 4 consecutive vec_ids stand in for a document's
    * chunks; per-dimension means go through the q57 DECIMAL(38,6)
    * discipline, the norm is the ordered-fold sum of squares
    * (DuckDB `list_inner_product` evaluation order), one IEEE
    * division per component. Exploded per (group, dim) for scalar
    * hashing.
    */
  val q149 = Q(
    "q149_mean_pool",
    (s, dir) => {
      import s.implicits._
      val pooled = EmbeddingSearch.meanPool(t(s, dir, "embeddings"),
        floor($"vec_id" / 4).cast("long"), $"embedding")
      pooled.select($"group_id",
          posexplode(EmbeddingSearch.l2Normalized($"pooled"))
            .as(Seq("pos", "x")))
        .select($"group_id", $"pos".cast("long").as("pos"), $"x")
        .orderBy($"group_id", $"pos")
    },
    Some("""WITH c AS (SELECT vec_id // 4 AS g,
            |                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            |          FROM embeddings),
            |dims AS (SELECT g, v, unnest(generate_series(1, len(v))) AS p FROM c),
            |means AS (SELECT g, p - 1 AS pos,
            |                 CAST(sum(CAST(v[CAST(p AS INT)] AS DECIMAL(38,6))) AS DOUBLE)
            |                   / count(*) AS m
            |          FROM dims GROUP BY g, p),
            |pooled AS (SELECT g, list(m ORDER BY pos) AS pv FROM means GROUP BY g),
            |normed AS (SELECT g,
            |             CASE WHEN sqrt(list_inner_product(pv, pv)) = 0 THEN pv
            |                  ELSE list_transform(pv,
            |                         x -> x / sqrt(list_inner_product(pv, pv))) END AS nv
            |           FROM pooled)
            |SELECT g AS group_id, CAST(p - 1 AS BIGINT) AS pos, nv[CAST(p AS INT)] AS x
            |FROM (SELECT g, nv, unnest(generate_series(1, len(nv))) AS p FROM normed)
            |ORDER BY group_id, pos""".stripMargin))

  /** Crawl-delay politeness scheduling
    * ([[graft.ext.Robots.crawlDelays]] / `politenessSchedule`): the
    * planted robots bodies exercise fractional-second parse (0.5 s →
    * 500 ms on the integer millisecond grid), exact-agent group
    * selection, max-wins across repeated directives, an unparseable
    * value dropping to the fleet default, and a group for a DIFFERENT
    * agent (no applicable directive → default). The fetch queue is
    * the q148 orders-derived URL set; each host's URLs take slots in
    * deterministic path order and slot k fetches at k·delay. The
    * oracle re-derives the q148 group machinery with the delay
    * branch, the max aggregate, and the per-host window.
    */
  val q150 = Q(
    "q150_crawl_schedule",
    (s, dir) => {
      import s.implicits._
      val robots = Seq(
        ("shop0.example.com", "User-agent: *\nCrawl-delay: 2"),
        ("shop1.example.com",
          "User-agent: graftbot\nCrawl-delay: 0.5\n\nUser-agent: *\nCrawl-delay: 9"),
        ("shop2.example.com", "User-agent: *\nCrawl-delay: 1\nCrawl-delay: 3"),
        ("shop3.example.com", "User-agent: *\nCrawl-delay: soon"),
        ("shop4.example.com", "User-agent: otherbot\nCrawl-delay: 7"))
        .toDF("host", "body")
      val urls = t(s, dir, "orders").select(
          concat(lit("https://shop"), ($"o_orderkey" % 7).cast("string"),
            lit(".example.com/cat"), ($"o_orderkey" % 15).cast("string")).as("url"))
        .distinct()
      val delays = graft.ext.Robots.crawlDelays(
        robots, $"host", $"body", "graftbot")
      graft.ext.Robots.politenessSchedule(urls, $"url", $"url",
          delays, defaultDelayMs = 100L)
        .select(graft.ext.UrlOps.host($"url").as("host"),
          graft.ext.UrlOps.path($"url").as("path"),
          $"slot", $"fetch_at_ms")
        .orderBy($"host", $"slot")
    },
    Some("""WITH rb(host, body) AS (VALUES
            |  ('shop0.example.com', 'User-agent: *' || chr(10) || 'Crawl-delay: 2'),
            |  ('shop1.example.com', 'User-agent: graftbot' || chr(10) || 'Crawl-delay: 0.5'
            |     || chr(10) || chr(10) || 'User-agent: *' || chr(10) || 'Crawl-delay: 9'),
            |  ('shop2.example.com', 'User-agent: *' || chr(10) || 'Crawl-delay: 1'
            |     || chr(10) || 'Crawl-delay: 3'),
            |  ('shop3.example.com', 'User-agent: *' || chr(10) || 'Crawl-delay: soon'),
            |  ('shop4.example.com', 'User-agent: otherbot' || chr(10) || 'Crawl-delay: 7')),
            |lx AS (SELECT host,
            |         unnest(string_split(body, chr(10))) AS raw,
            |         unnest(generate_series(1, len(string_split(body, chr(10))))) AS i
            |       FROM rb),
            |cl AS (SELECT host, i,
            |         trim(regexp_replace(regexp_replace(raw, chr(13), ''), '#.*$', '')) AS l
            |       FROM lx),
            |kd AS (SELECT host, i,
            |         CASE WHEN regexp_matches(lower(l), '^user-agent\s*:') THEN 'ua'
            |              WHEN regexp_matches(lower(l), '^allow\s*:') THEN 'allow'
            |              WHEN regexp_matches(lower(l), '^disallow\s*:') THEN 'disallow'
            |              WHEN regexp_matches(lower(l), '^crawl-delay\s*:') THEN 'delay'
            |         END AS kind,
            |         trim(regexp_replace(l, '^[A-Za-z-]+\s*:', '')) AS v
            |       FROM cl),
            |ng AS (SELECT host, i, kind, v,
            |         CASE WHEN kind = 'ua' AND coalesce(lag(kind) OVER
            |               (PARTITION BY host ORDER BY i), '') <> 'ua'
            |             THEN 1 ELSE 0 END AS newg
            |       FROM (SELECT * FROM kd WHERE kind IS NOT NULL)),
            |gg AS (SELECT host, i, kind, v,
            |         sum(newg) OVER (PARTITION BY host ORDER BY i) AS gid
            |       FROM ng),
            |fl AS (SELECT host, gid,
            |         max(CASE WHEN lower(v) = 'graftbot' THEN 1 ELSE 0 END) AS has_exact,
            |         max(CASE WHEN v = '*' THEN 1 ELSE 0 END) AS has_star
            |       FROM gg WHERE kind = 'ua' GROUP BY host, gid),
            |fe AS (SELECT *, max(has_exact) OVER (PARTITION BY host) AS host_exact FROM fl),
            |dl AS (SELECT g.host,
            |         max(CAST(floor(CAST(g.v AS DOUBLE) * 1000) AS BIGINT)) AS delay_ms
            |       FROM gg g JOIN fe f ON g.host = f.host AND g.gid = f.gid
            |       WHERE g.kind = 'delay'
            |         AND regexp_matches(g.v, '^[0-9]+(\.[0-9]+)?$')
            |         AND ((f.host_exact = 1 AND f.has_exact = 1)
            |           OR (f.host_exact = 0 AND f.has_star = 1))
            |       GROUP BY g.host),
            |uu AS (SELECT DISTINCT
            |         'shop' || CAST(o_orderkey % 7 AS VARCHAR) || '.example.com' AS host,
            |         '/cat' || CAST(o_orderkey % 15 AS VARCHAR) AS path
            |       FROM orders),
            |sc AS (SELECT u.host, u.path,
            |         CAST(row_number() OVER (PARTITION BY u.host ORDER BY u.path)
            |              - 1 AS BIGINT) AS slot,
            |         CAST(coalesce(d.delay_ms, 100) AS BIGINT) AS dms
            |       FROM uu u LEFT JOIN dl d ON u.host = d.host)
            |SELECT host, path, slot, slot * dms AS fetch_at_ms
            |FROM sc ORDER BY host, slot""".stripMargin))

  /** Phrase search served from MATERIALIZED positional state with a
    * takedown cascaded through it ([[graft.ext.Bm25.phraseProbe]] +
    * [[graft.ext.Forget.retractPositions]]): builds positions over
    * the q143 corpus PLUS two extra docs that match the probed
    * phrases, retracts the extras, then serves both phrase queries
    * from the retracted state. REUSES q143's oracle verbatim — probe
    * ≡ direct computation AND retract ≡ never-indexed are jointly
    * the claim: if either failed, the extra docs would surface and
    * the hash would differ.
    */
  val q151 = Q(
    "q151_phrase_probe",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (800000L, "alpha join order beta"),
        (800001L, "join xxx order"),
        (800002L, "join order"),
        (800003L, "batch batch once more")).toDF("doc_id", "text")
      val extra = Seq(
        (800100L, "join order retracted later"),
        (800101L, "batch batch gone soon")).toDF("doc_id", "text")
      val d = t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted).unionAll(extra)
      // MATERIALIZED positional state (the scaladoc's "persisted like
      // the LexIndex postings") — the measured operators are the
      // takedown and the probe over it
      val positions = graft.ext.LexFixture.frame(s, dir, "positions-q151") {
        graft.ext.Bm25.termPositions(d, $"doc_id", $"text")
      }
      val served = graft.ext.Forget.retractPositions(positions,
        Seq(800100L, 800101L).toDF("id"))
      graft.ext.Bm25.phraseProbe(served, Seq("join", "order"))
        .select(lit("join order").as("phrase"), $"doc_id")
        .unionAll(
          graft.ext.Bm25.phraseProbe(served, Seq("batch", "batch"))
            .select(lit("batch batch").as("phrase"), $"doc_id"))
        .orderBy($"phrase", $"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
            |          UNION ALL SELECT * FROM (VALUES
            |  (800000, 'alpha join order beta'),
            |  (800001, 'join xxx order'),
            |  (800002, 'join order'),
            |  (800003, 'batch batch once more')) p(doc_id, text)),
            |tk AS (SELECT doc_id, list_filter(
            |         string_split_regex(trim(lower(text)), '\s+'),
            |         x -> regexp_matches(x, '^[a-z]{3,}$')) AS t
            |       FROM d),
            |m1 AS (SELECT doc_id FROM tk
            |       WHERE len(list_filter(generate_series(1, len(t) - 1),
            |         i -> t[i] = 'join' AND t[i+1] = 'order')) > 0),
            |m2 AS (SELECT doc_id FROM tk
            |       WHERE len(list_filter(generate_series(1, len(t) - 1),
            |         i -> t[i] = 'batch' AND t[i+1] = 'batch')) > 0)
            |SELECT 'join order' AS phrase, doc_id FROM m1
            |UNION ALL SELECT 'batch batch', doc_id FROM m2
            |ORDER BY phrase, doc_id""".stripMargin))

  /** Snapshot-diff-driven index refresh
    * ([[graft.ext.Bm25.refreshIndex]]): the BEFORE snapshot drops
    * every 11th document (those become the diff's `added`), prepends
    * "stale " to every 13th (those become `changed`), and carries
    * three extra docs (those become `removed`); the index built on
    * BEFORE then refreshes to the real corpus through
    * retract-then-admit, diff-proportional work only. The serialized
    * postings reuse q142's oracle VERBATIM over the plain corpus —
    * refresh ≡ rebuild-on-the-new-snapshot, bit for bit.
    */
  val q152 = Q(
    "q152_index_refresh",
    (s, dir) => {
      import s.implicits._
      val after = t(s, dir, "documents").select($"doc_id", $"text")
      val extra = Seq(
        (860000L, "spark join removed soon"),
        (860001L, "customer window stale"),
        (860002L, "zzzrefreshonly token")).toDF("doc_id", "text")
      val before = after.filter($"doc_id" % 11 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 13 === 0, concat(lit("stale "), $"text"))
            .otherwise($"text").as("text"))
        .unionAll(extra)
      // the BEFORE-snapshot index is persisted state (LexFixture);
      // the measured operator is the diff-driven refresh
      val idx = graft.ext.LexFixture.index(s, dir, "refresh-before") {
        graft.ext.Bm25.buildIndex(before, $"doc_id", $"text")
      }
      val refreshed = graft.ext.Bm25.refreshIndex(
        idx, before, after, "doc_id", "text")
      refreshed.postings.select($"token", $"df",
          array_join(transform($"postings", p =>
            concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("plist"))
        .orderBy($"token")
    },
    Some("""WITH toks AS (
            |  SELECT doc_id, unnest(list_filter(
            |           string_split_regex(trim(lower(text)), '\s+'),
            |           tk -> regexp_matches(tk, '^[a-z]{3,}$'))) AS token
            |  FROM documents),
            |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2)
            |SELECT token, CAST(count(*) AS BIGINT) AS df,
            |       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
            |                  ',' ORDER BY doc_id) AS plist
            |FROM tf GROUP BY token ORDER BY token""".stripMargin))

  /** Sitemap parse + crawl discovery ([[graft.ext.Sitemaps]]): each
    * shop host's sitemap XML is GENERATED from the q148 orders-derived
    * URL set (sorted string_agg — an independent constructor the
    * parser must round-trip), one planted hand-written sitemap adds
    * the lastmod / attribute / whitespace edge cases, and the
    * frontier anti-joins against the known-URL subset (catK, K<10) —
    * so the output is exactly the newly discovered tail plus the
    * planted host. Oracle mirrors the generator, the block-scoped
    * regex parse, and the anti-join.
    */
  val q153 = Q(
    "q153_sitemap_frontier",
    (s, dir) => {
      import s.implicits._
      val urls = t(s, dir, "orders").select(
          concat(lit("https://shop"), ($"o_orderkey" % 7).cast("string"),
            lit(".example.com")).as("host"),
          concat(lit("https://shop"), ($"o_orderkey" % 7).cast("string"),
            lit(".example.com/cat"), ($"o_orderkey" % 15).cast("string")).as("loc"),
          ($"o_orderkey" % 15).as("k"))
        .distinct()
      val gen = urls.groupBy($"host").agg(
        concat(lit("<urlset>"),
          array_join(array_sort(collect_list(
            concat(lit("<url><loc>"), $"loc", lit("</loc></url>")))), ""),
          lit("</urlset>")).as("xml"))
      val planted = Seq(("extra.example.com",
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<url><loc> https://extra.example.com/a </loc>" +
          "<lastmod>2024-05-01</lastmod></url>" +
          "<url changefreq=\"daily\"><loc>https://extra.example.com/b</loc></url>" +
          "</urlset>")).toDF("host", "xml")
      val entries = graft.ext.Sitemaps.urlEntries(
        gen.unionAll(planted), $"host", $"xml")
      val known = urls.filter($"k" < 10).select($"loc".as("url"))
      graft.ext.Sitemaps.frontier(entries, known, $"url")
        .orderBy($"host", $"loc")
    },
    Some("""WITH uu AS (SELECT DISTINCT
            |         'https://shop' || CAST(o_orderkey % 7 AS VARCHAR)
            |           || '.example.com' AS host,
            |         'https://shop' || CAST(o_orderkey % 7 AS VARCHAR)
            |           || '.example.com/cat' || CAST(o_orderkey % 15 AS VARCHAR) AS loc,
            |         o_orderkey % 15 AS k
            |       FROM orders),
            |gen AS (SELECT host,
            |          '<urlset>' || string_agg('<url><loc>' || loc || '</loc></url>',
            |                                   '' ORDER BY '<url><loc>' || loc || '</loc></url>')
            |            || '</urlset>' AS xml
            |        FROM uu GROUP BY host),
            |sm AS (SELECT host, xml FROM gen
            |       UNION ALL SELECT 'extra.example.com',
            |         '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            |           || '<url><loc> https://extra.example.com/a </loc>'
            |           || '<lastmod>2024-05-01</lastmod></url>'
            |           || '<url changefreq="daily"><loc>https://extra.example.com/b</loc></url>'
            |           || '</urlset>'),
            |seg AS (SELECT host, unnest(string_split(xml, '</url>')) AS s FROM sm),
            |blk AS (SELECT host, regexp_extract(s, '(?s)<url[\s>].*', 0) AS b FROM seg),
            |ent AS (SELECT host,
            |          trim(regexp_extract(b, '<loc>([^<]*)</loc>', 1)) AS loc,
            |          trim(regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1)) AS lm
            |        FROM blk),
            |ee AS (SELECT host, loc,
            |          CASE WHEN lm = '' THEN NULL ELSE lm END AS lastmod
            |        FROM ent WHERE loc <> ''),
            |kn AS (SELECT loc AS url FROM uu WHERE k < 10)
            |SELECT e.host, e.loc, e.lastmod
            |FROM ee e LEFT JOIN kn ON e.loc = kn.url
            |WHERE kn.url IS NULL
            |ORDER BY e.host, e.loc""".stripMargin))

  /** BM25 served through DELTA-VARINT-PACKED postings
    * ([[graft.ext.Bm25.packPostings]] / `unpackPostings`,
    * [[graft.functions.VarintUtil]]): the q100 compressed-serving
    * discipline on the lexical side — pack the postings (sorted
    * doc_ids as gap varints, tfs plain varints), reconstruct through
    * the codegen'd decode, serve top-k. REUSES q139's oracle
    * verbatim: compression is storage-transparent or the hash
    * differs.
    */
  val q154 = Q(
    "q154_packed_postings",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "spark join stream window"),
        (2L, "customer table filter"),
        (3L, "zzzunseen merge")).toDF("query_id", "qtext")
      // shares q141's persisted full-corpus premise; the measured
      // operators are pack → decode → serve
      val idx = graft.ext.LexFixture.index(s, dir, "corpus") {
        graft.ext.Bm25.buildIndex(t(s, dir, "documents"), $"doc_id", $"text")
      }
      val served = graft.ext.Bm25.LexIndex(
        graft.ext.Bm25.unpackPostings(
          graft.ext.Bm25.packPostings(idx.postings)),
        idx.docLens, idx.nDocs, idx.totalTokens)
      graft.ext.Bm25.probeIndex(served, queries, $"query_id", $"qtext", k = 5)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH $bm25OracleCtes
            |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
            |FROM rk WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin))

  /** Retrieval evaluation ([[graft.ext.RetrievalEval.evaluate]]):
    * recall@5 / MRR@5 / nDCG@5 of BM25 rankings against a graded
    * qrels table. The planted eval docs use zzz-prefixed vocabulary
    * (provably absent from the corpus) so the rankings are
    * deterministic at every SF while the real corpus supplies the
    * competition; the three queries exercise full/partial relevance,
    * an unretrieved relevant doc, and a query whose ranker returns
    * nothing. nDCG's 1/log2(r+1) discounts are driver-computed
    * double literals injected into BOTH the plan and the oracle (the
    * q139 k1/b rule); gains floor onto the 1e-12 grid.
    */
  val q155 = Q(
    "q155_retrieval_eval",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (830001L, "zzzebra zzzflux alpha data"),
        (830002L, "zzzebra words other beta"),
        (830003L, "zzzflux more things gamma"),
        (830004L, "zzzebra zzzflux zzzebra extra"),
        (830005L, "plain filler nothing special")).toDF("doc_id", "text")
      val d = t(s, dir, "documents").select($"doc_id", $"text")
        .unionAll(planted)
      val queries = Seq(
        (1L, "zzzebra zzzflux"),
        (2L, "zzzflux"),
        (3L, "zzzmissing")).toDF("query_id", "qtext")
      val qrels = Seq(
        (1L, 830001L, 2L), (1L, 830004L, 3L), (1L, 830005L, 1L),
        (2L, 830003L, 1L),
        (3L, 830001L, 2L)).toDF("query_id", "doc_id", "rel")
      val results = graft.ext.Bm25.topK(d, $"doc_id", $"text",
        queries, $"query_id", $"qtext", k = 5)
      graft.ext.RetrievalEval.evaluate(results, qrels, k = 5)
        .orderBy($"query_id")
    },
    Some {
      val discCase = (c: String) => "(CASE " + c +
        graft.ext.RetrievalEval.discounts(5).zipWithIndex.map {
          case (dv, i) => s" WHEN ${i + 1} THEN CAST($dv AS DOUBLE)"
        }.mkString + " ELSE 0.0 END)"
      val ctes = bm25CtesFor(
        """SELECT doc_id, text FROM documents
          |          UNION ALL SELECT * FROM (VALUES
          |  (830001, 'zzzebra zzzflux alpha data'),
          |  (830002, 'zzzebra words other beta'),
          |  (830003, 'zzzflux more things gamma'),
          |  (830004, 'zzzebra zzzflux zzzebra extra'),
          |  (830005, 'plain filler nothing special')) p(doc_id, text)""".stripMargin,
        """  (1, 'zzzebra zzzflux'),
          |  (2, 'zzzflux'),
          |  (3, 'zzzmissing')""".stripMargin)
      s"""WITH $ctes,
         |rel AS (SELECT * FROM (VALUES
         |  (1, 830001, 2), (1, 830004, 3), (1, 830005, 1),
         |  (2, 830003, 1),
         |  (3, 830001, 2)) qr(query_id, doc_id, rel) WHERE rel > 0),
         |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
         |res AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 5),
         |ht AS (SELECT r.query_id, r.rank, rel.rel
         |       FROM res r JOIN rel ON r.query_id = rel.query_id
         |                          AND r.doc_id = rel.doc_id),
         |pq AS (SELECT query_id, count(*) AS hits, min(rank) AS frst,
         |         CAST(sum(CAST(floor(CAST(rel AS DOUBLE) *
         |           ${discCase("rank")} * 1.0e12) AS BIGINT)) AS DOUBLE)
         |           / 1.0e12 AS dcg
         |       FROM ht GROUP BY 1),
         |irk AS (SELECT query_id, rel, row_number() OVER
         |          (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS r
         |        FROM rel),
         |ideal AS (SELECT query_id,
         |         CAST(sum(CAST(floor(CAST(rel AS DOUBLE) *
         |           ${discCase("r")} * 1.0e12) AS BIGINT)) AS DOUBLE)
         |           / 1.0e12 AS idcg
         |        FROM irk WHERE r <= 5 GROUP BY 1)
         |SELECT n.query_id,
         |       CAST(n.n_rel AS BIGINT) AS n_rel,
         |       CAST(coalesce(p.hits, 0) AS BIGINT) AS hits,
         |       CAST(coalesce(p.hits, 0) AS DOUBLE) /
         |         CAST(n.n_rel AS DOUBLE) AS recall,
         |       CASE WHEN p.frst IS NULL THEN 0.0
         |            ELSE CAST(1.0 AS DOUBLE) / CAST(p.frst AS DOUBLE) END AS mrr,
         |       coalesce(p.dcg, 0.0) AS dcg,
         |       coalesce(i.idcg, 0.0) AS idcg,
         |       CASE WHEN coalesce(i.idcg, 0.0) = 0.0 THEN 0.0
         |            ELSE coalesce(p.dcg, 0.0) / i.idcg END AS ndcg
         |FROM nrel n LEFT JOIN pq p USING (query_id)
         |            LEFT JOIN ideal i USING (query_id)
         |ORDER BY n.query_id""".stripMargin
    })

  /** The q93 score + a deterministic noisy label + bucket stats + the
    * minimax isotonic fit, shared by q156 (fit table) and q157
    * (calibrated serving). Label: P(1) rises with the score through
    * the doc_id%10 comparison — monotone in expectation with local
    * violations, exactly what PAVA has to pool. Every mean is one
    * double division of exact integers; min/max over doubles —
    * bit-identical cross-engine.
    */
  private def isotonicOracleCtes: String =
    """f AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |              t -> list_contains(['the','a','of','and','is'], t))) AS DOUBLE) AS stop,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ntok_raw,
      |         CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) AS ntok,
      |         CAST(greatest(length(text), 1) AS DOUBLE) AS nchar,
      |         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS ndig,
      |         CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) AS nspace
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id,
      |         (-1.6) + 4.0 * (stop / ntok) + (-3.0) * (ndig / nchar)
      |           + 1.5 * (nspace / nchar) + 0.05 * (nchar / ntok)
      |           + 1.0 * least(ntok_raw / 100.0, 1.0) AS quality_score
      |  FROM f),
      |lab AS (
      |  SELECT doc_id, quality_score,
      |         CASE WHEN (doc_id % 10) < least(greatest(
      |                CAST(floor((quality_score + 2.0) * 2.5) AS BIGINT), 0), 10)
      |              THEN 1 ELSE 0 END AS label
      |  FROM sc),
      |st AS (
      |  SELECT least(greatest(CAST(floor(quality_score * 8.0) AS BIGINT), -32), 32) AS bucket,
      |         CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
      |  FROM lab GROUP BY 1),
      |cum AS (
      |  SELECT bucket, n, pos,
      |         row_number() OVER (ORDER BY bucket) AS r,
      |         CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cumn,
      |         CAST(sum(pos) OVER (ORDER BY bucket) AS BIGINT) AS cump
      |  FROM st),
      |pairs AS (
      |  SELECT j.r AS jr, k.r AS kr,
      |         CAST(k.cump - (j.cump - j.pos) AS DOUBLE) /
      |           CAST(k.cumn - (j.cumn - j.n) AS DOUBLE) AS avgv
      |  FROM cum j JOIN cum k ON j.r <= k.r),
      |mins AS (
      |  SELECT i.r AS ir, i.bucket, i.n, i.pos, p.jr, min(p.avgv) AS mn
      |  FROM cum i JOIN pairs p ON p.jr <= i.r AND p.kr >= i.r
      |  GROUP BY 1, 2, 3, 4, 5),
      |fit AS (
      |  SELECT bucket, n, pos, max(mn) AS fitted FROM mins GROUP BY 1, 2, 3)""".stripMargin

  /** Deterministic noisy label for the calibration gates (Spark side —
    * term-for-term the `lab` CTE above).
    */
  private def calibLabel(score: org.apache.spark.sql.Column) =
    when((col("doc_id") % 10L) <
        least(greatest(floor((score + lit(2.0)) * lit(2.5)), lit(0L)), lit(10L)),
      lit(1)).otherwise(lit(0))

  /** Isotonic calibration fit ([[graft.ext.Calibrate]]): bucket the
    * q93 quality score on a dyadic grid, count a deterministic noisy
    * label, fit the best monotone step function via the PAVA minimax
    * identity — the DuckDB oracle re-derives the whole fit from the
    * same prefix sums, so the gate pins every pooled mean bit-for-bit.
    */
  val q156 = Q(
    "q156_isotonic_fit",
    (s, dir) => {
      import s.implicits._
      val score = QualityModel.score($"text")
      Calibrate.fit(t(s, dir, "documents"), score, calibLabel(score))
        .orderBy($"bucket")
    },
    Some(s"""WITH $isotonicOracleCtes
            |SELECT bucket, n, pos, fitted FROM fit ORDER BY bucket""".stripMargin))

  /** Calibrated serving ([[graft.ext.Calibrate.calibrate]]): every
    * document's raw score mapped through the fitted step function via
    * the densify-then-broadcast-equi-join path. On the fit corpus the
    * step lookup must equal a plain join against each row's own
    * bucket — which is what the oracle computes, so the gate proves
    * the densified serving path introduces no drift.
    */
  val q157 = Q(
    "q157_calibrated_scores",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val score = QualityModel.score($"text")
      val fitTbl = Calibrate.fit(d, score, calibLabel(score))
      Calibrate.calibrate(
          d.select($"doc_id", score.as("quality_score")),
          $"quality_score", fitTbl)
        .select($"doc_id", $"quality_score", $"calibrated")
        .orderBy($"doc_id")
    },
    Some(s"""WITH $isotonicOracleCtes,
            |rws AS (
            |  SELECT doc_id, quality_score,
            |         least(greatest(CAST(floor(quality_score * 8.0) AS BIGINT), -32), 32) AS bucket
            |  FROM lab)
            |SELECT r.doc_id, r.quality_score, fit.fitted AS calibrated
            |FROM rws r JOIN fit ON r.bucket = fit.bucket
            |ORDER BY r.doc_id""".stripMargin))

  /** Snake shard assignment ([[graft.ext.Sharding.snakeShards]]):
    * weight-DESC serpentine dealing into 7 shards. The oracle computes
    * the rank with ONE flat window — proving the distributed
    * bucket-offset rank (high-bits grouping + broadcast offsets, no
    * single-partition window) equals the naive global sort.
    */
  val q158 = Q(
    "q158_snake_shards",
    (s, dir) => {
      import s.implicits._
      Sharding.snakeShards(
          t(s, dir, "documents").select($"doc_id", $"text"),
          $"doc_id", TextAnalysis.charCount($"text"), nShards = 7)
        .select($"doc_id", $"w", $"rank", $"shard")
        .orderBy($"doc_id")
    },
    Some("""WITH rk AS (
            |  SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
            |         row_number() OVER (ORDER BY length(text) DESC, doc_id) AS rank
            |  FROM documents)
            |SELECT doc_id, w, rank,
            |       CASE WHEN CAST(floor((rank-1) / 7.0) AS BIGINT) % 2 = 0
            |            THEN (rank-1) % 7 ELSE 6 - ((rank-1) % 7) END AS shard
            |FROM rk ORDER BY doc_id""".stripMargin))

  /** Per-shard transfer manifest ([[graft.ext.Sharding.manifest]]):
    * row count, exact DECIMAL weight total, and the order-invariant
    * md5-Horner content digest per snake shard — the artifact that
    * lets two sides of a 100 TB copy prove equality with one
    * aggregate each. The oracle recomputes the digest from scratch in
    * DuckDB, so the gate pins hash portability AND the exact sums.
    */
  val q159 = Q(
    "q159_shard_manifest",
    (s, dir) => {
      import s.implicits._
      val sharded = Sharding.snakeShards(
        t(s, dir, "documents").select($"doc_id", $"text"),
        $"doc_id", TextAnalysis.charCount($"text"), nShards = 7)
      Sharding.manifest(sharded, $"shard", $"text", $"w")
        .withColumnRenamed("group", "shard")
        .withColumn("total_weight", $"total_weight".cast("long"))
        .withColumn("digest", $"digest".cast("long"))
        .orderBy($"shard")
    },
    Some(s"""WITH rk AS (
            |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS w,
            |         row_number() OVER (ORDER BY length(text) DESC, doc_id) AS rank
            |  FROM documents),
            |sh AS (
            |  SELECT text, w,
            |         CASE WHEN CAST(floor((rank-1) / 7.0) AS BIGINT) % 2 = 0
            |              THEN (rank-1) % 7 ELSE 6 - ((rank-1) % 7) END AS shard
            |  FROM rk),
            |hv AS (
            |  SELECT shard, w, $hornerSql AS hval
            |  FROM (SELECT shard, w, md5(text) AS h FROM sh))
            |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
            |       CAST(sum(w) AS BIGINT) AS total_weight,
            |       CAST(sum(hval) AS BIGINT) AS digest
            |FROM hv GROUP BY shard ORDER BY shard""".stripMargin))

  /** Winnowing fingerprints (MOSS, Schleimer et al. 2003) with the
    * portable md5-Horner hash, corpus-scale face
    * ([[graft.ext.TextAnalysis.winnowFingerprintsDf]]): every k-gram
    * hashed, sliding-window minimum per window of w, distinct per doc.
    * The oracle re-derives the same selection with a positional
    * unnest + window MIN — pinning gram extraction, hash portability,
    * the window-start boundary rule, and the dedup in one gate.
    */
  val q160 = Q(
    "q160_winnow_fingerprints",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .filter($"doc_id" < 60 && TextAnalysis.charCount($"text") >= 5)
      TextAnalysis.winnowFingerprintsDf(d, $"doc_id", $"text", k = 5, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id", $"fp")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, text FROM documents
            |  WHERE doc_id < 60 AND length(text) >= 5),
            |pos AS (
            |  SELECT doc_id, text,
            |         unnest(generate_series(1, greatest(length(text)-4, 1))) AS i
            |  FROM d),
            |hv AS (
            |  SELECT doc_id, i, $hornerSql AS hval
            |  FROM (SELECT doc_id, i,
            |               md5(substring(text, CAST(i AS INT), 5)) AS h
            |        FROM pos)),
            |st AS (
            |  SELECT doc_id, i,
            |         min(hval) OVER (PARTITION BY doc_id ORDER BY i
            |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
            |         count(*) OVER (PARTITION BY doc_id) AS ng
            |  FROM hv)
            |SELECT DISTINCT doc_id, fp FROM st
            |WHERE i <= greatest(ng - 3, 1)
            |ORDER BY doc_id, fp""".stripMargin))

  /** Sorted-fill compaction plan ([[graft.ext.Sharding.compactionPlan]])
    * over simulated file metadata (documents folded into 97 "files"):
    * cumulative bytes in file order, merge group = the target-sized
    * stripe the file's byte range starts in. The oracle mirrors the
    * window sum and the floor-division stripe rule exactly.
    */
  val q161 = Q(
    "q161_compaction_plan",
    (s, dir) => {
      import s.implicits._
      val files = t(s, dir, "documents")
        .groupBy(($"doc_id" % 97L).as("file"))
        .agg(sum(TextAnalysis.charCount($"text")).as("sz"))
      Sharding.compactionPlan(files, $"file", $"sz", targetBytes = 4096L)
        .orderBy($"file")
    },
    Some("""WITH fl AS (
            |  SELECT doc_id % 97 AS file,
            |         CAST(sum(length(text)) AS BIGINT) AS bytes
            |  FROM documents GROUP BY 1),
            |pl AS (
            |  SELECT file, bytes,
            |         CAST(sum(bytes) OVER (ORDER BY file) AS BIGINT) AS cum
            |  FROM fl)
            |SELECT file, bytes, cum,
            |       CAST(floor(CAST(cum - bytes AS DOUBLE) / 4096.0) AS BIGINT) AS grp
            |FROM pl ORDER BY file""".stripMargin))

  /** Manifest takedown cascade ([[graft.ext.Forget.retractManifest]]):
    * subtract the deleted rows' exact count/weight/digest sums from
    * the stored per-shard manifests — no re-read of the retained
    * corpus. The oracle REBUILDS the manifest from the survivors
    * (shards assigned on the original full corpus, as stored layouts
    * are), so the gate pins retract ≡ rebuild, digests included.
    */
  val q162 = Q(
    "q162_retract_manifest",
    (s, dir) => {
      import s.implicits._
      val sharded = Sharding.snakeShards(
        t(s, dir, "documents").select($"doc_id", $"text"),
        $"doc_id", TextAnalysis.charCount($"text"), nShards = 7)
      val stored = Sharding.manifest(sharded, $"shard", $"text", $"w")
      Forget.retractManifest(stored,
          sharded.filter($"doc_id" % 10L === 3L), $"shard", $"text", $"w")
        .withColumnRenamed("group", "shard")
        .withColumn("total_weight", $"total_weight".cast("long"))
        .withColumn("digest", $"digest".cast("long"))
        .orderBy($"shard")
    },
    Some(s"""WITH rk AS (
            |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS w,
            |         row_number() OVER (ORDER BY length(text) DESC, doc_id) AS rank
            |  FROM documents),
            |sh AS (
            |  SELECT doc_id, text, w,
            |         CASE WHEN CAST(floor((rank-1) / 7.0) AS BIGINT) % 2 = 0
            |              THEN (rank-1) % 7 ELSE 6 - ((rank-1) % 7) END AS shard
            |  FROM rk),
            |hv AS (
            |  SELECT doc_id, shard, w, $hornerSql AS hval
            |  FROM (SELECT doc_id, shard, w, md5(text) AS h FROM sh))
            |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
            |       CAST(sum(w) AS BIGINT) AS total_weight,
            |       CAST(sum(hval) AS BIGINT) AS digest
            |FROM hv WHERE doc_id % 10 <> 3
            |GROUP BY shard ORDER BY shard""".stripMargin))

  /** Winnow-fingerprint similarity pairs
    * ([[graft.ext.TextAnalysis.winnowPairs]]): documents sharing ≥ 3
    * rare fingerprints, with planted mutated copies guaranteeing
    * shared substrings. Pins the df cap, the fp self-join, and the
    * shared-count threshold against a full SQL re-derivation.
    */
  val q163 = Q(
    "q163_winnow_pairs",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
        .filter($"doc_id" < 40 && TextAnalysis.charCount($"text") >= 5)
        .select($"doc_id", $"text")
      val planted = base.filter($"doc_id" < 10)
        .select(($"doc_id" + 100000L).as("doc_id"),
          concat($"text", lit(" mutated tail token")).as("text"))
      TextAnalysis.winnowPairs(base.unionAll(planted), $"doc_id", $"text",
          k = 5, w = 4, minShared = 3, maxDf = 6)
        .orderBy($"id1", $"id2")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, text FROM documents
            |  WHERE doc_id < 40 AND length(text) >= 5
            |  UNION ALL
            |  SELECT doc_id + 100000, text || ' mutated tail token'
            |  FROM documents WHERE doc_id < 10 AND length(text) >= 5),
            |pos AS (
            |  SELECT doc_id, text,
            |         unnest(generate_series(1, greatest(length(text)-4, 1))) AS i
            |  FROM d),
            |hvp AS (
            |  SELECT doc_id, i, $hornerSql AS hval
            |  FROM (SELECT doc_id, i,
            |               md5(substring(text, CAST(i AS INT), 5)) AS h
            |        FROM pos)),
            |stw AS (
            |  SELECT doc_id, i,
            |         min(hval) OVER (PARTITION BY doc_id ORDER BY i
            |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
            |         count(*) OVER (PARTITION BY doc_id) AS ng
            |  FROM hvp),
            |fps AS (
            |  SELECT DISTINCT doc_id, fp FROM stw
            |  WHERE i <= greatest(ng - 3, 1)),
            |rare AS (
            |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 6),
            |f2 AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
            |pr AS (
            |  SELECT a.doc_id AS id1, b.doc_id AS id2,
            |         CAST(count(*) AS BIGINT) AS shared
            |  FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2)
            |SELECT id1, id2, shared FROM pr WHERE shared >= 3
            |ORDER BY id1, id2""".stripMargin))

  /** Exact Gram sufficient statistics
    * ([[graft.ext.EmbeddingSearch.gramMatrix]]): dyadic-grid snap →
    * upper-triangle pairwise products → DECIMAL sums. Every cell is an
    * exact number, so the oracle re-derives the full 64×64/2 matrix
    * and hash-matches it — the whitening/PCA input as a gated
    * operator.
    */
  val q164 = Q(
    "q164_gram_matrix",
    (s, dir) => {
      import s.implicits._
      EmbeddingSearch.gramMatrix(
          t(s, dir, "embeddings").filter($"vec_id" < 400), $"embedding")
        .withColumn("sxx", $"sxx".cast("double"))
        .orderBy($"i", $"j")
    },
    Some("""WITH v AS (
            |  SELECT list_transform(embedding,
            |           x -> floor(CAST(x AS DOUBLE) * 64.0) / 64.0) AS qv
            |  FROM embeddings WHERE vec_id < 400),
            |e AS (SELECT qv, unnest(generate_series(1, len(qv))) AS i FROM v),
            |p AS (SELECT qv, i, unnest(generate_series(1, len(qv))) AS j FROM e),
            |g AS (SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
            |             qv[CAST(i AS INT)] * qv[CAST(j AS INT)] AS prod
            |      FROM p WHERE j >= i)
            |SELECT i, j,
            |       CAST(sum(CAST(prod AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
            |       CAST(count(*) AS BIGINT) AS n
            |FROM g GROUP BY 1, 2 ORDER BY i, j""".stripMargin))

  /** Formatted-phone redaction
    * ([[graft.ext.TextAnalysis.redactPhones]]): the `<PHONE>` PII
    * class, planted fixtures exercising parenthesized area codes,
    * +CC prefixes, dot/dash/space separators, back-to-back numbers
    * (the two-pass fixed point), and the non-matches (bare digit
    * runs, short local numbers) that must fall through to `<NUM>`.
    */
  val q165 = Q(
    "q165_redact_phones",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (700000L, "call (415) 555-0123 today"),
        (700001L, "intl +1 212-555-9876 or +44 20 7946 0958 partial"),
        (700002L, "415.555.0123 415.555.0124 back to back"),
        (700003L, "order 12345678901 is not a phone"),
        (700004L, "local 555-0123 is too short to match"),
        (700005L, "ends with 650 555 0199")).toDF("doc_id", "text")
      t(s, dir, "documents").select($"doc_id", $"text")
        .filter($"doc_id" < 50)
        .unionAll(planted)
        .select($"doc_id", TextAnalysis.redactPhones($"text").as("redacted"))
        .orderBy($"doc_id")
    },
    Some {
      val pat = TextAnalysis.PhonePattern
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50
         |           UNION ALL SELECT * FROM (VALUES
         |  (700000, 'call (415) 555-0123 today'),
         |  (700001, 'intl +1 212-555-9876 or +44 20 7946 0958 partial'),
         |  (700002, '415.555.0123 415.555.0124 back to back'),
         |  (700003, 'order 12345678901 is not a phone'),
         |  (700004, 'local 555-0123 is too short to match'),
         |  (700005, 'ends with 650 555 0199')) p(doc_id, text))
         |SELECT doc_id,
         |       regexp_replace(
         |         regexp_replace(text, '$pat', '\\1<PHONE>\\4', 'g'),
         |         '$pat', '\\1<PHONE>\\4', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin
    })

  /** Edit-distance confirm over winnow candidates
    * ([[graft.ext.TextAnalysis.confirmPairsEdit]]): the q163 sketch
    * candidates scored with exact levenshtein; planted mutated copies
    * (append distance exactly 19) survive the ≤ 25 cut, coincidental
    * rare-gram pairs between genuinely different documents do not.
    * Both engines ship the same Wagner-Fischer levenshtein built-in,
    * so the whole propose→dispose chain is one hash gate.
    */
  val q166 = Q(
    "q166_confirm_pairs",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
        .filter($"doc_id" < 40 && TextAnalysis.charCount($"text") >= 5)
        .select($"doc_id", $"text")
      val planted = base.filter($"doc_id" < 10)
        .select(($"doc_id" + 100000L).as("doc_id"),
          concat($"text", lit(" mutated tail token")).as("text"))
      val corpus = base.unionAll(planted)
      val cands = TextAnalysis.winnowPairs(corpus, $"doc_id", $"text",
        k = 5, w = 4, minShared = 3, maxDf = 6)
      TextAnalysis.confirmPairsEdit(corpus, $"doc_id", $"text",
          cands, maxDist = 25)
        .select($"id1", $"id2", $"shared", $"dist")
        .orderBy($"id1", $"id2")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, text FROM documents
            |  WHERE doc_id < 40 AND length(text) >= 5
            |  UNION ALL
            |  SELECT doc_id + 100000, text || ' mutated tail token'
            |  FROM documents WHERE doc_id < 10 AND length(text) >= 5),
            |pos AS (
            |  SELECT doc_id, text,
            |         unnest(generate_series(1, greatest(length(text)-4, 1))) AS i
            |  FROM d),
            |hvp AS (
            |  SELECT doc_id, i, $hornerSql AS hval
            |  FROM (SELECT doc_id, i,
            |               md5(substring(text, CAST(i AS INT), 5)) AS h
            |        FROM pos)),
            |stw AS (
            |  SELECT doc_id, i,
            |         min(hval) OVER (PARTITION BY doc_id ORDER BY i
            |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
            |         count(*) OVER (PARTITION BY doc_id) AS ng
            |  FROM hvp),
            |fps AS (
            |  SELECT DISTINCT doc_id, fp FROM stw
            |  WHERE i <= greatest(ng - 3, 1)),
            |rare AS (
            |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 6),
            |f2 AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
            |pr AS (
            |  SELECT a.doc_id AS id1, b.doc_id AS id2,
            |         CAST(count(*) AS BIGINT) AS shared
            |  FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2),
            |cand AS (SELECT id1, id2, shared FROM pr WHERE shared >= 3)
            |SELECT c.id1, c.id2, c.shared,
            |       CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS dist
            |FROM cand c
            |JOIN d t1 ON t1.doc_id = c.id1
            |JOIN d t2 ON t2.doc_id = c.id2
            |WHERE levenshtein(t1.text, t2.text) <= 25
            |ORDER BY c.id1, c.id2""".stripMargin))

  /** Two exact power-iteration steps over the q164 Gram table
    * ([[graft.ext.EmbeddingSearch.powerIteration2]]): the top
    * principal direction for whitening/PCA with NO floating point —
    * Gram cells are multiples of 2⁻¹², so ×2¹² makes the matrix
    * integer and v₁ = G·1, v₂ = G·v₁ are exact BIGINT mat-vec
    * products the oracle replays verbatim. The d×d table is
    * broadcast-tiny; the corpus-proportional cost stays in q164's
    * one aggregation.
    */
  val q167 = Q(
    "q167_power_iteration",
    (s, dir) => {
      import s.implicits._
      val gram = EmbeddingSearch.gramMatrix(
        t(s, dir, "embeddings").filter($"vec_id" < 400), $"embedding")
      EmbeddingSearch.powerIteration2(gram).orderBy($"dim")
    },
    Some("""WITH v AS (
            |  SELECT list_transform(embedding,
            |           x -> floor(CAST(x AS DOUBLE) * 64.0) / 64.0) AS qv
            |  FROM embeddings WHERE vec_id < 400),
            |e AS (SELECT qv, unnest(generate_series(1, len(qv))) AS i FROM v),
            |p AS (SELECT qv, i, unnest(generate_series(1, len(qv))) AS j FROM e),
            |g AS (SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
            |             qv[CAST(i AS INT)] * qv[CAST(j AS INT)] AS prod
            |      FROM p WHERE j >= i),
            |gm AS (SELECT i, j,
            |              CAST(sum(CAST(prod AS DECIMAL(38,12))) * 4096
            |                   AS BIGINT) AS g
            |       FROM g GROUP BY 1, 2),
            |fullg AS (SELECT i, j, g FROM gm
            |          UNION ALL
            |          SELECT j AS i, i AS j, g FROM gm WHERE i <> j),
            |v1 AS (SELECT i AS d, CAST(sum(g) AS BIGINT) AS v1
            |       FROM fullg GROUP BY 1),
            |v2 AS (SELECT f.i AS dim, CAST(sum(f.g * w.v1) AS BIGINT) AS v2
            |       FROM fullg f JOIN v1 w ON w.d = f.j GROUP BY 1)
            |SELECT v2.dim, v1.v1, v2.v2
            |FROM v2 JOIN v1 ON v1.d = v2.dim
            |ORDER BY dim""".stripMargin))

  /** Incremental manifest admission
    * ([[graft.ext.Sharding.admitManifest]]): a stored per-group
    * manifest built from the old corpus absorbs a new batch by pure
    * addition; the oracle computes the manifest of the UNION from
    * scratch, pinning admit ≡ rebuild (row counts, DECIMAL weight
    * totals, and the order-invariant md5-Horner digest in one gate).
    * Groups are hash shards (doc_id % 7) — the stable layout an
    * incremental load writes into, unlike q159's rank-derived snake
    * shards which are only meaningful for a full-corpus relayout.
    */
  val q168 = Q(
    "q168_admit_manifest",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"doc_id", $"text", ($"doc_id" % 7L).as("shard"))
      val stored = Sharding.manifest(docs.filter($"doc_id" % 10L =!= 3L),
        $"shard", $"text", TextAnalysis.charCount($"text"))
      Sharding.admitManifest(stored, docs.filter($"doc_id" % 10L === 3L),
          $"shard", $"text", TextAnalysis.charCount($"text"))
        .withColumnRenamed("group", "shard")
        .withColumn("total_weight", $"total_weight".cast("long"))
        .withColumn("digest", $"digest".cast("long"))
        .orderBy($"shard")
    },
    Some(s"""WITH hv AS (
            |  SELECT shard, w, $hornerSql AS hval
            |  FROM (SELECT doc_id % 7 AS shard,
            |               CAST(length(text) AS BIGINT) AS w,
            |               md5(text) AS h
            |        FROM documents))
            |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
            |       CAST(sum(w) AS BIGINT) AS total_weight,
            |       CAST(sum(hval) AS BIGINT) AS digest
            |FROM hv GROUP BY shard ORDER BY shard""".stripMargin))

  /** Vacuum/GC plan ([[graft.ext.Sharding.vacuumOrphans]] +
    * [[graft.ext.Sharding.vacuumSummary]]): the object-store listing
    * anti-joined against the union of live manifests' file lists,
    * folded into per-directory delete batches. Files synthesized from
    * doc ids; the live set omits doc_id % 10 == 3 (a takedown) and
    * references one name absent from the listing (already deleted) —
    * pinning that absent references do NOT surface and orphan counts
    * and reclaim bytes are exact.
    */
  val q169 = Q(
    "q169_vacuum_plan",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val files = docs.select(
        concat(lit("shard"), $"doc_id" % 7L, lit("/doc"), $"doc_id",
          lit(".parquet")).as("f"),
        TextAnalysis.charCount($"text").as("b"))
      val referenced = docs.filter($"doc_id" % 10L =!= 3L)
        .select(concat(lit("shard"), $"doc_id" % 7L, lit("/doc"), $"doc_id",
          lit(".parquet")).as("r"))
        .unionByName(Seq("shard0/already_gone.parquet").toDF("r"))
      Sharding.vacuumSummary(
          Sharding.vacuumOrphans(files, $"f", $"b", referenced, $"r"))
        .orderBy($"dir")
    },
    Some("""WITH files AS (
            |  SELECT 'shard' || CAST(doc_id % 7 AS VARCHAR) || '/doc' ||
            |         CAST(doc_id AS VARCHAR) || '.parquet' AS file,
            |         CAST(length(text) AS BIGINT) AS bytes,
            |         'shard' || CAST(doc_id % 7 AS VARCHAR) AS dir
            |  FROM documents),
            |referenced AS (
            |  SELECT 'shard' || CAST(doc_id % 7 AS VARCHAR) || '/doc' ||
            |         CAST(doc_id AS VARCHAR) || '.parquet' AS file
            |  FROM documents WHERE doc_id % 10 <> 3
            |  UNION ALL SELECT 'shard0/already_gone.parquet')
            |SELECT dir, CAST(count(*) AS BIGINT) AS n_orphans,
            |       CAST(sum(bytes) AS BIGINT) AS reclaim_bytes
            |FROM files f
            |WHERE NOT EXISTS (SELECT 1 FROM referenced r WHERE r.file = f.file)
            |GROUP BY dir ORDER BY dir""".stripMargin))

  /** Weighted sampling without replacement
    * ([[graft.ext.Sampling.weightedTake]]): exact Efraimidis–Spirakis
    * for integer weights — each row keeps the MIN of w portable hash
    * draws, global top-k ascending. The oracle replays every draw with
    * generate_series + the md5-Horner hash and takes the same
    * (draw, id)-ordered LIMIT, pinning the per-draw hash inputs, the
    * min fold, and the total order in one gate.
    */
  val q170 = Q(
    "q170_weighted_take",
    (s, dir) => {
      import s.implicits._
      Sampling.weightedTake(t(s, dir, "documents").select($"doc_id"),
          $"doc_id", lit(1L) + $"doc_id" % 8L, k = 200, salt = "q170")
        .select($"doc_id", $"w", $"draw")
        .orderBy($"draw", $"doc_id")
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, 1 + doc_id % 8 AS w FROM documents),
            |d AS (SELECT doc_id, w, unnest(generate_series(1, w)) AS j
            |      FROM w),
            |hh AS (SELECT doc_id, w,
            |              md5(CAST(doc_id AS VARCHAR) || ':q170:' ||
            |                  CAST(j AS VARCHAR)) AS h
            |       FROM d),
            |dr AS (SELECT doc_id, CAST(w AS BIGINT) AS w,
            |              min($hornerSql) AS draw
            |       FROM hh GROUP BY 1, 2)
            |SELECT doc_id, w, CAST(draw AS BIGINT) AS draw
            |FROM dr ORDER BY draw, doc_id LIMIT 200""".stripMargin))

  /** Bloom file-skipping point lookup
    * ([[graft.ext.Bloom.fileBlooms]] → [[graft.ext.Bloom.prunedLookup]]):
    * per-file bitsets prune the scan to candidate files, then exact
    * key equality confirms — false positives cost a candidate read,
    * never a wrong row, so the result is oracle-checkable under a
    * plain join regardless of the filter's FP behavior. Probes are
    * three present texts plus one absent needle; files are a
    * 53-bucket hash layout.
    */
  val q171 = Q(
    "q171_bloom_skip_lookup",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"doc_id", ($"doc_id" % 53L).as("file"), $"text")
      val blooms = Bloom.fileBlooms(docs, $"file", $"text", k = 3, words = 64)
      val probes = docs.filter($"doc_id".isin(7L, 123L, 456L))
        .select($"text".as("p"))
        .unionByName(Seq("absent needle q171").toDF("p"))
      Bloom.prunedLookup(docs, $"file", $"text", blooms, probes, $"p",
          k = 3, words = 64)
        .select($"doc_id", $"file")
        .orderBy($"doc_id")
    },
    Some("""WITH probes AS (
            |  SELECT DISTINCT text AS p FROM documents
            |  WHERE doc_id IN (7, 123, 456)
            |  UNION SELECT 'absent needle q171')
            |SELECT d.doc_id, d.doc_id % 53 AS file
            |FROM documents d JOIN probes ON d.text = probes.p
            |ORDER BY d.doc_id""".stripMargin))

  /** Takedown cascade through the Bloom file-skipping index
    * ([[graft.ext.Forget.retractFileBlooms]]), gated on the SERVING
    * face: delete a tenth of the corpus, retract the per-file blooms
    * file-locally (only files that lost a row rebuild; the rest pass
    * through), then run the q171 point lookup against the retracted
    * state — probing both retained texts (must still resolve) and a
    * deleted doc's text (must resolve only to OTHER retained docs
    * sharing it). The oracle is a plain join over the retained corpus,
    * so the gate pins that retracted serving ≡ serving on a rebuild,
    * independent of the filter's FP behavior.
    */
  val q172 = Q(
    "q172_retract_file_blooms",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"doc_id", ($"doc_id" % 53L).as("file"), $"text")
      val deleted = docs.filter($"doc_id" % 10L === 3L)
      val retained = docs.filter($"doc_id" % 10L =!= 3L)
      val stored = Bloom.fileBlooms(docs, $"file", $"text", k = 3, words = 64)
      val retracted = Forget.retractFileBlooms(stored, retained, deleted,
        $"file", $"text", k = 3, words = 64)
      val probes = docs.filter($"doc_id".isin(7L, 123L, 456L, 3L, 53L))
        .select($"text".as("p"))
      Bloom.prunedLookup(retained, $"file", $"text", retracted, probes, $"p",
          k = 3, words = 64)
        .select($"doc_id", $"file")
        .orderBy($"doc_id")
    },
    Some("""WITH probes AS (
            |  SELECT DISTINCT text AS p FROM documents
            |  WHERE doc_id IN (7, 123, 456, 3, 53))
            |SELECT d.doc_id, d.doc_id % 53 AS file
            |FROM documents d JOIN probes ON d.text = probes.p
            |WHERE d.doc_id % 10 <> 3
            |ORDER BY d.doc_id""".stripMargin))

  /** HITS hubs & authorities ([[graft.ext.LinkGraph.hits]]) over the
    * q131 fixture graph — UNNORMALIZED integer iterations, so every
    * score is an exact alternating-walk count and the oracle
    * ([[LinkGraph.hitsOracleSql]], generated per iteration from the
    * same recursion) hash-matches without any grid: the
    * [[LinkGraph.pageRank]] discipline with the quantization problem
    * designed away rather than mirrored. The `source` hosts are pure
    * hubs (out-links only → auth = 0), `src0..6`/`hub` pure
    * authorities (hub = 0 after round 1); two rounds separate both
    * sides decisively.
    */
  val q173 = Q(
    "q173_hits",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"source")
      val raw = d.select($"source".as("src"),
          concat(lit("src"), ($"doc_id" % 7).cast("string")).as("dst"))
        .unionAll(d.select($"source".as("src"),
          concat(lit("src"), (($"doc_id" * 3 + 1) % 7).cast("string")).as("dst")))
        .unionAll(d.filter($"doc_id" % 11 === 0)
          .select($"source".as("src"), lit("hub").as("dst")))
      graft.ext.LinkGraph.hits(raw, "src", "dst", iters = 2)
        .withColumn("hub", $"hub".cast("long"))
        .withColumn("auth", $"auth".cast("long"))
        .orderBy($"host")
    },
    Some(graft.ext.LinkGraph.hitsOracleSql(
      """raw AS (
        |  SELECT source AS src, 'src' || CAST(doc_id % 7 AS VARCHAR) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT source, 'src' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT source, 'hub' FROM documents WHERE doc_id % 11 = 0),
        |e AS (SELECT DISTINCT src, dst FROM raw)""".stripMargin,
      iters = 2)))

  /** Multi-source BFS crawl depth ([[graft.ext.LinkGraph.seedDistance]]):
    * the q131 source→src edges plus a planted src0→…→tail8 chain, seeds
    * {src0, island}. Pins: exact min-plus depths along the chain
    * (1..4), the maxDepth cutoff (src5 at true depth 5 is ABSENT from
    * the depth-4 output, as are tail7/8 and every unreached source
    * host), and the unlinked-seed rule (island keeps its depth-0 row).
    * Oracle unrolled per round by [[LinkGraph.seedDistanceOracleSql]].
    */
  val q174 = Q(
    "q174_crawl_depth",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"source")
      val chain = Seq(
        ("src0", "src1"), ("src1", "src2"), ("src2", "src3"),
        ("src3", "src4"), ("src4", "src5"), ("src5", "src6"),
        ("src6", "tail7"), ("tail7", "tail8")).toDF("src", "dst")
      val raw = d.select($"source".as("src"),
          concat(lit("src"), ($"doc_id" % 7).cast("string")).as("dst"))
        .unionByName(chain)
      val seeds = Seq("src0", "island").toDF("host")
      graft.ext.LinkGraph.seedDistance(raw, "src", "dst", seeds,
          maxDepth = 4)
        .orderBy($"host")
    },
    Some(graft.ext.LinkGraph.seedDistanceOracleSql(
      """raw AS (
        |  SELECT source AS src, 'src' || CAST(doc_id % 7 AS VARCHAR) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES ('src0', 'src1'), ('src1', 'src2'),
        |    ('src2', 'src3'), ('src3', 'src4'), ('src4', 'src5'),
        |    ('src5', 'src6'), ('src6', 'tail7'), ('tail7', 'tail8'))
        |    v(src, dst)),
        |e AS (SELECT DISTINCT src, dst FROM raw),
        |seeds AS (SELECT * FROM (VALUES ('src0'), ('island')) s(host))""".stripMargin,
      maxDepth = 4)))

  /** Per-group proportional decile ([[graft.ops.Ranks.propTile]]):
    * language-balanced retention ranking — every language's documents
    * ranked by length within the language, tiled into tenths by the
    * mirrored floor((rank−1)·n / n_group) rule. The Spark side ranks
    * with the BUCKET-OFFSET discipline (per-(lang, high-bits) windows
    * + broadcast offsets — no corpus-sized window partition even when
    * one language dominates the corpus); the oracle uses the naive
    * flat per-language window, so the gate pins the distributed rank
    * ≡ naive rank, the tie rule, and the tile arithmetic in one hash.
    */
  val q175 = Q(
    "q175_group_tile",
    (s, dir) => {
      import s.implicits._
      graft.ops.Ranks.propTile(
          t(s, dir, "documents").select($"doc_id", $"lang", $"text"),
          part = Seq("lang"), score = TextAnalysis.charCount($"text"),
          tie = $"doc_id", n = 10)
        .select($"doc_id", $"lang", $"w", $"rank", $"n_part", $"tile")
        .orderBy($"doc_id")
    },
    Some("""WITH rk AS (
            |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS w,
            |         row_number() OVER (PARTITION BY lang
            |           ORDER BY length(text) DESC, doc_id) AS rank,
            |         count(*) OVER (PARTITION BY lang) AS n_part
            |  FROM documents)
            |SELECT doc_id, lang, w, rank, CAST(n_part AS BIGINT) AS n_part,
            |       CAST(floor(CAST((rank - 1) * 10 AS DOUBLE) /
            |                  CAST(n_part AS DOUBLE)) AS BIGINT) + 1 AS tile
            |FROM rk ORDER BY doc_id""".stripMargin))

  /** SQL for one gram size of the q176 oracle: sliding word n-grams
    * (whole-doc join fallback below n tokens — the
    * [[graft.functions.NGrams]] rule), per-gram counts, max-count
    * tie→largest-coverage, duplicated-gram coverage. Generated per n
    * so Spark and DuckDB share one formula.
    */
  private def gramRepSql(n: Int): String =
    s"""g$n AS (SELECT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS g
       |        FROM (SELECT doc_id, t,
       |                unnest(generate_series(1, greatest(len(t)-${n - 1}, 1))) AS i
       |              FROM rtok)),
       |c$n AS (SELECT doc_id, g, length(g) AS len, count(*) AS cnt
       |        FROM g$n GROUP BY doc_id, g, length(g)),
       |w$n AS (SELECT *, max(cnt) OVER (PARTITION BY doc_id) AS mxc FROM c$n),
       |s$n AS (SELECT doc_id, $n AS n, CAST(sum(cnt) AS BIGINT) AS n_grams,
       |               CAST(max(CASE WHEN cnt = mxc THEN cnt*len ELSE 0 END) AS BIGINT) AS top_cov,
       |               CAST(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt*len END), 0) AS BIGINT) AS dup_cov
       |        FROM w$n GROUP BY doc_id)""".stripMargin

  /** Gopher gram-repetition signals
    * ([[graft.ext.QualityFilter.gramRepetition]]): occurrence-weighted
    * character coverage of the top n-gram and of all duplicated
    * n-grams, long format, exact integers. Planted rows exercise pure
    * repetition (every bigram duplicated), single-token repetition,
    * and clean prose; the corpus rows pin the conventions at scale.
    * The oracle groups by the gram STRING while Spark groups by its
    * md5 — equality pins the digest-shuffle discipline too.
    */
  val q176 = Q(
    "q176_gram_repetition",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (800000L, "click here click here click here click here"),
        (800001L, "spam spam spam spam spam spam spam spam"),
        (800002L, "the arctic tern migrates farther than any other bird"))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      QualityFilter.gramRepetition(docs, $"doc_id", $"text", ns = Seq(2, 3, 5))
        .orderBy($"doc_id", $"n")
    },
    Some(s"""WITH u AS (SELECT doc_id, text FROM documents
            |           UNION ALL SELECT * FROM (VALUES
            |  (800000, 'click here click here click here click here'),
            |  (800001, 'spam spam spam spam spam spam spam spam'),
            |  (800002, 'the arctic tern migrates farther than any other bird'))
            |  p(doc_id, text)),
            |rtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            |         FROM u),
            |${gramRepSql(2)},
            |${gramRepSql(3)},
            |${gramRepSql(5)}
            |SELECT * FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s3
            |               UNION ALL SELECT * FROM s5)
            |ORDER BY doc_id, n""".stripMargin))

  /** Gopher line-repetition signals
    * ([[graft.ext.QualityFilter.lineRepetition]]): duplicate-line
    * rows and character mass (total − distinct, trimmed non-empty
    * lines). Pure per-row HOF expressions — the zero-shuffle
    * gopherFlags shape — mirrored with DuckDB list lambdas. Planted
    * rows exercise repeated lines split by blanks/whitespace-only
    * lines, all-distinct docs, and a fully-duplicated doc.
    */
  val q177 = Q(
    "q177_line_repetition",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (810000L, "alpha line\nbeta line\nalpha line\n\n   \nalpha line"),
        (810001L, "one\ntwo\nthree"),
        (810002L, "dup\ndup\ndup\ndup")).toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      QualityFilter.lineRepetition(docs, $"doc_id", $"text")
        .orderBy($"doc_id")
    },
    Some("""WITH u AS (SELECT doc_id, text FROM documents
            |           UNION ALL SELECT * FROM (VALUES
            |  (810000, 'alpha line' || chr(10) || 'beta line' || chr(10) ||
            |           'alpha line' || chr(10) || chr(10) || '   ' || chr(10) ||
            |           'alpha line'),
            |  (810001, 'one' || chr(10) || 'two' || chr(10) || 'three'),
            |  (810002, 'dup' || chr(10) || 'dup' || chr(10) || 'dup' || chr(10) || 'dup'))
            |  p(doc_id, text)),
            |l AS (SELECT doc_id,
            |        list_filter(list_transform(string_split(text, chr(10)),
            |          x -> trim(x)), x -> x <> '') AS lns
            |      FROM u)
            |SELECT doc_id,
            |       CAST(len(lns) AS BIGINT) AS n_lines,
            |       CAST(len(lns) - len(list_distinct(lns)) AS BIGINT) AS n_dup_lines,
            |       CAST(coalesce(list_sum(list_transform(lns, x -> length(x))), 0)
            |            AS BIGINT) AS line_chars,
            |       CAST(coalesce(list_sum(list_transform(lns, x -> length(x))), 0) -
            |            coalesce(list_sum(list_transform(list_distinct(lns),
            |              x -> length(x))), 0) AS BIGINT) AS dup_line_chars
            |FROM l ORDER BY doc_id""".stripMargin))

  /** Host-scoped template detection
    * ([[graft.ext.Boilerplate.hostTemplateStats]]): per-doc counts of
    * sentences shared by ≥ 2 docs of the SAME host. Planted: four
    * tmplhost docs sharing a footer (each doc: 1 unique + 1 common),
    * one otherhost doc carrying the IDENTICAL footer that must NOT
    * count (df is per host), and a doc repeating the footer twice
    * (counts once toward df — the q130 rule). The corpus rows pin the
    * source-partitioned counts at scale; Spark joins on md5 digests,
    * the oracle on sentence strings — equality pins the digest
    * discipline too.
    */
  val q178 = Q(
    "q178_host_template",
    (s, dir) => {
      import s.implicits._
      val planted = (0 until 4).map(i =>
          (820000L + i, "tmplhost", s"Unique lead $i today. Shared template footer here."))
        .toDF("doc_id", "host", "text")
        .unionByName(Seq(
          (820004L, "otherhost", "Shared template footer here."),
          (820005L, "tmplhost",
            "Shared template footer here. Shared template footer here. Fresh tail."))
          .toDF("doc_id", "host", "text"))
      val docs = t(s, dir, "documents")
        .select($"doc_id", $"source".as("host"), $"text")
        .unionByName(planted)
      graft.ext.Boilerplate.hostTemplateStats(docs, $"doc_id", $"host", $"text")
        .orderBy($"doc_id")
    },
    Some("""WITH planted(doc_id, host, text) AS (
            |  SELECT 820000 + i, 'tmplhost',
            |         'Unique lead ' || CAST(i AS VARCHAR) ||
            |         ' today. Shared template footer here.'
            |  FROM range(0, 4) t(i)),
            |planted2(doc_id, host, text) AS (VALUES
            |  (820004, 'otherhost', 'Shared template footer here.'),
            |  (820005, 'tmplhost', 'Shared template footer here. ' ||
            |           'Shared template footer here. Fresh tail.')),
            |u AS (SELECT doc_id, source AS host, text FROM documents
            |      UNION ALL SELECT doc_id, host, text FROM planted
            |      UNION ALL SELECT doc_id, host, text FROM planted2),
            |m AS (SELECT doc_id, host,
            |        list_filter(list_transform(
            |          string_split(regexp_replace(text, '([.!?]+)\s+',
            |                                      '\1' || chr(1), 'g'), chr(1)),
            |          x -> trim(x)), x -> x <> '') AS l
            |      FROM u),
            |sent AS (SELECT DISTINCT doc_id, host, unnest(l) AS sentence FROM m),
            |dfc AS (SELECT host, sentence, count(*) AS df
            |        FROM sent GROUP BY host, sentence)
            |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sents,
            |       CAST(sum(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            |         AS n_common
            |FROM sent s JOIN dfc ON dfc.host = s.host AND dfc.sentence = s.sentence
            |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin))

  /** Interval-overlap join ([[graft.ops.RangeJoin.overlapJoin]]):
    * one-hour event spans × ±30-minute windows from a different event
    * slice — two fact-sized, mutually-overlapping interval sets, the
    * shape the broadcast binary-search range join cannot take. The
    * Spark side joins binned candidates on an equi-key (bin = ns DIV
    * 1h, so most pairs share 2+ bins and the dedup branch is
    * exercised); the oracle is the naive inequality cross join —
    * binned ≡ naive is the gate's claim.
    */
  val q179 = Q(
    "q179_interval_overlap",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id", $"ts")
      val hourNs = 3600L * 1000000000L
      // 1-in-15 / 1-in-21 slices: still fact-proportional on BOTH
      // sides (the shape the gate exists for), but the mutually-
      // overlapping fixture's PAIR OUTPUT is quadratic in slice
      // density — the previous %5/%7 slices cost 27 s of the ×10
      // tier on output volume alone
      val l = ev.filter($"event_id" % 15 === 0)
        .select($"event_id", $"ts".as("lo"), ($"ts" + hourNs).as("hi"))
      val r = ev.filter($"event_id" % 21 === 0)
        .select($"event_id", ($"ts" - hourNs / 2).as("lo"),
          ($"ts" + hourNs / 2).as("hi"))
      graft.ops.RangeJoin.overlapJoin(
          l, $"event_id", $"lo", $"hi",
          r, $"event_id", $"lo", $"hi", binWidth = hourNs)
        .orderBy($"l_id", $"r_id")
    },
    Some("""WITH e AS (SELECT event_id, epoch_ns(ts) AS tsn FROM events),
            |l AS (SELECT event_id, tsn AS lo, tsn + 3600000000000 AS hi
            |      FROM e WHERE event_id % 15 = 0),
            |r AS (SELECT event_id, tsn - 1800000000000 AS lo,
            |             tsn + 1800000000000 AS hi
            |      FROM e WHERE event_id % 21 = 0)
            |SELECT l.event_id AS l_id, r.event_id AS r_id
            |FROM l, r WHERE l.lo <= r.hi AND r.lo <= l.hi
            |ORDER BY l_id, r_id""".stripMargin))

  /** Asymmetric containment join ([[graft.ext.Containment]]): the
    * excerpt/quote shape symmetric near-dup misses — a planted
    * 160-char excerpt of doc 5 (containment 1.0, Jaccard ~0.5) and a
    * planted wrapper around doc 7 (doc 7 contained in it). The Spark
    * side generates candidates through the recall-COMPLETE rarest-
    * first prefix filter (the SSJoin bound: any ⌊(1−τ)·n1⌋+1 shingles
    * of a τ-contained doc must hit the container) and verifies with
    * exact integer cross-multiplication; the oracle is the EXHAUSTIVE
    * inverted-index join with no prefix filter — prefix-filtered ≡
    * exhaustive is precisely the completeness theorem, pinned
    * cross-engine.
    */
  val q180 = Q(
    "q180_containment",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").filter($"doc_id" < 150)
        .select($"doc_id", $"text")
      val excerpt = base.filter($"doc_id" === 5)
        .select(lit(900001L).as("doc_id"),
          substring($"text", 11, 160).as("text"))
      val wrapper = base.filter($"doc_id" === 7)
        .select(lit(900002L).as("doc_id"),
          concat(lit("editor's note: reposted verbatim below. "), $"text",
            lit(" [archived copy; all rights belong to the original author]"))
            .as("text"))
      val corpus = base.unionByName(excerpt).unionByName(wrapper)
      graft.ext.Containment.containedPairs(corpus, $"doc_id", $"text",
          n = 8, tauNum = 4, tauDen = 5)
        .orderBy($"id1", $"id2")
    },
    Some("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
            |d AS (SELECT doc_id, text FROM base
            |      UNION ALL
            |      SELECT 900001, substring(text, 11, 160) FROM base WHERE doc_id = 5
            |      UNION ALL
            |      SELECT 900002, 'editor''s note: reposted verbatim below. ' || text ||
            |             ' [archived copy; all rights belong to the original author]'
            |      FROM base WHERE doc_id = 7),
            |pos AS (SELECT doc_id, text,
            |               unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
            |        FROM d),
            |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 8) AS s
            |       FROM pos),
            |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
            |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
            |          GROUP BY 1, 2)
            |SELECT id1, id2, sa.n AS n1, i AS inter,
            |       CAST(i AS DOUBLE) / sa.n AS containment
            |FROM inter JOIN sizes sa ON sa.doc_id = id1
            |WHERE i * 5 >= sa.n * 4
            |ORDER BY id1, id2""".stripMargin))

  /** LSH banding S-curve planner ([[graft.ext.MinHashLsh.bandingPlan]]):
    * P(candidate) = 1 − (1 − j^r)^b for k=128 split as b ∈ {8,16,32},
    * evaluated on a ppm integer grid with a floor after every multiply
    * — exponentiation by explicit iteration, mirrored in the oracle as
    * two recursive CTEs over the same integer division. Pins the
    * parameter table an operator consults before ANY banding pass
    * (the 0.5-crossings: b=32 → j≈0.38, b=16 → ≈0.67, b=8 → ≈0.86).
    */
  val q181 = Q(
    "q181_lsh_plan",
    (s, _) =>
      MinHashLsh.bandingPlan(s, k = 128, bandOptions = Seq(8, 16, 32))
        .orderBy(col("bands"), col("j_ppm")),
    Some("""WITH RECURSIVE grid AS (
            |  SELECT CAST(b AS BIGINT) AS bands, CAST(128 // b AS BIGINT) AS r,
            |         CAST(j * 50000 AS BIGINT) AS j_ppm
            |  FROM (SELECT unnest([8, 16, 32]) AS b),
            |       (SELECT unnest(generate_series(1, 19)) AS j)),
            |pj AS (
            |  SELECT bands, r, j_ppm, CAST(1 AS BIGINT) AS i, j_ppm AS acc
            |  FROM grid
            |  UNION ALL
            |  SELECT bands, r, j_ppm, i + 1, (acc * j_ppm) // 1000000
            |  FROM pj WHERE i < r),
            |jr AS (SELECT bands, r, j_ppm, acc AS jrv FROM pj WHERE i = r),
            |pq AS (
            |  SELECT bands, r, j_ppm, jrv, CAST(1 AS BIGINT) AS i,
            |         1000000 - jrv AS acc
            |  FROM jr
            |  UNION ALL
            |  SELECT bands, r, j_ppm, jrv, i + 1,
            |         (acc * (1000000 - jrv)) // 1000000
            |  FROM pq WHERE i < bands)
            |SELECT bands, r, j_ppm, 1000000 - acc AS p_ppm
            |FROM pq WHERE i = bands
            |ORDER BY bands, j_ppm""".stripMargin))

  /** Cross-source duplication matrix
    * ([[graft.ext.ExactDedup.crossSourceOverlap]]): planted mirrors —
    * doc 3 twice under mirror-a and once under mirror-b, doc 10 under
    * mirror-b — make every asymmetry visible: mirror-a→mirror-b
    * carries n_rows_dup=2 (two copies) while the reverse carries 1.
    * Spark shuffles sha-256 digests; the oracle groups the text
    * itself — count equality across the two keyings is the
    * digest-discipline pin.
    */
  val q182 = Q(
    "q182_source_overlap",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text", $"source")
      def planted(id: Long, fromDoc: Long, src: String) =
        docs.filter($"doc_id" === fromDoc)
          .select(lit(id).as("doc_id"), $"text", lit(src).as("source"))
      val corpus = docs
        .unionByName(planted(900001L, 3L, "mirror-a"))
        .unionByName(planted(900002L, 3L, "mirror-a"))
        .unionByName(planted(900003L, 3L, "mirror-b"))
        .unionByName(planted(900004L, 10L, "mirror-b"))
      ExactDedup.crossSourceOverlap(corpus, $"text", $"source")
        .orderBy($"src", $"other")
    },
    Some("""WITH d AS (SELECT doc_id, text, source FROM documents
            |  UNION ALL SELECT 900001, text, 'mirror-a' FROM documents WHERE doc_id = 3
            |  UNION ALL SELECT 900002, text, 'mirror-a' FROM documents WHERE doc_id = 3
            |  UNION ALL SELECT 900003, text, 'mirror-b' FROM documents WHERE doc_id = 3
            |  UNION ALL SELECT 900004, text, 'mirror-b' FROM documents WHERE doc_id = 10),
            |per AS (SELECT text, source AS src, count(*) AS n
            |        FROM d GROUP BY 1, 2)
            |SELECT a.src AS src, b.src AS other, count(*) AS n_shared,
            |       CAST(sum(a.n) AS BIGINT) AS n_rows_dup
            |FROM per a JOIN per b ON a.text = b.text AND a.src != b.src
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Mixed-script homoglyph screen
    * ([[graft.ext.TextAnalysis.mixedScriptStats]]): tokens mixing
    * Latin/Cyrillic/Greek characters — planted homoglyph spam
    * ("pаypal" with a Cyrillic а) must flag, pure-Cyrillic text and
    * the ASCII corpus must not. Both engines evaluate the same three
    * `\x{…}` script classes per token (the langIdWide regex
    * discipline).
    */
  val q183 = Q(
    "q183_mixed_script",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (900001L, "urgent pаypal verification nоw"),
        (900002L, "the Ωmega option βeta stays"),
        (900003L, "чисто русский текст"))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      TextAnalysis.mixedScriptStats(docs, $"doc_id", $"text")
        .select($"id".as("doc_id"), $"n_tokens", $"n_mixed", $"flagged")
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
            |  UNION ALL SELECT * FROM (VALUES
            |   (900001, 'urgent pаypal verification nоw'),
            |   (900002, 'the Ωmega option βeta stays'),
            |   (900003, 'чисто русский текст')) p(doc_id, text)),
            |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            |       FROM d)
            |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
            |       CAST(len(list_filter(t, x ->
            |         (regexp_matches(x, '[A-Za-z]') AND
            |          regexp_matches(x, '[\x{0400}-\x{04FF}]')) OR
            |         (regexp_matches(x, '[A-Za-z]') AND
            |          regexp_matches(x, '[\x{0370}-\x{03FF}]')) OR
            |         (regexp_matches(x, '[\x{0400}-\x{04FF}]') AND
            |          regexp_matches(x, '[\x{0370}-\x{03FF}]'))))
            |         AS BIGINT) AS n_mixed,
            |       len(list_filter(t, x ->
            |         (regexp_matches(x, '[A-Za-z]') AND
            |          regexp_matches(x, '[\x{0400}-\x{04FF}]')) OR
            |         (regexp_matches(x, '[A-Za-z]') AND
            |          regexp_matches(x, '[\x{0370}-\x{03FF}]')) OR
            |         (regexp_matches(x, '[\x{0400}-\x{04FF}]') AND
            |          regexp_matches(x, '[\x{0370}-\x{03FF}]')))) > 0 AS flagged
            |FROM tk ORDER BY doc_id""".stripMargin))

  /** Incremental maintenance of the cross-source matrix
    * ([[graft.ext.ExactDedup.sourcePresenceState]] /
    * [[graft.ext.ExactDedup.mergePresenceStates]] /
    * [[graft.ext.ExactDedup.overlapFromState]]): the corpus splits
    * into old and delta batches, each contributes its own counted
    * presence state, and the matrix from the MERGED states must equal
    * the oracle's full-corpus matrix — the q118 merge-identity
    * discipline applied to governance state, so absorbing a day's
    * batch never rescans the corpus. Retraction (the group inverse)
    * is pinned in CrossSourceSpec.
    */
  val q184 = Q(
    "q184_overlap_incremental",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text", $"source")
      def planted(id: Long, fromDoc: Long, src: String) =
        docs.filter($"doc_id" === fromDoc)
          .select(lit(id).as("doc_id"), $"text", lit(src).as("source"))
      val corpus = docs
        .unionByName(planted(910001L, 4L, "mirror-a"))
        .unionByName(planted(910002L, 4L, "mirror-a"))
        .unionByName(planted(910003L, 4L, "mirror-b"))
        .unionByName(planted(910004L, 11L, "mirror-b"))
      val old = corpus.filter($"doc_id" % 3 =!= 0)
      val delta = corpus.filter($"doc_id" % 3 === 0)
      ExactDedup.overlapFromState(
        ExactDedup.mergePresenceStates(Seq(
          ExactDedup.sourcePresenceState(old, $"text", $"source"),
          ExactDedup.sourcePresenceState(delta, $"text", $"source"))))
        .orderBy($"src", $"other")
    },
    Some("""WITH d AS (SELECT doc_id, text, source FROM documents
            |  UNION ALL SELECT 910001, text, 'mirror-a' FROM documents WHERE doc_id = 4
            |  UNION ALL SELECT 910002, text, 'mirror-a' FROM documents WHERE doc_id = 4
            |  UNION ALL SELECT 910003, text, 'mirror-b' FROM documents WHERE doc_id = 4
            |  UNION ALL SELECT 910004, text, 'mirror-b' FROM documents WHERE doc_id = 11),
            |per AS (SELECT text, source AS src, count(*) AS n
            |        FROM d GROUP BY 1, 2)
            |SELECT a.src AS src, b.src AS other, count(*) AS n_shared,
            |       CAST(sum(a.n) AS BIGINT) AS n_rows_dup
            |FROM per a JOIN per b ON a.text = b.text AND a.src != b.src
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  val all: Seq[Q] = Seq(q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q30,
    q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44, q45,
    q46, q47, q48, q49, q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60,
    q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73, q74, q75,
    q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90,
    q91, q92, q93, q94, q95, q96, q97, q98, q99, q100, q101, q102, q103,
    q104, q105, q106, q107, q108, q109, q110, q111, q112, q113, q114, q115,
    q116, q117, q118, q119, q120, q121, q122, q123, q124, q125, q126,
    q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q137, q138,
    q139, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150,
    q151, q152, q153, q154, q155, q156, q157, q158, q159, q160, q161, q162,
    q163, q164, q165, q166, q167, q168, q169, q170, q171, q172, q173, q174,
    q175, q176, q177, q178, q179, q180, q181, q182, q183, q184)
}
