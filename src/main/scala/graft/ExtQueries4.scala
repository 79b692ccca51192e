package graft

import graft.CoreQueries.Q
import graft.ExtQueries3.{cjk, cyr, greek, latticeIterBlock, latticeSeedCtes,
  latticeViterbiCtes, sparkPick, sqlPick, MaxLen}
import graft.ext.UnigramLm
import org.apache.spark.sql.GraftBridge.persistCut

/** Round-14 extension gates (q213+): MULTILINGUAL lattice unigram-LM
  * training — the byte-symbol lift of the q198 trainer (VERDICT r13
  * item 1). The [a-z]{1,8} face cannot learn a single non-Latin
  * piece; here every whitespace token of ≤ 8 UTF-8 bytes, any script,
  * maps to its byte-symbol string ([[graft.functions.ByteBpeUtil]]'s
  * chr(0x100+b) placeholder alphabet — the GPT-2 byte trick the q201
  * oracle already mirrors) and the UNCHANGED lattice DP trains over
  * symbols. Both gates run on q201's planted Greek/Cyrillic/CJK
  * fixture, so the learned vocabulary provably contains multibyte
  * non-Latin pieces and the serve side provably does NOT fall back on
  * them. Same contract as every gate file: the DuckDB oracle mirrors
  * the exact integer arithmetic term for term.
  */
object ExtQueries4 {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    Tables.table(s, dir, name)

  // ---- the shared multilingual fixture (q201's planting, verbatim) --

  /** The planted multilingual frame: every third document gets a Greek
    * trigram, a Cyrillic bigram, and a CJK bigram appended,
    * arithmetically chosen so both engines plant identical text.
    */
  private def plantedDocs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    t(s, dir, "documents").filter($"doc_id" % 3 === 0)
      .select($"doc_id", concat($"text",
        lit(" "), sparkPick(greek, 1), sparkPick(greek, 7), sparkPick(greek, 3),
        lit(" "), sparkPick(cyr, 1), sparkPick(cyr, 5),
        lit(" "), sparkPick(cjk, 1), sparkPick(cjk, 11)).as("text"))
  }

  // no continuation line may START with '||': gate oracles interpolate
  // this into an outer stripMargin string, which would eat the first
  // bar and leave a bare '|' operator
  private val dCte: String =
    s"""d AS (SELECT doc_id,
       |             text || ' ' || ${sqlPick(greek, 1)} || ${sqlPick(greek, 7)} || ${sqlPick(greek, 3)} ||
       |             ' ' || ${sqlPick(cyr, 1)} || ${sqlPick(cyr, 5)} ||
       |             ' ' || ${sqlPick(cjk, 1)} || ${sqlPick(cjk, 11)} AS text
       |      FROM documents WHERE doc_id % 3 = 0)""".stripMargin

  // ---- byte-symbol lattice base CTEs ---------------------------------

  /** The 256-row byte↦placeholder-char map (the q201 recipe):
    * hex pair → chr(256 + byte).
    */
  private val byteMapCte: String =
    s"""bm(h, c) AS (VALUES ${(0 until 256).map(b =>
         f"('$b%02X', chr(${256 + b}))").mkString(",")})""".stripMargin

  /** Base CTEs of the byte-face lattice oracle: whitespace tokens of
    * ≤ MaxLen UTF-8 bytes (ANY script — the charset filter of the
    * [a-z] face replaced by an octet-length bound), mapped to their
    * byte-symbol strings through hex(encode(w)), then the SHARED
    * [[ExtQueries3.latticeSeedCtes]] over the symbol universe. A
    * symbol string's character length IS the word's octet count, so
    * the q198 HUGEINT bound derivation applies verbatim at L = 8.
    * Keeps `lmap` (raw word → symbol string) around for serve-side
    * joins.
    */
  private val latticeBytesBaseCtes: String =
    s"""ltok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS rw
       |         FROM d),
       |lraw0 AS (SELECT rw, CAST(count(*) AS HUGEINT) AS f FROM ltok
       |          WHERE rw <> '' AND strlen(rw) <= $MaxLen GROUP BY rw),
       |lraw AS MATERIALIZED (SELECT rw, f FROM (
       |          SELECT rw, f, row_number() OVER (ORDER BY f DESC, rw) AS rn
       |          FROM lraw0) rkw
       |        WHERE rn <= ${UnigramLm.DefaultMaxWords}),
       |$byteMapCte,
       |bs AS (SELECT rw, i, bm.c
       |       FROM (SELECT rw,
       |                    unnest(regexp_extract_all(hex(encode(rw)), '..')) AS h,
       |                    generate_subscripts(
       |                      regexp_extract_all(hex(encode(rw)), '..'), 1) AS i
       |             FROM lraw) u JOIN bm USING (h)),
       |lmap AS MATERIALIZED (SELECT rw, string_agg(c, '' ORDER BY i) AS w
       |        FROM bs GROUP BY rw),
       |lwc AS MATERIALIZED (SELECT w, CAST(sum(f) AS HUGEINT) AS f
       |       FROM lraw JOIN lmap USING (rw) GROUP BY w),
       |$latticeSeedCtes""".stripMargin

  /** Multilingual lattice-DP unigram-LM training
    * ([[UnigramLm.trainLatticeBytes]]): two exact-integer EM
    * iterations over the byte-symbol universe of q201's planted
    * Greek/Cyrillic/CJK fixture. The oracle rebuilds each ≤8-byte
    * word's symbol string from hex(encode(w)) through the
    * chr(256+byte) table and runs the q198 lattice CTE chain
    * UNCHANGED over symbols — the learned pieces (byte sequences,
    * including the multibyte UTF-8 prefixes of the planted scripts)
    * hash-match cross-engine with no float anywhere. This is the
    * trainer that serves a real multilingual corpus: where the
    * [a-z]{1,8} face drops every non-Latin word from the training
    * universe, this one learns Greek/Cyrillic/CJK pieces from the
    * same fixture (LatticeBytesSpec pins that the vocabulary contains
    * whole planted words as pieces).
    */
  val q213 = Q(
    "q213_lattice_bytes",
    (s, dir) => {
      import s.implicits._
      UnigramLm.trainLatticeBytes(plantedDocs(s, dir), $"text",
          maxWordBytes = MaxLen, maxPieceLen = MaxLen, iters = 2)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    Some(s"""WITH $dCte,
            |$latticeBytesBaseCtes,
            |${latticeIterBlock(1, "lw0")},
            |${latticeIterBlock(2, "lw1")}
            |SELECT p AS piece, CAST(wt AS BIGINT) AS weight
            |FROM lw2 WHERE wt > 0 ORDER BY piece""".stripMargin))

  /** The byte-face SERVE side with a per-script fallback breakdown —
    * the gate that pins "multilingual words do not fall back": train
    * (q213's chain), build the Viterbi (word, n_pieces) table over
    * byte symbols ([[UnigramLm.encodeTableLatticeBytes]]), then
    * measure fertility per SCRIPT CLASS (a token is `nonlatin` iff
    * its UTF-8 octet count exceeds its codepoint count) through
    * [[graft.ext.TokenizerEval.fertility]]. The `nonlatin` row's
    * n_fallback must hash-match ZERO — every planted Greek/Cyrillic/
    * CJK token trains and serves (the [a-z] face fell back on 100% of
    * them); `latin`-row fallback counts exactly the >8-byte English
    * words. Fallback pieces are octet counts (byte-symbol codepoint
    * fallback), mirrored as coalesce(np, length(rw)) with np from the
    * symbol-string Viterbi.
    */
  val q214 = Q(
    "q214_lattice_bytes_fertility",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val d = plantedDocs(s, dir)
      val vocab = UnigramLm.trainLatticeBytes(d, $"text",
        maxWordBytes = MaxLen, maxPieceLen = MaxLen, iters = 2)
      val universe = UnigramLm.wordUniverseBytes(d, $"text", MaxLen)
        .map(_._1).sorted
      val table = UnigramLm.encodeTableLatticeBytes(universe, vocab.toMap, MaxLen)
        .toDF("word", "n_pieces")
      val toks = d.select(
        explode(split(lower(trim($"text")), "\\s+")).as("w"))
      graft.ext.TokenizerEval.fertility(toks,
          when(octet_length($"w") > length($"w"), lit("nonlatin"))
            .otherwise(lit("latin")), $"w", table)
        .select($"grp".as("script"), $"n_words", $"n_pieces",
          $"n_fallback", $"fertility")
        .orderBy($"script")
    },
    Some(s"""WITH $dCte,
            |$latticeBytesBaseCtes,
            |${latticeIterBlock(1, "lw0")},
            |${latticeIterBlock(2, "lw1")},
            |$latticeViterbiCtes,
            |ft AS (SELECT t.rw,
            |              CASE WHEN strlen(t.rw) > length(t.rw)
            |                   THEN 'nonlatin' ELSE 'latin' END AS script,
            |              vnp.np, CAST(length(t.rw) AS BIGINT) AS chars
            |       FROM ltok t
            |       LEFT JOIN lmap m ON m.rw = t.rw
            |       LEFT JOIN vnp ON vnp.w = m.w)
            |SELECT script,
            |       CAST(count(*) AS BIGINT) AS n_words,
            |       CAST(sum(coalesce(np, chars)) AS BIGINT) AS n_pieces,
            |       CAST(sum(CASE WHEN np IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            |         AS n_fallback,
            |       CAST(sum(coalesce(np, chars)) AS DOUBLE) / count(*)
            |         AS fertility
            |FROM ft GROUP BY script ORDER BY script""".stripMargin))

  // ---- the composed end-to-end corpus build (q215) -------------------

  /** Oracle SQL of the full composed corpus build — every stage's
    * published mirror (q207 cascade, q45's signature build + q66's
    * slot-agreement pair rule, q53/q71
    * closure + split, q210 budget window, q55 pack arithmetic, q158
    * snake rank, q159 manifest digest) chained over `documents`, with
    * the WARC leg as IDENTITY: the oracle never sees a WARC byte, so
    * every downstream hash doubles as the parse-fidelity proof.
    */
  private def q215Sql: String = {
    val horner = ExtQueries.hornerSql
    val slotVals = (0 until 8).map(i =>
      s"($i, ${graft.ext.MinHashLsh.portableMul(i)}, " +
        s"${graft.ext.MinHashLsh.portableAdd(i)})").mkString(", ")
    val sigCols = (0 until 8)
      .map(i => s"max(CASE WHEN i=$i THEN m END) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { bd =>
      val ms = (bd * 2 until bd * 2 + 2)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, md5(concat_ws(',', '$bd', $ms)) AS bk FROM msig"
    }.mkString(" UNION ALL ")
    // Sampling.bucket256 over a column named `h` (md5 hex)
    def nibAt(j: Int) =
      s"(CASE WHEN ascii(substring(h,$j,1)) <= 57 THEN ascii(substring(h,$j,1))-48 " +
        s"ELSE ascii(substring(h,$j,1))-87 END)"
    val bucket2 = s"(${nibAt(1)} * 16 + ${nibAt(2)})"
    s"""WITH RECURSIVE
       |d0 AS MATERIALIZED (SELECT doc_id, text, source FROM documents
       |       UNION ALL
       |       SELECT doc_id + 910000, text || ' mutated tail token', source
       |       FROM documents WHERE doc_id < 10
       |       UNION ALL
       |       SELECT doc_id + 920000, text || ' chain tail one', source
       |       FROM documents WHERE doc_id >= 20 AND doc_id < 24
       |       UNION ALL
       |       SELECT doc_id + 930000, text || ' chain tail one two', source
       |       FROM documents WHERE doc_id >= 20 AND doc_id < 24),
       |cb AS (SELECT doc_id, source, text,
       |              CAST(len(w) AS BIGINT) AS nw,
       |              CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
       |                AS BIGINT) AS sumlen
       |       FROM (SELECT doc_id, source, text,
       |                    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                                x -> x <> '') AS w
       |             FROM d0) u),
       |cf AS MATERIALIZED (SELECT doc_id, source, text, nw,
       |              (nw >= 5 AND nw <= 100000) AS s1,
       |              (nw >= 5 AND nw <= 100000 AND
       |               sumlen * 10 >= nw * 20 AND sumlen * 10 <= nw * 120) AS s2
       |       FROM cb),
       |ccn AS (SELECT text, min(doc_id) AS keep_id FROM cf WHERE s2 GROUP BY text),
       |chs AS (SELECT source, CAST(count(*) AS BIGINT) AS hd,
       |               CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS hp
       |        FROM cf GROUP BY source),
       |cg AS MATERIALIZED (SELECT cf.doc_id, cf.text, cf.nw, cf.s1, cf.s2,
       |              (cf.s2 AND cf.doc_id = ccn.keep_id) AS s3,
       |              (cf.s2 AND cf.doc_id = ccn.keep_id AND
       |               (chs.hd < 3 OR chs.hp * 3 >= chs.hd * 2)) AS s4
       |       FROM cf LEFT JOIN ccn ON ccn.text = cf.text
       |              JOIN chs ON chs.source = cf.source),
       |ca AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n0,
       |              CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |              CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |              CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |              CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |       FROM cg),
       |sv AS MATERIALIZED (SELECT doc_id, text, nw AS n,
       |              CAST(length(text) % 256 AS BIGINT) AS sc
       |       FROM cg WHERE s4),
       |mtok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM sv),
       |mwin AS (SELECT doc_id, t,
       |                unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
       |         FROM mtok),
       |msh AS MATERIALIZED (SELECT DISTINCT doc_id,
       |               CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
       |                    ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS s
       |        FROM mwin),
       |mhx AS (SELECT doc_id, s, md5(s) AS h FROM msh),
       |mhv AS (SELECT doc_id, $horner AS h32 FROM mhx),
       |slots(i, a, b) AS (VALUES $slotVals),
       |mmin AS (SELECT doc_id, i, min((h32 * a + b) % 4294967296) AS m
       |         FROM mhv CROSS JOIN slots GROUP BY doc_id, i),
       |msig AS MATERIALIZED (SELECT doc_id, $sigCols FROM mmin GROUP BY doc_id),
       |mband AS ($bandSelects),
       |mcand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |          FROM mband x JOIN mband y
       |            ON x.bk = y.bk AND x.doc_id < y.doc_id),
       |prs AS MATERIALIZED (SELECT id1, id2 FROM mcand
       |        JOIN msig za ON za.doc_id = mcand.id1
       |        JOIN msig zb ON zb.doc_id = mcand.id2
       |        WHERE ${(0 until 8).map(i =>
                  s"(CASE WHEN za.m$i = zb.m$i THEN 1 ELSE 0 END)")
                  .mkString(" + ")} >= 4),
       |edges AS MATERIALIZED (SELECT id1 AS ea, id2 AS eb FROM prs
       |          UNION SELECT id2, id1 FROM prs),
       |reach(id, r) AS (SELECT ea, ea FROM edges
       |                 UNION
       |                 SELECT reach.id, e.eb FROM reach JOIN edges e ON reach.r = e.ea),
       |comp AS MATERIALIZED (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |allc AS (SELECT sv.doc_id, sv.text, sv.n, sv.sc,
       |                coalesce(comp.component, sv.doc_id) AS component
       |         FROM sv LEFT JOIN comp ON comp.id = sv.doc_id),
       |spb AS (SELECT doc_id, text, n, sc, component,
       |               md5(CAST(component AS VARCHAR) || 'corpus') AS h
       |        FROM allc),
       |tr AS MATERIALIZED (SELECT doc_id, text, n, sc FROM spb WHERE $bucket2 < 204),
       |cn2 AS MATERIALIZED (SELECT doc_id, text, n, sc FROM tr
       |        WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
       |bud AS (SELECT CAST(sum(n) // 2 AS BIGINT) AS budget FROM cn2),
       |cw AS (SELECT doc_id, text, n, sc,
       |              sum(n) OVER (ORDER BY sc DESC, doc_id
       |                           ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM cn2),
       |sel AS MATERIALIZED (SELECT doc_id, text, n FROM cw, bud WHERE cum <= budget),
       |pk AS (SELECT doc_id, n,
       |              md5(CAST(doc_id AS VARCHAR) || 'pack') AS h
       |       FROM sel),
       |pkb AS (SELECT doc_id, n, h, $bucket2 AS bucket FROM pk),
       |pw AS (SELECT doc_id, n,
       |              sum(n) OVER (PARTITION BY bucket ORDER BY h, doc_id
       |                           ROWS UNBOUNDED PRECEDING) AS c2
       |       FROM pkb),
       |pb AS (SELECT doc_id, (c2 - n) // 512 AS bin_id FROM pw),
       |rk AS (SELECT doc_id, n,
       |              row_number() OVER (ORDER BY n DESC, doc_id) AS rnk
       |       FROM sel),
       |shd AS (SELECT doc_id, n,
       |               CASE WHEN CAST(floor((rnk-1) / 7.0) AS BIGINT) % 2 = 0
       |                    THEN (rnk-1) % 7 ELSE 6 - ((rnk-1) % 7) END AS shard
       |        FROM rk),
       |mc AS (SELECT shd.shard, shd.n,
       |              md5(md5(sel.text) || ':' || CAST(pb.bin_id AS VARCHAR)) AS h
       |       FROM shd JOIN pb USING (doc_id)
       |                JOIN sel ON sel.doc_id = shd.doc_id),
       |hv2 AS (SELECT shard, n, $horner AS hval FROM mc),
       |mf AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
       |              CAST(sum(n) AS BIGINT) AS total_weight,
       |              CAST(sum(hval) AS BIGINT) AS digest
       |       FROM hv2 GROUP BY shard),
       |c0 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM d0),
       |c6 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS v FROM tr),
       |c7 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS v FROM cn2),
       |c8 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM sel)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS ord, 'warc_parse' AS step,
       |         c0.v AS n_in, c0.v AS n_kept,
       |         CAST(0 AS BIGINT) AS weight, CAST(0 AS BIGINT) AS digest
       |  FROM c0
       |  UNION ALL SELECT 2, 'word_bounds', n0, n1, 0, 0 FROM ca
       |  UNION ALL SELECT 3, 'word_len', n1, n2, 0, 0 FROM ca
       |  UNION ALL SELECT 4, 'exact_dedup', n2, n3, 0, 0 FROM ca
       |  UNION ALL SELECT 5, 'source_rate', n3, n4, 0, 0 FROM ca
       |  UNION ALL SELECT 6, 'split_train', ca.n4, c6.v, 0, 0 FROM ca, c6
       |  UNION ALL SELECT 7, 'near_dup', c6.v, c7.v, 0, 0 FROM c6, c7
       |  UNION ALL SELECT 8, 'budget', c7.v, c8.v, 0, 0 FROM c7, c8
       |  UNION ALL SELECT 100 + shard, 'shard', n_rows, n_rows,
       |                   total_weight, digest FROM mf)
       |ORDER BY ord""".stripMargin
  }

  /** The composed END-TO-END corpus build (VERDICT r13 item 2): WARC
    * serialize→gzip→parse → curation cascade → portable-MinHash
    * near-dup pairs → leakage-safe component split → canonical keep
    * within train → token-budget selection → 512-token packing →
    * snake shards → per-shard manifest — every stage the REAL module
    * chained on the previous stage's output, with the full multi-stage
    * attrition ledger and the final shard manifest (rows, exact token
    * weight, order-invariant content digest) hash-matched in ONE
    * oracle gate. This is the artifact a data lead signs off on, and
    * the gate that catches stage-INTERFACE drift no per-operator gate
    * can: the oracle chains each stage's published SQL mirror over
    * raw `documents` while Spark chains the operators over the PARSED
    * WARC payload, so a single corrupted byte anywhere in
    * build→compress→parse flips the dedup digests, the token counts,
    * and the manifest digest.
    *
    * Planted rows make every stage's work visible at every SF: mutated
    * replays of docs < 10 (near-dup pairs that survive the cascade's
    * exact dedup) and a two-replay chain on docs 20-23 (≥3-member
    * components, so closure and the component split are load-bearing).
    *
    * Scale shape (the 100 TB audit, stage by stage): the WARC parse is
    * the only pass that touches payload bytes; every derived column
    * (digest, token count, score) is computed on that scan. ONE
    * text-bearing exchange follows (survivor ids joined back to
    * payloads — the price of global dedup); signatures are map-side
    * combined aggregates; candidates come from band buckets, never
    * all-pairs; CC runs O(log n) rounds over pair edges only; split/
    * budget/pack/shard are bucket-local windows with broadcast
    * offsets; and the manifest is a map-side combined sum of 64-bit
    * per-row hashes, so shard content never shuffles.
    */
  val q215 = Q(
    "q215_corpus_build",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import graft.ext.{Budgeting, Curation, DedupClusters, MinHashLsh,
        Packing, Sharding, Warc}
      val base = t(s, dir, "documents").select($"doc_id", $"text", $"source")
      val rep = base.filter($"doc_id" < 10)
        .select(($"doc_id" + 910000L).as("doc_id"),
          concat($"text", lit(" mutated tail token")).as("text"), $"source")
      val ch1 = base.filter($"doc_id" >= 20 && $"doc_id" < 24)
        .select(($"doc_id" + 920000L).as("doc_id"),
          concat($"text", lit(" chain tail one")).as("text"), $"source")
      val ch2 = base.filter($"doc_id" >= 20 && $"doc_id" < 24)
        .select(($"doc_id" + 930000L).as("doc_id"),
          concat($"text", lit(" chain tail one two")).as("text"), $"source")
      val docs = base.unionAll(rep).unionAll(ch1).unionAll(ch2)

      // Each stage cut below drops its lineage (localCheckpoint), unlike
      // a GraftBridge cut: every stage feeds the next, so cuts that kept
      // their lineage would pin all earlier stages' plans and broadcast
      // hash relations on the driver until the final collect (measured
      // on the corpus_build benchmark: live-heap peak 170 → 210-255 MB;
      // the cascade's two string-keyed broadcasts hold a 16 MB page
      // each). A lost stage block fails the build instead of
      // recomputing.

      // stage 1 — WARC round-trip: the ingest face (q112's machinery)
      val rec = Warc.recordBytes(
        concat(lit("urn:graft:doc:"), $"doc_id"),
        concat(lit("https://"), $"source", lit(".example/"), $"doc_id"),
        $"text")
      val gz = Warc.gzipRecords(docs, pmod($"doc_id", lit(8)), $"doc_id", rec)
      val blobs = Warc.buildBlobs(gz, col("blob_id"), col("ord"), col("rec"))
      val parsed = Warc.parseRecords(blobs, col("blob_id"), col("blob"),
          gzipped = true)
        .select(
          regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          regexp_extract($"target_uri", "https://(.+)\\.example/", 1)
            .as("source"),
          $"payload".cast("string").as("text"))
        .localCheckpoint(false)

      // stages 2-5 — the curation cascade (q207's params)
      val p = Curation.CascadeParams(minWords = 5L, maxWords = 100000L,
        minLenTenths = 20L, maxLenTenths = 120L,
        srcMinDocs = 3L, srcNum = 2, srcDen = 3)
      val surv = Curation.survival(parsed, $"doc_id", $"text", $"source", p)
        .localCheckpoint(false)
      val casLedger = Curation.ledger(surv)
      // survivors with text (NOT checkpointed — only the near-dup
      // shingler reads text past this point; everything downstream is
      // the slim derived frame, so checkpoint storage stays metadata-
      // sized no matter the corpus)
      val keptFull = parsed
        .join(surv.filter($"s4").select($"doc_id"), "doc_id")
        .select($"doc_id", $"text")

      // stage 6 — near-dup pairs + leakage-safe component split; the
      // iterative CC runs ONCE and both consumers (split, canonical)
      // reuse the labels; its internal persisted blocks are released
      // as soon as the labels are pinned. Pairs come from the SLOT-
      // AGREEMENT estimate over the signature table (the q66
      // incremental discipline — text never re-shingles past the
      // signature build; the exact-rerank face stays pinned by q45)
      val sigs = MinHashLsh.portableSignatures(keptFull, $"doc_id", $"text",
          n = 3, k = 8)
        .localCheckpoint(false) // slim (id + k longs); read by 3 branches
      val pairs = MinHashLsh.selfNearDupEstimate(sigs, k = 8, bands = 4,
          threshold = 0.5)
        .select($"id1", $"id2").localCheckpoint(false)
      val kept = keptFull
        .select($"doc_id",
          md5($"text".cast("binary")).as("dg"),
          size(filter(split(lower(trim($"text")), "\\s+"),
            w => w =!= lit(""))).cast("long").as("n"),
          pmod(length($"text"), lit(256)).cast("long").as("sc"))
        .localCheckpoint(false)
      val (comp0, release) = DedupClusters.connectedComponentsReleasable(pairs)
      val comp = comp0.localCheckpoint(true)
      release()
      val sp = DedupClusters.leakageSafeSplitFromComponents(kept, "doc_id",
        comp, Seq("train" -> 204, "val" -> 26, "test" -> 26), salt = "corpus")
      val train = sp.filter($"split" === "train").localCheckpoint(false)

      // stage 7 — canonical keep within train (min-id per component)
      val canon = DedupClusters.keepCanonicalFromComponents(train, "doc_id",
          comp)
        .localCheckpoint(false)

      // stage 8 — token-budget selection: half the surviving tokens
      val budget = canon.agg(sum($"n")).head.getLong(0) / 2
      val sel = Budgeting.tokenBudgetSelect(canon, $"doc_id", $"n", $"sc",
          budget, bucketShift = 4)
        .localCheckpoint(false)

      // packing (512-token bins) + snake shards + manifest; the shard
      // digest folds the pack's bin_id into the per-row content hash,
      // so packing is load-bearing in the final artifact
      val packed = Packing.packByBudget(sel, $"id", $"n_tokens",
        budget = 512L, salt = "pack")
      val shardIn = sel.select($"id".as("doc_id"), $"n_tokens")
        .join(packed.select($"doc_id", $"bin_id"), "doc_id")
        .join(canon.select($"doc_id", $"dg"), "doc_id")
      val sharded = Sharding.snakeShards(shardIn, $"doc_id", $"n_tokens",
        nShards = 7)
      val mfRows = Sharding.manifest(sharded, $"shard",
          concat($"dg", lit(":"), $"bin_id".cast("string")), $"w")
        .select((lit(100L) + $"group").as("ord"), lit("shard").as("step"),
          $"n_rows".as("n_in"), $"n_rows".as("n_kept"),
          $"total_weight".cast("long").as("weight"),
          $"digest".cast("long").as("digest"))

      // the multi-stage attrition ledger
      val scal = docs.agg(count(lit(1)).as("c0"))
        .crossJoin(parsed.agg(count(lit(1)).as("cp")))
        .crossJoin(kept.agg(count(lit(1)).as("c4")))
        .crossJoin(train.agg(count(lit(1)).as("c6")))
        .crossJoin(canon.agg(count(lit(1)).as("c7")))
        .crossJoin(sel.agg(count(lit(1)).as("c8")))
      val scalRows = scal.select(explode(array(
          struct(lit(1L).as("ord"), lit("warc_parse").as("step"),
            $"c0".as("n_in"), $"cp".as("n_kept")),
          struct(lit(6L).as("ord"), lit("split_train").as("step"),
            $"c4".as("n_in"), $"c6".as("n_kept")),
          struct(lit(7L).as("ord"), lit("near_dup").as("step"),
            $"c6".as("n_in"), $"c7".as("n_kept")),
          struct(lit(8L).as("ord"), lit("budget").as("step"),
            $"c7".as("n_in"), $"c8".as("n_kept")))).as("r"))
        .select($"r.ord", $"r.step", $"r.n_in", $"r.n_kept")
      val stageRows = scalRows
        .unionByName(casLedger.select(($"stage_id" + 1L).as("ord"),
          $"stage".as("step"), $"n_in", $"n_kept"))
        .withColumn("weight", lit(0L))
        .withColumn("digest", lit(0L))
      stageRows.unionByName(mfRows).orderBy($"ord")
    },
    Some(q215Sql))

  // ---- the incremental corpus ADMISSION chain (q216) -----------------

  /** Oracle SQL of the composed daily-ingest admission: quality bounds
    * → exact dedup (batch-internal keep-first + anti vs the corpus,
    * text-keyed where Spark keys sha-256 — the q20 pin) → near-dup
    * probe against the corpus's portable MinHash signatures (the q66
    * mirror: slot-agreement ≥ 4/8) → and the UPDATED manifest computed
    * from scratch over corpus ∪ admitted, so the gate pins
    * `admitManifest(manifest(corpus), admitted) ≡ manifest(corpus ∪
    * admitted)` composed with every upstream stage.
    */
  private def q216Sql: String = {
    val horner = ExtQueries.hornerSql
    val slotVals = (0 until 8).map(i =>
      s"($i, ${graft.ext.MinHashLsh.portableMul(i)}, " +
        s"${graft.ext.MinHashLsh.portableAdd(i)})").mkString(", ")
    val sigCols = (0 until 8)
      .map(i => s"max(CASE WHEN i=$i THEN m END) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { bd =>
      val ms = (bd * 2 until bd * 2 + 2)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(", ")
      s"SELECT side, doc_id, md5(concat_ws(',', '$bd', $ms)) AS bk FROM msig"
    }.mkString(" UNION ALL ")
    val agree = (0 until 8)
      .map(i => s"(CASE WHEN ns.m$i = cs.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH
       |crp AS MATERIALIZED (SELECT doc_id, text FROM documents
       |       WHERE doc_id % 3 <> 0),
       |bt AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 940000, text FROM crp WHERE doc_id < 10
       |  UNION ALL
       |  SELECT doc_id + 950000, text || ' mutated tail token'
       |  FROM crp WHERE doc_id >= 10 AND doc_id < 20),
       |qb AS MATERIALIZED (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                           x -> x <> '')) AS nw
       |    FROM bt) u
       |  WHERE nw >= 5 AND nw <= 100000),
       |ex AS MATERIALIZED (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |    FROM qb) v
       |  WHERE rn = 1 AND text NOT IN (SELECT text FROM crp)),
       |md AS (SELECT 'c' AS side, doc_id, text FROM crp
       |       UNION ALL SELECT 'n', doc_id, text FROM ex),
       |mtok AS (SELECT side, doc_id,
       |                string_split_regex(trim(text), '\\s+') AS t FROM md),
       |mwin AS (SELECT side, doc_id, t,
       |                unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
       |         FROM mtok),
       |msh AS (SELECT DISTINCT side, doc_id,
       |               CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
       |                    ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS s
       |        FROM mwin),
       |mhv AS (SELECT side, doc_id, $horner AS h32
       |        FROM (SELECT side, doc_id, md5(s) AS h FROM msh) hx),
       |slots(i, a, b) AS (VALUES $slotVals),
       |mmin AS (SELECT side, doc_id, i, min((h32 * a + b) % 4294967296) AS m
       |         FROM mhv CROSS JOIN slots GROUP BY side, doc_id, i),
       |msig AS MATERIALIZED (SELECT side, doc_id, $sigCols FROM mmin
       |        GROUP BY side, doc_id),
       |mband AS MATERIALIZED ($bandSelects),
       |mcand AS (SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
       |          FROM mband nb JOIN mband cb
       |            ON nb.bk = cb.bk AND nb.side = 'n' AND cb.side = 'c'),
       |hit AS MATERIALIZED (
       |  SELECT DISTINCT mcand.new_id
       |  FROM mcand
       |  JOIN msig ns ON ns.side = 'n' AND ns.doc_id = mcand.new_id
       |  JOIN msig cs ON cs.side = 'c' AND cs.doc_id = mcand.corpus_id
       |  WHERE CAST($agree AS DOUBLE) / 8 >= 0.5),
       |ad AS MATERIALIZED (SELECT doc_id, text FROM ex
       |      WHERE doc_id NOT IN (SELECT new_id FROM hit)),
       |mu AS (SELECT doc_id, text FROM crp
       |       UNION ALL SELECT doc_id, text FROM ad),
       |hv2 AS (SELECT doc_id % 7 AS shard,
       |               CAST(length(text) AS BIGINT) AS w, $horner AS hval
       |        FROM (SELECT doc_id, text, md5(text) AS h FROM mu) z),
       |mf AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
       |              CAST(sum(w) AS BIGINT) AS total_weight,
       |              CAST(sum(hval) AS BIGINT) AS digest
       |       FROM hv2 GROUP BY shard),
       |cb2 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM bt),
       |cq AS (SELECT CAST(count(*) AS BIGINT) AS v FROM qb),
       |cx AS (SELECT CAST(count(*) AS BIGINT) AS v FROM ex),
       |cd AS (SELECT CAST(count(*) AS BIGINT) AS v FROM ad)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS ord, 'quality' AS step,
       |         cb2.v AS n_in, cq.v AS n_kept,
       |         CAST(0 AS BIGINT) AS weight, CAST(0 AS BIGINT) AS digest
       |  FROM cb2, cq
       |  UNION ALL SELECT 2, 'exact_dedup', cq.v, cx.v, 0, 0 FROM cq, cx
       |  UNION ALL SELECT 3, 'near_dup', cx.v, cd.v, 0, 0 FROM cx, cd
       |  UNION ALL SELECT 100 + shard, 'shard', n_rows, n_rows,
       |                   total_weight, digest FROM mf)
       |ORDER BY ord""".stripMargin
  }

  /** The composed incremental ADMISSION chain — q215's daily-ingest
    * twin: yesterday's corpus exists as STATE (digest ledger, portable
    * MinHash signature table, per-shard manifest) and today's batch
    * flows quality bounds → exact dedup (batch-internal keep-first +
    * anti vs the stored digests) → near-dup probe against the STORED
    * signatures ([[graft.ext.MinHashLsh.incrementalNearDup]] — the
    * corpus is never re-shingled) → manifest admission
    * ([[graft.ext.Sharding.admitManifest]] — pure addition against
    * the group-cardinality stored manifest). Planted exact replays
    * (corpus docs < 10) and mutated replays (docs 10-19) make both
    * rejection branches load-bearing at every SF; the oracle computes
    * the updated manifest from scratch over corpus ∪ admitted, so the
    * gate pins admit ≡ rebuild COMPOSED with every upstream stage —
    * the interface-drift check for the whole incremental path.
    *
    * Scale shape: the batch is scanned once; the corpus contributes
    * only its STATE (32-byte digests, k-long signatures, 7 manifest
    * rows). Digest anti-join shuffles digests, never text; band keys
    * derive from signatures alone; the manifest fold is a tiny
    * full-outer join on shard. Nothing here re-reads corpus text at
    * admission time — the property that makes daily ingest at 100 TB
    * a batch-sized job, not a corpus-sized one. (The gate builds the
    * "stored" state inline because a gate is self-contained; the
    * state round-trips through parquet in NearDupSpec/ShardingSpec.)
    */
  val q216 = Q(
    "q216_corpus_admit",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import graft.ext.{ExactDedup, MinHashLsh, Sharding, TextAnalysis}
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val corpus = docs.filter($"doc_id" % 3 =!= 0)
      val batch = docs.filter($"doc_id" % 3 === 0)
        .unionAll(corpus.filter($"doc_id" < 10)
          .select(($"doc_id" + 940000L).as("doc_id"), $"text"))
        .unionAll(corpus.filter($"doc_id" >= 10 && $"doc_id" < 20)
          .select(($"doc_id" + 950000L).as("doc_id"),
            concat($"text", lit(" mutated tail token")).as("text")))

      // stage 1 — per-row quality bounds (the cascade's word_bounds)
      val nw = size(filter(split(lower(trim($"text")), "\\s+"),
        w => w =!= lit(""))).cast("long")
      val qual = persistCut(batch.filter(nw >= 5L && nw <= 100000L))

      // stage 2 — exact dedup vs the stored digest ledger
      val exact = persistCut(
        ExactDedup.incremental(qual, corpus, $"text", "doc_id"))

      // stage 3 — near-dup probe against stored signatures
      val sigs = MinHashLsh.portableSignatures(corpus, $"doc_id", $"text",
        n = 3, k = 8)
      val hits = MinHashLsh.incrementalNearDup(exact, $"doc_id", $"text",
        sigs, n = 3, k = 8, bands = 4, threshold = 0.5)
      val admitted = persistCut(exact.join(
        hits.select($"new_id".as("doc_id")).distinct(), Seq("doc_id"), "left_anti"))

      // manifest admission: stored manifest + the admitted batch
      val w = TextAnalysis.charCount($"text")
      val stored = Sharding.manifest(
        corpus.withColumn("shard", $"doc_id" % 7L), $"shard", $"text", w)
      val updated = Sharding.admitManifest(stored,
          admitted.withColumn("shard", $"doc_id" % 7L), $"shard", $"text", w)
        .select((lit(100L) + $"group").as("ord"), lit("shard").as("step"),
          $"n_rows".as("n_in"), $"n_rows".as("n_kept"),
          $"total_weight".cast("long").as("weight"),
          $"digest".cast("long").as("digest"))

      val scal = batch.agg(count(lit(1)).as("cb"))
        .crossJoin(qual.agg(count(lit(1)).as("cq")))
        .crossJoin(exact.agg(count(lit(1)).as("cx")))
        .crossJoin(admitted.agg(count(lit(1)).as("cd")))
      val stageRows = scal.select(explode(array(
          struct(lit(1L).as("ord"), lit("quality").as("step"),
            $"cb".as("n_in"), $"cq".as("n_kept")),
          struct(lit(2L).as("ord"), lit("exact_dedup").as("step"),
            $"cq".as("n_in"), $"cx".as("n_kept")),
          struct(lit(3L).as("ord"), lit("near_dup").as("step"),
            $"cx".as("n_in"), $"cd".as("n_kept")))).as("r"))
        .select($"r.ord", $"r.step", $"r.n_in", $"r.n_kept")
        .withColumn("weight", lit(0L))
        .withColumn("digest", lit(0L))
      stageRows.unionByName(updated).orderBy($"ord")
    },
    Some(q216Sql))

  // ---- margin-based bitext mining (q217) -----------------------------

  /** Cross-lingual parallel-pair mining
    * ([[graft.ext.EmbeddingSearch.mineBitext]] — Artetxe & Schwenk
    * 2019 ratio margin): the even-id vectors play language A (every
    * 10th is a mining probe), the odd-id vectors language B, and each
    * probe additionally gets a PLANTED translation (its own vector
    * with component 0 zeroed — the q70 mutation both engines perform
    * exactly, cos ≈ 0.99) on the B side. Mined pairs must be MUTUAL
    * best with margin = cos/((avgK(src)+avgK(tgt))/2) ≥ 1.05 — the
    * hub normalization raw cosine lacks. The oracle replays the full
    * criterion: q25's fold-ordered cosine, rank windows both
    * directions, top-k means through DECIMAL(38,6)·10⁶ (the q111
    * float discipline), two IEEE divisions, the mutual-best join —
    * ids, cosines, AND margins hash-matched.
    */
  val q217 = Q(
    "q217_bitext_margin",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val emb = t(s, dir, "embeddings")
      // probes: a BOUNDED mining batch (real miners stream probe
      // batches against the full other-language corpus — the corpus
      // side grows, the batch does not), so the pair volume is linear
      // in corpus size, never quadratic
      val src = emb.filter($"vec_id" % 10 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("src_id"), $"embedding".as("svec"))
      // planted ids live ABOVE the table's max vec_id (a fixed offset
      // collides with genuine ids once the table passes the offset —
      // ADVICE r14); the 1-row max aggregate broadcasts, both engines
      // derive the identical ids
      val planted = src
        .crossJoin(broadcast(emb.agg(max($"vec_id").as("__mx"))))
        .select(($"__mx" + 1L + $"src_id").as("vec_id"),
          transform($"svec",
            (x, i) => when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
      val tgt = emb.filter($"vec_id" % 2 === 1)
        .select($"vec_id", $"embedding")
        .unionAll(planted)
      graft.ext.EmbeddingSearch.mineBitext(src, "src_id", "svec",
          tgt, "vec_id", "embedding", k = 4, minMargin = 1.05)
        .orderBy($"src_id", $"tgt_id")
    },
    Some("""WITH e AS (SELECT vec_id,
           |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |           FROM embeddings),
           |s AS MATERIALIZED (SELECT vec_id AS sid, v AS sv FROM e
           |     WHERE vec_id % 10 = 0 AND vec_id < 2000),
           |pl AS (SELECT (SELECT max(vec_id) FROM e) + 1 + sid AS vec_id,
           |              list_transform(generate_series(1, len(sv)),
           |                             i -> CASE WHEN i = 1 THEN 0.0 ELSE sv[i] END) AS v
           |       FROM s),
           |tg AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1
           |       UNION ALL SELECT vec_id, v FROM pl),
           |p AS (SELECT s.sid, tg.vec_id AS tid,
           |             list_inner_product(sv, v) /
           |               (sqrt(list_inner_product(sv, sv)) *
           |                sqrt(list_inner_product(v, v))) AS cos
           |      FROM s, tg),
           |r AS MATERIALIZED (SELECT sid, tid, cos,
           |            row_number() OVER (PARTITION BY sid ORDER BY cos DESC, tid) AS rs,
           |            row_number() OVER (PARTITION BY tid ORDER BY cos DESC, sid) AS rt
           |     FROM p),
           |sa AS (SELECT sid,
           |              CAST(sum(CAST(cos * 1e6 AS DECIMAL(38,6))) AS DOUBLE)
           |                / 4 / 1e6 AS avgs
           |       FROM r WHERE rs <= 4 GROUP BY sid),
           |ta AS (SELECT tid,
           |              CAST(sum(CAST(cos * 1e6 AS DECIMAL(38,6))) AS DOUBLE)
           |                / 4 / 1e6 AS avgt
           |       FROM r WHERE rt <= 4 GROUP BY tid),
           |bt AS (SELECT tid, sid AS back FROM r WHERE rt = 1)
           |SELECT r.sid AS src_id, r.tid AS tgt_id, r.cos,
           |       r.cos / ((sa.avgs + ta.avgt) / 2) AS margin
           |FROM r
           |JOIN sa USING (sid)
           |JOIN ta USING (tid)
           |JOIN bt ON bt.tid = r.tid
           |WHERE r.rs = 1 AND bt.back = r.sid
           |  AND r.cos / ((sa.avgs + ta.avgt) / 2) >= 1.05
           |ORDER BY src_id, tgt_id""".stripMargin))

  // ---- container walks under the oracle gate (q218/q219) -------------

  /** MP4 sample-table walk under the ORACLE gate (the q112 identity
    * trick): per corpus document, container parameters are derived by
    * pure arithmetic (codec by id mod 3, sample size from n_chars,
    * counts/chunks from id), a REAL ISO-BMFF file is encoded from
    * them ([[graft.ext.Multimodal.encodeMp4Sampled]] — ftyp + moov
    * with full stsd/stsz/stts/stco sample tables), and
    * [[graft.ext.Multimodal.mp4SampleStats]] walks the bytes back.
    * The oracle computes the SAME stats directly from the arithmetic
    * — it never sees an MP4 byte — so every field (codec fourcc,
    * sample count, payload bytes, chunk count, media-timescale-exact
    * duration, integer bitrate) doubles as a byte-level
    * encode→walk fidelity proof. Encode and walk run fused inside one
    * mapPartitions: container bytes exist only transiently on
    * executors, the plan carries typed metadata rows — the 100 TB
    * media-curation shape.
    */
  val q218 = Q(
    "q218_mp4_sample_stats",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id", $"n_chars").as[(Long, Long)]
      rows.mapPartitions(_.flatMap { case (id, nChars) =>
        val codec = Seq("avc1", "hvc1", "mp4a")((id % 3).toInt)
        val nSamples = 10 + (id % 50).toInt
        val size = 100L + nChars % 900L
        val delta = 256L
        val nChunks = 1 + (id % 7).toInt
        val bytes = Multimodal.encodeMp4Sampled(1000, 1000, Seq(
          (codec, 12800, Seq.fill(nSamples)(size),
            Seq((nSamples.toLong, delta)), nChunks)))
        Multimodal.mp4SampleStats(id, bytes)
      }).toDF()
        .select($"media_id".as("doc_id"), $"track_id", $"codec",
          $"media_timescale", $"n_samples", $"total_bytes", $"n_chunks",
          $"duration_ms", $"bitrate_bps")
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id,
           |                  CASE doc_id % 3 WHEN 0 THEN 'avc1'
           |                       WHEN 1 THEN 'hvc1' ELSE 'mp4a' END AS codec,
           |                  CAST(10 + doc_id % 50 AS BIGINT) AS ns,
           |                  CAST(100 + n_chars % 900 AS BIGINT) AS sz,
           |                  CAST(1 + doc_id % 7 AS BIGINT) AS nch
           |           FROM documents WHERE doc_id % 20 = 0),
           |d AS (SELECT doc_id, codec, ns, sz, nch,
           |             ns * 256 * 1000 // 12800 AS dur_ms,
           |             ns * sz AS tot
           |      FROM p)
           |SELECT doc_id, CAST(1 AS BIGINT) AS track_id, codec,
           |       CAST(12800 AS BIGINT) AS media_timescale,
           |       ns AS n_samples, tot AS total_bytes, nch AS n_chunks,
           |       dur_ms AS duration_ms,
           |       CASE WHEN dur_ms > 0 THEN tot * 8000 // dur_ms ELSE 0 END
           |         AS bitrate_bps
           |FROM d ORDER BY doc_id""".stripMargin))

  /** MP3 frame-header walk under the ORACLE gate (the q218
    * discipline for compressed audio): per document, a frame plan is
    * derived arithmetically — n₁ MPEG-1 Layer-III frames at one
    * bitrate index then n₂ at another (VBR iff they differ), sample
    * rate by id mod 3, mono by id parity — a REAL MPEG audio stream
    * is encoded ([[graft.ext.Multimodal.encodeMp3]]: correctly-sized
    * frames, an ID3v2 prefix every third doc), and
    * [[graft.ext.Multimodal.mp3Metadata]] walks it back. The oracle
    * recomputes frame lengths from the public framing equation
    * (144·bitrate/rate, integer division), total samples, exact
    * duration and average bitrate, and the VBR verdict — from the
    * arithmetic alone, never a byte.
    */
  val q219 = Q(
    "q219_mp3_frame_stats",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.map { id =>
        val br1 = 1 + (id % 14).toInt
        val br2 = 1 + ((id + 5) % 14).toInt
        val sr = (id % 3).toInt
        val mono = id % 2 == 0
        val n1 = 2 + (id % 4).toInt
        val n2 = 3
        val bytes = Multimodal.encodeMp3(
          Seq.fill(n1)((br1, sr, true, mono)) ++
            Seq.fill(n2)((br2, sr, true, mono)),
          id3Bytes = if (id % 3 == 0) 64 + (id % 100).toInt else 0)
        Multimodal.mp3Metadata(id, bytes)
      }).toDF()
        .select($"media_id".as("doc_id"), $"valid", $"n_frames",
          $"duration_ms", $"sample_rate", $"channels", $"n_samples",
          $"bitrate_bps", $"vbr")
        .orderBy($"doc_id")
    },
    Some {
      val kbps = Seq(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
        224, 256, 320)
      val kbpsVals = kbps.zipWithIndex.map { case (v, i) => s"($i, $v)" }
        .mkString(", ")
      s"""WITH br(i, kbps) AS (VALUES $kbpsVals),
         |sr(i, rate) AS (VALUES (0, 44100), (1, 48000), (2, 32000)),
         |p AS (SELECT doc_id,
         |             CAST(1 + doc_id % 14 AS BIGINT) AS b1,
         |             CAST(1 + (doc_id + 5) % 14 AS BIGINT) AS b2,
         |             CAST(doc_id % 3 AS BIGINT) AS sri,
         |             CAST(2 + doc_id % 4 AS BIGINT) AS n1
         |      FROM documents WHERE doc_id % 20 = 0),
         |d AS (SELECT doc_id, n1, CAST(3 AS BIGINT) AS n2,
         |             144 * br1.kbps * 1000 // sr.rate AS len1,
         |             144 * br2.kbps * 1000 // sr.rate AS len2,
         |             sr.rate AS rate, (b1 <> b2) AS vbr,
         |             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels
         |      FROM p
         |      JOIN br br1 ON br1.i = p.b1
         |      JOIN br br2 ON br2.i = p.b2
         |      JOIN sr ON sr.i = p.sri),
         |f AS (SELECT doc_id, n1 + n2 AS n_frames,
         |             1152 * (n1 + n2) AS n_samples,
         |             n1 * len1 + n2 * len2 AS tot,
         |             1152 * (n1 + n2) * 1000 // rate AS dur_ms,
         |             rate, channels, vbr
         |      FROM d)
         |SELECT doc_id, TRUE AS valid, CAST(n_frames AS BIGINT) AS n_frames,
         |       CAST(dur_ms AS BIGINT) AS duration_ms,
         |       CAST(rate AS INT) AS sample_rate,
         |       CAST(channels AS INT) AS channels,
         |       CAST(n_samples AS BIGINT) AS n_samples,
         |       CASE WHEN dur_ms > 0 THEN CAST(tot * 8000 // dur_ms AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS bitrate_bps,
         |       vbr
         |FROM f ORDER BY doc_id""".stripMargin
    })

  // ---- container DISPATCH under the oracle gate (q220) ---------------

  /** Mixed-media routing ([[graft.ext.Multimodal.containerMetadata]]):
    * per document one of FIVE real containers is encoded from
    * arithmetic parameters — ISO-BMFF MP4 (id%5=0), MPEG audio
    * (id%5=1), RIFF/WAVE PCM (id%5=2), FLAC (id%5=3), Ogg/Vorbis
    * (id%5=4) — and the sniffing dispatch must route each to the
    * right header walk and recover every typed field. The oracle
    * computes all fields from the branch arithmetic alone (q218's
    * identity discipline), so one misrouted magic number or
    * off-by-one in any walk flips the hash. This is the media-lake
    * front door: one pass, binary stays on executors, typed metadata
    * out.
    */
  val q220 = Q(
    "q220_media_route",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      val metas = rows.mapPartitions { it =>
        val rs = it.map { id =>
          val bytes = (id % 5) match {
            case 0 => Multimodal.encodeMp4(600, 600 + (id % 1000).toInt,
              nTracks = 1 + (id % 5).toInt)
            case 1 => Multimodal.encodeMp3(Seq.fill(2 + (id % 4).toInt)(
              (1 + (id % 14).toInt, (id % 3).toInt, true, id % 2 == 0)))
            case 2 =>
              val rate = 8000 + (id % 4).toInt * 4000
              val ch = 1 + (id % 2).toInt
              val nFrames = 500 + (id % 300).toInt
              Multimodal.encodeWav(rate, ch, 16,
                new Array[Byte](nFrames * ch * 2))
            case 3 => Multimodal.encodeFlac(
              8000 + (id % 4).toInt * 4000, 1 + (id % 2).toInt,
              Seq(8, 16, 24)((id % 3).toInt), 1000L + id % 90000L)
            case _ => Multimodal.encodeOgg("vorbis",
              8000 + (id % 4).toInt * 4000, 1 + (id % 2).toInt,
              2 + (id % 5).toInt, 960L * (1 + id % 4))
          }
          Multimodal.MediaRow(id, "mixed", bytes)
        }
        rs
      }
      Multimodal.containerMetadata(metas)
        .toDF()
        .select($"media_id".as("doc_id"), $"valid", $"container",
          $"duration_ms", $"n_tracks", $"sample_rate", $"channels",
          $"bits_per_sample", $"n_samples")
        .orderBy($"doc_id")
    },
    Some {
      s"""WITH p AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
         |m4 AS (SELECT doc_id, 'mp4' AS container,
         |              (600 + doc_id % 1000) * 1000 // 600 AS duration_ms,
         |              CAST(1 + doc_id % 5 AS INT) AS n_tracks,
         |              0 AS sample_rate, 0 AS channels, 0 AS bits_per_sample,
         |              CAST(0 AS BIGINT) AS n_samples
         |       FROM p WHERE doc_id % 5 = 0),
         |m3 AS (SELECT doc_id, 'mp3' AS container,
         |              1152 * (2 + doc_id % 4) * 1000 // 48000 AS duration_ms,
         |              1 AS n_tracks, 48000 AS sample_rate,
         |              CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels,
         |              0 AS bits_per_sample,
         |              CAST(1152 * (2 + doc_id % 4) AS BIGINT) AS n_samples
         |       FROM p WHERE doc_id % 5 = 1),
         |wv AS (SELECT doc_id, 'wav' AS container,
         |              (500 + doc_id % 300) * 1000 //
         |                (8000 + (doc_id % 4) * 4000) AS duration_ms,
         |              1 AS n_tracks,
         |              CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
         |              CAST(1 + doc_id % 2 AS INT) AS channels,
         |              16 AS bits_per_sample,
         |              CAST(500 + doc_id % 300 AS BIGINT) AS n_samples
         |       FROM p WHERE doc_id % 5 = 2),
         |fl AS (SELECT doc_id, 'flac' AS container,
         |              (1000 + doc_id % 90000) * 1000 //
         |                (8000 + (doc_id % 4) * 4000) AS duration_ms,
         |              1 AS n_tracks,
         |              CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
         |              CAST(1 + doc_id % 2 AS INT) AS channels,
         |              CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
         |                   ELSE 24 END AS INT) AS bits_per_sample,
         |              CAST(1000 + doc_id % 90000 AS BIGINT) AS n_samples
         |       FROM p WHERE doc_id % 5 = 3),
         |og AS (SELECT doc_id, 'ogg' AS container,
         |              960 * (1 + doc_id % 4) * (2 + doc_id % 5) * 1000 //
         |                (8000 + (doc_id % 4) * 4000) AS duration_ms,
         |              1 AS n_tracks,
         |              CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
         |              CAST(1 + doc_id % 2 AS INT) AS channels,
         |              0 AS bits_per_sample,
         |              CAST(960 * (1 + doc_id % 4) * (2 + doc_id % 5) AS BIGINT)
         |                AS n_samples
         |       FROM p WHERE doc_id % 5 = 4)
         |SELECT doc_id, TRUE AS valid, container,
         |       CAST(duration_ms AS BIGINT) AS duration_ms, n_tracks,
         |       sample_rate, channels, bits_per_sample, n_samples
         |FROM (SELECT * FROM m4 UNION ALL SELECT * FROM m3
         |      UNION ALL SELECT * FROM wv UNION ALL SELECT * FROM fl
         |      UNION ALL SELECT * FROM og)
         |ORDER BY doc_id""".stripMargin
    })

  // ---- the composed corpus TAKEDOWN (q221) ---------------------------

  /** Composed takedown through the admission state TRIPLE — the q216
    * chain's inverse: the corpus (plus planted duplicate content so
    * the counted branch is load-bearing) materializes its digest
    * ledger, portable signature table, and per-shard manifest; a
    * takedown batch (doc_id % 10 = 7 — hitting originals whose
    * duplicates survive AND duplicates whose originals survive) then
    * cascades through [[graft.ext.Forget.retractDigests]] /
    * `retractSignatures` / `retractManifest`, and the gate
    * hash-matches each retracted state against the oracle's
    * REBUILD-FROM-REMAINING — retract ≡ rebuild, composed across
    * every state the daily-admission path probes. Output: one
    * summary row per state (exact counts + checksums) and the full
    * retracted manifest.
    *
    * Scale shape: every retraction is affected-only — digest
    * subtraction joins the DELETE batch's digests, signature rows
    * anti-join the delete ids, the manifest subtracts one
    * batch-aggregate — no state is rebuilt, no corpus re-read.
    */
  val q221 = Q(
    "q221_corpus_takedown",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import graft.ext.{Forget, MinHashLsh, Sharding}
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val corpus = persistCut(docs.unionAll(docs.filter($"doc_id" < 10)
          .select(($"doc_id" + 960001L).as("doc_id"), $"text")))
      val del = persistCut(corpus.filter($"doc_id" % 10 === 7))

      val dgRet = Forget.retractDigests(
        Forget.digestCounts(corpus, $"text"), del, $"text")
      val sigRet = Forget.retractSignatures(
        MinHashLsh.portableSignatures(corpus, $"doc_id", $"text", n = 3, k = 8),
        "id", del.select($"doc_id"))
      val mfRet = Forget.retractManifest(
        Sharding.manifest(corpus.withColumn("shard", $"doc_id" % 7L),
          $"shard", $"text", length($"text")),
        del.withColumn("shard", $"doc_id" % 7L),
        $"shard", $"text", length($"text"))

      val r1 = dgRet.agg(count(lit(1)).as("n_rows"), sum($"n").as("checksum"))
        .select(lit(1L).as("ord"), lit("digests").as("state"),
          $"n_rows", $"checksum", lit(0L).as("digest"))
      val minSum = (0 until 8).map(i => col(s"m$i")).reduce(_ + _)
      val r2 = sigRet.agg(count(lit(1)).as("n_rows"),
          sum(minSum).as("checksum"))
        .select(lit(2L).as("ord"), lit("signatures").as("state"),
          $"n_rows", $"checksum", lit(0L).as("digest"))
      val r3 = mfRet.select((lit(10L) + $"group").as("ord"),
        lit("manifest").as("state"), $"n_rows",
        $"total_weight".cast("long").as("checksum"),
        $"digest".cast("long").as("digest"))
      r1.unionByName(r2).unionByName(r3).orderBy($"ord")
    },
    Some {
      val horner = ExtQueries.hornerSql
      val slotVals = (0 until 8).map(i =>
        s"($i, ${graft.ext.MinHashLsh.portableMul(i)}, " +
          s"${graft.ext.MinHashLsh.portableAdd(i)})").mkString(", ")
      s"""WITH c AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 960001, text FROM documents WHERE doc_id < 10),
         |rem AS MATERIALIZED (SELECT doc_id, text FROM c
         |      WHERE doc_id % 10 <> 7),
         |dg AS (SELECT text, CAST(count(*) AS BIGINT) AS n FROM rem
         |       GROUP BY text),
         |mtok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
         |         FROM rem),
         |mwin AS (SELECT doc_id, t,
         |                unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
         |         FROM mtok),
         |msh AS (SELECT DISTINCT doc_id,
         |               CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
         |                    ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS s
         |        FROM mwin),
         |mhv AS (SELECT doc_id, $horner AS h32
         |        FROM (SELECT doc_id, md5(s) AS h FROM msh) hx),
         |slots(i, a, b) AS (VALUES $slotVals),
         |mmin AS (SELECT doc_id, i, min((h32 * a + b) % 4294967296) AS m
         |         FROM mhv CROSS JOIN slots GROUP BY doc_id, i),
         |sg AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS ms FROM mmin
         |       GROUP BY doc_id),
         |hv2 AS (SELECT doc_id % 7 AS shard,
         |               CAST(length(text) AS BIGINT) AS w, $horner AS hval
         |        FROM (SELECT doc_id, text, md5(text) AS h FROM rem) z),
         |mf AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
         |              CAST(sum(w) AS BIGINT) AS total_weight,
         |              CAST(sum(hval) AS BIGINT) AS digest
         |       FROM hv2 GROUP BY shard)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS ord, 'digests' AS state,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(n) AS BIGINT) AS checksum,
         |         CAST(0 AS BIGINT) AS digest
         |  FROM dg
         |  UNION ALL
         |  SELECT 2, 'signatures', CAST(count(*) AS BIGINT),
         |         CAST(sum(ms) AS BIGINT), 0 FROM sg
         |  UNION ALL
         |  SELECT 10 + shard, 'manifest', n_rows, total_weight, digest
         |  FROM mf)
         |ORDER BY ord""".stripMargin
    })

  // ---- H.264 SPS header parse under the oracle gate (q222) -----------

  /** Coded-video geometry from the SPS under the ORACLE gate (the
    * q218 identity discipline): per document, SPS parameters are
    * derived arithmetically — baseline/high profile by parity, level
    * by id mod 3, macroblock geometry and chroma-unit crops from id —
    * a REAL SPS NAL is bit-encoded ([[graft.ext.Multimodal.encodeSps]]:
    * Exp-Golomb fields, emulation-prevention escaping, trailing
    * bits), embedded in a REAL stsd sample entry's avcC record
    * (ISO 14496-15 layout inside the full VisualSampleEntry), and
    * [[graft.ext.Multimodal.mp4CodedVideo]] walks the container back
    * to (profile, level, coded width/height). The oracle computes the
    * geometry from §7.4.2.1.1 arithmetic alone — 16·(mbs+1) minus
    * 2·crop chroma units — never a byte, so every row doubles as a
    * bit-level encode→parse fidelity proof. This is the field tkhd
    * cannot provide: presentation size may lie about the coded
    * stream; route-by-resolution needs the SPS.
    */
  val q222 = Q(
    "q222_h264_sps",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.flatMap { id =>
        val profile = if (id % 2 == 0) 66 else 100
        val level = Seq(30, 40, 50)((id % 3).toInt)
        val nal = Multimodal.encodeSps(profile, level,
          picWidthInMbsMinus1 = id % 120,
          picHeightInMapUnitsMinus1 = id % 68,
          cropRight = id % 3, cropBottom = (id + 1) % 3)
        val bytes = Multimodal.encodeMp4Sampled(1000, 1000, Seq(
          ("avc1", 12800, Seq.fill(5)(100L), Seq((5L, 256L)), 1)),
          sps = Map(0 -> nal))
        Multimodal.mp4CodedVideo(id, bytes)
      }).toDF()
        .select($"media_id".as("doc_id"), $"track_id", $"profile_idc",
          $"level_idc", $"coded_width", $"coded_height")
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id,
           |                  CASE WHEN doc_id % 2 = 0 THEN 66 ELSE 100 END AS prof,
           |                  CASE doc_id % 3 WHEN 0 THEN 30 WHEN 1 THEN 40
           |                       ELSE 50 END AS lvl,
           |                  doc_id % 120 AS wm, doc_id % 68 AS hm,
           |                  doc_id % 3 AS cr, (doc_id + 1) % 3 AS cb
           |           FROM documents WHERE doc_id % 20 = 0)
           |SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
           |       CAST(prof AS INT) AS profile_idc,
           |       CAST(lvl AS INT) AS level_idc,
           |       CAST(16 * (wm + 1) - 2 * cr AS BIGINT) AS coded_width,
           |       CAST(16 * (hm + 1) - 2 * cb AS BIGINT) AS coded_height
           |FROM p ORDER BY doc_id""".stripMargin))

  // ---- FLAC / Ogg container walks under the oracle gate (q223/q224) --

  /** FLAC STREAMINFO walk under the ORACLE gate (the q218 identity
    * discipline for lossless audio): per document, stream parameters
    * are derived arithmetically (rate from an 8-row table by id mod 8,
    * channels by parity, bit depth by id mod 3, a sample count from
    * id), a REAL FLAC header is encoded
    * ([[graft.ext.Multimodal.encodeFlac]] — magic + the packed-64-bit
    * STREAMINFO block), and [[graft.ext.Multimodal.flacMetadata]]
    * walks the bytes back. The oracle computes every field — including
    * the exact integer duration samples·1000 // rate — from the
    * arithmetic alone.
    */
  val q223 = Q(
    "q223_flac_stream_info",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.map { id =>
        val rate = Seq(8000, 16000, 22050, 24000, 32000, 44100, 48000,
          96000)((id % 8).toInt)
        Multimodal.flacMetadata(id, Multimodal.encodeFlac(
          rate, 1 + (id % 2).toInt, Seq(8, 16, 24)((id % 3).toInt),
          1000L + id % 90000L))
      }).toDF()
        .select($"media_id".as("doc_id"), $"valid", $"sample_rate",
          $"channels", $"bits_per_sample", $"n_samples", $"duration_ms",
          $"min_block_size", $"max_block_size")
        .orderBy($"doc_id")
    },
    Some("""WITH r(i, rate) AS (VALUES (0, 8000), (1, 16000), (2, 22050),
           |       (3, 24000), (4, 32000), (5, 44100), (6, 48000), (7, 96000)),
           |p AS (SELECT doc_id, rate,
           |             CAST(1 + doc_id % 2 AS INT) AS channels,
           |             CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
           |                  ELSE 24 END AS bps,
           |             CAST(1000 + doc_id % 90000 AS BIGINT) AS ns
           |      FROM documents JOIN r ON r.i = doc_id % 8
           |      WHERE doc_id % 20 = 0)
           |SELECT doc_id, TRUE AS valid, CAST(rate AS INT) AS sample_rate,
           |       channels, CAST(bps AS INT) AS bits_per_sample,
           |       ns AS n_samples, ns * 1000 // rate AS duration_ms,
           |       CAST(4096 AS INT) AS min_block_size,
           |       CAST(4096 AS INT) AS max_block_size
           |FROM p ORDER BY doc_id""".stripMargin))

  /** Ogg page walk under the ORACLE gate: per document a Vorbis or
    * Opus stream (by parity) is laid out arithmetically — page count
    * from id, per-page granule stride, the Opus 312-sample pre-skip —
    * encoded as REAL Ogg pages ([[graft.ext.Multimodal.encodeOgg]]:
    * BOS/EOS flags, lacing tables, ID header packet), and
    * [[graft.ext.Multimodal.oggMetadata]] walks the pages back. The
    * oracle recomputes codec, rate (Opus granules are ALWAYS 48 kHz),
    * page count, total samples from the final granule (minus pre-skip
    * for Opus) and the exact integer duration — from the arithmetic
    * alone, never a byte.
    */
  val q224 = Q(
    "q224_ogg_pages",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.map { id =>
        val codec = if (id % 2 == 0) "vorbis" else "opus"
        val rate = Seq(22050, 44100, 48000)((id % 3).toInt)
        Multimodal.oggMetadata(id, Multimodal.encodeOgg(
          codec, rate, 1 + (id % 2).toInt, 2 + (id % 5).toInt,
          960L * (1 + id % 4), preSkip = if (codec == "opus") 312 else 0))
      }).toDF()
        .select($"media_id".as("doc_id"), $"valid", $"codec",
          $"sample_rate", $"channels", $"n_pages", $"n_samples",
          $"duration_ms")
        .orderBy($"doc_id")
    },
    Some("""WITH r(i, rate) AS (VALUES (0, 22050), (1, 44100), (2, 48000)),
           |p AS (SELECT doc_id,
           |             CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
           |             rate,
           |             CAST(1 + doc_id % 2 AS INT) AS channels,
           |             CAST(2 + doc_id % 5 AS BIGINT) AS np,
           |             CAST(960 * (1 + doc_id % 4) AS BIGINT) AS spp
           |      FROM documents JOIN r ON r.i = doc_id % 3
           |      WHERE doc_id % 20 = 0),
           |d AS (SELECT doc_id, codec,
           |             CASE WHEN codec = 'opus' THEN 48000 ELSE rate END AS srate,
           |             channels, np + 1 AS n_pages, spp * np AS ns
           |      FROM p)
           |SELECT doc_id, TRUE AS valid, codec,
           |       CAST(srate AS INT) AS sample_rate, channels, n_pages,
           |       ns AS n_samples, ns * 1000 // srate AS duration_ms
           |FROM d ORDER BY doc_id""".stripMargin))

  /** H.265 coded geometry under the ORACLE gate (q222's discipline
    * for the other dominant codec): per document an HEVC SPS is
    * bit-encoded from arithmetic parameters
    * ([[graft.ext.Multimodal.encodeSpsHevc]] — profile_tier_level
    * block, DIRECT luma sizes, conformance-window crops), embedded in
    * a REAL hvc1 sample entry's hvcC NAL-array record, and
    * [[graft.ext.Multimodal.mp4CodedVideo]] walks it back. HEVC
    * geometry needs no macroblock arithmetic — the oracle is luma
    * size minus 2·crop chroma units. With q222 this closes coded
    * geometry for both codecs a 100 TB video pass routes on.
    */
  val q225 = Q(
    "q225_hevc_sps",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.flatMap { id =>
        val nal = Multimodal.encodeSpsHevc(
          profileIdc = 1 + (id % 4).toInt,
          levelIdc = 30 * (3 + (id % 3).toInt),
          widthLuma = 2L * (320 + id % 800),
          heightLuma = 2L * (180 + id % 450),
          cropRight = id % 4, cropBottom = (id + 2) % 4)
        val bytes = Multimodal.encodeMp4Sampled(1000, 1000, Seq(
          ("hvc1", 25600, Seq.fill(4)(200L), Seq((4L, 512L)), 2)),
          sps = Map(0 -> nal))
        Multimodal.mp4CodedVideo(id, bytes)
      }).toDF()
        .select($"media_id".as("doc_id"), $"track_id", $"profile_idc",
          $"level_idc", $"coded_width", $"coded_height")
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id,
           |                  CAST(1 + doc_id % 4 AS INT) AS prof,
           |                  CAST(30 * (3 + doc_id % 3) AS INT) AS lvl,
           |                  2 * (320 + doc_id % 800) AS w,
           |                  2 * (180 + doc_id % 450) AS h,
           |                  doc_id % 4 AS cr, (doc_id + 2) % 4 AS cb
           |           FROM documents WHERE doc_id % 20 = 0)
           |SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
           |       prof AS profile_idc, lvl AS level_idc,
           |       CAST(w - 2 * cr AS BIGINT) AS coded_width,
           |       CAST(h - 2 * cb AS BIGINT) AS coded_height
           |FROM p ORDER BY doc_id""".stripMargin))

  // ---- subtitle/caption parsing under the oracle gate (q226/q227) ----

  /** The shared planted cue plan: per kept document, n = 2 + id%6
    * cues; cue i starts at (i−1)·1000 ms and lasts 800 + 400·((id+i)%2)
    * ms — so every other cue (by parity) runs 1200 ms and OVERLAPS
    * the next cue's start, exercising the overlap screen; text is the
    * deterministic "cue i doc id".
    */
  private def cuePlan(id: Long): Seq[(Long, Long, Long, String)] = {
    val n = 2 + (id % 6).toInt
    (1 to n).map { i =>
      val start = (i - 1) * 1000L
      val end = start + 800L + 400L * ((id + i) % 2)
      (i.toLong, start, end, s"cue $i doc $id")
    }
  }

  private def fmtTs(ms: Long, sep: Char): String = {
    val hh = ms / 3600000; val mm = ms / 60000 % 60
    val ss = ms / 1000 % 60; val mmm = ms % 1000
    f"$hh%02d:$mm%02d:$ss%02d$sep$mmm%03d"
  }

  /** SRT + WebVTT cue parsing under the ORACLE gate (the q218
    * identity discipline for caption text): per document the
    * arithmetic cue plan is rendered as BOTH a real SRT document
    * (numbered blocks, comma milliseconds) and a real WebVTT document
    * (magic line, dot milliseconds, a NOTE block to skip), parsed
    * back by [[graft.ext.Subtitles.parseSrt]]/`parseVtt`, and every
    * cue row — index, exact millisecond bounds, text — must
    * hash-match the oracle's direct arithmetic. Timestamps render
    * through real HH:MM:SS formatting, so the integer time decode is
    * load-bearing both ways.
    */
  val q226 = Q(
    "q226_subtitle_cues",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Subtitles
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.flatMap { id =>
        val plan = cuePlan(id)
        val srt = plan.map { case (i, st, en, tx) =>
          s"$i\n${fmtTs(st, ',')} --> ${fmtTs(en, ',')}\n$tx"
        }.mkString("\n\n")
        val vtt = "WEBVTT\n\nNOTE planted fixture\n\n" +
          plan.map { case (_, st, en, tx) =>
            s"${fmtTs(st, '.')} --> ${fmtTs(en, '.')}\n$tx"
          }.mkString("\n\n")
        Subtitles.parseSrt(id, srt).map(c => ("srt", c)) ++
          Subtitles.parseVtt(id, vtt).map(c => ("vtt", c))
      }).map { case (f, c) => (c.doc_id, f, c.idx, c.start_ms, c.end_ms, c.text) }
        .toDF("doc_id", "format", "idx", "start_ms", "end_ms", "text")
        .orderBy($"doc_id", $"format", $"idx")
    },
    Some("""WITH p AS (SELECT doc_id, CAST(2 + doc_id % 6 AS INT) AS n
           |           FROM documents WHERE doc_id % 20 = 0),
           |c AS (SELECT doc_id, CAST(i AS BIGINT) AS idx,
           |             CAST((i - 1) * 1000 AS BIGINT) AS start_ms,
           |             CAST((i - 1) * 1000 + 800 + 400 * ((doc_id + i) % 2)
           |                  AS BIGINT) AS end_ms,
           |             'cue ' || i || ' doc ' || doc_id AS text
           |      FROM p, LATERAL (SELECT unnest(generate_series(1, n)) AS i) s),
           |f(format) AS (VALUES ('srt'), ('vtt'))
           |SELECT doc_id, format, idx, start_ms, end_ms, text
           |FROM c, f ORDER BY doc_id, format, idx""".stripMargin))

  /** The caption-quality screen ([[graft.ext.Subtitles.cueStats]])
    * under the oracle gate: per document over the planted SRT cues —
    * cue count, span, total talk time, codepoint count, the count of
    * cues starting before their predecessor ended (the planted
    * 1200 ms cues overlap by construction), and the integer
    * cross-multiplied reading-speed flag at 12 chars/sec. The oracle
    * reproduces the SAME window-lag + aggregate shape over the
    * arithmetic cue table — term for term, no division anywhere.
    */
  val q227 = Q(
    "q227_caption_screen",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Subtitles
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      val cues = rows.mapPartitions(_.flatMap { id =>
        val srt = cuePlan(id).map { case (i, st, en, tx) =>
          s"$i\n${fmtTs(st, ',')} --> ${fmtTs(en, ',')}\n$tx"
        }.mkString("\n\n")
        graft.ext.Subtitles.parseSrt(id, srt)
      }).toDF()
      Subtitles.cueStats(cues, maxCps = 12L)
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id, CAST(2 + doc_id % 6 AS INT) AS n
           |           FROM documents WHERE doc_id % 20 = 0),
           |c AS (SELECT doc_id, CAST(i AS BIGINT) AS idx,
           |             CAST((i - 1) * 1000 AS BIGINT) AS start_ms,
           |             CAST((i - 1) * 1000 + 800 + 400 * ((doc_id + i) % 2)
           |                  AS BIGINT) AS end_ms,
           |             'cue ' || i || ' doc ' || doc_id AS text
           |      FROM p, LATERAL (SELECT unnest(generate_series(1, n)) AS i) s),
           |lg AS (SELECT doc_id, idx, start_ms, end_ms, text,
           |              lag(end_ms) OVER (PARTITION BY doc_id
           |                ORDER BY start_ms, end_ms, idx) AS prev_end
           |       FROM c)
           |SELECT doc_id,
           |       CAST(count(*) AS BIGINT) AS n_cues,
           |       CAST(max(end_ms) - min(start_ms) AS BIGINT) AS span_ms,
           |       CAST(sum(end_ms - start_ms) AS BIGINT) AS talk_ms,
           |       CAST(sum(length(text)) AS BIGINT) AS n_chars,
           |       CAST(sum(CASE WHEN prev_end IS NOT NULL
           |                     AND start_ms < prev_end THEN 1 ELSE 0 END)
           |            AS BIGINT) AS n_overlaps,
           |       (sum(length(text)) * 1000 > 12 * sum(end_ms - start_ms))
           |         AS fast
           |FROM lg GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** HTML head-metadata routing under the ORACLE gate
    * ([[graft.ext.HtmlMeta.headMeta]] — the crawl front door's
    * title/description/canonical/lang/noindex/og fields as ONE
    * codegen'd regexp projection, no UDF): per document a real HTML
    * head is assembled from arithmetic (k = doc_id/20 drives
    * language choice, optional description, the noindex directive
    * and og presence; the document's own text rides in the body),
    * and every extracted field must hash-match the oracle's direct
    * arithmetic — including NULL (not empty) for the absent optional
    * fields and the whitespace-trimmed title. Since r16 a planted
    * subset of rows carries REVERSED attribute order (content before
    * name/property) — both orders must extract identically.
    */
  val q228 = Q(
    "q228_head_meta",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val d = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
      val k = ($"doc_id" / 20).cast("long")
      val lang = element_at(
        array(lit("en"), lit("de"), lit("fr-CA"), lit("zh")),
        (k % 4 + 1).cast("int"))
      // r16: odd-k description rows, k%8==4 robots rows and k%4==2
      // og rows plant the REVERSED attribute order (content before
      // name/property) — the oracle is unchanged because the
      // extracted VALUES don't depend on attribute order, so the
      // gate now proves both orders extract identically
      val html = concat(
        lit("<html lang=\""), lang, lit("\"><head><title> Doc "),
        $"doc_id".cast("string"), lit(" </title>"),
        when(k % 3 =!= 1,
          when(k % 2 === 1, concat(lit("<meta content=\"about doc "),
            $"doc_id".cast("string"), lit("\" name=\"description\">")))
            .otherwise(concat(lit("<meta name=\"description\" content=\"about doc "),
              $"doc_id".cast("string"), lit("\">")))).otherwise(lit("")),
        lit("<link rel=\"canonical\" href=\"https://ex.com/d/"),
        k.cast("string"), lit("\">"),
        when(k % 4 === 0,
          when(k % 8 === 4,
            lit("<meta content=\"noindex, nofollow\" name=\"robots\">"))
            .otherwise(lit("<meta name=\"robots\" content=\"noindex, nofollow\">")))
          .otherwise(lit("")),
        when(k % 2 === 0,
          when(k % 4 === 2, concat(lit("<meta content=\"OG "),
            $"doc_id".cast("string"), lit("\" property=\"og:title\">")))
            .otherwise(concat(lit("<meta property=\"og:title\" content=\"OG "),
              $"doc_id".cast("string"), lit("\">")))).otherwise(lit("")),
        lit("</head><body><p>"), $"text", lit("</p></body></html>"))
      graft.ext.HtmlMeta.headMeta(d, $"doc_id", html)
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id, doc_id // 20 AS k
           |           FROM documents WHERE doc_id % 20 = 0)
           |SELECT doc_id,
           |       'Doc ' || doc_id AS title,
           |       CASE WHEN k % 3 <> 1 THEN 'about doc ' || doc_id END
           |         AS description,
           |       'https://ex.com/d/' || k AS canonical,
           |       CASE k % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
           |            WHEN 2 THEN 'fr-CA' ELSE 'zh' END AS lang,
           |       (k % 4 = 0) AS noindex,
           |       (k % 2 = 0) AS has_og
           |FROM p ORDER BY doc_id""".stripMargin))

  /** JPEG EXIF walk under the ORACLE gate
    * ([[graft.ext.Multimodal.jpegExif]] — the q218 identity
    * discipline for image metadata): per document a real JPEG prefix
    * with an Exif APP1 (TIFF IFD0 + Exif sub-IFD) is encoded from
    * arithmetic — orientation cycling all 8 values, make/model
    * strings long enough to exercise the offset-cell ASCII path,
    * a capture timestamp, declared pixel dimensions — ALTERNATING
    * byte order (MM for even k, II for odd), so both endianness walks
    * are load-bearing. The oracle computes every field from the
    * arithmetic alone, including the zero-padded timestamp string.
    */
  val q229 = Q(
    "q229_jpeg_exif",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.map { id =>
        val k = id / 20
        val dt = f"2026:01:${1 + k % 28}%02d 12:${k % 60}%02d:00"
        val bytes = Multimodal.encodeJpegExif(
          orientation = (1 + k % 8).toInt,
          make = s"Maker${k % 5}", model = s"Camera Model $k",
          dateTime = dt,
          width = 640L + 16L * (k % 40), height = 480L + 16L * (k % 30),
          bigEndian = k % 2 == 0)
        Multimodal.jpegExif(id, bytes)
      }).toDF()
        .select($"media_id".as("doc_id"), $"valid", $"byte_order",
          $"orientation", $"make", $"model", $"datetime",
          $"pixel_width", $"pixel_height")
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id, doc_id // 20 AS k
           |           FROM documents WHERE doc_id % 20 = 0)
           |SELECT doc_id, TRUE AS valid,
           |       CASE WHEN k % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
           |       CAST(1 + k % 8 AS INT) AS orientation,
           |       'Maker' || (k % 5) AS make,
           |       'Camera Model ' || k AS model,
           |       '2026:01:' || lpad(CAST(1 + k % 28 AS VARCHAR), 2, '0') ||
           |         ' 12:' || lpad(CAST(k % 60 AS VARCHAR), 2, '0') || ':00'
           |         AS datetime,
           |       CAST(640 + 16 * (k % 40) AS BIGINT) AS pixel_width,
           |       CAST(480 + 16 * (k % 30) AS BIGINT) AS pixel_height
           |FROM p ORDER BY doc_id""".stripMargin))

  /** ID3v2 tag walk under the ORACLE gate — the audio provenance
    * sibling of q229: per document a real tagged MP3 is assembled
    * from arithmetic (ID3 version ALTERNATING v2.3/v2.4 so both
    * frame-size conventions are load-bearing, the text encoding
    * cycling latin-1/UTF-16/UTF-8, arithmetic padding, then a real
    * frame stream), [[graft.ext.Multimodal.id3Tags]] walks INSIDE the
    * tag while [[graft.ext.Multimodal.mp3Metadata]] skips it — the
    * gate emits both walks' fields from the same bytes, so the
    * skip/walk boundary arithmetic is pinned cross-engine along with
    * every tag field.
    */
  val q230 = Q(
    "q230_id3_tags",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.map { id =>
        val k = id / 20
        val enc = Seq(0, 1, 3)((k % 3).toInt)
        val ver = 3 + (k % 2).toInt
        val n = 2 + (k % 4).toInt
        val bytes = Multimodal.encodeId3(ver, Seq(
          ("TIT2", enc, s"Track $k"),
          ("TPE1", enc, s"Artist ${k % 7}"),
          ("TALB", 0, s"Album ${k % 5}")), padding = (k % 50).toInt) ++
          Multimodal.encodeMp3(Seq.fill(n)((5, 0, true, k % 2 == 0)))
        val tags = Multimodal.id3Tags(id, bytes)
        val frames = Multimodal.mp3Metadata(id, bytes)
        (id, tags.valid && frames.valid, tags.version, tags.title,
          tags.artist, tags.album, frames.n_frames)
      }).toDF("doc_id", "valid", "version", "title", "artist", "album",
        "n_frames")
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id, doc_id // 20 AS k
           |           FROM documents WHERE doc_id % 20 = 0)
           |SELECT doc_id, TRUE AS valid,
           |       CAST(3 + k % 2 AS INT) AS version,
           |       'Track ' || k AS title,
           |       'Artist ' || (k % 7) AS artist,
           |       'Album ' || (k % 5) AS album,
           |       CAST(2 + k % 4 AS BIGINT) AS n_frames
           |FROM p ORDER BY doc_id""".stripMargin))

  /** The composed DAY-2 maintenance loop under ONE oracle gate — the
    * steady-state counterpart of q215/q216/q221's day-0
    * build/admit/takedown: a re-crawl lands as a snapshot diff
    * ([[graft.ext.CorpusDiff.snapshotDiff]], the q137 operator), the
    * diff drives a retract-then-admit lexical index refresh
    * ([[graft.ext.Bm25.refreshIndex]], the q152 identity: refresh ≡
    * rebuild-on-after) and a retract-then-admit transfer-manifest
    * fold ([[graft.ext.Forget.retractManifest]] +
    * [[graft.ext.Sharding.admitManifest]], the q162/q168
    * identities), the refreshed corpus's shard listing feeds a
    * small-file compaction plan
    * ([[graft.ext.Sharding.compactionPlan]], q161), and the
    * superseded v1 shard files fall out as vacuum orphans
    * ([[graft.ext.Sharding.vacuumOrphans]], q169). The before
    * snapshot is q152's construction VERBATIM (drop every 11th doc →
    * `added`, prepend "stale " to every 13th → `changed`, three
    * extra docs → `removed`) so the persisted before-index fixture
    * is shared with q152. Every stage emits its counts — diff rows
    * per status, refreshed-postings token/pair/tf totals, per-shard
    * manifest (rows, weight, md5-Horner digest), compaction file/
    * group arithmetic, vacuum reclaim — and the oracle recomputes
    * each from arithmetic over the AFTER corpus (the composed
    * identities make rebuild the oracle of refresh). Work is
    * diff-proportional on the index/manifest legs and metadata-
    * proportional on the compaction/vacuum legs — the 100 TB day-2
    * shape, where re-reading the unchanged corpus is the one thing
    * the pipeline must never do.
    */
  val q231 = Q(
    "q231_corpus_maintain",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import graft.ext.{Bm25, CorpusDiff, Forget, LexFixture, Sharding}
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
      // the diff is the loop's front door; three stages reuse it
      val diff = persistCut(
        CorpusDiff.snapshotDiff(before, after, "doc_id", "text"))
      val r1 = diff.groupBy($"status").agg(count(lit(1)).as("n_rows"),
          sum($"doc_id").as("checksum"))
        .select(when($"status" === "added", 1L)
            .when($"status" === "changed", 2L).otherwise(3L).as("ord"),
          $"status".as("stage"), $"n_rows", $"checksum",
          lit(0L).as("digest"))
      // diff-driven index refresh; the before-index is persisted
      // premise state (same fixture key as q152 — identical snapshot)
      val idx = LexFixture.index(s, dir, "refresh-before") {
        Bm25.buildIndex(before, $"doc_id", $"text")
      }
      val refreshed = Bm25.refreshIndex(idx, before, after, "doc_id", "text")
      val r2 = refreshed.postings.agg(count(lit(1)).as("n_rows"),
          sum($"df").as("checksum"),
          sum(aggregate($"postings", lit(0L),
            (acc, p) => acc + p.getField("tf"))).as("digest"))
        .select(lit(4L).as("ord"), lit("index").as("stage"),
          $"n_rows", $"checksum", $"digest")
      // diff-driven manifest fold: retract the removed/changed OLD
      // rows, admit the added/changed NEW rows — never a corpus re-read
      def shardOf(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("shard", $"doc_id" % 7L)
      val stored = Sharding.manifest(shardOf(before), $"shard", $"text",
        length($"text"))
      val gone = before.join(diff.filter($"status".isin("removed", "changed"))
        .select($"doc_id"), Seq("doc_id"), "left_semi")
      val fresh = after.join(diff.filter($"status".isin("added", "changed"))
        .select($"doc_id"), Seq("doc_id"), "left_semi")
      val mf = Sharding.admitManifest(
        Forget.retractManifest(stored, shardOf(gone), $"shard", $"text",
          length($"text")),
        shardOf(fresh), $"shard", $"text", length($"text"))
      val r3 = mf.select((lit(10L) + $"group").as("ord"),
        lit("manifest").as("stage"), $"n_rows",
        $"total_weight".cast("long").as("checksum"),
        $"digest".cast("long").as("digest"))
      // refreshed shard listing -> compaction plan; superseded v1
      // files -> vacuum orphans (metadata work only, both legs)
      def fileOf(ver: String) = concat(lit(s"$ver/shard-"),
        lpad(($"doc_id" % 50).cast("string"), 2, "0"))
      val f2 = after.groupBy(fileOf("v2").as("file"))
        .agg(sum(length($"text")).cast("long").as("bytes"))
      val plan = Sharding.compactionPlan(f2, $"file", $"bytes", 50000L)
      val r4 = plan.agg(count(lit(1)).as("n_rows"),
          sum(($"grp" + 1L) * $"bytes").as("checksum"),
          max($"grp").cast("long").as("digest"))
        .select(lit(20L).as("ord"), lit("compaction").as("stage"),
          $"n_rows", $"checksum", $"digest")
      val f1 = before.groupBy(fileOf("v1").as("file"))
        .agg(sum(length($"text")).cast("long").as("bytes"))
      val orphans = Sharding.vacuumOrphans(f1.unionAll(f2), $"file",
        $"bytes", f2, $"file")
      val r5 = Sharding.vacuumSummary(orphans)
        .select(lit(21L).as("ord"), lit("vacuum").as("stage"),
          $"n_orphans".as("n_rows"), $"reclaim_bytes".as("checksum"),
          lit(0L).as("digest"))
      r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(r5)
        .orderBy($"ord")
    },
    Some {
      val horner = ExtQueries.hornerSql
      s"""WITH b AS MATERIALIZED (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 13 = 0 THEN 'stale ' || text
         |              ELSE text END AS text
         |  FROM documents WHERE doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT * FROM (VALUES (860000, 'spark join removed soon'),
         |    (860001, 'customer window stale'),
         |    (860002, 'zzzrefreshonly token')) e(doc_id, text)),
         |diffs AS MATERIALIZED (
         |  SELECT doc_id, 'added' AS status FROM documents
         |  WHERE doc_id % 11 = 0
         |  UNION ALL
         |  SELECT doc_id, 'changed' FROM documents
         |  WHERE doc_id % 13 = 0 AND doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id, 'removed'
         |  FROM (VALUES (860000), (860001), (860002)) r(doc_id)),
         |toks AS (SELECT doc_id, unnest(list_filter(
         |           string_split_regex(trim(lower(text)), '\\s+'),
         |           tk -> regexp_matches(tk, '^[a-z]{3,}$$'))) AS token
         |         FROM documents),
         |tf AS MATERIALIZED (SELECT doc_id, token, count(*) AS tf
         |      FROM toks GROUP BY 1, 2),
         |hv2 AS (SELECT doc_id % 7 AS shard,
         |               CAST(length(text) AS BIGINT) AS w, $horner AS hval
         |        FROM (SELECT doc_id, text, md5(text) AS h FROM documents) z),
         |mf AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
         |              CAST(sum(w) AS BIGINT) AS total_weight,
         |              CAST(sum(hval) AS BIGINT) AS digest
         |       FROM hv2 GROUP BY shard),
         |f2 AS MATERIALIZED (
         |  SELECT 'v2/shard-' || lpad(CAST(doc_id % 50 AS VARCHAR), 2, '0')
         |           AS file,
         |         CAST(sum(length(text)) AS BIGINT) AS bytes
         |  FROM documents GROUP BY 1),
         |cg AS (SELECT file, bytes,
         |              CAST(floor(CAST(sum(bytes) OVER (ORDER BY file
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                - bytes AS DOUBLE) / 50000.0) AS BIGINT) AS grp
         |       FROM f2),
         |f1 AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans,
         |              CAST(sum(vb) AS BIGINT) AS reclaim
         |       FROM (SELECT doc_id % 50 AS s50, sum(length(text)) AS vb
         |             FROM b GROUP BY 1) g)
         |SELECT * FROM (
         |  SELECT CAST(CASE status WHEN 'added' THEN 1 WHEN 'changed' THEN 2
         |              ELSE 3 END AS BIGINT) AS ord,
         |         status AS stage, CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(doc_id) AS BIGINT) AS checksum,
         |         CAST(0 AS BIGINT) AS digest
         |  FROM diffs GROUP BY status
         |  UNION ALL
         |  SELECT 4, 'index', CAST(count(DISTINCT token) AS BIGINT),
         |         CAST(count(*) AS BIGINT), CAST(sum(tf) AS BIGINT) FROM tf
         |  UNION ALL
         |  SELECT 10 + shard, 'manifest', n_rows, total_weight, digest
         |  FROM mf
         |  UNION ALL
         |  SELECT 20, 'compaction', CAST(count(*) AS BIGINT),
         |         CAST(sum((grp + 1) * bytes) AS BIGINT),
         |         CAST(max(grp) AS BIGINT) FROM cg
         |  UNION ALL
         |  SELECT 21, 'vacuum', n_orphans, reclaim, 0 FROM f1)
         |ORDER BY ord""".stripMargin
    })

  /** PNG ancillary-chunk walk under the ORACLE gate
    * ([[graft.ext.Multimodal.pngChunks]], the q218 identity
    * discipline for image provenance): per document a REAL PNG —
    * valid per-chunk CRC32s, a real zlib IDAT, ImageIO-decodable —
    * is encoded from arithmetic with tEXt Software (always), tEXt
    * Author (2 of 3 docs), an iTXt Comment whose language tag cycles
    * en/de/fr and whose text is multibyte UTF-8, and a pHYs density
    * pair on even k. The oracle computes every field — including the
    * chunk COUNT, so framing is load-bearing — from the arithmetic
    * alone. These are the fields a curation pass screens before any
    * pixel decode: generator stamps (synthetic-image farms), comment
    * provenance, true DPI for scanned-document routing.
    */
  val q232 = Q(
    "q232_png_chunks",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.map { id =>
        val k = id / 20
        val texts = Seq(("Software", s"graftpng ${k % 9}")) ++
          (if (k % 3 != 1) Seq(("Author", s"author ${k % 5}")) else Seq.empty)
        val phys =
          if (k % 2 == 0) Some((1000L + k % 3000, 1000L + (k * 7) % 3000, 1))
          else None
        val lang = Seq("en", "de", "fr")((k % 3).toInt)
        val bytes = Multimodal.encodePngMeta(
          (1 + k % 64).toInt, (1 + k % 48).toInt,
          texts = texts, itxts = Seq(("Comment", lang, s"café doc $id")),
          phys = phys)
        Multimodal.pngChunks(id, bytes)
      }).toDF()
        .select($"media_id".as("doc_id"), $"valid", $"width", $"height",
          $"bit_depth", $"color_type", $"n_chunks", $"ppu_x", $"ppu_y",
          $"unit", $"software", $"author", $"comment_lang", $"comment")
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id, doc_id // 20 AS k
           |           FROM documents WHERE doc_id % 20 = 0)
           |SELECT doc_id, TRUE AS valid,
           |       CAST(1 + k % 64 AS BIGINT) AS width,
           |       CAST(1 + k % 48 AS BIGINT) AS height,
           |       CAST(8 AS INT) AS bit_depth, CAST(2 AS INT) AS color_type,
           |       CAST(5 + CASE WHEN k % 3 <> 1 THEN 1 ELSE 0 END
           |              + CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
           |         AS n_chunks,
           |       CAST(CASE WHEN k % 2 = 0 THEN 1000 + k % 3000 ELSE 0 END
           |            AS BIGINT) AS ppu_x,
           |       CAST(CASE WHEN k % 2 = 0 THEN 1000 + (k * 7) % 3000 ELSE 0 END
           |            AS BIGINT) AS ppu_y,
           |       CAST(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS INT) AS unit,
           |       'graftpng ' || (k % 9) AS software,
           |       CASE WHEN k % 3 <> 1 THEN 'author ' || (k % 5) ELSE '' END
           |         AS author,
           |       CASE k % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END
           |         AS comment_lang,
           |       'café doc ' || doc_id AS comment
           |FROM p ORDER BY doc_id""".stripMargin))

  /** Matroska/WebM EBML header walk under the ORACLE gate
    * ([[graft.ext.Multimodal.mkvTracks]] — the dominant FREE video
    * container, the one the MP4 box walk can't route): per document
    * a REAL EBML stream (header + Segment + Info + Tracks,
    * minimal-width VINTs, the audio rate as an 8-byte EBML float) is
    * encoded from arithmetic — DocType alternating webm/matroska
    * with codec IDs to match, video geometry and audio
    * channels/rate cycling by id — and the walk emits one typed row
    * per track. The oracle computes every field from the arithmetic
    * alone, so each row is a bit-level encode→walk fidelity proof
    * across both docTypes.
    */
  val q233 = Q(
    "q233_mkv_tracks",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Multimodal
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.flatMap { id =>
        val k = id / 20
        val webm = k % 2 == 0
        val rate = Seq(48000L, 44100L, 32000L)((k % 3).toInt)
        val bytes = Multimodal.encodeMkv(
          if (webm) "webm" else "matroska", 1000000L, s"graftmux ${k % 6}",
          Seq((1L, true, if (webm) "V_VP9" else "V_MPEG4/ISO/AVC",
            640L + 16 * (k % 20), 360L + 16 * (k % 15)),
            (2L, false, if (webm) "A_OPUS" else "A_AAC", 1L + k % 2, rate)))
        Multimodal.mkvTracks(id, bytes)
      }).toDF()
        .select($"media_id".as("doc_id"), $"track_number", $"valid",
          $"doc_type", $"timestamp_scale", $"writing_app", $"track_type",
          $"codec_id", $"pixel_width", $"pixel_height", $"channels",
          $"sampling_rate")
        .orderBy($"doc_id", $"track_number")
    },
    Some("""WITH p AS (SELECT doc_id, doc_id // 20 AS k
           |           FROM documents WHERE doc_id % 20 = 0),
           |tn(tn) AS (VALUES (1), (2))
           |SELECT doc_id, CAST(tn AS BIGINT) AS track_number, TRUE AS valid,
           |       CASE WHEN k % 2 = 0 THEN 'webm' ELSE 'matroska' END
           |         AS doc_type,
           |       CAST(1000000 AS BIGINT) AS timestamp_scale,
           |       'graftmux ' || (k % 6) AS writing_app,
           |       CAST(tn AS INT) AS track_type,
           |       CASE WHEN tn = 1 THEN
           |              CASE WHEN k % 2 = 0 THEN 'V_VP9'
           |                   ELSE 'V_MPEG4/ISO/AVC' END
           |            ELSE CASE WHEN k % 2 = 0 THEN 'A_OPUS'
           |                 ELSE 'A_AAC' END END AS codec_id,
           |       CAST(CASE WHEN tn = 1 THEN 640 + 16 * (k % 20) ELSE 0 END
           |            AS BIGINT) AS pixel_width,
           |       CAST(CASE WHEN tn = 1 THEN 360 + 16 * (k % 15) ELSE 0 END
           |            AS BIGINT) AS pixel_height,
           |       CAST(CASE WHEN tn = 2 THEN 1 + k % 2 ELSE 0 END AS BIGINT)
           |         AS channels,
           |       CAST(CASE WHEN tn = 2 THEN
           |              CASE k % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100
           |                   ELSE 32000 END
           |            ELSE 0 END AS BIGINT) AS sampling_rate
           |FROM p, tn ORDER BY doc_id, track_number""".stripMargin))

  /** TAR member listing under the ORACLE gate
    * ([[graft.ext.Archive.tarEntries]] — dataset dumps and code
    * corpora ship as tarballs; curation routes on the member listing
    * before extracting a byte): per document a REAL ustar stream is
    * encoded from arithmetic — an optional directory member on every
    * fifth k, then 1 + k%4 file members with arithmetic names, sizes
    * and mtimes — and the walk emits one row per member with the
    * header checksum verified. The oracle rebuilds the listing from
    * the arithmetic alone; sizes are load-bearing (the walk must hop
    * data blocks exactly or every subsequent row shifts).
    */
  val q234 = Q(
    "q234_tar_entries",
    (s, dir) => {
      import s.implicits._
      import graft.ext.Archive
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.flatMap { id =>
        val k = id / 20
        val dirEnt =
          if (k % 5 == 0)
            Seq(("data/", Array.emptyByteArray, 1700000000L + k * 60, '5'))
          else Seq.empty
        val files = (0L to k % 4).map { j =>
          (s"data/part-$id-$j.txt",
            new Array[Byte]((10 + 7 * j + k % 50).toInt),
            1700000000L + k * 60 + j + 1, '0')
        }
        Archive.tarEntries(id, Archive.encodeTar(dirEnt ++ files))
      }).toDF()
        .select($"media_id".as("doc_id"), $"entry_idx", $"name", $"size",
          $"mtime", $"type_flag", $"checksum_ok")
        .orderBy($"doc_id", $"entry_idx")
    },
    Some("""WITH p AS (SELECT doc_id, doc_id // 20 AS k
           |           FROM documents WHERE doc_id % 20 = 0),
           |d AS (SELECT doc_id, k, CAST(0 AS BIGINT) AS j,
           |             'data/' AS name, CAST(0 AS BIGINT) AS size,
           |             1700000000 + k * 60 AS mtime, 'dir' AS type_flag,
           |             0 AS pre
           |      FROM p WHERE k % 5 = 0),
           |f AS (SELECT doc_id, k, CAST(j AS BIGINT) AS j,
           |             'data/part-' || doc_id || '-' || j || '.txt' AS name,
           |             CAST(10 + 7 * j + k % 50 AS BIGINT) AS size,
           |             1700000000 + k * 60 + j + 1 AS mtime,
           |             'file' AS type_flag,
           |             CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS pre
           |      FROM p, LATERAL (SELECT unnest(generate_series(0, CAST(k % 4 AS INT))) AS j) s),
           |u AS (SELECT doc_id, CAST(pre + j AS BIGINT) AS entry_idx, name,
           |             size, CAST(mtime AS BIGINT) AS mtime, type_flag,
           |             TRUE AS checksum_ok
           |      FROM (SELECT * FROM d UNION ALL SELECT * FROM f) z)
           |SELECT * FROM u ORDER BY doc_id, entry_idx""".stripMargin))

  /** ZIP central-directory listing under the ORACLE gate
    * ([[graft.ext.Archive.zipEntries]] — the directory IS the
    * authoritative metadata in ZIP): per document a REAL archive is
    * written by the JDK's own ZipOutputStream (an independent
    * constructor the walk must agree with, the AudioSystem/ImageIO
    * cross-parser discipline) with every third member STORED and the
    * rest DEFLATED, and the hand-walk of EOCD + central directory
    * emits one row per member. Methods and uncompressed sizes are
    * arithmetic-mirrored; the stored members additionally pin the
    * compressed size (≡ uncompressed for method 0 — deflated
    * compressed sizes are zlib-implementation detail and stay out of
    * the oracle; the spec pins CRC agreement with the JDK reader
    * instead).
    */
  val q235 = Q(
    "q235_zip_entries",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import graft.ext.Archive
      val rows = t(s, dir, "documents").filter($"doc_id" % 20 === 0)
        .select($"doc_id").as[Long]
      rows.mapPartitions(_.flatMap { id =>
        val k = id / 20
        val entries = (0L to 1 + k % 3).map { j =>
          val data = s"content of f$j in doc $id "
            .repeat((1 + k % 5).toInt).getBytes("UTF-8")
          (s"doc$id/f$j.txt", data, j % 3 == 0)
        }
        Archive.zipEntries(id, Archive.encodeZip(entries))
      }).toDF()
        .select($"media_id".as("doc_id"), $"entry_idx", $"name", $"method",
          $"uncompressed_size",
          when($"method" === 0, $"compressed_size").as("stored_size"))
        .orderBy($"doc_id", $"entry_idx")
    },
    Some("""WITH p AS (SELECT doc_id, doc_id // 20 AS k
           |           FROM documents WHERE doc_id % 20 = 0),
           |f AS (SELECT doc_id, k, CAST(j AS BIGINT) AS j,
           |             CAST(length('content of f' || j || ' in doc '
           |                         || doc_id || ' ') * (1 + k % 5)
           |                  AS BIGINT) AS usize
           |      FROM p, LATERAL (SELECT unnest(generate_series(0, CAST(1 + k % 3 AS INT))) AS j) s)
           |SELECT doc_id, j AS entry_idx,
           |       'doc' || doc_id || '/f' || j || '.txt' AS name,
           |       CAST(CASE WHEN j % 3 = 0 THEN 0 ELSE 8 END AS INT) AS method,
           |       usize AS uncompressed_size,
           |       CASE WHEN j % 3 = 0 THEN usize END AS stored_size
           |FROM f ORDER BY doc_id, entry_idx""".stripMargin))

  val all: Seq[Q] = Seq(q213, q214, q215, q216, q217, q218, q219, q220,
    q221, q222, q223, q224, q225, q226, q227, q228, q229, q230, q231,
    q232, q233, q234, q235)
}
