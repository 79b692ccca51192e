package graft

import org.apache.spark.sql.functions._
import graft.CoreQueries.Q
import graft.ext.UnigramLm

/** Round-12 extension gates (q185+): unigram-LM tokenizer induction
  * with the full SentencePiece prune loop and word-count-ledger
  * maintenance (q185/q186/q193/q194/q195), residual two-stage
  * quantization with its takedown cascade (q187/q190), the OPQ
  * rotation composition (q191), hashed bag-of-ngrams classifier
  * training (q188), DOM-density text extraction (q189), and
  * tokenizer evaluation metrics (q192). Same contract as
  * [[ExtQueries]]: every gate pairs a Spark face with a DuckDB
  * oracle mirroring the exact arithmetic.
  */
object ExtQueries2 {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    Tables.table(s, dir, name)

  /** Shared oracle CTE chain for the unigram-LM gates: word counts of
    * the trained universe ([a-z]{1,3} whitespace tokens), exhaustive
    * breakpoint-mask segmentations, and TWO exact-integer EM
    * iterations — seed weights from substring occurrence counts
    * renormalized onto the 2^20 grid, per-(word, mask) likelihood
    * numerators as integer products padded to exactly 3 factors with
    * the grid constant (uniform per word, cancels in the posterior),
    * posterior contributions as exact HUGEINT floor-divisions on the
    * 10^6 count grid. Mirrors [[graft.ext.UnigramLm.train]] term for
    * term; the widest intermediate (f · 2^60 · 10^6) stays far inside
    * HUGEINT.
    */
  /** One exact-integer EM iteration in SQL, reading weights from CTE
    * `prevW` and emitting `w$n` (plus j/nm/z/e/et intermediates) —
    * mirrors [[graft.ext.UnigramLm]]'s emStep + renorm term for term.
    */
  private def unigramIterBlock(n: Int, prevW: String): String =
    s"""j$n AS (SELECT sl.w, sl.f, sl.m, sl.idx, sl.p,
       |              coalesce($prevW.wt, CAST(0 AS HUGEINT)) AS wtv
       |       FROM sl LEFT JOIN $prevW ON sl.p = $prevW.p),
       |nm$n AS (SELECT w, f, m, count(*) AS k,
       |          CAST(max(CASE WHEN idx = 1 THEN wtv END) AS HUGEINT) *
       |          CAST(coalesce(max(CASE WHEN idx = 2 THEN wtv END), 1048576) AS HUGEINT) *
       |          CAST(coalesce(max(CASE WHEN idx = 3 THEN wtv END), 1048576) AS HUGEINT) AS nm
       |        FROM j$n GROUP BY w, f, m),
       |z$n AS (SELECT w, sum(nm) AS z FROM nm$n GROUP BY w),
       |e$n AS (SELECT j.p, sum((j.f * n.nm * 1000000) // z.z) AS ec
       |       FROM j$n j JOIN nm$n n ON j.w = n.w AND j.m = n.m
       |                 JOIN z$n z ON j.w = z.w
       |       WHERE z.z > 0 AND n.nm > 0
       |       GROUP BY j.p),
       |et$n AS (SELECT sum(ec) AS et FROM e$n),
       |w$n AS (SELECT p, (ec * 1048576) // et AS wt FROM e$n, et$n)""".stripMargin

  private def unigramEmCtes(src: String): String =
    s"""tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |        FROM $src),
      |wc AS (SELECT w, CAST(count(*) AS HUGEINT) AS f FROM tok
      |       WHERE regexp_matches(w, '^[a-z]{1,3}$$') GROUP BY w),
      |sub AS (SELECT w, f, substring(w, CAST(i AS INT), CAST(l AS INT)) AS p
      |        FROM wc,
      |        LATERAL (SELECT unnest(generate_series(1, length(w))) AS i) ii,
      |        LATERAL (SELECT unnest(generate_series(1, length(w) - i + 1)) AS l) ll),
      |cp AS (SELECT p, CAST(sum(f) AS HUGEINT) AS c FROM sub GROUP BY p),
      |tt AS (SELECT CAST(sum(c) AS HUGEINT) AS t FROM cp),
      |w0 AS (SELECT p, (c * 1048576) // t AS wt FROM cp, tt),
      |wm AS (SELECT w, f, CAST(m AS INT) AS m
      |       FROM wc, LATERAL (SELECT unnest(generate_series(0,
      |              (1 << (length(w) - 1)) - 1)) AS m) mm),
      |sg AS (SELECT w, f, m,
      |         list_prepend(1, list_transform(
      |           list_filter(generate_series(1, length(w) - 1),
      |                       i -> ((m >> CAST(i - 1 AS INT)) & 1) = 1),
      |           i -> i + 1)) AS starts
      |       FROM wm),
      |sl AS (SELECT w, f, m, CAST(idx AS INT) AS idx,
      |         substring(w, CAST(s AS INT),
      |           CAST(coalesce(starts[idx + 1], length(w) + 1) - s AS INT)) AS p
      |       FROM sg, LATERAL (SELECT unnest(starts) AS s,
      |                                generate_subscripts(starts, 1) AS idx) u),
      |${unigramIterBlock(1, "w0")},
      |${unigramIterBlock(2, "w1")}""".stripMargin

  /** Unigram-LM vocabulary induction under the full oracle
    * ([[graft.ext.UnigramLm.train]]): two exact-integer EM iterations
    * over the exhaustively-enumerated segmentation lattice of the
    * [a-z]{1,3} word universe, unrolled verbatim in SQL (the q99/q102
    * trainer-gate discipline). Every arithmetic step is integer —
    * grid renormalization, likelihood products, posterior
    * floor-divisions — so the learned weights hash-match cross-engine
    * with no float anywhere.
    */
  val q185 = Q(
    "q185_unigram_train",
    (s, dir) => {
      import s.implicits._
      UnigramLm.train(t(s, dir, "documents"), $"text",
          maxWordLen = 3, iters = 2)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    Some(s"""WITH ${unigramEmCtes("documents")}
            |SELECT p AS piece, CAST(wt AS BIGINT) AS weight
            |FROM w2 WHERE wt > 0 ORDER BY piece""".stripMargin))

  /** Oracle CTEs for the serve-side Viterbi table over the final
    * weights: per-(word, mask) padded numerators against w2, the
    * nm-desc / k-asc / mask-asc argmax, and the zero-score codepoint
    * fallback — (word, np) for the whole trained universe. Appended
    * after [[unigramEmCtes]]; shared by q186 and q192.
    */
  private val unigramArgmaxCtes: String =
    """jf AS (SELECT sl.w, sl.f, sl.m, sl.idx, sl.p,
      |              coalesce(w2.wt, CAST(0 AS HUGEINT)) AS wtv
      |       FROM sl LEFT JOIN w2 ON sl.p = w2.p),
      |nmf AS (SELECT w, m, count(*) AS k,
      |          CAST(max(CASE WHEN idx = 1 THEN wtv END) AS HUGEINT) *
      |          CAST(coalesce(max(CASE WHEN idx = 2 THEN wtv END), 1048576) AS HUGEINT) *
      |          CAST(coalesce(max(CASE WHEN idx = 3 THEN wtv END), 1048576) AS HUGEINT) AS nm
      |        FROM jf GROUP BY w, f, m),
      |best AS (SELECT w, k, nm, row_number() OVER
      |           (PARTITION BY w ORDER BY nm DESC, k ASC, m ASC) AS rn
      |         FROM nmf),
      |wp AS (SELECT w, CASE WHEN nm = 0 THEN CAST(length(w) AS BIGINT)
      |                      ELSE CAST(k AS BIGINT) END AS np
      |       FROM best WHERE rn = 1)""".stripMargin

  /** Distributed encode over the learned unigram vocabulary
    * ([[graft.ext.UnigramLm.encodeTable]] / `encode`): per document,
    * whitespace-token count and total piece count, where
    * trained-universe words segment by exact integer Viterbi (argmax
    * of the same padded likelihood numerator; ties → fewer pieces →
    * lowest mask; all-zero words fall back to codepoints) and
    * out-of-universe tokens fall back to codepoint count. The oracle
    * re-derives the EM chain AND the argmax independently — train ≡
    * serve across engines under one hash.
    */
  val q186 = Q(
    "q186_unigram_encode",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val vocab = UnigramLm.train(docs, $"text", maxWordLen = 3, iters = 2)
      val universe = UnigramLm.wordUniverse(docs, $"text", 3).map(_._1)
      val table = UnigramLm.encodeTable(universe, vocab.toMap, 3)
        .toDF("word", "n_pieces")
      UnigramLm.encode(docs, $"doc_id", $"text", table)
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${unigramEmCtes("documents")},
            |$unigramArgmaxCtes,
            |dt AS (SELECT doc_id,
            |         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            |       FROM documents)
            |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
            |       CAST(sum(coalesce(wp.np, length(dt.w))) AS BIGINT) AS n_pieces
            |FROM dt LEFT JOIN wp ON dt.w = wp.w
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Residual (two-stage) quantization at the composed degenerate
    * point ([[graft.ext.VectorQuant.rqTrain]] / `ivfProbeRq`): stage 1
    * is deliberately LOSSY (ksub=4 over 64 vectors — real
    * reconstruction error), stage 2 is degenerate over the
    * double-precision residuals (ksub=64 covers every distinct
    * residual sub-vector, iters=0), so decode₁ + decode₂ must
    * reproduce the ORIGINAL float bits — float subtraction is exact
    * in double and the double add rounds back to the float — and the
    * two-stage probe with nprobe = nlist must equal brute force over
    * the slice (q100's oracle verbatim; the q100 discipline applied
    * to the refinement stage). At lossy codebooks RecallSpec pins
    * that the refinement reconstructs with lower error than stage 1.
    */
  val q187 = Q(
    "q187_rq_exact",
    (s, dir) => {
      import s.implicits._
      val slice = t(s, dir, "embeddings").filter($"vec_id" < 64)
        .select($"vec_id", $"embedding")
      val queries = slice.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val books = graft.ext.VectorQuant.rqTrain(slice, "vec_id", "embedding",
        m = 8, ksub1 = 4, iters1 = 0, ksub2 = 64, iters2 = 0, dim = 64)
      val ivf = graft.ext.EmbeddingSearch.buildIvfIndex(
        slice, "vec_id", "embedding", nlist = 4)
      val ridx = graft.ext.VectorQuant.quantizeIndexRq(
        ivf, slice, "vec_id", "embedding", books)
      graft.ext.VectorQuant.ivfProbeRq(ridx, queries, "qid", "qvec",
          k = 4, nprobe = 4)
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

  /** One gradient iteration of the hashed-ngram trainer in SQL —
    * margin sums on the DECIMAL(38,12) grid per document, sigmoid in
    * IEEE, gradient sums on the DECIMAL(38,6) grid per bucket, the
    * q99 step arithmetic. `prevW`/`prevI` name the incoming
    * weight/intercept CTEs; emits zz/p/gb/gi/w/i CTEs suffixed `i`.
    */
  private def hashedIter(i: Int, prevW: String, prevI: String): String =
    s"""zz$i AS (SELECT f.doc_id, sum(CAST(f.x * w.wt AS DECIMAL(38,12))) AS zs
       |         FROM fx f JOIN $prevW w USING (b) GROUP BY f.doc_id),
       |p$i AS (SELECT l.doc_id, l.y,
       |               1.0/(1.0 + exp(-(i.w0 + CAST(coalesce(z.zs, 0) AS DOUBLE)))) AS p
       |        FROM lab l LEFT JOIN zz$i z USING (doc_id), $prevI i),
       |gb$i AS (SELECT f.b, CAST(sum(CAST((p.p - p.y) * f.x AS DECIMAL(38,6))) AS DOUBLE) AS g
       |         FROM p$i p JOIN fx f USING (doc_id) GROUP BY f.b),
       |gi$i AS (SELECT CAST(sum(CAST(p - y AS DECIMAL(38,6))) AS DOUBLE) AS g FROM p$i),
       |w$i AS (SELECT w.b, w.wt - 0.5 * (coalesce(g.g, 0.0) / n.n) AS wt
       |        FROM $prevW w LEFT JOIN gb$i g ON w.b = g.b, n),
       |i$i AS (SELECT i.w0 - 0.5 * (g.g / n.n) AS w0 FROM $prevI i, gi$i g, n)""".stripMargin

  /** The hashed bag-of-ngrams trainer under the full oracle
    * ([[graft.ext.HashedNgram.fit]], the fastText/CCNet-class quality
    * classifier): two batch-gradient iterations over L1-normalized
    * hashed unigram+bigram features unrolled verbatim in SQL. The
    * bucket hash is the portable md5 Horner hash mod 16 — which is
    * exactly the 8th hex nibble, one CASE in the oracle — so feature
    * construction, margin sums (DECIMAL(38,12)), sigmoid, gradient
    * sums (DECIMAL(38,6)), and the step arithmetic all hash-match
    * cross-engine (the q99 discipline). At D = 16 the engine runs
    * the dense layout (one x-vector per document); the oracle SQL
    * spells out the LONG format, (doc, bucket, x) rows, and the two
    * are bit-identical because absent buckets add exact decimal
    * zeros. Labels are a
    * deterministic function of doc_id; the gate pins the FIT, not the
    * fixture's learnability (separation is measured in
    * HashedNgramSpec).
    */
  val q188 = Q(
    "q188_hashed_ngram_train",
    (s, dir) => {
      import s.implicits._
      val labeled = t(s, dir, "documents")
        .select($"doc_id", $"text", ($"doc_id" % 3 === 0).cast("int").as("label"))
      graft.ext.HashedNgram.fit(labeled, $"doc_id", $"text", $"label",
          d = 16, iters = 2, lr = 0.5)
        .toDF("bucket", "weight").orderBy($"bucket")
    },
    Some(s"""WITH kt AS (SELECT doc_id,
            |             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
            |                         tk -> regexp_matches(tk, '^[a-z]{3,}$$')) AS t,
            |             CAST(CAST(doc_id % 3 = 0 AS INT) AS DOUBLE) AS y
            |           FROM documents),
            |gr AS (SELECT doc_id, unnest(t) AS g FROM kt
            |       UNION ALL
            |       SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
            |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            |             FROM kt)),
            |bk AS (SELECT doc_id,
            |         CAST(CASE WHEN ascii(substring(md5(g), 8, 1)) <= 57
            |                   THEN ascii(substring(md5(g), 8, 1)) - 48
            |                   ELSE ascii(substring(md5(g), 8, 1)) - 87 END AS BIGINT) AS b
            |       FROM gr),
            |tot AS (SELECT doc_id, count(*) AS nt FROM bk GROUP BY doc_id),
            |fx AS (SELECT bk.doc_id, b,
            |              CAST(count(*) AS DOUBLE) / CAST(nt AS DOUBLE) AS x
            |       FROM bk JOIN tot USING (doc_id) GROUP BY bk.doc_id, b, nt),
            |lab AS (SELECT doc_id, y FROM kt),
            |n AS (SELECT count(*) AS n FROM lab),
            |wi0 AS (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS b,
            |               0.0 AS wt),
            |ii0 AS (SELECT 0.0 AS w0),
            |${hashedIter(1, "wi0", "ii0")},
            |${hashedIter(2, "w1", "i1")}
            |SELECT bucket, weight FROM (
            |  SELECT CAST(-1 AS BIGINT) AS bucket, w0 AS weight FROM i2
            |  UNION ALL SELECT b, wt FROM w2)
            |ORDER BY bucket""".stripMargin))

  /** DOM-density text extraction
    * ([[graft.ext.Boilerplate.densityStats]]): every corpus document
    * is wrapped in a nav-and-footer template whose chrome is
    * almost-pure anchor text — the regex face (q59's htmlToText)
    * keeps that chrome verbatim; the density face must DROP the nav
    * and footer segments and keep the prose. Planted rows pin both
    * rule boundaries exactly: the minChars length cut (len 2 vs 5 at
    * minChars = 5) and the integer link-density cut (3·lk ≤ len kept
    * at 9 = 3·3, dropped at 8 < 9), plus a pure-link list. The oracle
    * re-derives block splitting, per-segment tag stripping, anchor
    * extraction, and the integer keep rule with list lambdas.
    */
  val q189 = Q(
    "q189_dom_density",
    (s, dir) => {
      import s.implicits._
      val pages = t(s, dir, "documents").select($"doc_id",
        concat(
          lit("<html><body><div class=\"nav\"><a href=/>Home</a> " +
            "<a href=/about>About us</a> <a href=/contact>Contact page</a></div><p>"),
          $"text",
          lit("</p><div class=\"footer\">Copyright <a href=/t>terms of use</a> " +
            "and <a href=/p>privacy policy</a> notice</div></body></html>"))
          .as("html"))
      val planted = Seq(
        (900000L, "<p>hi</p>"),
        (900001L, "<p>hello</p>"),
        (900002L, "<ul><li><a href=/1>one link</a></li><li><a href=/2>two link</a></li></ul>"),
        (900003L, "<p>abcde <a href=/x>xyz</a></p>"),
        (900004L, "<p>abcd <a href=/x>xyz</a></p>")).toDF("doc_id", "html")
      graft.ext.Boilerplate.densityStats(pages.unionAll(planted),
          $"doc_id", $"html", minChars = 5)
        .orderBy($"doc_id")
    },
    Some("""WITH pages AS (
            |  SELECT doc_id,
            |    '<html><body><div class="nav"><a href=/>Home</a> <a href=/about>About us</a> <a href=/contact>Contact page</a></div><p>'
            |    || text ||
            |    '</p><div class="footer">Copyright <a href=/t>terms of use</a> and <a href=/p>privacy policy</a> notice</div></body></html>' AS html
            |  FROM documents
            |  UNION ALL SELECT * FROM (VALUES
            |    (900000, '<p>hi</p>'),
            |    (900001, '<p>hello</p>'),
            |    (900002, '<ul><li><a href=/1>one link</a></li><li><a href=/2>two link</a></li></ul>'),
            |    (900003, '<p>abcde <a href=/x>xyz</a></p>'),
            |    (900004, '<p>abcd <a href=/x>xyz</a></p>')) p(doc_id, html)),
            |sg AS (SELECT doc_id,
            |         string_split_regex(
            |           regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
            |           '(?is)</?(p|div|td|th|h[1-6]|li|ul|ol|table|tr|section|article|header|footer|nav|aside|blockquote|br)\b[^>]*>') AS segs
            |       FROM pages),
            |inf AS (SELECT doc_id,
            |          list_transform(segs, s -> struct_pack(
            |            txt := trim(regexp_replace(regexp_replace(s, '(?s)<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')),
            |            lk := coalesce(list_sum(list_transform(
            |                    regexp_extract_all(s, '(?is)<a\b[^>]*>(.*?)</a>', 1),
            |                    a -> length(trim(regexp_replace(regexp_replace(a, '(?s)<[^>]+>', ' ', 'g'), '\s+', ' ', 'g'))))), 0))) AS info
            |        FROM sg),
            |st AS (SELECT doc_id,
            |         list_filter(list_transform(info, i -> struct_pack(
            |           txt := i.txt, len := length(i.txt), lk := i.lk)),
            |           i -> i.len > 0) AS nb
            |       FROM inf)
            |SELECT doc_id,
            |  CAST(len(nb) AS BIGINT) AS n_segments,
            |  CAST(len(list_filter(nb, i -> i.len >= 5 AND i.lk * 3 <= i.len)) AS BIGINT) AS n_kept,
            |  -- DuckDB's array_to_string is NULL on an EMPTY list;
            |  -- Spark's array_join is '' (and NULL only on NULL input)
            |  CASE WHEN nb IS NULL THEN NULL
            |       ELSE coalesce(array_to_string(list_transform(
            |         list_filter(nb, i -> i.len >= 5 AND i.lk * 3 <= i.len),
            |         i -> i.txt), chr(10)), '') END AS extracted
            |FROM st ORDER BY doc_id""".stripMargin))

  /** Takedown cascade through the RESIDUAL-quantized serving state
    * ([[graft.ext.Forget.retractRq]]): q105's retraction discipline
    * applied to the two-stage index — the deleted block leaves the
    * (id, cell, codes1, codes2) table in one anti-join, the probe
    * over the retracted state runs at q187's composed degenerate
    * point (lossy stage 1 + residual-covering stage 2, nprobe =
    * nlist), so retract-then-probe must equal brute force over the
    * RETAINED slice exactly.
    */
  val q190 = Q(
    "q190_retract_rq",
    (s, dir) => {
      import s.implicits._
      val slice = t(s, dir, "embeddings").filter($"vec_id" < 64)
        .select($"vec_id", $"embedding")
      val queries = slice.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val books = graft.ext.VectorQuant.rqTrain(slice, "vec_id", "embedding",
        m = 8, ksub1 = 4, iters1 = 0, ksub2 = 64, iters2 = 0, dim = 64)
      val ivf = graft.ext.EmbeddingSearch.buildIvfIndex(
        slice, "vec_id", "embedding", nlist = 4)
      val ridx = graft.ext.VectorQuant.quantizeIndexRq(
        ivf, slice, "vec_id", "embedding", books)
      val deleted = s.range(32, 48).select($"id".as("vec_id"))
      val retracted = graft.ext.Forget.retractRq(ridx, deleted)
      graft.ext.VectorQuant.ivfProbeRq(retracted, queries, "qid", "qvec",
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

  /** OPQ rotation composed with the PQ serving stack at the
    * degenerate point ([[graft.ext.Opq.rotateExpr]]): R = I is an
    * IEEE no-op (1.0·x + Σ 0.0·x_j = x exactly), so the
    * rotate→train→encode→serve pipeline must reproduce plain brute
    * force bit for bit under the degenerate codebook — q100's oracle
    * verbatim, gating the rotation expression, its float round-trip,
    * and the composition. The LEARNED rotation (exact Gram → Jacobi →
    * balanced allocation) is pinned in OpqSpec: it cuts PQ
    * reconstruction MSE on a variance-imbalanced corpus.
    */
  val q191 = Q(
    "q191_opq_identity",
    (s, dir) => {
      import s.implicits._
      val r = graft.ext.Opq.identity(64)
      val rot = t(s, dir, "embeddings").filter($"vec_id" < 64)
        .select($"vec_id",
          graft.ext.Opq.rotateExpr(r, $"embedding").as("embedding"))
      val queries = rot.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val book = graft.ext.VectorQuant.pqTrain(rot, "vec_id", "embedding",
        m = 8, ksub = 64, iters = 0, dim = 64)
      val ivf = graft.ext.EmbeddingSearch.buildIvfIndex(
        rot, "vec_id", "embedding", nlist = 4)
      val pidx = graft.ext.VectorQuant.quantizeIndex(
        ivf, rot, "vec_id", "embedding", book)
      graft.ext.VectorQuant.ivfProbePq(pidx, queries, "qid", "qvec",
          k = 4, nprobe = 4)
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

  /** Tokenizer evaluation over the learned unigram vocabulary
    * ([[graft.ext.TokenizerEval.fertility]]): per-SOURCE fertility
    * (pieces/word), chars-per-piece, and fallback fraction against
    * the q186 serving table — the measurement a tokenizer decision is
    * made on, and the per-group face that shows a vocab trained on
    * one slice degrading on another. Integer sums + two mirrored IEEE
    * divisions; the oracle re-derives the EM chain, the argmax table,
    * and the per-source aggregation independently.
    */
  val q192 = Q(
    "q192_tokenizer_eval",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val vocab = UnigramLm.train(docs, $"text", maxWordLen = 3, iters = 2)
      val universe = UnigramLm.wordUniverse(docs, $"text", 3).map(_._1)
      val table = UnigramLm.encodeTable(universe, vocab.toMap, 3)
        .toDF("word", "n_pieces")
      graft.ext.TokenizerEval.fertility(docs, $"source", $"text", table)
        .withColumnRenamed("grp", "source")
        .orderBy($"source")
    },
    Some(s"""WITH ${unigramEmCtes("documents")},
            |$unigramArgmaxCtes,
            |dt AS (SELECT source,
            |         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            |       FROM documents),
            |ag AS (SELECT source,
            |         count(*) AS n_words,
            |         sum(coalesce(wp.np, length(dt.w))) AS n_pieces,
            |         sum(CASE WHEN wp.np IS NULL THEN 1 ELSE 0 END) AS n_fallback,
            |         sum(length(dt.w)) AS n_chars
            |       FROM dt LEFT JOIN wp ON dt.w = wp.w
            |       GROUP BY source)
            |SELECT source, CAST(n_words AS BIGINT) AS n_words,
            |       CAST(n_pieces AS BIGINT) AS n_pieces,
            |       CAST(n_fallback AS BIGINT) AS n_fallback,
            |       CAST(n_chars AS BIGINT) AS n_chars,
            |       CASE WHEN n_words > 0
            |            THEN CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE) END
            |         AS fertility,
            |       CASE WHEN n_pieces > 0
            |            THEN CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE) END
            |         AS chars_per_piece
            |FROM ag ORDER BY source""".stripMargin))

  /** The full SentencePiece-style vocabulary loop under the oracle
    * ([[graft.ext.UnigramLm.trainPruned]]): two EM passes, ONE prune
    * to all single-codepoint pieces + the top-5 multi-codepoint
    * pieces (weight desc, piece asc — a cut that bites at every SF),
    * one post-prune EM pass in which the pruned pieces' probability
    * mass redistributes (their segmentations score 0). The oracle
    * unrolls the whole sequence: the shared EM chain, the ranked
    * prune as a window over w2, and a third generated iteration
    * reading the pruned weight table.
    */
  val q193 = Q(
    "q193_unigram_prune",
    (s, dir) => {
      import s.implicits._
      UnigramLm.trainPruned(t(s, dir, "documents"), $"text",
          maxWordLen = 3, emIters = 2, keepMulti = 5, postIters = 1)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    Some(s"""WITH ${unigramEmCtes("documents")},
            |ch AS (SELECT p, wt FROM w2 WHERE length(p) = 1),
            |mc AS (SELECT p, wt, row_number() OVER (ORDER BY wt DESC, p ASC) AS rk
            |       FROM w2 WHERE length(p) > 1 AND wt > 0),
            |kp AS (SELECT p, wt FROM ch
            |       UNION ALL SELECT p, wt FROM mc WHERE rk <= 5),
            |${unigramIterBlock(3, "kp")}
            |SELECT p AS piece, CAST(wt AS BIGINT) AS weight
            |FROM w3 WHERE wt > 0 ORDER BY piece""".stripMargin))

  /** Incremental maintenance of the unigram trainer's corpus-scale
    * state ([[graft.ext.UnigramLm.admitWordCounts]] /
    * `trainFromState`): the corpus splits into old and delta batches,
    * the delta folds into the word-count ledger by full-outer
    * addition, and training FROM THE MERGED STATE must equal training
    * from scratch on the full corpus — q185's oracle VERBATIM (the
    * q184/q144 admit ≡ rebuild discipline applied to the tokenizer's
    * one corpus-scale input), so absorbing a crawl batch never
    * re-reads the corpus.
    */
  val q194 = Q(
    "q194_unigram_admit",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val state = UnigramLm.ledger(docs.filter($"doc_id" % 3 =!= 0),
        $"text", maxWordLen = 3)
      UnigramLm.trainFromLedger(
          UnigramLm.admit(state, docs.filter($"doc_id" % 3 === 0), $"text"),
          iters = 2)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    Some(s"""WITH ${unigramEmCtes("documents")}
            |SELECT p AS piece, CAST(wt AS BIGINT) AS weight
            |FROM w2 WHERE wt > 0 ORDER BY piece""".stripMargin))

  /** Takedown cascade through the word-count ledger
    * ([[graft.ext.UnigramLm.retractWordCounts]]): subtract the
    * deleted documents' counts (zero-count words leave; unknown-word
    * and over-delete desyncs RAISE), then retrain from state — the
    * result must equal training from scratch on the retained corpus,
    * whose EM chain the oracle runs over the filtered source.
    */
  val q195 = Q(
    "q195_unigram_retract",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val state = UnigramLm.ledger(docs, $"text", maxWordLen = 3)
      UnigramLm.trainFromLedger(
          UnigramLm.retract(state, docs.filter($"doc_id" % 5 === 0), $"text"),
          iters = 2)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    Some(s"""WITH ${unigramEmCtes(
              "(SELECT text FROM documents WHERE doc_id % 5 <> 0) retained")}
            |SELECT p AS piece, CAST(wt AS BIGINT) AS weight
            |FROM w2 WHERE wt > 0 ORDER BY piece""".stripMargin))

  /** Lexical diversity ([[graft.ext.TextAnalysis.typeTokenStats]]):
    * distinct-token ratio per document — low for template/stuffed
    * pages, suspiciously high for generated word salad; the
    * within-document complement of the q176/q177 repetition filters.
    * Planted rows pin both tails (all-repeat → 1/6, all-fresh → 1.0)
    * and the case-folding rule ("The the" counts once). Integer
    * counts, one mirrored IEEE division.
    */
  val q196 = Q(
    "q196_type_token",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (920000L, "spam spam spam spam spam spam"),
        (920001L, "every token here is fresh today"),
        (920002L, "The the THE tHe")).toDF("doc_id", "text")
      graft.ext.TextAnalysis.typeTokenStats(
          t(s, dir, "documents").select($"doc_id", $"text").unionAll(planted),
          $"doc_id", $"text")
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
            |          UNION ALL SELECT * FROM (VALUES
            |  (920000, 'spam spam spam spam spam spam'),
            |  (920001, 'every token here is fresh today'),
            |  (920002, 'The the THE tHe')) p(doc_id, text)),
            |tk AS (SELECT doc_id,
            |         string_split_regex(lower(trim(text)), '\s+') AS t
            |       FROM d)
            |SELECT doc_id,
            |       CAST(len(t) AS BIGINT) AS n_tokens,
            |       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
            |       CAST(len(list_distinct(t)) AS DOUBLE) /
            |         CAST(len(t) AS DOUBLE) AS ttr
            |FROM tk ORDER BY doc_id""".stripMargin))

  /** Host-level bad-neighborhood screening
    * ([[graft.ext.QualityFilter.hostNeighborhoodScreen]]): the
    * C4-style move per-document filters cannot express — a planted
    * spam-farm source carries three failing pages and ONE
    * individually-passing page, which must fail the COMBINED screen
    * because its neighborhood's pass rate (1/4) misses the 3/4
    * threshold under exact integer cross-multiplication; a planted
    * single-page source stays below minDocs and its verdict stands.
    * Corpus sources exercise the rate arithmetic at every SF.
    */
  val q197 = Q(
    "q197_host_neighborhood",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (930000L, "spamfarm", "buy now"),
        (930001L, "spamfarm", "click here"),
        (930002L, "spamfarm", "cheap pills"),
        (930003L, "spamfarm",
          "this single genuinely long page has more than ten whitespace tokens in it"),
        (930010L, "tinyhost",
          "another genuinely long page with clearly more than ten whitespace tokens present"))
        .toDF("doc_id", "source", "text")
      val d = t(s, dir, "documents").select($"doc_id", $"source", $"text")
        .unionAll(planted)
      graft.ext.QualityFilter.hostNeighborhoodScreen(d, $"doc_id", $"source",
          graft.ext.TextAnalysis.tokenCount($"text") >= 10,
          minDocs = 3L, num = 3, den = 4)
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, source, text FROM documents
            |          UNION ALL SELECT * FROM (VALUES
            |  (930000, 'spamfarm', 'buy now'),
            |  (930001, 'spamfarm', 'click here'),
            |  (930002, 'spamfarm', 'cheap pills'),
            |  (930003, 'spamfarm', 'this single genuinely long page has more than ten whitespace tokens in it'),
            |  (930010, 'tinyhost', 'another genuinely long page with clearly more than ten whitespace tokens present'))
            |  p(doc_id, source, text)),
            |b AS (SELECT doc_id, source AS host,
            |             len(string_split_regex(trim(text), '\s+')) >= 10 AS passes
            |      FROM d),
            |st AS (SELECT host, count(*) AS host_docs,
            |              sum(CASE WHEN passes THEN 1 ELSE 0 END) AS host_pass
            |       FROM b GROUP BY host)
            |SELECT doc_id, host, passes,
            |       CAST(host_docs AS BIGINT) AS host_docs,
            |       CAST(host_pass AS BIGINT) AS host_pass,
            |       passes AND (host_docs < 3 OR host_pass * 4 >= host_docs * 3) AS kept
            |FROM b JOIN st USING (host) ORDER BY doc_id""".stripMargin))

  val all: Seq[Q] = Seq(q185, q186, q187, q188, q189, q190, q191, q192, q193,
    q194, q195, q196, q197)
}
