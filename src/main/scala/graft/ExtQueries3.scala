package graft

import graft.CoreQueries.Q
import graft.ext.{Opq, UnigramLm}

/** Round-13 extension gates (q198+): lattice-DP unigram-LM training
  * over realistic word lengths — the forward-backward E-step of Kudo
  * 2018 §3.2 proper, replacing the exhaustive breakpoint-mask
  * enumeration whose HUGEINT bound pinned the round-12 face to
  * [a-z]{1,3}. The lattice face trains on [a-z]{1,8} (which covers
  * 100% of the gate corpus's whitespace tokens), on the 2^10 weight
  * grid that keeps every intermediate cross-engine HUGEINT-safe at
  * L = 8 (see [[graft.ext.UnigramLm]]'s bound derivation). Same
  * contract as [[ExtQueries]]: every gate pairs a Spark face with a
  * DuckDB oracle mirroring the exact arithmetic term for term.
  */
object ExtQueries3 {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    Tables.table(s, dir, name)

  private[graft] val LWG = 1024L           // UnigramLm.LatticeWeightGrid
  private[graft] val MaxLen = 8            // lattice word/piece length cap

  /** WG^(l−1) as a HUGEINT literal (1024^7 = 2^70 overflows BIGINT,
    * so the powers are emitted as decimal strings).
    */
  private[graft] def powCase(c: String): String =
    (1 to MaxLen).map(l =>
        s"WHEN $l THEN CAST(${BigInt(LWG).pow(l - 1)} AS HUGEINT)")
      .mkString(s"(CASE $c ", " ", " END)")

  /** Base CTEs of the lattice oracle: the [a-z]{1,8} word universe
    * with HUGEINT frequencies, the capped piece-occurrence table
    * (word, start, len, piece), and the seed weights — substring
    * occurrence counts renormalized onto the 2^10 grid. Mirrors
    * [[UnigramLm.trainLattice]]'s seeding exactly.
    */
  /** The word-universe-independent half of the lattice oracle: the
    * capped piece-occurrence table and the seed weights, reading
    * whatever CTE named `lwc` (w, f HUGEINT) the caller defined —
    * shared verbatim by the [a-z] face here and the byte-symbol face
    * ([[ExtQueries4]]), whose `w` is a placeholder-char symbol string
    * (length/substring are character ops in both engines, and a
    * symbol is exactly one BMP character).
    */
  private[graft] def latticeSeedCtes: String =
    s"""locc AS MATERIALIZED (SELECT w, f, CAST(s AS INT) AS s, CAST(l AS INT) AS l,
       |                substring(w, CAST(s + 1 AS INT), CAST(l AS INT)) AS p
       |         FROM lwc,
       |         LATERAL (SELECT unnest(generate_series(0, length(w) - 1)) AS s) ss,
       |         LATERAL (SELECT unnest(generate_series(1,
       |                    least(length(w) - s, $MaxLen))) AS l) ll),
       |lcp AS MATERIALIZED (SELECT p, CAST(sum(f) AS HUGEINT) AS c FROM locc GROUP BY p),
       |ltt AS (SELECT CAST(sum(c) AS HUGEINT) AS t FROM lcp),
       |lw0 AS MATERIALIZED (SELECT p, (c * $LWG) // t AS wt FROM lcp, ltt)""".stripMargin

  /** The trainer's driver-state cap, mirrored: the Spark side
    * collects the deterministic top-`DefaultMaxWords` of the word
    * universe by (freq DESC, word ASC) — binary-UTF-8 string order in
    * both engines — so the oracle ranks `lwc` through the same window
    * before anything downstream sees it. At the gate corpora the
    * distinct universe is far below the cap, so the window is an
    * identity there; the CTE exists so the gate stays term-for-term
    * exact even when the cap binds.
    */
  private def latticeBaseCtes(src: String): String =
    s"""ltok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |         FROM $src),
       |lwc0 AS (SELECT w, CAST(count(*) AS HUGEINT) AS f FROM ltok
       |         WHERE regexp_matches(w, '^[a-z]{1,$MaxLen}$$') GROUP BY w),
       |lwc AS MATERIALIZED (SELECT w, f FROM (
       |         SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS rn
       |         FROM lwc0) rkw
       |       WHERE rn <= ${UnigramLm.DefaultMaxWords}),
       |$latticeSeedCtes""".stripMargin

  /** One exact-integer lattice EM iteration in SQL, reading weights
    * from CTE `prevW` and emitting `lw$n`. The forward DP unrolls as
    * position-chained CTEs la${n}_0..la${n}_8 (α(e) sums
    * α(s)·wt·WG^(l−1) over occurrences ending at e — every
    * dependency is on a strictly smaller position, so the chain is
    * acyclic); the backward DP chains on distance-from-end
    * lb${n}_0..lb${n}_8. The E-step floor-divides the exact
    * per-occurrence segmentation mass α(s)·wt·WG^(l−1)·β(e) once per
    * occurrence on the 10^6 count grid — mirrors
    * [[UnigramLm.trainLattice]]'s emStepLattice term for term.
    */
  private[graft] def latticeIterBlock(n: Int, prevW: String): String = {
    val ow = s"low$n"
    val alpha = (1 to MaxLen).map { e =>
      s"""la${n}_$e AS MATERIALIZED (SELECT * FROM la${n}_${e - 1} UNION ALL
         |  SELECT o.w, CAST($e AS INT) AS i,
         |         CAST(sum(pa.a * o.wt * o.pl) AS HUGEINT) AS a
         |  FROM $ow o JOIN la${n}_${e - 1} pa ON pa.w = o.w AND pa.i = o.s
         |  WHERE o.s + o.l = $e GROUP BY o.w)""".stripMargin
    }.mkString(",\n")
    val beta = (1 to MaxLen).map { k =>
      s"""lb${n}_$k AS MATERIALIZED (SELECT * FROM lb${n}_${k - 1} UNION ALL
         |  SELECT o.w, o.s AS j,
         |         CAST(sum(o.wt * o.pl * nb.b) AS HUGEINT) AS b
         |  FROM $ow o JOIN lb${n}_${k - 1} nb ON nb.w = o.w AND nb.j = o.s + o.l
         |  WHERE o.s = length(o.w) - $k GROUP BY o.w, o.s)""".stripMargin
    }.mkString(",\n")
    s"""$ow AS MATERIALIZED (SELECT o.w, o.f, o.s, o.l, o.p, pw.wt, ${powCase("o.l")} AS pl
       |        FROM locc o JOIN $prevW pw ON o.p = pw.p WHERE pw.wt > 0),
       |la${n}_0 AS (SELECT w, CAST(0 AS INT) AS i, CAST(1 AS HUGEINT) AS a
       |             FROM lwc),
       |$alpha,
       |lb${n}_0 AS (SELECT w, CAST(length(w) AS INT) AS j,
       |                    CAST(1 AS HUGEINT) AS b FROM lwc),
       |$beta,
       |lz$n AS (SELECT w, a AS z FROM la${n}_$MaxLen WHERE i = length(w)),
       |le$n AS (SELECT o.p,
       |           sum((o.f * (pa.a * o.wt * o.pl * nb.b) * 1000000) // z.z) AS ec
       |         FROM $ow o
       |         JOIN la${n}_$MaxLen pa ON pa.w = o.w AND pa.i = o.s
       |         JOIN lb${n}_$MaxLen nb ON nb.w = o.w AND nb.j = o.s + o.l
       |         JOIN lz$n z ON z.w = o.w
       |         WHERE z.z > 0
       |         GROUP BY o.p),
       |let$n AS (SELECT CAST(sum(ec) AS HUGEINT) AS et FROM le$n),
       |lw$n AS MATERIALIZED (SELECT p, (ec * $LWG) // et AS wt FROM le$n, let$n)""".stripMargin
  }

  /** Lattice-DP unigram-LM vocabulary induction
    * ([[UnigramLm.trainLattice]]): two exact-integer EM iterations
    * over the [a-z]{1,8} word universe via the forward-backward DP,
    * unrolled verbatim in SQL. Every arithmetic step is integer —
    * 2^10-grid renormalization, DP accumulation, per-occurrence
    * posterior floor-divisions — so the learned weights hash-match
    * cross-engine with no float anywhere. This is the face that
    * trains on realistic word lengths: at sf0.01 the [a-z]{1,8}
    * universe covers every whitespace token of the corpus, where the
    * round-12 [a-z]{1,3} face covered ~20%.
    */
  val q198 = Q(
    "q198_unigram_lattice",
    (s, dir) => {
      import s.implicits._
      UnigramLm.trainLattice(t(s, dir, "documents"), $"text",
          maxWordLen = MaxLen, maxPieceLen = MaxLen, iters = 2)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    Some(s"""WITH ${latticeBaseCtes("documents")},
            |${latticeIterBlock(1, "lw0")},
            |${latticeIterBlock(2, "lw1")}
            |SELECT p AS piece, CAST(wt AS BIGINT) AS weight
            |FROM lw2 WHERE wt > 0 ORDER BY piece""".stripMargin))

  /** The full SentencePiece prune loop on the lattice face
    * ([[UnigramLm.trainLatticePruned]]): 2 lattice EM passes, one
    * vocabulary cut — keep every single-codepoint piece plus the 16
    * best multi-codepoint pieces by (weight DESC, piece ASC) — then
    * one more EM pass over the survivors, with the pruned pieces'
    * probability mass redistributing. The q193 recipe lifted to the
    * DP face.
    */
  val q199 = Q(
    "q199_lattice_prune",
    (s, dir) => {
      import s.implicits._
      UnigramLm.trainLatticePruned(t(s, dir, "documents"), $"text",
          maxWordLen = MaxLen, maxPieceLen = MaxLen,
          emIters = 2, keepMulti = 16, postIters = 1)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    Some(s"""WITH ${latticeBaseCtes("documents")},
            |${latticeIterBlock(1, "lw0")},
            |${latticeIterBlock(2, "lw1")},
            |lpr AS MATERIALIZED (SELECT p, wt FROM lw2 WHERE length(p) = 1
            |        UNION ALL
            |        SELECT p, wt FROM (
            |          SELECT p, wt,
            |                 row_number() OVER (ORDER BY wt DESC, p) AS rn
            |          FROM lw2 WHERE length(p) > 1 AND wt > 0) rk
            |        WHERE rn <= 16),
            |${latticeIterBlock(3, "lpr")}
            |SELECT p AS piece, CAST(wt AS BIGINT) AS weight
            |FROM lw3 WHERE wt > 0 ORDER BY piece""".stripMargin))

  /** Word-count-ledger maintenance composed with the lattice trainer:
    * build the ledger on two thirds of the corpus at maxWordLen = 8,
    * admit the held-out third, retrain via
    * [[UnigramLm.trainLatticeFromLedger]] — and the result must equal
    * training from scratch on the full corpus (q198's oracle
    * VERBATIM, the q194 discipline). Pins that the ledger algebra and
    * the structural maxWordLen binding compose with the DP face.
    */
  val q200 = Q(
    "q200_lattice_admit",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val state = UnigramLm.ledger(docs.filter($"doc_id" % 3 =!= 0),
        $"text", maxWordLen = MaxLen)
      UnigramLm.trainLatticeFromLedger(
          UnigramLm.admit(state, docs.filter($"doc_id" % 3 === 0), $"text"),
          maxPieceLen = MaxLen, iters = 2)
        .toDF("piece", "weight")
        .orderBy($"piece")
    },
    q198.oracle)

  // ---- byte-level BPE (q201) ----------------------------------------

  /** Codepoints `from until from+n` as literal strings (planted
    * multilingual alphabet — Greek, Cyrillic, CJK).
    */
  private[graft] def charList(from: Int, n: Int): IndexedSeq[String] =
    (0 until n).map(i => new String(Character.toChars(from + i)))

  private[graft] val greek = charList(0x3B1, 25) // α..
  private[graft] val cyr = charList(0x430, 32)   // а..
  private[graft] val cjk = charList(0x4E00, 33)  // 一..

  private[graft] def sqlPick(chars: IndexedSeq[String], mul: Int): String =
    s"[${chars.map(c => s"'$c'").mkString(",")}]" +
      s"[CAST((doc_id * $mul) % ${chars.size} AS INT) + 1]"

  private[graft] def sparkPick(chars: IndexedSeq[String], mul: Int) = {
    import org.apache.spark.sql.functions.{array, col, element_at, lit}
    element_at(array(chars.map(lit): _*),
      ((col("doc_id") * mul) % chars.size).cast("int") + 1)
  }

  /** Byte-level BPE token counts ([[graft.functions.ByteBpe]]) on a
    * planted multilingual fixture: every third document gets a Greek
    * trigram, a Cyrillic bigram, and a CJK bigram appended,
    * arithmetically chosen so both engines plant identical text. The
    * Spark side is one codegen'd per-row expression; the oracle
    * rebuilds each distinct pre-token's byte symbols from
    * hex(encode(w)) through the chr(256 + byte) placeholder mapping
    * and mirrors the whole rank-order merge loop as a recursive CTE
    * (the q65 recipe over byte symbols). Both sides share the
    * checked-in byte-level table — token counts hash-match exactly,
    * and the result also records n_bytes, making the byte-level
    * compression (n_tokens < n_bytes on multibyte scripts) part of
    * the gated output.
    */
  val q201 = Q(
    "q201_byte_bpe",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{concat, lit, octet_length}
      val d = t(s, dir, "documents").filter($"doc_id" % 3 === 0)
        .select($"doc_id", concat($"text",
          lit(" "), sparkPick(greek, 1), sparkPick(greek, 7), sparkPick(greek, 3),
          lit(" "), sparkPick(cyr, 1), sparkPick(cyr, 5),
          lit(" "), sparkPick(cjk, 1), sparkPick(cjk, 11)).as("text"))
      d.select($"doc_id",
          octet_length($"text").cast("long").as("n_bytes"),
          graft.functions.ByteBpe.count($"text").as("n_tokens"))
        .filter($"n_tokens" >= 0) // keep the expression alive under count()
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE
            |d AS (SELECT doc_id,
            |             text || ' ' || ${sqlPick(greek, 1)} || ${sqlPick(greek, 7)} || ${sqlPick(greek, 3)}
            |                  || ' ' || ${sqlPick(cyr, 1)} || ${sqlPick(cyr, 5)}
            |                  || ' ' || ${sqlPick(cjk, 1)} || ${sqlPick(cjk, 11)} AS text
            |      FROM documents WHERE doc_id % 3 = 0),
            |w AS (SELECT doc_id,
            |             unnest(regexp_extract_all(text,
            |               '${graft.functions.ByteBpeUtil.PreTokenPattern}')) AS w
            |      FROM d),
            |wc AS (SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY doc_id, w),
            |dw AS (SELECT DISTINCT w FROM wc),
            |bm(h, c) AS (VALUES ${(0 until 256).map(b =>
                f"('$b%02X', chr(${256 + b}))").mkString(",")}),
            |bs AS (SELECT w, i, bm.c
            |       FROM (SELECT w,
            |                    unnest(regexp_extract_all(hex(encode(w)), '..')) AS h,
            |                    generate_subscripts(
            |                      regexp_extract_all(hex(encode(w)), '..'), 1) AS i
            |             FROM dw) u JOIN bm USING (h)),
            |s0 AS (SELECT w, list(c ORDER BY i) AS s FROM bs GROUP BY w),
            |m(r, a, b) AS (VALUES ${graft.functions.ByteBpeUtil.merges.zipWithIndex
                .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(",")}),
            |e(w, s, r) AS (
            |  SELECT w, s, 1 FROM s0
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
            |       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
            |       CAST(coalesce(sum(wc.cnt * n.n), 0) AS BIGINT) AS n_tokens
            |FROM d
            |LEFT JOIN wc ON wc.doc_id = d.doc_id
            |LEFT JOIN n ON n.w = wc.w
            |GROUP BY d.doc_id, d.text ORDER BY d.doc_id""".stripMargin))

  // ---- learned OPQ rotation (q202) ----------------------------------

  /** 16^n as a HUGEINT CASE (the greedy-balance products carry an
    * implicit 16^n scale — eigenvalues are s/16 with s integer).
    */
  private def pw16(c: String): String =
    (0 to 4).map(n => s"WHEN $n THEN CAST(${BigInt(16).pow(n)} AS HUGEINT)")
      .mkString(s"(CASE $c ", " ", " END)")

  /** The unrolled greedy-balance chain: 8 sequential steps, one CTE
    * each, state = (product0, n0, product1, n1) as HUGEINT products of
    * the SCALED eigenvalues s = 16·λ (comparing λ-products of buckets
    * with n0/n1 factors cross-multiplies by 16^n of the other side —
    * exact integer, no log, no float). Tie goes to bucket 0, full
    * buckets (4 directions) close — term for term
    * [[graft.ext.Opq.balancedRotation]]'s minBy((logSum, b)), which
    * agrees with the exact product comparison because log-sums order
    * like products and the planted eigenvalues keep every comparison
    * far from a tie.
    */
  private def opqGreedyCtes: String = {
    val steps = (1 to 8).map { k =>
      s"""og$k AS (SELECT CASE WHEN b = 0 THEN p0 * s ELSE p0 END AS p0,
         |               CASE WHEN b = 0 THEN n0 + 1 ELSE n0 END AS n0,
         |               CASE WHEN b = 1 THEN p1 * s ELSE p1 END AS p1,
         |               CASE WHEN b = 1 THEN n1 + 1 ELSE n1 END AS n1,
         |               j, b
         |        FROM (SELECT g.p0, g.n0, g.p1, g.n1, rk.j, rk.s,
         |                     CASE WHEN g.n0 < 4 AND (g.n1 >= 4 OR
         |                            g.p0 * ${pw16("g.n1")} <= g.p1 * ${pw16("g.n0")})
         |                          THEN 0 ELSE 1 END AS b
         |              FROM og${k - 1} g, rk WHERE rk.r = ${k - 1}) u)""".stripMargin
    }.mkString(",\n")
    val asg = (1 to 8).map(k => s"SELECT j, b, ${k - 1} AS r FROM og$k")
      .mkString("\n        UNION ALL ")
    s"""og0 AS (SELECT CAST(1 AS HUGEINT) AS p0, 0 AS n0,
       |               CAST(1 AS HUGEINT) AS p1, 0 AS n1),
       |$steps,
       |oasg AS ($asg),
       |opos AS (SELECT j AS src_dim,
       |                CAST(b * 4 + row_number()
       |                  OVER (PARTITION BY b ORDER BY r) - 1 AS BIGINT) AS out_pos
       |         FROM oasg)""".stripMargin
  }

  /** The LEARNED OPQ rotation, oracle-gated end to end
    * ([[graft.ext.Opq.rotationFromCorpus]] → [[graft.ext.Opq.rotateExpr]])
    * on a planted integer eigensystem: each embedding id contributes
    * the single-nonzero vector (id%8 ↦ (id%8+1)/4 — exact on the
    * 2^-6 Gram grid), so the corpus Gram matrix is exactly DIAGONAL
    * with entries λ_j = c_j·(j+1)²/16 (c_j = members of residue j) —
    * the eigensystem is closed-form (standard basis, eigenvalues the
    * diagonal), Jacobi performs literally no rotation (every
    * off-diagonal is exactly 0.0), and the learned rotation is the
    * PERMUTATION the greedy variance balance chooses. The oracle
    * recomputes eigenvalues from counts and replays the greedy
    * allocation in exact HUGEINT product arithmetic; the Spark side
    * reads each source dimension's landing position out of the
    * ACTUALLY APPLIED rotation (array_position over rotateExpr
    * output), so the whole learned path — exact Gram agg → Jacobi →
    * balance → distributed application — is inside the gate. (q191
    * keeps gating the identity composition; OpqSpec pins the MSE
    * value of learned rotations on a variance-imbalanced corpus.)
    */
  val q202 = Q(
    "q202_opq_learned",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val emb = t(s, dir, "embeddings")
        .select($"vec_id".as("id"), ($"vec_id" % 8).cast("int").as("j"))
      val vecCol = transform(sequence(lit(0), lit(7)), i =>
        when(i === col("j"), (col("j") + 1).cast("double") / 4.0)
          .otherwise(0.0).cast("float"))
      val dfv = emb.select($"id", $"j", vecCol.as("v"))
      val rot = Opq.rotationFromCorpus(dfv, $"v", dim = 8, m = 2, gridBits = 6)
      val rotated = Opq.rotateExpr(rot, $"v")
      dfv.filter($"id" < 16)
        .select($"id",
          $"j".cast("long").as("src_dim"),
          (array_position(rotated,
            ((col("j") + 1).cast("double") / 4.0).cast("float")) - 1)
            .as("out_pos"),
          ((col("j") + 1).cast("double") / 4.0).as("val"))
        .orderBy($"id")
    },
    Some(s"""WITH em AS (SELECT vec_id AS id, CAST(vec_id % 8 AS INT) AS j
            |            FROM embeddings),
            |cnt AS (SELECT j, CAST(count(*) AS HUGEINT) AS c FROM em GROUP BY j),
            |rk AS (SELECT j, CAST((j + 1) * (j + 1) AS HUGEINT) * c AS s,
            |              CAST(row_number() OVER (
            |                ORDER BY (j + 1) * (j + 1) * c DESC, j) - 1 AS INT) AS r
            |       FROM cnt),
            |${opqGreedyCtes}
            |SELECT e.id, CAST(e.j AS BIGINT) AS src_dim, o.out_pos,
            |       CAST(e.j + 1 AS DOUBLE) / 4 AS val
            |FROM em e JOIN opos o ON o.src_dim = e.j
            |WHERE e.id < 16 ORDER BY e.id""".stripMargin))

  // ---- LZ-coverage repetitiveness (q203: the q117 checkable twin) ---

  /** LZ77-style fixed-window match coverage
    * ([[graft.ext.CompressionSignal.lzCoverage]]) — the deflate
    * signal's oracle-checkable twin (q117 stays the production face,
    * rows-only because DuckDB exposes no deflate; this gate closes
    * the family's cross-engine check the way q45 does for q28).
    * Corpus plus q117's planted rows: the 40×-repeated template spam
    * (coverage ≈ 97%, must flag) and the prose row (no 8-gram recurs
    * within 64 chars, coverage 0, must not), plus two rows planting
    * the window rule's BOTH boundaries — the same 8-gram at start
    * distance exactly 64 (covered) and exactly 65 (not).
    */
  val q203 = Q(
    "q203_lz_repetition",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (900001L, Seq.fill(40)("click here to win a prize now").mkString(" ")),
        (900002L, "the migration of arctic terns spans both hemispheres " +
                  "each year crossing oceans deserts and storm systems"),
        (900003L, "abcdefgh" + "0123456789012345678901234567890123456789" +
                  "0123456789012345" + "abcdefgh"),
        (900004L, "abcdefgh" + "0123456789012345678901234567890123456789" +
                  "01234567890123456" + "abcdefgh")
      ).toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      graft.ext.CompressionSignal.lzCoverage(docs, $"doc_id", $"text",
          gram = 8, window = 64, thresholdTenths = 6)
        .orderBy($"id")
    },
    Some("""WITH d AS (
            |  SELECT doc_id, text FROM documents
            |  UNION ALL SELECT 900001, repeat('click here to win a prize now ', 39) ||
            |                   'click here to win a prize now'
            |  UNION ALL SELECT 900002, 'the migration of arctic terns spans both hemispheres ' ||
            |                   'each year crossing oceans deserts and storm systems'
            |  UNION ALL SELECT 900003, 'abcdefgh' || '0123456789012345678901234567890123456789' ||
            |                   '0123456789012345' || 'abcdefgh'
            |  UNION ALL SELECT 900004, 'abcdefgh' || '0123456789012345678901234567890123456789' ||
            |                   '01234567890123456' || 'abcdefgh'),
            |p AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
            |             substring(text, CAST(i AS INT), 8) AS g
            |      FROM d, LATERAL (SELECT unnest(generate_series(1,
            |             length(text) - 7)) AS i) ii
            |      WHERE length(text) >= 8),
            |pg AS (SELECT doc_id, i,
            |              i - lag(i) OVER (PARTITION BY doc_id, g ORDER BY i) AS gap
            |       FROM p),
            |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
            |             CAST(sum(CASE WHEN gap <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
            |      FROM pg GROUP BY doc_id)
            |SELECT d.doc_id AS id,
            |       coalesce(c.n_pos, 0) AS n_pos,
            |       coalesce(c.n_cov, 0) AS n_cov,
            |       coalesce(c.n_cov, 0) * 10 >= coalesce(c.n_pos, 0) * 6
            |         AND coalesce(c.n_pos, 0) > 0 AS too_repetitive
            |FROM d LEFT JOIN c USING (doc_id) ORDER BY id""".stripMargin))

  /** Viterbi serve-side CTEs over the final lattice weights `lw2`:
    * the max-product DP (same position chaining as the sum DP, max
    * instead of sum; ties argmax-score then fewest-pieces via one
    * row_number), then (word, n_pieces) with the codepoint fallback
    * for words no positive-weight segmentation covers — mirrors
    * [[UnigramLm.encodeTableLattice]] term for term.
    */
  private[graft] def latticeViterbiCtes: String = {
    val steps = (1 to MaxLen).map { e =>
      s"""vb_$e AS MATERIALIZED (SELECT * FROM vb_${e - 1} UNION ALL
         |  SELECT w, CAST($e AS INT) AS i, a, k FROM (
         |    SELECT o.w, pa.a * o.wt * o.pl AS a, pa.k + 1 AS k,
         |           row_number() OVER (PARTITION BY o.w
         |             ORDER BY pa.a * o.wt * o.pl DESC, pa.k + 1 ASC) AS rn
         |    FROM lowv o JOIN vb_${e - 1} pa ON pa.w = o.w AND pa.i = o.s
         |    WHERE o.s + o.l = $e) c WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""lowv AS MATERIALIZED (SELECT o.w, o.s, o.l, o.p, pw.wt, ${powCase("o.l")} AS pl
       |        FROM locc o JOIN lw2 pw ON o.p = pw.p WHERE pw.wt > 0),
       |vb_0 AS (SELECT w, CAST(0 AS INT) AS i, CAST(1 AS HUGEINT) AS a,
       |                CAST(0 AS INT) AS k FROM lwc),
       |$steps,
       |vnp AS (SELECT lwc.w, CAST(coalesce(vb.k, length(lwc.w)) AS BIGINT) AS np
       |        FROM lwc LEFT JOIN (SELECT w, k FROM vb_$MaxLen
       |                            WHERE i = length(w)) vb ON vb.w = lwc.w)""".stripMargin
  }

  /** The lattice tokenizer's SERVE side, oracle-gated: train (q198's
    * exact CTE chain), build the Viterbi (word, n_pieces) table by
    * max-product DP over the learned weights, then measure corpus
    * fertility through it ([[graft.ext.TokenizerEval.fertility]]).
    * The round-12 face could only claim zero fallback in a unit spec;
    * here the fallback-free fertility of the realistic-word tokenizer
    * is itself a hash-matched gate row: n_fallback must be EXACTLY
    * the count of corpus tokens outside [a-z]{1,8} (zero at the gate
    * corpus), and fertility is one IEEE division of two exact longs.
    */
  val q204 = Q(
    "q204_lattice_fertility",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.lit
      val docs = t(s, dir, "documents")
      val vocab = UnigramLm.trainLattice(docs, $"text",
        maxWordLen = MaxLen, maxPieceLen = MaxLen, iters = 2)
      val universe = UnigramLm.wordUniverse(docs, $"text", MaxLen)
        .map(_._1).sorted
      val table = UnigramLm.encodeTableLattice(universe, vocab.toMap, MaxLen)
        .toDF("word", "n_pieces")
      graft.ext.TokenizerEval.fertility(
          docs.withColumn("g", lit("all")), $"g", $"text", table)
        .select($"n_words", $"n_pieces", $"n_fallback", $"fertility")
    },
    Some(s"""WITH ${latticeBaseCtes("documents")},
            |${latticeIterBlock(1, "lw0")},
            |${latticeIterBlock(2, "lw1")},
            |$latticeViterbiCtes,
            |ft AS (SELECT t.w, vnp.np FROM ltok t LEFT JOIN vnp ON vnp.w = t.w)
            |SELECT CAST(count(*) AS BIGINT) AS n_words,
            |       CAST(sum(coalesce(np, length(w))) AS BIGINT) AS n_pieces,
            |       CAST(sum(CASE WHEN np IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            |         AS n_fallback,
            |       CAST(sum(coalesce(np, length(w))) AS DOUBLE) / count(*)
            |         AS fertility
            |FROM ft""".stripMargin))

  // ---- PCA dimensionality reduction (q205) --------------------------

  /** The learned top-r PCA projection, oracle-gated end to end
    * ([[graft.ext.Pca.projectionFromCorpus]] → [[graft.ext.Pca.projectExpr]])
    * on q202's planted integer eigensystem: single-nonzero vectors
    * (dim id%8, value (id%8+1)/4 — exact on the 2^-6 Gram grid) make
    * the corpus Gram exactly diagonal, Jacobi provably performs no
    * rotation, and the learned top-3 projection is a closed-form
    * coordinate selection — source dimension j lands at output
    * position rank(λ_j) when rank < 3 and is DROPPED otherwise
    * (out_pos −1). The oracle recomputes eigenvalue ranks from
    * residue counts (λ_j ∝ c_j·(j+1)² — n cancels); the Spark side
    * reads each dimension's landing position out of the ACTUALLY
    * APPLIED projection (array_position over projectExpr output), so
    * exact Gram agg → eigen-solve → top-r cut → distributed
    * application is all inside the gate. Variance captured on
    * correlated corpora is MEASURED in PcaSpec, not asserted here.
    */
  val q205 = Q(
    "q205_pca_project",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val emb = t(s, dir, "embeddings")
        .select($"vec_id".as("id"), ($"vec_id" % 8).cast("int").as("j"))
      val vecCol = transform(sequence(lit(0), lit(7)), i =>
        when(i === col("j"), (col("j") + 1).cast("double") / 4.0)
          .otherwise(0.0).cast("float"))
      val dfv = emb.select($"id", $"j", vecCol.as("v"))
      val proj = graft.ext.Pca.projectionFromCorpus(dfv, $"v",
        dim = 8, r = 3, gridBits = 6, center = false)
      val projected = graft.ext.Pca.projectExpr(proj, $"v")
      dfv.filter($"id" < 16)
        .select($"id",
          $"j".cast("long").as("src_dim"),
          (array_position(projected,
            ((col("j") + 1).cast("double") / 4.0).cast("float")) - 1)
            .as("out_pos"))
        .withColumn("kept", col("out_pos") >= 0)
        .orderBy($"id")
    },
    Some("""WITH em AS (SELECT vec_id AS id, CAST(vec_id % 8 AS INT) AS j
           |            FROM embeddings),
           |cnt AS (SELECT j, CAST(count(*) AS HUGEINT) AS c FROM em GROUP BY j),
           |rk AS (SELECT j, CAST(row_number() OVER (
           |              ORDER BY (j + 1) * (j + 1) * c DESC, j) - 1 AS BIGINT) AS r
           |       FROM cnt)
           |SELECT e.id, CAST(e.j AS BIGINT) AS src_dim,
           |       CASE WHEN rk.r < 3 THEN rk.r ELSE -1 END AS out_pos,
           |       rk.r < 3 AS kept
           |FROM em e JOIN rk ON rk.j = e.j
           |WHERE e.id < 16 ORDER BY e.id""".stripMargin))

  // ---- Heaps-law vocabulary growth (q206) ----------------------------

  /** The vocabulary-growth curve ([[graft.ext.CorpusStats.vocabGrowth]])
    * at max_doc_id/{8,4,2,1} checkpoints: cumulative docs, token
    * occurrences, and DISTINCT vocabulary per checkpoint, all exact
    * integers. "In the vocabulary at checkpoint c" ≡ "min doc_id
    * holding the token ≤ c", so the whole curve is one grouped min +
    * conditional counts — no ordered scan, no per-checkpoint pass.
    * Spark keys md5 digests, the oracle keys raw token strings: count
    * equality IS the digest-discipline pin (the q20/q182 rule).
    */
  val q206 = Q(
    "q206_vocab_growth",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.max
      val docs = t(s, dir, "documents")
      val maxId = docs.agg(max($"doc_id")).head.getLong(0)
      graft.ext.CorpusStats.vocabGrowth(docs, $"doc_id", $"text",
          Seq(maxId / 8, maxId / 4, maxId / 2, maxId))
        .orderBy($"checkpoint")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |cp AS (SELECT m // f AS c FROM mx, (VALUES (8),(4),(2),(1)) t(f)),
           |tk AS (SELECT doc_id, w FROM (
           |         SELECT doc_id,
           |                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           |         FROM documents) u WHERE length(w) > 0),
           |fs AS (SELECT w, min(doc_id) AS fd FROM tk GROUP BY w),
           |pd AS (SELECT d.doc_id, count(tk.w) AS n
           |       FROM documents d LEFT JOIN tk ON tk.doc_id = d.doc_id
           |       GROUP BY d.doc_id)
           |SELECT cp.c AS checkpoint,
           |       (SELECT CAST(count(*) AS BIGINT) FROM documents
           |        WHERE doc_id <= cp.c) AS n_docs,
           |       (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM pd
           |        WHERE doc_id <= cp.c) AS n_tokens,
           |       (SELECT CAST(count(*) AS BIGINT) FROM fs
           |        WHERE fd <= cp.c) AS n_vocab
           |FROM cp ORDER BY checkpoint""".stripMargin))

  // ---- curation cascade with attrition ledger (q207) ----------------

  /** Planted cascade rows: every stage boundary pinned from both
    * sides. Shared verbatim between the Spark face and the oracle
    * (ASCII text, no quotes).
    */
  private val cascadeRows: Seq[(Long, String, String)] = Seq(
    // stage 1: exactly minWords−1 = 4 words drops; exactly 5 keeps
    (910001L, "one two three four", "plantsrc"),
    (910002L, "one two three four five", "plantsrc"),
    // stage 2: mean word length exactly 2.0 (= minLenTenths boundary)
    // keeps; mean 1.0 drops
    (910003L, "ab cd ef gh ij", "plantsrc"),
    (910004L, "a b c d e", "plantsrc"),
    // stage 3: an exact duplicate pair — the LOWER doc_id survives
    (910005L, "wholly unique duplicated sentence planted for the cascade", "plantsrc"),
    (910006L, "wholly unique duplicated sentence planted for the cascade", "plantsrc"),
    // stage 4: a spam farm (4 docs, 1 passing → rate 1/4 < 2/3, the
    // tidy page must drop), a source at EXACTLY the 2/3 rate (kept),
    // and a below-minDocs source whose failing rate is ignored
    (910007L, "spam", "farm"),
    (910008L, "spam", "farm"),
    (910009L, "spam", "farm"),
    (910010L, "the one tidy page on the farm reads fine", "farm"),
    (910011L, "first clean page from the edge source here", "edge"),
    (910012L, "second clean page from the edge source too", "edge"),
    (910013L, "junk", "edge"),
    (910014L, "lone clean page from the tiny source stands", "tiny"),
    (910015L, "junk", "tiny"))

  /** The curation cascade's attrition ledger
    * ([[graft.ext.Curation.cascade]]): word-count bounds → mean-word-
    * length bounds → exact dedup keep-first → source pass-rate screen,
    * run over corpus + planted rows that pin every stage boundary from
    * both sides (the 4-vs-5-word cut, the exact 10·Σlen = 20·n
    * equality, a duplicate pair, a spam farm at rate 1/4, a source at
    * EXACTLY the 2/3 threshold, a below-minDocs source whose failing
    * rate must be ignored). The oracle replays all four stages over
    * raw text where Spark keys md5 digests; the ledger counts
    * hash-match as exact integers.
    */
  val q207 = Q(
    "q207_curation_cascade",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"doc_id", $"text", $"source")
        .unionByName(cascadeRows.toDF("doc_id", "text", "source"))
      val p = graft.ext.Curation.CascadeParams(
        minWords = 5L, maxWords = 100000L,
        minLenTenths = 20L, maxLenTenths = 120L,
        srcMinDocs = 3L, srcNum = 2, srcDen = 3)
      graft.ext.Curation.cascade(docs, $"doc_id", $"text", $"source", p)
        ._1.orderBy($"stage_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, text, source FROM documents
            |           UNION ALL
            |           SELECT * FROM (VALUES ${cascadeRows.map { case (i, t0, src) =>
                          s"(CAST($i AS BIGINT), '$t0', '$src')" }.mkString(",\n             ")})
            |             v(doc_id, text, source)),
            |b AS (SELECT doc_id, source, text,
            |             CAST(len(w) AS BIGINT) AS nw,
            |             CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
            |               AS BIGINT) AS sumlen
            |      FROM (SELECT doc_id, source, text,
            |                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |                               x -> x <> '') AS w
            |            FROM d) u),
            |f AS (SELECT doc_id, source, text,
            |             (nw >= 5 AND nw <= 100000) AS s1,
            |             (nw >= 5 AND nw <= 100000 AND
            |              sumlen * 10 >= nw * 20 AND sumlen * 10 <= nw * 120) AS s2
            |      FROM b),
            |cn AS (SELECT text, min(doc_id) AS keep_id FROM f WHERE s2 GROUP BY text),
            |hs AS (SELECT source, CAST(count(*) AS BIGINT) AS hd,
            |              CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS hp
            |       FROM f GROUP BY source),
            |g AS (SELECT f.doc_id, f.s1, f.s2,
            |             (f.s2 AND f.doc_id = cn.keep_id) AS s3,
            |             (f.s2 AND f.doc_id = cn.keep_id AND
            |              (hs.hd < 3 OR hs.hp * 3 >= hs.hd * 2)) AS s4
            |      FROM f LEFT JOIN cn ON cn.text = f.text
            |             JOIN hs ON hs.source = f.source),
            |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
            |             CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            |             CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            |             CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
            |             CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
            |      FROM g)
            |SELECT * FROM (
            |  SELECT CAST(1 AS BIGINT) AS stage_id, 'word_bounds' AS stage,
            |         n0 AS n_in, n1 AS n_kept FROM a
            |  UNION ALL SELECT 2, 'word_len', n1, n2 FROM a
            |  UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM a
            |  UNION ALL SELECT 4, 'source_rate', n3, n4 FROM a)
            |ORDER BY stage_id""".stripMargin))

  /** Vocabulary-ledger admission ([[graft.ext.CorpusStats.admitVocab]]):
    * ledger two thirds of the corpus, admit the held-out third, read
    * the curve through [[graft.ext.CorpusStats.growthFromLedger]] —
    * and the result must equal the from-scratch curve (q206's oracle
    * VERBATIM, the q194/q200 merge ≡ rebuild discipline on the
    * first-occurrence MIN algebra).
    */
  val q208 = Q(
    "q208_vocab_admit",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.max
      val docs = t(s, dir, "documents")
      val maxId = docs.agg(max($"doc_id")).head.getLong(0)
      val state = graft.ext.CorpusStats.vocabLedger(
        docs.filter($"doc_id" % 3 =!= 0), $"doc_id", $"text")
      val admitted = graft.ext.CorpusStats.admitVocab(state,
        docs.filter($"doc_id" % 3 === 0), $"doc_id", $"text")
      graft.ext.CorpusStats.growthFromLedger(admitted,
          Seq(maxId / 8, maxId / 4, maxId / 2, maxId))
        .orderBy($"checkpoint")
    },
    q206.oracle)

  // ---- hashed lexical vectors: exact cosine verify (q209) ------------

  private val hvNear1 = "alpha bravo charlie delta echo foxtrot golf hotel"
  private val hvNear2 = "alpha bravo charlie delta echo foxtrot golf india"
  private val hvFar = "uniform victor whiskey xray yankee zulu quebec romeo"

  /** Model-free lexical cosine verification
    * ([[graft.ext.HashedVec.bucketCounts]]/`cosinePairs`): hashed
    * unigram+bigram count vectors (the q188 feature grammar and
    * portable bucket hash, d = 16 ⇒ bucket = the 8th md5 nibble —
    * q188's oracle recipe verbatim), pair similarity decided by the
    * EXACT integer cross-multiplication dot²·den² ≥ num²·|a|²·|b|² —
    * no float boundary. Pairs: corpus (doc, doc+1) at doc_id % 5 = 0
    * plus a planted near-dup pair (7/8 shared vocabulary, cos ≈ 0.93
    * — must flag) and a planted disjoint-vocabulary pair (cos ≈ 0.33
    * under d=16 collisions — must not). The oracle rebuilds counts
    * from raw gram text, joins on buckets for the dot product, and
    * replays the HUGEINT cross-multiplication.
    */
  val q209 = Q(
    "q209_hashed_cosine",
    (s, dir) => {
      import s.implicits._
      val planted = Seq((920001L, hvNear1), (920002L, hvNear2),
        (920003L, hvFar)).toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      val counts = graft.ext.HashedVec.bucketCounts(docs, $"doc_id", $"text", 16)
      val pairs = docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id".as("id1"), ($"doc_id" + 1).as("id2"))
        .unionByName(Seq((920001L, 920002L), (920001L, 920003L))
          .toDF("id1", "id2"))
      graft.ext.HashedVec.cosinePairs(pairs, counts, num = 7, den = 10)
        .orderBy($"id1", $"id2")
    },
    Some(s"""WITH d AS (SELECT doc_id, text FROM documents
            |           UNION ALL SELECT 920001, '$hvNear1'
            |           UNION ALL SELECT 920002, '$hvNear2'
            |           UNION ALL SELECT 920003, '$hvFar'),
            |kt AS (SELECT doc_id,
            |         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
            |                     tk -> regexp_matches(tk, '^[a-z]{3,}$$')) AS t
            |       FROM d),
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
            |ct AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
            |       FROM bk GROUP BY doc_id, b),
            |ns AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS nsq
            |       FROM ct GROUP BY doc_id),
            |pr AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM d
            |       WHERE doc_id % 5 = 0
            |       UNION ALL SELECT 920001, 920002
            |       UNION ALL SELECT 920001, 920003),
            |dj AS (SELECT p.id1, p.id2, CAST(sum(a.c * b.c) AS BIGINT) AS dot
            |       FROM pr p
            |       JOIN ct a ON a.doc_id = p.id1
            |       JOIN ct b ON b.doc_id = p.id2 AND b.b = a.b
            |       GROUP BY p.id1, p.id2)
            |SELECT p.id1, p.id2, coalesce(dj.dot, 0) AS dot,
            |       n1.nsq AS n1sq, n2.nsq AS n2sq,
            |       CAST(coalesce(dj.dot, 0) AS HUGEINT) * coalesce(dj.dot, 0) * 100
            |         >= CAST(n1.nsq AS HUGEINT) * n2.nsq * 49 AS similar
            |FROM pr p
            |JOIN ns n1 ON n1.doc_id = p.id1
            |JOIN ns n2 ON n2.doc_id = p.id2
            |LEFT JOIN dj ON dj.id1 = p.id1 AND dj.id2 = p.id2
            |ORDER BY p.id1, p.id2""".stripMargin))

  // ---- token-budget corpus selection (q210) --------------------------

  /** Best-first token-budget selection
    * ([[graft.ext.Budgeting.tokenBudgetSelect]]): order the corpus by
    * (score DESC, doc_id ASC), keep the maximal prefix whose
    * cumulative token count stays ≤ budget — the final
    * materialization step of a curation pipeline, implemented with
    * the bucket-offset discipline (score-high-bit buckets, one
    * grouped sum, offsets over the bucket-cardinality table, a window
    * only inside each bucket — NEVER the naive corpus-sized global
    * window). The oracle IS that naive global window: one cumulative
    * sum over (score DESC, doc_id) with the same ≤ rule —
    * bucket-offset ≡ global-window is the gate's claim. Score =
    * n_chars mod 256 (ties everywhere — the id tiebreak is load-
    * bearing), budget = half the corpus token count, so the boundary
    * bucket and both wholesale classes are all exercised at every SF.
    */
  val q210 = Q(
    "q210_token_budget",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val docs = t(s, dir, "documents")
      val nCol = size(filter(split(lower(trim($"text")), "\\s+"),
        w => w =!= lit(""))).cast("long")
      val base = docs.select($"doc_id", nCol.as("n"),
        pmod($"n_chars", lit(256L)).as("sc"))
      val budget = base.agg(sum($"n")).head.getLong(0) / 2
      graft.ext.Budgeting.tokenBudgetSelect(base, $"doc_id", $"n", $"sc",
          budget, bucketShift = 4)
        .orderBy($"score".desc, $"id")
    },
    Some("""WITH b AS (SELECT doc_id,
           |             CAST(len(list_filter(
           |               string_split_regex(lower(trim(text)), '\s+'),
           |               x -> x <> '')) AS BIGINT) AS n,
           |             CAST(n_chars % 256 AS BIGINT) AS sc
           |           FROM documents),
           |bud AS (SELECT CAST(sum(n) // 2 AS BIGINT) AS budget FROM b),
           |c AS (SELECT doc_id, sc, n,
           |             sum(n) OVER (ORDER BY sc DESC, doc_id
           |                          ROWS UNBOUNDED PRECEDING) AS cum
           |      FROM b)
           |SELECT doc_id AS id, sc AS score, n AS n_tokens,
           |       CAST(cum AS BIGINT) AS cum_tokens
           |FROM c, bud WHERE cum <= budget
           |ORDER BY score DESC, id""".stripMargin))

  /** Per-LANGUAGE vocabulary growth
    * ([[graft.ext.CorpusStats.vocabGrowthByGroup]]): the multilingual
    * admission question the global q206 curve cannot answer — one
    * curve per lang, vocabulary counted within the group, the same
    * min-first-doc algebra with the group key threaded through (the
    * documents table's lang column is the group). Both engines
    * aggregate per (lang, checkpoint); Spark keys md5 digests, the
    * oracle raw tokens.
    */
  val q211 = Q(
    "q211_vocab_by_lang",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.max
      val docs = t(s, dir, "documents")
      val maxId = docs.agg(max($"doc_id")).head.getLong(0)
      graft.ext.CorpusStats.vocabGrowthByGroup(docs, $"doc_id", $"text",
          $"lang", Seq(maxId / 2, maxId))
        .orderBy($"grp", $"checkpoint")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |cp AS (SELECT m // f AS c FROM mx, (VALUES (2),(1)) t(f)),
           |tk AS (SELECT grp, doc_id, w FROM (
           |         SELECT lang AS grp, doc_id,
           |                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           |         FROM documents) u WHERE length(w) > 0),
           |fs AS (SELECT grp, w, min(doc_id) AS fd FROM tk GROUP BY grp, w),
           |pd AS (SELECT d.lang AS grp, d.doc_id, count(tk.w) AS n
           |       FROM documents d
           |       LEFT JOIN tk ON tk.doc_id = d.doc_id AND tk.grp = d.lang
           |       GROUP BY d.lang, d.doc_id),
           |da AS (SELECT grp, cp.c,
           |         CAST(sum(CASE WHEN doc_id <= cp.c THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           |         CAST(sum(CASE WHEN doc_id <= cp.c THEN n ELSE 0 END) AS BIGINT) AS n_tokens
           |       FROM pd, cp GROUP BY grp, cp.c),
           |va AS (SELECT grp, cp.c,
           |         CAST(sum(CASE WHEN fd <= cp.c THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab
           |       FROM fs, cp GROUP BY grp, cp.c)
           |SELECT da.grp, da.c AS checkpoint, da.n_docs, da.n_tokens,
           |       coalesce(va.n_vocab, 0) AS n_vocab
           |FROM da LEFT JOIN va ON va.grp = da.grp AND va.c = da.c
           |ORDER BY da.grp, checkpoint""".stripMargin))

  /** Per-SOURCE cascade attrition
    * ([[graft.ext.Curation.ledgerBySource]]): q207's cascade and
    * fixture, reported per source — the planted farm/edge/tiny
    * sources each show their designed attrition shape (the farm loses
    * its tidy page at stage 4, the edge source at EXACTLY the 2/3
    * rate keeps both survivors, the below-minDocs tiny source keeps
    * its one), and every corpus source reports alongside.
    */
  val q212 = Q(
    "q212_cascade_by_source",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"doc_id", $"text", $"source")
        .unionByName(cascadeRows.toDF("doc_id", "text", "source"))
      val p = graft.ext.Curation.CascadeParams(
        minWords = 5L, maxWords = 100000L,
        minLenTenths = 20L, maxLenTenths = 120L,
        srcMinDocs = 3L, srcNum = 2, srcDen = 3)
      graft.ext.Curation.ledgerBySource(
          graft.ext.Curation.survival(docs, $"doc_id", $"text", $"source", p))
        .orderBy($"source", $"stage_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, text, source FROM documents
            |           UNION ALL
            |           SELECT * FROM (VALUES ${cascadeRows.map { case (i, t0, src) =>
                          s"(CAST($i AS BIGINT), '$t0', '$src')" }.mkString(",\n             ")})
            |             v(doc_id, text, source)),
            |b AS (SELECT doc_id, source, text,
            |             CAST(len(w) AS BIGINT) AS nw,
            |             CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
            |               AS BIGINT) AS sumlen
            |      FROM (SELECT doc_id, source, text,
            |                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |                               x -> x <> '') AS w
            |            FROM d) u),
            |f AS (SELECT doc_id, source, text,
            |             (nw >= 5 AND nw <= 100000) AS s1,
            |             (nw >= 5 AND nw <= 100000 AND
            |              sumlen * 10 >= nw * 20 AND sumlen * 10 <= nw * 120) AS s2
            |      FROM b),
            |cn AS (SELECT text, min(doc_id) AS keep_id FROM f WHERE s2 GROUP BY text),
            |hs AS (SELECT source, CAST(count(*) AS BIGINT) AS hd,
            |              CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS hp
            |       FROM f GROUP BY source),
            |g AS (SELECT f.doc_id, f.source, f.s1, f.s2,
            |             (f.s2 AND f.doc_id = cn.keep_id) AS s3,
            |             (f.s2 AND f.doc_id = cn.keep_id AND
            |              (hs.hd < 3 OR hs.hp * 3 >= hs.hd * 2)) AS s4
            |      FROM f LEFT JOIN cn ON cn.text = f.text
            |             JOIN hs ON hs.source = f.source),
            |a AS (SELECT source,
            |             CAST(count(*) AS BIGINT) AS n0,
            |             CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            |             CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            |             CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
            |             CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
            |      FROM g GROUP BY source)
            |SELECT source, stage_id, stage, n_in, n_kept FROM (
            |  SELECT source, CAST(1 AS BIGINT) AS stage_id, 'word_bounds' AS stage,
            |         n0 AS n_in, n1 AS n_kept FROM a
            |  UNION ALL SELECT source, 2, 'word_len', n1, n2 FROM a
            |  UNION ALL SELECT source, 3, 'exact_dedup', n2, n3 FROM a
            |  UNION ALL SELECT source, 4, 'source_rate', n3, n4 FROM a)
            |ORDER BY source, stage_id""".stripMargin))

  val all: Seq[Q] =
    Seq(q198, q199, q200, q201, q202, q203, q204, q205, q206, q207, q208,
      q209, q210, q211, q212)
}
