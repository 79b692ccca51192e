package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection — the linear-shuffle
  * scale path for corpus-wide near-dedup (exact ShingleJaccard is
  * quadratic in per-shingle document frequency; this is the standard
  * 100 TB alternative).
  *
  * Pipeline (all codegen'd built-ins, no UDFs):
  *   shingle set → ONE xxhash64 per shingle → k minhashes (min over
  *   k bijective multiply-add mixes of that base hash) → b bands of
  *   r = k/b hashes → band-hash bucket join → candidate pairs →
  *   verify (signature-estimated or exact array-intersect Jaccard —
  *   candidates are few, so the exact rerank happens on in-row
  *   arrays, no explode).
  *
  * The "one hash, k permutations" trick: each string shingle is hashed
  * ONCE; slot i applies `h * a_i + b_i` (a_i odd → a bijection on
  * Z/2^64, i.e. a genuine permutation of hash space, the textbook
  * minhash requirement). Versus k full string re-hashes this cuts the
  * dominant per-row cost from k string hashes to one string hash + k
  * long mul/adds, and shrinks the generated aggregate code (k wide
  * hash calls → k two-op arithmetic exprs) — measured ~2x end-to-end
  * at sf0.1, most of it in the first (codegen-compiling) run.
  *
  * Banding math: P(candidate) = 1 - (1 - j^r)^b; with k=128, b=32, r=4
  * the S-curve crosses 0.5 at j≈0.38 (an earlier revision of this note
  * claimed 0.59 — the [[bandingPlan]] table, pinned cross-engine by
  * gate q181, is the arithmetic of record).
  *
  * Determinism: mix constants are splitmix64 of the slot index, folded
  * into the plan as literals — the same signature on any cluster, any
  * partitioning.
  */
object MinHashLsh {

  /** k-minhash signature (array<long>) of a shingle array — the
    * per-row composable form (interpreted HOFs; fine for small frames,
    * the corpus path uses the MinHashAgg aggregate instead).
    */
  def signature(shingles: Column, k: Int): Column = {
    val hs = transform(shingles, s => xxhash64(s))
    array((0 until k).map(i =>
      array_min(transform(hs, h => graft.functions.MixHash64.mix(h, i)))): _*)
  }

  /** Jaccard estimate from two signatures: fraction of agreeing slots. */
  def estimateJaccard(sigA: Column, sigB: Column, k: Int): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") / k

  /** Near-dup pairs with estimated (and optionally exact) Jaccard.
    *
    * @param n          character-shingle width
    * @param k          minhashes (signature length)
    * @param bands      LSH bands (k % bands == 0)
    * @param threshold  min Jaccard to keep
    * @param exact      verify candidates with exact shingle-set Jaccard
    *                   (array_intersect on the pair row) instead of the
    *                   signature estimate
    * @param maxBucket  drop band buckets holding more than this many
    *                   distinct signatures (hot-band guard; default
    *                   unlimited = recall-complete — see bandedCandidates)
    */
  def nearDupPairs(df: DataFrame, id: Column, text: Column, n: Int = 3,
                   k: Int = 128, bands: Int = 32, threshold: Double = 0.7,
                   exact: Boolean = true,
                   shingler: (Column, Int) => Column = ShingleJaccard.charShingles,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands

    // Explode + k codegen'd min-aggregates instead of per-row array
    // transforms: higher-order functions (transform/aggregate) are
    // interpreted expressions outside whole-stage codegen — on a large
    // corpus the explode/agg form is several times faster and spills
    // safely. One shuffle on the doc id.
    // note: measured at sf0.1 — checkpointing this exploded frame to
    // share it between the signature and rerank branches does NOT help;
    // native shingling is cheap enough that recomputation beats
    // materialization
    val ex = df.select(id.as("__id"), explode(shingler(text, n)).as("__sh"))
    // base hash once per exploded shingle; the k permutations are cheap
    // long mixes applied inside ONE signature aggregate (MinHashAgg) —
    // k separate min() agg columns compile to a huge janino class and
    // dominate cold-run time. Catalyst prunes __sh away on the
    // signature branch and __h away on the rerank branch.
    val hashed = ex.select(col("__id"), xxhash64(col("__sh")).as("__h"))
    val sig = hashed.groupBy("__id")
      .agg(graft.functions.MinHashAgg.minhash(col("__h"), k).as("__sig"))

    // band hash = one multi-arg xxhash64 over the band's signature
    // slots — no intermediate arrays; banded rows carry (gid, bandHash).
    val bandCols = (0 until bands).map { bd =>
      xxhash64((lit(bd) +:
        (bd * r until (bd + 1) * r).map(i => col("__sig").getItem(i))): _*)
    }
    // candidate pairs are tiny (two ids per row) but feed three plan
    // branches — materialize once (lazy cut) so the band join does not
    // re-execute per branch (measured: relying on ReuseExchange
    // instead is ~0.5s slower here — the three consumer subtrees
    // diverge after optimization and re-execute)
    val cand = GraftBridge.persistCut(
      bandedCandidates(sig, Seq(col("__sig")), bandCols, maxBucket))

    // attach payloads to the (few) surviving candidate pairs only (see
    // exactRerank for the candidate-proportional shape)
    val scored = if (exact) {
      exactRerank(cand, df, id, text, shingler, n)
    } else {
      cand
        .join(sig.select(col("__id").as("id1"), col("__sig").as("__sig1")), "id1")
        .join(sig.select(col("__id").as("id2"), col("__sig").as("__sig2")), "id2")
        .withColumn("jaccard", estimateJaccard(col("__sig1"), col("__sig2"), k))
    }

    scored.filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Hot-band-guarded candidate generation, shared by the xxhash64 and
    * portable paths. `sig` is a per-document signature frame keyed by
    * `__id`; `sigCols` is the signature representation (one array
    * column, or k scalar min columns for the portable form); `bandKeys`
    * are the band-hash expressions over those columns.
    *
    * Identical signatures (exact-duplicate documents — the pathological
    * bucket case: m identical docs used to put m rows in every one of
    * their `bands` buckets, m²·bands raw join rows) collapse to ONE
    * banding representative per distinct signature; the band join is
    * then linear in distinct signatures. Member pairs come back via an
    * output-proportional expansion: intra-group pairs share every band
    * by construction, and a cross-group pair is a candidate iff its
    * group pair shares a band (band keys are functions of the signature
    * alone). The candidate set is identical to the uncollapsed join.
    *
    * `maxBucket` (default unlimited = recall-complete) drops band
    * buckets holding more than that many DISTINCT signatures — the
    * boilerplate-band guard. A pair pruned from a hot bucket is still
    * found through any other shared band.
    */
  private def bandedCandidates(sig: DataFrame, sigCols: Seq[Column],
                               bandKeys: Seq[Column], maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the (id, signature, group) frame feeds SIX plan branches (band
    // sides, both cross-expansion sides, both intra sides) — without a
    // barrier each branch re-runs the signature aggregate above the
    // reused exchange; materialize it once (k longs per doc, compact)
    val members = GraftBridge.persistCut(sig.withColumn("__gid",
      min(col("__id")).over(Window.partitionBy(sigCols: _*))))
    val groups = members.filter(col("__id") === col("__gid"))
    val banded = groups.select(col("__gid"), explode(array(bandKeys: _*)).as("__bh"))
    val guarded =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__bh"))))
        .filter(col("__n") <= maxBucket).drop("__n")
    val aB = guarded.select(col("__gid").as("__g1"), col("__bh"))
    val bB = guarded.select(col("__gid").as("__g2"), col("__bh"))
    val candG = aB.join(bB, aB("__bh") === bB("__bh") && col("__g1") < col("__g2"))
      .select("__g1", "__g2").dropDuplicates("__g1", "__g2")
    val mem = members.select(col("__id").as("__mid"), col("__gid"))
    val cross = candG
      .join(mem.select(col("__mid").as("__i1"), col("__gid").as("__g1")), "__g1")
      .join(mem.select(col("__mid").as("__i2"), col("__gid").as("__g2")), "__g2")
      .select(least(col("__i1"), col("__i2")).as("id1"),
        greatest(col("__i1"), col("__i2")).as("id2"))
    val intra = mem.select(col("__mid").as("id1"), col("__gid").as("__g"))
      .join(mem.select(col("__mid").as("id2"), col("__gid").as("__g")), "__g")
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    cross.unionByName(intra)
  }

  /** Exact shingle-set Jaccard for candidate pairs, computed per
    * DISTINCT DOCUMENT CONTENT and expanded back to id pairs.
    *
    * Documents are semi-joined against the candidate ids BEFORE
    * re-shingling — the rerank explode runs over candidate docs only,
    * not the corpus. On top of that, candidate docs are collapsed by a
    * content digest first: exact duplicates (the dominant candidate
    * shape in any real corpus — and the pathological one, since m
    * copies produce m²/2 member pairs) share their shingle set by
    * construction, so the explode + collect_set runs once per distinct
    * text and the array_intersect once per distinct CONTENT pair; the
    * member-pair expansion is a cheap digest-keyed join. Jaccard
    * depends only on content, so the output is identical to scoring
    * every member pair directly. A pair whose either side has an empty
    * shingle set drops in both forms (inner join against the set
    * frame). Shared by the xxhash64 and portable paths.
    */
  private def exactRerank(cand: DataFrame, df: DataFrame, id: Column, text: Column,
                          shingler: (Column, Int) => Column, n: Int): DataFrame = {
    val candIds = cand.select(col("id1").as("__id"))
      .unionAll(cand.select(col("id2").as("__id"))).distinct()
    // spread before the semi-join: when the candidate list broadcasts,
    // the surviving rows' sha2 + shingle explode inherit the scan's
    // partitioning (one task on single-row-group local fixtures);
    // no-op on multi-split inputs. Set/count aggregates downstream
    // are order-invariant.
    val dfS = org.apache.spark.sql.GraftBridge.spreadForMapWork(df.toDF(), id)
    val keyed = dfS.select(id.as("__id"), text.as("__text"))
      .join(candIds, Seq("__id"), "left_semi")
      .withColumn("__ck", sha2(col("__text").cast("binary"), 256))
    val idKey = keyed.select(col("__id"), col("__ck"))
    val sets = keyed.dropDuplicates("__ck")
      .select(col("__ck"), explode(shingler(col("__text"), n)).as("__sh"))
      .groupBy("__ck").agg(collect_set(col("__sh")).as("__shs"))
    val candK = cand
      .join(idKey.select(col("__id").as("id1"), col("__ck").as("__ck1")), "id1")
      .join(idKey.select(col("__id").as("id2"), col("__ck").as("__ck2")), "id2")
    val inter = size(array_intersect(col("__sh1"), col("__sh2")))
    val pairScores = candK.select(col("__ck1"), col("__ck2")).dropDuplicates()
      .join(sets.select(col("__ck").as("__ck1"), col("__shs").as("__sh1")), "__ck1")
      .join(sets.select(col("__ck").as("__ck2"), col("__shs").as("__sh2")), "__ck2")
      .select(col("__ck1"), col("__ck2"),
        (inter.cast("double") /
          (size(col("__sh1")) + size(col("__sh2")) - inter)).as("jaccard"))
    candK.join(pairScores, Seq("__ck1", "__ck2"))
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  // ---- engine-portable variant (oracle-checkable end to end) ---------

  /** 0-15 value of one lowercase-hex char (portable: CASE + ascii). */
  private def nib(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  /** 32-bit base hash of a string: first 8 hex chars of md5, Horner-
    * folded — BIGINT arithmetic only, identical in any engine with
    * md5/ascii/substring (no engine-private hash constants). The SQL
    * oracle mirrors that hex/Horner form; the Scala side computes the
    * SAME VALUE through [[graft.functions.PortableHash32]] (big-endian
    * unsigned int of the first 4 digest bytes): one digest + 4 shifts
    * inside whole-stage codegen, instead of 8 substring/ascii/CASE
    * nibble extractions whose repeated md5 subtree is NOT eliminated
    * in Filter codegen (optimization round 18, guide §4; bit-equality
    * pinned in PortableHash32Spec).
    */
  def portableHash32(s: Column): Column =
    graft.functions.PortableHash32(s.cast("binary"))

  /** The pre-r18 builtin-only form of [[portableHash32]] — kept as the
    * reference the equality spec checks the codegen expression against.
    */
  private[graft] def portableHash32Reference(s: Column): Column = {
    val h = md5(s.cast("binary"))
    // long accumulator from the start — an int Horner chain overflows
    // 32-bit arithmetic (ANSI error) before any widening cast
    (1 to 8).map(j => nib(substring(h, j, 1)))
      .foldLeft(lit(0L))((acc, d) => acc * 16 + d)
  }

  /** Slot constants: odd multiplier < 2^31 and addend < 2^32, from
    * splitmix64 of the slot index — (h*a+b) stays under 2^63, so the
    * mix needs no wrapping arithmetic anywhere.
    */
  def portableMul(i: Int): Long =
    (graft.functions.MixHash64.splitmix64(2L * i + 1) & 0x7fffffffL) | 1L
  def portableAdd(i: Int): Long =
    graft.functions.MixHash64.splitmix64(2L * i + 2) & 0xffffffffL

  /** Persistable portable MinHash corpus state: one row per document —
    * `id` plus k signature slot columns `m0..m{k-1}` (BIGINTs in
    * [0, 2^32)). Write this frame to parquet once per corpus build;
    * incremental ingest then probes the STORED signatures
    * ([[incrementalNearDup]]) without ever re-reading corpus text.
    * Same math as [[nearDupPairsPortable]]'s signature stage — md5
    * Horner base hash, k affine slot permutations — so the state is
    * engine-portable and oracle-checkable.
    */
  def portableSignatures(df: DataFrame, id: Column, text: Column,
                         n: Int = 3, k: Int = 8): DataFrame = {
    val mod = 1L << 32
    // spread before the shingle explode + per-shingle md5 (the most
    // expensive map work in the minhash family) — a single-row-group
    // local scan serializes it on one core; no-op on multi-split
    // inputs. The slot minima are order-invariant.
    val dfS = org.apache.spark.sql.GraftBridge.spreadForMapWork(df.toDF(), id)
    val ex = dfS.select(id.as("id"),
      explode(ShingleJaccard.wordShingles(text, n)).as("__sh"))
    val hashed = ex.select(col("id"), portableHash32(col("__sh")).as("__h"))
    val minCols = (0 until k).map(i =>
      min((col("__h") * lit(portableMul(i)) + lit(portableAdd(i))) % mod).as(s"m$i"))
    hashed.groupBy("id").agg(minCols.head, minCols.tail: _*)
  }

  /** Band-key expressions over `<prefix>0..<prefix>{k-1}` signature
    * columns. The band INDEX is folded into the key, so keys from
    * different bands can never collide-match — the property the
    * streaming first-shared-band dedup relies on.
    */
  private[graft] def portableBandKeys(k: Int, bands: Int,
                                      prefix: String = "m"): Seq[Column] = {
    val r = k / bands
    (0 until bands).map { bd =>
      val parts = lit(bd.toString) +:
        (bd * r until (bd + 1) * r).map(i => col(s"$prefix$i").cast("string"))
      md5(concat_ws(",", parts: _*).cast("binary"))
    }
  }

  /** Per-ROW portable signature slot expressions over a shingle-array
    * column — the same minima as [[portableSignatures]] computed with
    * higher-order functions instead of an aggregation. Interpreted
    * (HOFs sit outside codegen) but STATELESS, which is what a
    * streaming plan needs: no groupBy, no shuffle, no watermark.
    */
  private[graft] def rowSignature(shingles: Column, k: Int): Seq[Column] = {
    val mod = 1L << 32
    val hs = transform(shingles, s => portableHash32(s))
    (0 until k).map(i =>
      array_min(transform(hs, h =>
        (h * lit(portableMul(i)) + lit(portableAdd(i))) % mod)))
  }

  /** MinHash+LSH near-dup pairs where EVERY step — base hash, slot
    * permutations, band keys, candidate join, exact-Jaccard rerank —
    * is expressible in portable ANSI-ish SQL, so the whole pipeline
    * can be oracle-checked bit-for-bit (gate query q45). The
    * xxhash64-based `nearDupPairs` remains the performance path (one
    * 64-bit hash vs an md5 per shingle); this variant trades hash
    * throughput for cross-engine reproducibility, e.g. when another
    * system must agree on WHICH documents were dropped.
    *
    * Mechanics: distinct word n-gram shingles → 32-bit portable hash →
    * k slot minima of (h*a_i + b_i) mod 2^32 → bands of r = k/b minima
    * md5'd into a band key → bucket join → exact shingle-set Jaccard.
    */
  def nearDupPairsPortable(df: DataFrame, id: Column, text: Column, n: Int = 3,
                           k: Int = 8, bands: Int = 4,
                           threshold: Double = 0.5,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val sig = portableSignatures(df, id, text, n, k)
      .withColumnRenamed("id", "__id")
    val bandCols = portableBandKeys(k, bands)
    val sigCols = (0 until k).map(i => col(s"m$i"))
    val cand = GraftBridge.persistCut(
      bandedCandidates(sig, sigCols, bandCols, maxBucket))

    exactRerank(cand, df, id, text, ShingleJaccard.wordShingles, n)
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Batch SELF near-dup from the signature table alone: banded
    * candidates over (id, m0..m{k-1}) scored by SLOT AGREEMENT
    * (agreeing slots / k — exact multiples of 1/k, engine-portable,
    * oracle-checkable with one integer compare: est ≥ t ⇔ agree ≥
    * t·k). This is [[incrementalNearDup]]'s estimate discipline turned
    * on one corpus against itself — the composed-pipeline form (gate
    * q215), where the candidate set is dominated by true duplicates
    * and re-shingling every candidate for an exact rerank
    * ([[nearDupPairsPortable]], pinned by q45) costs more than the
    * decision is worth: text is never touched past the signature
    * build. Output: (id1 < id2, est_jaccard).
    */
  def selfNearDupEstimate(sigs: DataFrame, k: Int = 8, bands: Int = 4,
                          threshold: Double = 0.5,
                          maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val sig = sigs.withColumnRenamed("id", "__id")
    val sigCols = (0 until k).map(i => col(s"m$i"))
    val cand = GraftBridge.persistCut(
      bandedCandidates(sig, sigCols, portableBandKeys(k, bands), maxBucket))
    val est = (0 until k)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    cand
      .join(sigs.select(col("id").as("id1") +:
        (0 until k).map(i => col(s"m$i").as(s"__a$i")): _*), "id1")
      .join(sigs.select(col("id").as("id2") +:
        (0 until k).map(i => col(s"m$i").as(s"__b$i")): _*), "id2")
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("est_jaccard"))
  }

  /** Incremental near-dup detection: documents of `newBatch` probed
    * against an EXISTING corpus's stored signature table
    * ([[portableSignatures]] schema `(id, m0..m{k-1})`, typically read
    * back from parquet) — the daily-ingest analogue of
    * `ExactDedup.incremental`, upgraded from content identity to
    * near-duplicate similarity. The corpus is never re-read, never
    * re-shingled: only the new batch is signatured; band keys on both
    * sides derive from signatures alone, and the score is the
    * slot-agreement Jaccard ESTIMATE (agreeing slots / k — exact
    * multiples of 1/k, so bit-reproducible and oracle-checkable; run
    * an exact rerank over the returned pairs if exact scores are
    * needed, they are candidate-proportional).
    *
    * Output: (new_id, corpus_id, est_jaccard ≥ threshold).
    *
    * Scale: the stored state is k longs per corpus doc; the band join
    * shuffles (band-hash, id) rows — linear in corpus size, and in
    * practice the corpus band table is itself precomputable. The
    * `maxBucket` guard drops corpus band buckets above the cap
    * (boilerplate bands), bounding any bucket's contribution to
    * |new| · maxBucket.
    */
  def incrementalNearDup(newBatch: DataFrame, id: Column, text: Column,
                         corpusSigs: DataFrame, n: Int = 3, k: Int = 8,
                         bands: Int = 4, threshold: Double = 0.5,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    import org.apache.spark.sql.expressions.Window
    val bandKeys = portableBandKeys(k, bands)
    // feeds the band join AND the estimate join
    val newSigs = GraftBridge.persistCut(portableSignatures(newBatch, id, text, n, k))
    val nb = newSigs.select(col("id").as("__nid"),
      explode(array(bandKeys: _*)).as("__bh"))
    val cbAll = corpusSigs.select(col("id").as("__cid"),
      explode(array(bandKeys: _*)).as("__bh"))
    val cb =
      if (maxBucket == Int.MaxValue) cbAll
      else cbAll
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__bh"))))
        .filter(col("__n") <= maxBucket).drop("__n")
    val cand = nb.join(cb, "__bh")
      .select(col("__nid"), col("__cid")).dropDuplicates()
    val est = (0 until k)
      .map(i => when(col(s"__nm$i") === col(s"__cm$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    cand
      .join(newSigs.select(col("id").as("__nid") +:
        (0 until k).map(i => col(s"m$i").as(s"__nm$i")): _*), "__nid")
      .join(corpusSigs.select(col("id").as("__cid") +:
        (0 until k).map(i => col(s"m$i").as(s"__cm$i")): _*), "__cid")
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select(col("__nid").as("new_id"), col("__cid").as("corpus_id"),
        col("est_jaccard"))
  }

  /** Banding-parameter S-curve table — the planning step BEFORE any
    * corpus pass: which (bands, r) splits of k minhashes put the
    * candidate-probability knee where the dedup policy wants it.
    *
    * For each candidate band count b (must divide k; r = k/b) and each
    * Jaccard grid point j, the table holds
    * P(candidate) = 1 − (1 − j^r)^b evaluated ON AN INTEGER
    * PARTS-PER-MILLION GRID with a floor after every multiplication —
    * the rational-arithmetic discipline (q99/q101's) that makes the
    * curve identical in any engine with 64-bit integer division,
    * instead of trusting cross-engine `pow` to round doubles the same
    * way. Grid error is bounded: each of the r+b−2 floors discards
    * < 1 ppm of a product of values ≤ 1, so p_ppm sits within
    * (r+b)·10⁻⁶ of the real-valued curve — three decimal digits of
    * slack for any realistic (k, b), far tighter than the 5-percentage-
    * point j grid a planner actually reads.
    *
    * Reading the table: the j where p crosses ~½ is the effective
    * dedup threshold of that (b, r) choice (for k=128: b=32 → ~0.38,
    * b=16 → ~0.67, b=8 → ~0.86); mass under the curve left of the
    * policy threshold is wasted verification work (false candidates),
    * mass above 1−p right of it is missed recall. Pick the b whose
    * knee brackets the policy threshold, then confirm with recall
    * measured on the corpus at hand — the table is arithmetic, not a
    * measurement.
    *
    * Output: (bands, r, j_ppm, p_ppm), all BIGINT.
    */
  def bandingPlan(s: org.apache.spark.sql.SparkSession, k: Int,
                  bandOptions: Seq[Int], jStepPpm: Int = 50000): DataFrame = {
    require(bandOptions.nonEmpty, "bandingPlan: no band options")
    bandOptions.foreach(b => require(b >= 1 && k % b == 0,
      s"bandingPlan: bands=$b must divide k=$k"))
    require(jStepPpm >= 1 && jStepPpm < 1000000,
      s"bandingPlan: jStepPpm in [1, 1e6), got $jStepPpm")
    import s.implicits._
    val grid = bandOptions.flatMap { b =>
      (1 until 1000000 / jStepPpm).map(j =>
        (b.toLong, (k / b).toLong, j.toLong * jStepPpm))
    }.toDF("bands", "r", "j_ppm")
    // x^e on the ppm grid as a fold over e−1 dummy steps (array_repeat
    // yields the empty array at e=1, where the fold is the identity).
    // The double division inside is exact: products stay < 1e12 and
    // quotients < 1e6, orders of magnitude inside IEEE-exact range
    // (the rankGrid argument).
    def powFloorPpm(base: Column, exp: Column): Column =
      aggregate(
        array_repeat(lit(1), (exp - lit(1)).cast("int")),
        base,
        (acc, _) => floor(acc * base / lit(1000000.0)).cast("long"))
    grid
      .withColumn("__jr", powFloorPpm(col("j_ppm"), col("r")))
      .withColumn("p_ppm",
        lit(1000000L) - powFloorPpm(lit(1000000L) - col("__jr"), col("bands")))
      .select(col("bands"), col("r"), col("j_ppm"), col("p_ppm"))
  }
}
