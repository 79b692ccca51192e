package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** 64-bit SimHash near-duplicate fingerprinting.
  *
  * Each token hashes to 64 bits; bit i of the document fingerprint is
  * the sign of Σ_tokens (±1 for bit i of the token hash). Near-dups have
  * small Hamming distance between fingerprints.
  *
  * Spark shape: explode tokens → ONE hash-aggregate with 64 codegen'd
  * conditional sums → fingerprint assembly. Candidate pairing at scale
  * uses the pigeonhole trick: split 64 bits into `bands` chunks — any
  * pair within Hamming distance `bands - 1` shares ≥1 exact chunk, so a
  * chunk-equality bucket join finds all such pairs with a linear
  * shuffle; `bit_count(xor)` then gives the exact distance.
  */
object SimHash {

  /** (id, simhash) per document — one custom TypedImperativeAggregate
    * (graft.functions.SimHashAgg) rather than 64 conditional sums: the
    * wide-sum form exceeds codegen field limits and drops the whole
    * stage to interpreted execution.
    */
  def fingerprints(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), explode(TextAnalysis.tokens(text)).as("__t"))
      .groupBy("__id")
      .agg(graft.functions.SimHashAgg.simhash(xxhash64(col("__t"))).as("simhash"))
      .select(col("__id").as("id"), col("simhash"))

  /** Pigeonhole band join + exact Hamming filter over a fingerprint
    * frame (id, <fpCol>). `chunk(col, b)` extracts band b's chunk from
    * the named fingerprint column (applied to the fp frame AND to both
    * pair sides for the first-shared-band dedup) — the only piece that
    * differs between the 64-bit shift form and the 32-bit portable div
    * form. Complete for
    * maxDist < bands (recall-complete; `maxBucket` can trade that off,
    * below). Shared by both variants, so fixes (like the band-column
    * disambiguation) live in one place.
    *
    * Hot-band guard: the band join runs over DISTINCT fingerprints
    * only. Identical documents are the pathological bucket case — a
    * group of m exact duplicates used to contribute m²·bands raw join
    * rows before dropDuplicates; collapsed, it contributes ONE banding
    * row, and its member pairs come back via an output-proportional
    * expansion (intra-group pairs are Hamming 0 by construction;
    * cross-group pairs inherit the Hamming of their fingerprint pair,
    * since every member shares the group's exact fingerprint). The
    * output pair set is identical to the uncollapsed join.
    *
    * `maxBucket` (default unlimited, keeping recall completeness)
    * additionally drops band buckets holding more than that many
    * DISTINCT fingerprints — the boilerplate-band case (a license
    * header pinning one chunk across a huge corpus slice). Pairs in a
    * dropped bucket are still found through any other band they share,
    * so the cap degrades recall only for pairs whose every shared band
    * is hot.
    */
  private def bandedPairs(fps: DataFrame, fpCol: String, bands: Int,
                          chunk: (String, Int) => Column, maxDist: Int,
                          maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = array((0 until bands).map { b =>
      struct(lit(b).as("band"), chunk(fpCol, b).as("chunk"))
    }: _*)
    // the fingerprint frame feeds six plan branches (distinct→band
    // sides, both expansion sides, both intra sides); materialize it
    // once — 16 bytes per doc — so the fingerprint aggregation is not
    // re-run per branch
    val fpsM = GraftBridge.persistCut(fps)
    val banded = fpsM.select(col(fpCol)).distinct().withColumn("__bc", explode(chunks))
    val guarded =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__bc"))))
        .filter(col("__n") <= maxBucket).drop("__n")
    val a = guarded.select(col(fpCol).as("__f1"), col("__bc").as("__bc1"))
    val b2 = guarded.select(col(fpCol).as("__f2"), col("__bc").as("__bc2"))
    val joined = a
      .join(b2, col("__bc1") === col("__bc2") && col("__f1") < col("__f2"))
    // a qualifying pair matches in one band per shared chunk, so the
    // raw join emits it up to `bands` times. With no bucket cap every
    // shared band survives the guard, so "this row's band is the
    // pair's FIRST shared band" is a row-local scalar dedup — the
    // dropDuplicates shuffle of the pair stream (the dominant term of
    // the quadratic-output gates at ×100) disappears. With a cap the
    // first shared band may sit in a dropped bucket, so fall back to
    // the shuffle dedup.
    val deduped =
      if (maxBucket == Int.MaxValue) {
        val minBand = (0 until bands).foldRight(lit(bands): Column) {
          (b, rest) =>
            when(chunk("__f1", b) === chunk("__f2", b), lit(b)).otherwise(rest)
        }
        joined.filter(col("__bc1.band") === minBand)
      } else joined.dropDuplicates("__f1", "__f2")
    val fpPairs = deduped
      .withColumn("hamming",
        bit_count(col("__f1").bitwiseXOR(col("__f2"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("__f1"), col("__f2"), col("hamming"))
    val m1 = fpsM.select(col("id").as("__i1"), col(fpCol).as("__f1"))
    val m2 = fpsM.select(col("id").as("__i2"), col(fpCol).as("__f2"))
    // shuffle-hash build on the id-map sides: the pair stream is the
    // quadratic-OUTPUT term (pairs grow with near-dup cluster sizes²,
    // the corpus-proportional fp map does not), so a sort-merge join
    // would SORT the larger side twice — once per expansion — while a
    // per-partition hash of the fp map streams the pairs unsorted.
    // Same rows either way; the build side is the one partition
    // sizing governs at corpus scale.
    val cross = fpPairs
      .join(m1.hint("shuffle_hash"), "__f1")
      .join(m2.hint("shuffle_hash"), "__f2")
      .select(least(col("__i1"), col("__i2")).as("id1"),
        greatest(col("__i1"), col("__i2")).as("id2"), col("hamming"))
    val intra = fpsM.select(col("id").as("id1"), col(fpCol).as("__f"))
      .join(fpsM.select(col("id").as("id2"), col(fpCol).as("__f")), "__f")
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(0L).as("hamming"))
    cross.unionByName(intra)
  }

  /** All pairs with Hamming(simhash) <= maxDist, found via the
    * pigeonhole band join (complete as long as bands > maxDist).
    */
  def nearDupPairs(df: DataFrame, id: Column, text: Column,
                   maxDist: Int = 3, bands: Int = 4,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bands > maxDist, "pigeonhole completeness needs bands > maxDist")
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // the fingerprint barrier lives inside bandedPairs (the collapse
    // introduced six consumers of this frame; ReuseExchange alone only
    // dedupes up to the exchange, re-running the final aggregate per
    // consumer)
    val fps = fingerprints(df, id, text)
    bandedPairs(fps, "simhash", bands,
      (c, b) => shiftrightunsigned(col(c), b * width).bitwiseAND(mask),
      maxDist, maxBucket)
  }

  // ---- engine-portable variant (oracle-checkable end to end) ---------

  /** 32-bit SimHash from the md5-derived portable token hash — every
    * step (token hash, per-bit votes, fingerprint assembly, chunk
    * bands, Hamming distance) expressible in portable SQL. The
    * explode-over-bits shape (tokens × 32 vote rows → two keyed aggs)
    * trades the SimHashAgg tight loop for exact cross-engine mirroring;
    * use `fingerprints` when only Spark needs the answer.
    */
  def fingerprintsPortable(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("__id"), explode(TextAnalysis.tokens(text)).as("__t"))
    val hashed = toks.select(col("__id"),
      MinHashLsh.portableHash32(col("__t")).as("__h"))
    val bits = array((0 until 32).map(b =>
      struct(lit(b).as("bit"), lit(1L << b).as("bv"))): _*)
    hashed.select(col("__id"), col("__h"), explode(bits).as("__b"))
      .select(col("__id"), col("__b.bit").as("__bit"), col("__b.bv").as("__bv"),
        expr("CASE WHEN (__h div __b.bv) % 2 = 1 THEN 1 ELSE -1 END").as("__vote"))
      .groupBy("__id", "__bit", "__bv")
      .agg(sum(col("__vote")).as("__v"))
      .groupBy("__id")
      .agg(sum(when(col("__v") >= 0, col("__bv")).otherwise(lit(0L))).as("simhash32"))
      .select(col("__id").as("id"), col("simhash32"))
  }

  /** Pigeonhole band join + exact Hamming over the portable 32-bit
    * fingerprints (complete for maxDist < bands, as above). The chunk
    * extraction uses integer division rather than shifts because the
    * oracle SQL mirrors it with `//`.
    */
  def nearDupPairsPortable(df: DataFrame, id: Column, text: Column,
                           maxDist: Int = 3, bands: Int = 4,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bands > maxDist, "pigeonhole completeness needs bands > maxDist")
    require(32 % bands == 0, "bands must divide 32")
    val width = 32 / bands
    val fps = fingerprintsPortable(df, id, text)
    bandedPairs(fps, "simhash32", bands,
      (c, b) => expr(s"($c div ${1L << (b * width)}) % ${1L << width}"),
      maxDist, maxBucket)
  }
}
