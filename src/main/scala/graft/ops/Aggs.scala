package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.ExactSum

/** Aggregation / sort / top-k building blocks (SURVEY.md §2.5–2.6).
  *
  * Exactness discipline: double summation is order-dependent, and Spark's
  * partial aggregation order is nondeterministic — so any aggregate that
  * must hash-match a single-threaded oracle is computed over
  * DECIMAL(38,6) (exact, associative) and only cast back to double at
  * the end.
  *
  * The cast-and-add form `sum(cast(x as decimal(38,6)))` is not cheap:
  * per row it runs `Double.toString`, parses the string into a
  * BigDecimal and does a 38-digit add. Over 202k generated bed rows
  * (values k/2, 4% null; local[8] on 4 cores, warm, min of 8 runs) five
  * such sums grouped by week took 530 ms of task CPU, and 399 ms with no
  * key; a plain double sum grouped by week took 76 ms. `dsum` is
  * [[ExactSum]], which returns the same decimal with long
  * arithmetic (174 ms grouped, 61 ms with no key): a double with
  * |x| < 2^32 whose `u = rint(x·1e6)` divides back to x contributes `u`
  * (else the cast's own rounding of x), and larger, NaN or infinite
  * values go through Spark's `Sum` over the cast. What is left of the
  * grouped cost is mostly reading and writing the decimal(38,6) slot of
  * the hash-map buffer on every row.
  */
object Aggs {

  /** Order-independent exact sum: `sum(cast(c as decimal(38,6)))`. */
  def dsum(c: Column): Column =
    GraftBridge.column(ExactSum(GraftBridge.expression(c)).toAggregateExpression())

  /** Exact sum surfaced as double (deterministic: decimal → double is a
    * single well-defined rounding).
    */
  def dsumAsDouble(c: Column): Column = dsum(c).cast(DoubleType)

  /** Ratio-of-sums (SURVEY A5/A8, Reporting.py:118-119) as double: both
    * sums are exact decimals cast to double, then one IEEE division —
    * bitwise deterministic regardless of partitioning.
    */
  def ratioOfSums(num: Column, den: Column): Column =
    dsum(num).cast(DoubleType) / dsum(den).cast(DoubleType)

  /** Exact mean as double (A9, Reporting.py:259). */
  def davg(c: Column): Column =
    dsum(c).cast(DoubleType) / count(c)

  /** HyperLogLog++ distinct-count sketch (beyond-reference): the
    * 100 TB path for cardinality — mergeable, one pass, bounded error
    * (rsd). Exact countDistinct expands rows per aggregate; at scale
    * prefer this unless exactness is required.
    */
  def approxDistinct(c: Column, rsd: Double = 0.05): Column =
    approx_count_distinct(c, rsd)

  /** O2/O3: top-k by sort columns. Spark plans orderBy+limit as
    * TakeOrderedAndProject — per-partition heap + driver merge, no full
    * sort, no shuffle of the full data. Pass a deterministic total order
    * (include tie-breaker columns).
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Total order of a SMALL result (a few thousand rows, e.g. an
    * aggregate over weeks × ratings) on one partition: a global
    * `orderBy` costs a range-sampling job plus a shuffle, this sorts
    * the already-reduced rows in one task.
    */
  def sortSmall(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** GROUPED top-k via the mergeable bounded [[graft.functions.TopKAgg]]
    * aggregate — the scale form of `row_number() OVER (PARTITION BY g
    * ORDER BY score DESC, id) <= k`: the window shuffles and sorts the
    * whole fact table; this ships one ≤ k-entry buffer per (partition,
    * group) through the shuffle (ObjectHashAggregate, map-side
    * partial). Output: group columns + (rank, score, id), rank 1-based
    * strongest-first, score desc / id asc total order.
    */
  def groupedTopK(df: DataFrame, groups: Seq[Column], score: Column,
                  id: Column, k: Int,
                  rankName: String = "rank", scoreName: String = "score",
                  idName: String = "id"): DataFrame =
    df.groupBy(groups: _*)
      .agg(graft.functions.TopKAgg.topK(score, id, k).as("__topk"))
      .select(col("*"), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(groups ++ Seq(
        (col("__pos") + 1).cast("long").as(rankName),
        col("__e.score").as(scoreName),
        col("__e.id").as(idName)): _*)

  /** O5: top-k AND bottom-k in one result (Reporting.py:262-263), each
    * side tagged. Two TakeOrderedAndProject passes over the (small,
    * already-aggregated) input — at scale this is two cheap driver-side
    * merges, not two shuffles.
    */
  def topBottomK(df: DataFrame, k: Int, value: Column, tieBreaker: Column,
                 sideName: String = "side"): DataFrame = {
    val top = df.orderBy(value.desc, tieBreaker.asc).limit(k)
      .withColumn(sideName, lit("top"))
    val bottom = df.orderBy(value.asc, tieBreaker.asc).limit(k)
      .withColumn(sideName, lit("bottom"))
    top.unionAll(bottom)
  }
}
