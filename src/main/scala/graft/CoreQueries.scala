package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Aggs, Cleaning, Dedup, Validate}

/** The SURVEY.md §2 operator inventory, one oracle-checked query per
  * operator class, expressed over the testdata star schema (§7.1: the
  * hospital-domain pipeline lives in graft.aragon and is golden-tested;
  * these queries exercise the SAME generic operators where DuckDB can
  * oracle them).
  *
  * Determinism contract (driver hash-compares against DuckDB):
  *   - aggregates over doubles go through DECIMAL(38,6) (Aggs.dsum) so
  *     results are independent of partitioning / combine order;
  *   - ratios and means are ONE IEEE double division of two exact
  *     values — bitwise deterministic;
  *   - every result has a total ORDER BY (tie-breakers included);
  *   - column names match the oracle SQL exactly.
  */
object CoreQueries {

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String) = Tables.table(s, dir, name)

  /** S1/S2/P8 — pruned + filtered scan. Catalyst pushes both the filter
    * and the 4-column projection into the parquet scan (verified via
    * explain: PushedFilters + ReadSchema).
    */
  val q01 = Q(
    "q01_pruned_scan",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
        .filter($"l_quantity" > 45)
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem WHERE l_quantity > 45
            ORDER BY l_orderkey, l_linenumber"""))

  /** A2/O1/P4 — filtered grouped count by day, ordered (Reporting.py:36-41 shape). */
  val q02 = Q(
    "q02_daily_count",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_orderdate" < to_timestamp(lit("1997-01-01")))
        .groupBy(to_date($"o_orderdate").as("order_date"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"order_date")
    },
    Some("""SELECT CAST(o_orderdate AS DATE) AS order_date, count(*) AS n_orders
            FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1 ORDER BY 1"""))

  /** A1/A3/P13 — scalar multi-aggregate with filter + ROUND (Reporting.py:59-67 shape). */
  val q03 = Q(
    "q03_scalar_sums",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= to_timestamp(lit("1995-09-01")))
        .agg(
          count(lit(1)).as("n_rows"),
          round(Aggs.dsum($"l_quantity"), 2).cast(DoubleType).as("sum_qty"),
          Aggs.dsumAsDouble($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          Aggs.dsumAsDouble($"l_tax").as("sum_tax"))
    },
    Some("""SELECT count(*) AS n_rows,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
                   CAST(sum(CAST(l_tax AS DECIMAL(38,6))) AS DOUBLE) AS sum_tax
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-09-01'"""))

  /** A4/O2 — grouped sums, top-4 most recent, re-sorted ascending
    * (Reporting.py:84-106 shape). orderBy+limit plans as
    * TakeOrderedAndProject (no global sort).
    */
  val q04 = Q(
    "q04_group_sums_top4",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy(to_date($"l_shipdate").as("ship_date"))
        .agg(
          Aggs.dsumAsDouble($"l_quantity").as("sum_qty"),
          Aggs.dsumAsDouble($"l_extendedprice").as("sum_price"),
          Aggs.dsumAsDouble($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"ship_date".desc).limit(4)
        .orderBy($"ship_date")
    },
    Some("""SELECT * FROM (
              SELECT CAST(l_shipdate AS DATE) AS ship_date,
                     CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
                     count(*) AS n_items
              FROM lineitem GROUP BY 1 ORDER BY ship_date DESC LIMIT 4)
            ORDER BY ship_date"""))

  /** A5/A8/P14 — ratio-of-sums per group (Reporting.py:115-124 shape). */
  val q05 = Q(
    "q05_ratio_by_flag",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Aggs.ratioOfSums($"l_extendedprice" * (lit(1.0) - $"l_discount"), $"l_quantity")
            .as("rev_per_qty"),
          Aggs.dsumAsDouble($"l_extendedprice").as("sum_price"),
          count(lit(1)).as("n_items"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
                     / CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS rev_per_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** J1/J3 — filter-below-join + grouped agg over the join
    * (Reporting.py:214-218 shape). The dimension side (filtered
    * customers) is broadcast — no shuffle of the fact side.
    */
  val q06 = Q(
    "q06_join_agg",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      t(s, dir, "orders")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
             Aggs.dsumAsDouble($"o_totalprice").as("total_price"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** J2/A7 — 3-way dimension join + grouped count (Reporting.py:182-191
    * shape). Both dims broadcast; single shuffle for the final group-by.
    */
  val q07 = Q(
    "q07_threeway_join",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"r_name", $"n_name")
    },
    Some("""SELECT r_name, n_name, count(*) AS n_customers
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** D1/D2/D3 — anti-join dedup: incoming rows whose key is absent from
    * the existing snapshot (load_hhs.py:8-32 / load_quality.py:13-31,
    * unified per SURVEY §2.3).
    */
  val q08 = Q(
    "q08_anti_dedup",
    (s, dir) => {
      import s.implicits._
      val existing = t(s, dir, "orders").filter($"o_orderstatus" === "P")
        .select($"o_custkey".as("c_custkey"))
      Dedup.antiDedup(t(s, dir, "customer"), Seq("c_custkey"), existing)
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
            ORDER BY c_custkey"""))

  /** D4 — semi-join (the quarantined-duplicates complement). */
  val q09 = Q(
    "q09_semi_join",
    (s, dir) => {
      import s.implicits._
      val existing = t(s, dir, "orders").filter($"o_orderstatus" === "F")
        .select($"o_custkey".as("c_custkey"))
      Dedup.duplicatesOf(t(s, dir, "customer"), Seq("c_custkey"), existing)
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
            ORDER BY c_custkey"""))

  /** Intra-batch distinct (dropDuplicates leg of D1). */
  val q10 = Q(
    "q10_distinct",
    (s, dir) => {
      import s.implicits._
      Dedup.distinctOn(t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
            ORDER BY l_returnflag, l_linestatus"""))

  /** P9/P10/S9 — validate-split with per-group valid/invalid accounting
    * (load_hhs.py:104-127 guards + load summary counters).
    */
  val q11 = Q(
    "q11_validate_counts",
    (s, dir) => {
      import s.implicits._
      val preds = Validate.nonNegative(Seq("l_quantity", "l_tax")) :+
        ($"l_extendedprice" <= 30000.0)
      Validate.tagged(t(s, dir, "lineitem"), preds)
        .groupBy($"l_returnflag")
        .agg(count(when($"__valid", 1)).as("n_valid"),
             count(when(!$"__valid", 1)).as("n_invalid"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
                   count(CASE WHEN (coalesce(l_quantity >= 0, true)
                               AND coalesce(l_tax >= 0, true)
                               AND coalesce(l_extendedprice <= 30000.0, true)) THEN 1 END) AS n_valid,
                   count(CASE WHEN NOT (coalesce(l_quantity >= 0, true)
                               AND coalesce(l_tax >= 0, true)
                               AND coalesce(l_extendedprice <= 30000.0, true)) THEN 1 END) AS n_invalid
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** P5/P6/P7 — categorical remap + literal column (load_quality.py:102-107). */
  val q12 = Q(
    "q12_case_map",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "orders").withColumn("status_desc", $"o_orderstatus")
      val mapped = Cleaning.mapValues(base, "status_desc",
        Map("F" -> "FINISHED", "O" -> "OPEN", "P" -> "PENDING"),
        default = Some("UNKNOWN"))
      Cleaning.withLiteral(mapped, "src", "cms", StringType)
        .select($"o_orderkey", $"status_desc", $"src")
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
                   CASE o_orderstatus WHEN 'F' THEN 'FINISHED' WHEN 'O' THEN 'OPEN'
                        WHEN 'P' THEN 'PENDING' ELSE 'UNKNOWN' END AS status_desc,
                   'cms' AS src
            FROM orders ORDER BY o_orderkey"""))

  /** O5/A9 — grouped mean, then top-5 AND bottom-5 (Reporting.py:254-263). */
  val q13 = Q(
    "q13_topbottom",
    (s, dir) => {
      import s.implicits._
      val g = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(Aggs.davg($"c_acctbal").as("avg_bal"))
      Aggs.topBottomK(g, 5, col("avg_bal"), col("n_name"))
        .orderBy($"side", $"avg_bal", $"n_name")
    },
    Some("""WITH g AS (
              SELECT n_name,
                     CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(c_acctbal) AS avg_bal
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              GROUP BY n_name)
            SELECT * FROM (
              (SELECT n_name, avg_bal, 'top' AS side FROM g ORDER BY avg_bal DESC, n_name LIMIT 5)
              UNION ALL
              (SELECT n_name, avg_bal, 'bottom' AS side FROM g ORDER BY avg_bal, n_name LIMIT 5))
            ORDER BY side, avg_bal, n_name"""))

  /** Window functions (beyond-reference extension, SURVEY §2.7):
    * row_number + running sum per partition — one shuffle on the
    * partition key, sort within partitions.
    */
  val q14 = Q(
    "q14_window_running",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(
          $"o_custkey", $"o_orderkey",
          row_number().over(w).as("rn"),
          Aggs.dsum($"o_totalprice").over(wr).cast(DoubleType)
            .as("running_spend"))
        .orderBy($"o_custkey", $"rn")
    },
    Some("""SELECT o_custkey, o_orderkey,
                   row_number() OVER w AS rn,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS running_spend
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY o_custkey, rn"""))

  /** Distinct aggregation (beyond-reference, SURVEY §2.7): Spark plans
    * this as a two-phase expand+aggregate; exact, oracle-checkable.
    */
  val q15 = Q(
    "q15_distinct_agg",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
             countDistinct($"l_orderkey").as("n_orders"),
             count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Set operators (beyond-reference): INTERSECT / EXCEPT with set
    * (distinct) semantics on both engines.
    */
  val q16 = Q(
    "q16_set_ops",
    (s, dir) => {
      import s.implicits._
      val open = t(s, dir, "orders").filter($"o_orderstatus" === "O")
        .select($"o_custkey".as("k"))
      val fin = t(s, dir, "orders").filter($"o_orderstatus" === "F")
        .select($"o_custkey".as("k"))
      open.intersect(fin).withColumn("side", lit("both"))
        .unionAll(open.except(fin).withColumn("side", lit("open_only")))
        .orderBy($"side", $"k")
    },
    Some("""SELECT * FROM (
              SELECT k, 'both' AS side FROM (
                SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
                INTERSECT
                SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
              UNION ALL
              SELECT k, 'open_only' AS side FROM (
                SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
                EXCEPT
                SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'))
            ORDER BY side, k"""))

  /** String-function surface (beyond-reference): upper / substring /
    * concat / replace / length with identical dialect semantics.
    */
  val q17 = Q(
    "q17_string_funcs",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(
        $"o_orderkey",
        upper($"o_orderpriority").as("pri_upper"),
        substring($"o_orderpriority", 1, 3).as("pri3"),
        concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("tagged"),
        expr("replace(o_orderpriority, '-', '_')").as("pri_us"),
        length($"o_orderpriority").cast("long").as("pri_len"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey, upper(o_orderpriority) AS pri_upper,
                   substring(o_orderpriority, 1, 3) AS pri3,
                   concat(o_orderstatus, '-', o_orderpriority) AS tagged,
                   replace(o_orderpriority, '-', '_') AS pri_us,
                   length(o_orderpriority) AS pri_len
            FROM orders ORDER BY o_orderkey"""))

  /** ROLLUP grouping sets (beyond-reference). NULL ordering differs
    * between engines by default (Spark NULLS FIRST asc, DuckDB NULLS
    * LAST) — pinned explicitly on both sides.
    */
  val q18 = Q(
    "q18_rollup",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
             Aggs.dsumAsDouble($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  /** Date extraction + exact interpolated percentiles (beyond-reference).
    * Spark's `percentile` and DuckDB's `quantile_cont` both sort and
    * linearly interpolate — exact inputs, deterministic result.
    */
  val q19 = Q(
    "q19_dates_percentile",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy(year($"o_orderdate").as("order_year"))
        .agg(
          count(lit(1)).as("n_orders"),
          expr("percentile(o_totalprice, 0.5)").as("median_price"),
          expr("percentile(o_totalprice, 0.9)").as("p90_price"),
          max(month($"o_orderdate")).cast("long").as("max_month"),
          min(dayofmonth($"o_orderdate")).cast("long").as("min_day"))
        .orderBy($"order_year")
    },
    Some("""SELECT year(o_orderdate) AS order_year, count(*) AS n_orders,
                   quantile_cont(o_totalprice, 0.5) AS median_price,
                   quantile_cont(o_totalprice, 0.9) AS p90_price,
                   CAST(max(month(o_orderdate)) AS BIGINT) AS max_month,
                   CAST(min(day(o_orderdate)) AS BIGINT) AS min_day
            FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Array functions (beyond-reference): per-group collected sets,
    * sorted for determinism and joined to a string so the result hash
    * is representation-independent across engines.
    */
  val q21c = Q(
    "q21_array_funcs",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_orderkey" < 200)
        .groupBy($"l_orderkey")
        .agg(
          array_join(array_sort(collect_set($"l_linenumber")), ",").as("line_numbers"),
          size(collect_set($"l_suppkey")).cast("long").as("n_suppliers"))
        .orderBy($"l_orderkey")
    },
    Some("""SELECT l_orderkey,
                   array_to_string(list_sort(list(DISTINCT l_linenumber)), ',') AS line_numbers,
                   count(DISTINCT l_suppkey) AS n_suppliers
            FROM lineitem WHERE l_orderkey < 200
            GROUP BY l_orderkey ORDER BY l_orderkey"""))

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q21c)
}
