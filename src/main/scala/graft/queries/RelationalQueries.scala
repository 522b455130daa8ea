package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** TPC-H-style relational query surface over the star-schema tables.
  *
  * Scale notes (100 TB design):
  *  - Dimension tables (region/nation/supplier, and customer at typical
  *    star-schema ratios) broadcast on their files' sizes, the planner's
  *    call — no shuffle on the fact side while they fit its threshold.
  *  - Fact-fact joins (orders⋈lineitem) shuffle on the join key once;
  *    AQE handles skew splitting at runtime.
  *  - All aggregations are hash-based with map-side partial aggregation
  *    (Spark's HashAggregateExec partial→final) — network traffic is
  *    ∝ distinct groups, not rows.
  *  - Filters/projections are plain Catalyst expressions → pushed into
  *    the parquet scan (PushedFilters / narrow ReadSchema).
  */
object RelationalQueries {

  /** Exact money arithmetic: cast doubles-with-cents to DECIMAL so sums
    * are order-independent, then cast the final aggregate to DOUBLE.
    * Price magnitudes < 1e6 → DECIMAL(12,2); rates < 1 → DECIMAL(4,2).
    */
  private def m(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Long-backed decimal fast path for PLAIN sums: l_extendedprice
    * < 1e6 fits DECIMAL(8,2), whose sum type DECIMAL(18,2) stays on
    * Spark's long-backed Decimal representation (precision ≤ 18 —
    * `Decimal.compact`), skipping BigDecimal buffers entirely.
    * Headroom: the DECIMAL(18,2) cap is ±1e16 dollars; TPC-H at
    * SF 100k (~100 TB) is ~1.5e11 lineitem rows/group × ~3.8e4 avg
    * extendedprice ≈ 5.7e15 — under the cap with ~2× margin. PAST the
    * cap the failure is NOT graceful: the sum silently goes NULL
    * (non-ANSI, this session's default) or throws (ANSI) — so past
    * ~2× of 100 TB, or for product terms (whose result precision
    * exceeds 18 regardless of input width), use `m` — q1 measured
    * ~0.4 s faster at sf0.1 with the narrow base-price sum (Q1Probe,
    * SCALE_NOTES).
    */
  private def mNarrow(c: Column): Column = c.cast(DecimalType(8, 2))
  private def r(c: Column): Column = c.cast(DecimalType(4, 2))
  private val oneR: Column = lit(1).cast(DecimalType(4, 2))
  // SQL-side twins (DuckDB): keep precisions identical in spirit; the
  // exact intermediate precisions may differ between engines but the
  // values are exact either way, and only the final DOUBLE is compared.
  private val M = "DECIMAL(12,2)"
  private val R = "DECIMAL(4,2)"
  private def sqlM(x: String) = s"CAST($x AS $M)"
  private def sqlR(x: String) = s"CAST($x AS $R)"
  private val sqlOne = s"CAST(1 AS $R)"

  private def ts(s: String): Column = lit(s).cast("timestamp")

  // ---------------------------------------------------------------- q1
  /** r15 OPTIMIZATION (split-long money sums, guide §1.2 "per-task
    * work"): q1's wall was ONE task — the single-row-group scan fuses
    * with the partial aggregate, and the partial aggregate did ALL the
    * money arithmetic through BigDecimal (3 Decimal multiplies + a
    * double→Decimal cast per row; Q1Probe: the same agg over plain
    * doubles costs 0.22 s vs 1.04 s). Reformulated as EXACT integer
    * cents: round(x·100) longs, products as long multiplies, and every
    * money sum split into TWO primitive long sums (value div 1e6,
    * value mod 1e6) so the codegen'd aggregate buffers stay unboxed
    * longs — recombined and divided ONCE per group in DECIMAL(38),
    * where the arithmetic is exact and the final DOUBLE cast is the
    * same single correctly-rounded conversion the decimal form
    * produced. Value-identical (Q1ParProbe asserts cell-for-cell
    * double equality vs the decimal form; oracle unchanged).
    *
    * Rounding exactness: the data is 2-decimal; for x < 1e6 with two
    * decimals, x·100 sits within 1e-8 of an integer, so round() always
    * recovers the exact cents (the cast-to-DECIMAL(12,2) HALF_UP did
    * the same).
    *
    * Overflow headroom (the mNarrow ledger, now wider): worst addend
    * hi(charge) = charge_e6 div 1e6 ≤ 1.1e6·(price<1e6); at TPC-H
    * SF 100k (~100 TB, ~1.5e11 rows/group) Σhi ≈ 5.7e15 and
    * Σlo < 1.5e17 — both ~10³× under the 9.2e18 long cap, vs the ~2×
    * margin the previous DECIMAL(18,2) narrow sum shipped with.
    * Median A/B (interleaved ×7, sf0.1): 1.12 → 0.51 s.
    */
  private val q1 = QueryDef(
    "q1_pricing_summary",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val pc = expr("cast(round(l_extendedprice * 100) as bigint)")
      val dc = expr("cast(round(l_discount * 100) as bigint)")
      val tc = expr("cast(round(l_tax * 100) as bigint)")
      val disc = pc * (lit(100L) - dc)          // price·(1−d) at scale 4
      val charge = disc * (lit(100L) + tc)      // ·(1+t) at scale 6
      val K = lit(1000000L)
      val d38 = DecimalType(38, 0)
      // (c / K) is double division, exact here: c ≤ 1.2e12 < 2^53 and
      // the remainder keeps the true quotient ≥ 1e-6 away from the
      // next integer while the division's rounding error is ≤ ~1e-10 —
      // the truncating cast always lands on c div K.
      def split(c: Column, name: String) = Seq(
        sum((c / K).cast("bigint")).as(s"__${name}_hi"),
        sum(pmod(c, K)).as(s"__${name}_lo"))
      def rec(name: String, den: Long) =
        ((col(s"__${name}_hi").cast(d38) * 1000000L +
          col(s"__${name}_lo").cast(d38)) / den).cast("double")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (split(pc, "p") ++ split(disc, "d") ++ split(charge, "c")) ++ Seq(
            (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order")): _*)
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          rec("p", 100L).as("sum_base_price"),
          rec("d", 10000L).as("sum_disc_price"),
          rec("c", 1000000L).as("sum_charge"),
          col("avg_qty"), col("count_order"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        SUM(l_quantity) AS sum_qty,
        CAST(SUM(${sqlM("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
        CAST(SUM(${sqlM("l_extendedprice")} * ($sqlOne - ${sqlR("l_discount")})) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(${sqlM("l_extendedprice")} * ($sqlOne - ${sqlR("l_discount")}) * ($sqlOne + ${sqlR("l_tax")})) AS DOUBLE) AS sum_charge,
        SUM(l_quantity) / COUNT(*) AS avg_qty,
        CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus"""),
    headline = true)

  // ---------------------------------------------------------------- q3
  private val q3 = QueryDef(
    "q3_top_orders",
    (s, d) => {
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).where(col("o_orderdate") < ts("1998-06-01"))
      val l = Tables.lineitem(s, d).where(col("l_shipdate") > ts("1998-06-01"))
      // orders⋈lineitem shuffles once on the order key.
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        // hint kept: c is a filter, priced at the customer scan's size
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(m(col("l_extendedprice")) * (oneR - r(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some(s"""
      SELECT l_orderkey, o_orderdate,
        CAST(SUM(${sqlM("l_extendedprice")} * ($sqlOne - ${sqlR("l_discount")})) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""),
    headline = true)

  // ---------------------------------------------------------------- q5
  private val q5 = QueryDef(
    "q5_region_revenue",
    (s, d) => {
      val region = Tables.region(s, d).where(col("r_name") === "ASIA")
      val nation = Tables.nation(s, d)
      val cust = Tables.customer(s, d)
      val supp = Tables.supplier(s, d)
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= ts("1996-01-01") &&
               col("o_orderdate") < ts("1998-01-01"))
      val li = Tables.lineitem(s, d)
      // dims (region→nation→supplier/customer) are base-table scans,
      // sized by their files, so the planner broadcasts them while they
      // fit; the single shuffle is lineitem⋈orders on the order key.
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(m(col("l_extendedprice")) * (oneR - r(col("l_discount"))))
          .cast("double").as("revenue"))
    },
    Some(s"""
      SELECT n_name,
        CAST(SUM(${sqlM("l_extendedprice")} * ($sqlOne - ${sqlR("l_discount")})) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name"""),
    headline = true)

  // ------------------------------------------------------ dim chain
  private val qDim = QueryDef(
    "q_region_order_stats",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val rg = Tables.region(s, d)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(rg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(m(col("o_totalprice"))).cast("double").as("total_revenue"))
    },
    Some("""
      SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
      FROM orders, customer, nation, region
      WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        AND n_regionkey = r_regionkey
      GROUP BY r_name"""))

  // ------------------------------------------------------------ semi/anti
  private val qSemi = QueryDef(
    "q_semi_join_big_spenders",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).where(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },
    Some("""
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
      GROUP BY c_mktsegment"""))

  private val qAnti = QueryDef(
    "q_anti_join_inactive",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).where(col("o_orderdate") >= ts("2000-01-01"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
    },
    Some("""
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      GROUP BY c_nationkey"""))

  // ------------------------------------------------------- outer join
  private val qOuter = QueryDef(
    "q_order_count_histogram",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
    },
    Some("""
      WITH per_cust AS (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey)
      SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM per_cust GROUP BY n_orders"""))

  // ---------------------------------------------------------- windows
  private val qWinTop = QueryDef(
    "q_window_top3_per_supplier",
    (s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
    },
    Some("""
      SELECT * FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
          ROW_NUMBER() OVER (PARTITION BY l_suppkey
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        FROM lineitem)
      WHERE rn <= 3"""))

  private val qWinRun = QueryDef(
    "q_window_running_qty",
    (s, d) => {
      // l_quantity appended: (orderkey, linenumber) is not unique, and
      // tied rows with differing quantities would make the running sum
      // tie-order-dependent; ties on the full key are output-identical.
      val order = Seq(col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_shipdate"))
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
    },
    Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, l_shipdate,
        SUM(l_quantity) OVER (PARTITION BY l_suppkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      FROM lineitem"""))

  // ------------------------------------------------------------- top-k
  private val qTopK = QueryDef(
    "q_topk_customers",
    (s, d) => {
      val o = Tables.orders(s, d)
      o.groupBy(col("o_custkey"))
        .agg(sum(m(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)
    },
    Some("""
      SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
      ORDER BY revenue DESC, o_custkey LIMIT 10"""))

  // ------------------------------------------------------------ set ops
  private val qIntersect = QueryDef(
    "q_setop_repeat_customers",
    (s, d) => {
      val o = Tables.orders(s, d)
      val y95 = o.where(col("o_orderdate") >= ts("1995-01-01") &&
        col("o_orderdate") < ts("1996-01-01"))
        .select(col("o_custkey").as("custkey"))
      val y96 = o.where(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1997-01-01"))
        .select(col("o_custkey").as("custkey"))
      y95.intersect(y96)
    },
    Some("""
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"""))

  private val qExcept = QueryDef(
    "q_setop_lapsed_customers",
    (s, d) => {
      val o = Tables.orders(s, d)
      val y95 = o.where(col("o_orderdate") >= ts("1995-01-01") &&
        col("o_orderdate") < ts("1996-01-01"))
        .select(col("o_custkey").as("custkey"))
      val later = o.where(col("o_orderdate") >= ts("2000-06-01"))
        .select(col("o_custkey").as("custkey"))
      y95.except(later)
    },
    Some("""
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'"""))

  // ------------------------------------------------------ distinct aggs
  private val qDistinct = QueryDef(
    "q_distinct_agg",
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_lines"))
    },
    Some("""
      SELECT l_returnflag,
        CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_returnflag"""))

  // ------------------------------------------------------ rollup / cube
  private val qRollup = QueryDef(
    "q_rollup_lineitem",
    (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty")),
    Some("""
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""))

  private val qCube = QueryDef(
    "q_cube_orders",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(m(col("o_totalprice"))).cast("double").as("revenue")),
    Some("""
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""))

  /** Explicit GROUPING SETS through the spark.sql interface — the one
    * declared query driven as SQL text rather than the DataFrame API,
    * pinning that surface too (temp view + ANSI SQL + grouping()
    * flags; rollup/cube above cover the DataFrame spellings).
    */
  private val qGroupingSets = QueryDef(
    "q_grouping_sets_orders",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS INT) AS g_status,
          CAST(grouping(o_orderpriority) AS INT) AS g_priority,
          COUNT(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority,
        CAST(grouping(o_orderstatus) AS INT) AS g_status,
        CAST(grouping(o_orderpriority) AS INT) AS g_priority,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""))

  /** Data-quality expectations audit (ops/Expectations.audit): five
    * declared checks over orders — null key, price range (the 400k cap
    * deliberately FAILS so the passed=0 path is exercised), status
    * enum, key uniqueness, customer referential integrity — fused into
    * ONE scan + ONE aggregate (FK membership rides a broadcast left
    * join; uniqueness rides the same scan as a distinct count).
    */
  private val qDqAudit = QueryDef(
    "q_dq_audit",
    (s, d) => {
      import graft.ops.Expectations._
      audit(Tables.orders(s, d), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", lit(0.0), lit(400000.0)),
        InSet("o_orderstatus", Seq("F", "O", "P")),
        Unique("o_orderkey"),
        ForeignKey("o_custkey", Tables.customer(s, d), "c_custkey",
          "customer")))
    },
    Some("""
      WITH base AS (
        SELECT o.*, c.c_custkey AS fk_cust
        FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
          CAST(SUM(CASE WHEN o_custkey IS NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS v0,
          CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
            AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
            THEN 1 ELSE 0 END) AS BIGINT) AS v1,
          CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('F', 'O', 'P')
            THEN 1 ELSE 0 END) AS BIGINT) AS v2,
          CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v3,
          CAST(SUM(CASE WHEN o_custkey IS NOT NULL AND fk_cust IS NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS v4
        FROM base)
      SELECT 'not_null(o_custkey)' AS check_name, v0 AS violations,
        total, CAST(CASE WHEN v0 = 0 THEN 1 ELSE 0 END AS INT) AS passed
      FROM agg
      UNION ALL SELECT 'in_range(o_totalprice)', v1, total,
        CAST(CASE WHEN v1 = 0 THEN 1 ELSE 0 END AS INT) FROM agg
      UNION ALL SELECT 'in_set(o_orderstatus)', v2, total,
        CAST(CASE WHEN v2 = 0 THEN 1 ELSE 0 END AS INT) FROM agg
      UNION ALL SELECT 'unique(o_orderkey)', v3, total,
        CAST(CASE WHEN v3 = 0 THEN 1 ELSE 0 END AS INT) FROM agg
      UNION ALL SELECT 'fk(o_custkey->customer.c_custkey)', v4, total,
        CAST(CASE WHEN v4 = 0 THEN 1 ELSE 0 END AS INT) FROM agg"""))

  /** Referential-integrity audit across the star schema
    * (Expectations.fkOrphans): orphan counts + ppm for all four FK
    * edges — the pre-join health check. One anti join per edge
    * against the distinct parent key (dimension keys broadcast); NULL
    * FKs are the NotNull check's job, not orphans.
    */
  private val qFkOrphans = QueryDef(
    "q_fk_orphans",
    (s, d) => graft.ops.Expectations.fkOrphans(Seq(
      ("orders->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"),
      ("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey"),
      ("lineitem->part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey"),
      ("lineitem->supplier", Tables.lineitem(s, d), "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"))),
    Some {
      def leg(edge: String, child: String, fk: String, parent: String,
          pk: String) = s"""
        SELECT '$edge' AS edge, CAST(COUNT(*) AS BIGINT) AS n_children,
          CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_orphans,
          CASE WHEN COUNT(*) > 0 THEN
            CAST((SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
              * 1000000) // COUNT(*) AS BIGINT) END AS orphan_ppm
        FROM $child c
        LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$fk = p.$pk
        WHERE c.$fk IS NOT NULL"""
      Seq(
        leg("orders->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        leg("lineitem->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        leg("lineitem->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        leg("lineitem->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey")).mkString(" UNION ALL ")
    })

  /** k-anonymity audit (ops/Privacy.kAnonymityAudit): cohort sizes of
    * the (nation, market segment) quasi-identifier combination over
    * customers, flagged against k=5 — one partial→final hash aggregate
    * over the QID tuple; the shuffle carries distinct combinations.
    */
  private val qKAnon = QueryDef(
    "q_k_anonymity",
    (s, d) => graft.ops.Privacy.kAnonymityAudit(
      Tables.customer(s, d), Seq("c_nationkey", "c_mktsegment"), k = 5L),
    Some("""
      SELECT c_nationkey, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(CASE WHEN COUNT(*) >= 5 THEN 1 ELSE 0 END AS INT) AS is_safe
      FROM customer GROUP BY 1, 2"""))

  /** l-diversity audit (ops/Privacy.lDiversityAudit): the disclosure
    * check k-anonymity alone misses — per (nation, segment) cohort,
    * how many DISTINCT account-balance bands its members span; a
    * large cohort with one band still reveals every member's band.
    * Sensitive attribute = floor(acctbal/2000) (coarse financial
    * band); one hash aggregate with a distinct-agg.
    */
  private val qLDiversity = QueryDef(
    "q_l_diversity",
    (s, d) => graft.ops.Privacy.lDiversityAudit(
      Tables.customer(s, d), Seq("c_nationkey", "c_mktsegment"),
      floor(col("c_acctbal") / 2000).cast("long"), l = 3L),
    Some("""
      SELECT c_nationkey, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT))
          AS BIGINT) AS n_sensitive,
        CAST(CASE WHEN COUNT(DISTINCT CAST(floor(c_acctbal / 2000)
          AS BIGINT)) >= 3 THEN 1 ELSE 0 END AS INT) AS is_diverse
      FROM customer GROUP BY 1, 2"""))

  /** t-closeness audit (ops/Privacy.tClosenessAudit): the
    * distributional check l-diversity misses — per (nation, segment)
    * cohort, the ordered EMD between the cohort's account-balance-band
    * distribution and the global one, as exact cross-multiplied
    * integer ppm (|cumC·N − cumG·n| summed over bands, ONE integral
    * division), flagged against t = 0.25. The oracle replays cohort
    * cums, global cums, and the HUGEINT arithmetic bit-for-bit.
    */
  private val qTCloseness = QueryDef(
    "q_t_closeness",
    (s, d) => graft.ops.Privacy.tClosenessAudit(
      Tables.customer(s, d), Seq("c_nationkey", "c_mktsegment"),
      floor(col("c_acctbal") / 2000).cast("long"), tPpm = 250000L),
    Some("""
      WITH base AS (
        SELECT c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 2000) AS BIGINT) AS b
        FROM customer),
      cb AS (
        SELECT c_nationkey, c_mktsegment, b, COUNT(*) AS c
        FROM base GROUP BY 1, 2, 3),
      gbc AS (
        SELECT b, SUM(g) OVER (ORDER BY b) AS cumg,
          SUM(g) OVER () AS n_total, COUNT(*) OVER () AS m
        FROM (SELECT b, COUNT(*) AS g FROM base GROUP BY 1)),
      coh AS (
        SELECT c_nationkey, c_mktsegment, SUM(c) AS n
        FROM cb GROUP BY 1, 2),
      grid AS (
        SELECT coh.c_nationkey, coh.c_mktsegment, coh.n, g.b, g.cumg,
          g.n_total, g.m, COALESCE(cb.c, 0) AS c
        FROM coh CROSS JOIN gbc g
        LEFT JOIN cb ON cb.c_nationkey = coh.c_nationkey
          AND cb.c_mktsegment = coh.c_mktsegment AND cb.b = g.b),
      cums AS (
        SELECT *, SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment
          ORDER BY b) AS cumc
        FROM grid),
      agg AS (
        SELECT c_nationkey, c_mktsegment, MAX(n) AS n,
          SUM(ABS(CAST(cumc AS HUGEINT) * n_total -
            CAST(cumg AS HUGEINT) * n)) AS num,
          MAX(n_total) AS nn, MAX(m) AS mm
        FROM cums GROUP BY 1, 2)
      SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
        CAST((num * 1000000) // (CAST(n AS HUGEINT) * nn *
          GREATEST(mm - 1, 1)) AS BIGINT) AS emd_ppm,
        CAST(CASE WHEN (num * 1000000) // (CAST(n AS HUGEINT) * nn *
          GREATEST(mm - 1, 1)) <= 250000 THEN 1 ELSE 0 END AS INT)
          AS is_close
      FROM agg"""))

  /** k-anonymity suppression (ops/Privacy.suppressBelowK): customers
    * re-released with the (nation, segment) QIDs nulled wherever the
    * cohort is smaller than 5 — row counts and non-QID columns intact.
    * The sub-k cohort list joins back null-safely (a NULL QID is a
    * cohort too: "withheld" is identifying).
    */
  private val qKAnonSuppress = QueryDef(
    "q_k_anon_suppress",
    (s, d) => graft.ops.Privacy.suppressBelowK(
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
      Seq("c_nationkey", "c_mktsegment"), k = 5L),
    Some("""
      WITH cohorts AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        FROM customer GROUP BY 1, 2)
      SELECT c.c_custkey,
        CASE WHEN co.n < 5 THEN NULL ELSE c.c_nationkey END AS c_nationkey,
        CASE WHEN co.n < 5 THEN NULL ELSE c.c_mktsegment END AS c_mktsegment
      FROM customer c JOIN cohorts co
        ON c.c_nationkey IS NOT DISTINCT FROM co.c_nationkey
        AND c.c_mktsegment IS NOT DISTINCT FROM co.c_mktsegment"""))

  /** Benford first-digit audit — the fraud/synthetic-data tripwire of
    * the DQ family: the leading-digit distribution of order totals vs
    * Benford's law, with the expected shares as a PINNED ×10⁶ integer
    * table (round(log10(1+1/d)·10⁶)) shared literally by both engines
    * (the nDCG discount trick — cross-engine log10 bit-identity never
    * assumed). FLOOR before the digit extraction on both sides:
    * DuckDB's decimal→int cast ROUNDS while Spark's truncates, the
    * kind of engine gap this suite exists to pin. One 9-row aggregate.
    */
  private val qBenford = QueryDef(
    "q_benford_digit",
    (s, d) => {
      val benford = typedLit(Seq(301030L, 176091L, 124939L, 96910L,
        79181L, 66947L, 57992L, 51153L, 45757L))
      val g = Tables.orders(s, d)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      g.crossJoin(g.agg(sum(col("n")).as("__t")))
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div __t").as("share_ppm"),
          element_at(benford, col("digit")).as("benford_ppm"))
        .withColumn("delta_ppm", col("share_ppm") - col("benford_ppm"))
    },
    Some("""
      WITH g AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
            AS VARCHAR), 1, 1) AS INT) AS digit,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1),
      t AS (SELECT SUM(n) AS tt FROM g)
      SELECT digit, n,
        CAST((n * 1000000) // tt AS BIGINT) AS share_ppm,
        CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
          WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
          WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
          ELSE 45757 END AS BIGINT) AS benford_ppm,
        CAST((n * 1000000) // tt - CASE digit WHEN 1 THEN 301030
          WHEN 2 THEN 176091 WHEN 3 THEN 124939 WHEN 4 THEN 96910
          WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992
          WHEN 8 THEN 51153 ELSE 45757 END AS BIGINT) AS delta_ppm
      FROM g, t"""))

  /** Snapshot profile drift (ops/Profiling.profileDrift): column-level
    * row/null/distinct counts of the pre-1995 orders snapshot vs the
    * full table, with null-rate delta and distinct-count ratio — the
    * schema-decay tripwire. One aggregate pass per snapshot (multi-
    * distinct in a single agg via Expand); the unpivot runs on the
    * 1-row aggregate, never on data.
    */
  private val qProfileDrift = QueryDef(
    "q_profile_drift",
    (s, d) => graft.ops.Profiling.profileDrift(
      Tables.orders(s, d).where(col("o_orderdate") < to_date(lit("1995-01-01"))),
      Tables.orders(s, d),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority")),
    Some("""
      WITH v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '1995-01-01'),
      p1 AS (
        SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows_v1,
          CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls_v1,
          CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_v1 FROM v1
        UNION ALL SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
          CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM v1
        UNION ALL SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
          CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM v1),
      p2 AS (
        SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows_v2,
          CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls_v2,
          CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_v2 FROM orders
        UNION ALL SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
          CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
          CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders)
      SELECT p1.col_name, n_rows_v1, n_nulls_v1, n_distinct_v1,
        n_rows_v2, n_nulls_v2, n_distinct_v2,
        CAST(n_nulls_v2 AS DOUBLE) / nullif(n_rows_v2, 0) -
          CAST(n_nulls_v1 AS DOUBLE) / nullif(n_rows_v1, 0) AS null_rate_delta,
        CAST(n_distinct_v2 AS DOUBLE) / nullif(n_distinct_v1, 0)
          AS distinct_ratio
      FROM p1 JOIN p2 USING (col_name)"""))

  /** Pareto frontier / 2-D skyline (ops/Skyline.paretoFrontier): the
    * parts not dominated on (minimize retail price, maximize size) —
    * exact, with NO pair join: per-cost collapse, bucket-local
    * running-max prune, then one frontier-sized global window (the
    * local-skyline/merge split; Börzsönyi et al. ICDE'01). The oracle
    * is the INDEPENDENT all-pairs NOT EXISTS formulation, so the hash
    * checks the pruning logic, not a shared window identity.
    */
  private val qPareto = QueryDef(
    "q_pareto_frontier",
    (s, d) => graft.ops.Skyline.paretoFrontier(
      Tables.part(s, d), "p_partkey", "p_retailprice", "p_size"),
    Some("""
      SELECT p.p_partkey, p.p_retailprice, p.p_size
      FROM part p
      WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))"""))

  /** Group-wise frontier (per brand): every window is keyed by the
    * group, so the operator is embarrassingly parallel — no global
    * stage at any scale.
    */
  private val qParetoBrand = QueryDef(
    "q_pareto_frontier_brand",
    (s, d) => graft.ops.Skyline.paretoFrontier(
      Tables.part(s, d), "p_partkey", "p_retailprice", "p_size",
      keyCols = Seq("p_brand")),
    Some("""
      SELECT p.p_brand, p.p_partkey, p.p_retailprice, p.p_size
      FROM part p
      WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_brand = p.p_brand
          AND q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))"""))

  /** Functional-dependency audit (Expectations.fdAudit): does the
    * joined fact table still satisfy its schema contracts — order key
    * determines customer (a true FD, 0 violations), while part key
    * must NOT determine quantity and customer must NOT determine
    * priority (both violated, with measured ppm rates). Each pair is
    * one two-level aggregate (distinct (A,B) combos shuffle, never
    * rows); the oracle replays with COUNT(DISTINCT).
    */
  private val qFdAudit = QueryDef(
    "q_fd_audit",
    (s, d) => {
      val j = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
      graft.ops.Expectations.fdAudit(j, Seq(
        ("l_orderkey", "o_custkey"),
        ("l_partkey", "l_quantity"),
        ("o_custkey", "o_orderpriority")))
    },
    Some("""
      WITH j AS (
        SELECT l.l_orderkey, l.l_partkey, l.l_quantity,
          o.o_custkey, o.o_orderpriority
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      p1 AS (
        SELECT l_orderkey AS a, COUNT(DISTINCT o_custkey) AS nv
        FROM j GROUP BY 1),
      p2 AS (
        SELECT l_partkey AS a, COUNT(DISTINCT l_quantity) AS nv
        FROM j GROUP BY 1),
      p3 AS (
        SELECT o_custkey AS a, COUNT(DISTINCT o_orderpriority) AS nv
        FROM j GROUP BY 1)
      SELECT 'l_orderkey->o_custkey' AS fd,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violating,
        CAST((1000000 * SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END))
          // COUNT(*) AS BIGINT) AS violation_ppm
      FROM p1
      UNION ALL
      SELECT 'l_partkey->l_quantity',
        CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        CAST((1000000 * SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END))
          // COUNT(*) AS BIGINT)
      FROM p2
      UNION ALL
      SELECT 'o_custkey->o_orderpriority',
        CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        CAST((1000000 * SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END))
          // COUNT(*) AS BIGINT)
      FROM p3"""))

  /** 3-D skyline with a bounded dimension (Skyline.paretoFrontier3D):
    * lineitems not dominated on (cheapest, most units, least
    * discount-dependent) — the discount ladder has 11 values, so the
    * cross-level contributor replication is a ≤11× blowup of the
    * (level, cost)-collapsed frame and every window stays (level,
    * bucket)-partitioned. Oracle: the independent 3-predicate
    * NOT EXISTS all-pairs formulation.
    */
  private val qPareto3D = QueryDef(
    "q_pareto_frontier_3d",
    (s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_partkey") % 31 === 0)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"),
          col("l_extendedprice"), col("l_quantity"), col("l_discount"))
      graft.ops.Skyline.paretoFrontier3D(li, "line_id",
        "l_extendedprice", "l_quantity", "l_discount")
    },
    Some("""
      WITH s AS (
        SELECT l_orderkey * 10 + l_linenumber AS line_id,
          l_extendedprice, l_quantity, l_discount
        FROM lineitem WHERE l_partkey % 31 = 0)
      SELECT p.line_id, p.l_extendedprice, p.l_quantity, p.l_discount
      FROM s p
      WHERE NOT EXISTS (
        SELECT 1 FROM s q
        WHERE q.l_extendedprice <= p.l_extendedprice
          AND q.l_quantity >= p.l_quantity
          AND q.l_discount <= p.l_discount
          AND (q.l_extendedprice < p.l_extendedprice
            OR q.l_quantity > p.l_quantity
            OR q.l_discount < p.l_discount))"""))

  def all: Seq[QueryDef] = Seq(
    q1, q3, q5, qDim, qSemi, qAnti, qOuter, qWinTop, qWinRun, qTopK,
    qIntersect, qExcept, qDistinct, qRollup, qCube, qGroupingSets, qDqAudit,
    qFkOrphans,
    qKAnon, qKAnonSuppress, qLDiversity, qTCloseness, qBenford, qProfileDrift,
    qPareto, qParetoBrand, qPareto3D, qFdAudit)
}
