package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Function-surface coverage: the window-function battery, date/time
  * breakdowns, string functions with null-handling, and schema-based
  * JSON parsing.
  */
object FunctionQueries {

  /** rank / dense_rank / ntile / lead / lag in one pass — full
    * tiebreak ordering for engine-identical numbering.
    */
  private val qWindowFns = QueryDef(
    "q_window_function_battery",
    (s, d) => {
      // (orderkey, linenumber) is NOT unique in the synthetic data;
      // l_quantity joins the ordering so rows that still tie are
      // output-identical (interchangeable) — engine-independent result.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_shipdate"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
        .withColumn("next_qty", lead(col("l_quantity"), 1).over(w))
        .drop("l_shipdate")
    },
    Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        RANK() OVER w AS rnk,
        DENSE_RANK() OVER w AS drnk,
        CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        LAG(l_quantity, 1) OVER w AS prev_qty,
        LEAD(l_quantity, 1) OVER w AS next_qty
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey
        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)"""))

  /** Date/time function breakdown: year / quarter / month / weekday
    * bucketing with a months_between-style age measure.
    */
  private val qDates = QueryDef(
    "q_order_date_breakdown",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(month(col("o_orderdate"))).as("n_months"),
          min(dayofweek(col("o_orderdate"))).as("min_dow"),
          max(to_date(col("o_orderdate"))).as("last_day")),
    Some("""
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(COUNT(DISTINCT EXTRACT(month FROM o_orderdate)) AS BIGINT) AS n_months,
        CAST(MIN(EXTRACT(dow FROM o_orderdate) + 1) AS INT) AS min_dow,
        CAST(MAX(o_orderdate) AS DATE) AS last_day
      FROM orders GROUP BY 1, 2"""))

  /** String functions + null handling: upper/substring/lpad/LIKE with
    * coalesce/nullif over part attributes.
    */
  private val qStrings = QueryDef(
    "q_part_string_ops",
    (s, d) =>
      Tables.part(s, d)
        .where(col("p_type").like("%ECONOMY%") ||
               col("p_type").startsWith("PROMO"))
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"),
          coalesce(nullif(col("p_type"), lit("")), lit("UNKNOWN")).as("type_nn"),
          length(col("p_name")).as("name_len")),
    Some("""
      SELECT p_partkey,
        upper(p_brand) AS brand_u,
        substring(p_name, 1, 8) AS name_prefix,
        lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
        coalesce(nullif(p_type, ''), 'UNKNOWN') AS type_nn,
        CAST(length(p_name) AS INT) AS name_len
      FROM part
      WHERE p_type LIKE '%ECONOMY%' OR p_type LIKE 'PROMO%'"""))

  /** Schema-based JSON parsing (from_json → struct field), the typed
    * counterpart of the regexp-extract query.
    */
  private val qFromJson = QueryDef(
    "q_events_from_json",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k").cast("long")).as("sum_k"),
          count(col("k")).as("n_parsed")),
    Some("""
      SELECT event_type,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_parsed
      FROM events GROUP BY event_type"""))

  /** ORC round-trip as a DATA-PLANE exhibit (MultiFormatSpec covers
    * the unit level): orders written once to an ORC layout, the
    * declared query reads it back and aggregates — the oracle runs on
    * the original parquet, so a green row proves the ORC write+read
    * path preserves every row and type exactly. ORC is columnar like
    * parquet (predicate pushdown + column pruning apply — asserted in
    * MultiFormatSpec); this makes the engine's source matrix
    * parquet/csv/json/orc all exercised against oracles or specs.
    */
  private val qOrcRoundtrip = QueryDef(
    "q_orc_roundtrip_totals",
    (s, d) => {
      // written once (util.BuildDir); repeat invocations serve the files
      val base = graft.util.BuildDir(s, d, "graft_orc", "orders")(
        graft.sources.MultiFormat.write(Tables.orders(s, d), _, "orc"))
      graft.sources.MultiFormat.read(s, base, format = Some("orc"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          countDistinct(col("o_custkey")).as("n_customers"))
    },
    Some("""
      SELECT o_orderstatus,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      FROM orders GROUP BY o_orderstatus"""))

  /** Z-ordered layout as a DATA-PLANE exhibit (LayoutSpec covers the
    * rectangle-bounds property): orders compacted into a
    * Morton-clustered layout on (o_custkey, o_totalprice) once
    * (fingerprint-memoized), then a two-dimensional selective filter
    * aggregates over it. The oracle runs the SAME filter on the raw
    * parquet — a green row proves the clustered rewrite is
    * row-preserving, while the layout's footer min/max rectangles are
    * what make EITHER predicate skip files at scale (each output file
    * is a small hyper-rectangle in every z-column; LayoutSpec contrasts
    * spans vs linear sort).
    */
  private val qZorderScan = QueryDef(
    "q_zorder_scan_totals",
    (s, d) => {
      val base = graft.util.BuildDir(s, d, "graft_zord", "orders")(
        graft.ops.Compaction.compactZOrder(s, s"$d/orders.parquet", _,
          zCols = Seq("o_custkey", "o_totalprice"),
          targetFileBytes = 256L * 1024))
      s.read.parquet(base)
        .where(col("o_custkey") < 500 && col("o_totalprice") > 150000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    },
    Some("""
      SELECT o_orderstatus,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_custkey < 500 AND o_totalprice > 150000.0
      GROUP BY o_orderstatus"""))

  def all: Seq[QueryDef] =
    Seq(qWindowFns, qDates, qStrings, qFromJson, qOrcRoundtrip, qZorderScan)
}
