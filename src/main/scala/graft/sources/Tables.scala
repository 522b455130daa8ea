package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the synthetic star-schema tables under a scale-factor dir
  * (`/root/testdata/sf*`). One parquet per table; Spark's vectorized
  * reader + Catalyst column pruning / filter pushdown do the heavy
  * lifting — callers should select only the columns they need so the
  * pushed `ReadSchema` stays narrow.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema memo, keyed by (path, mtime, length) so a testdata
    * regeneration mid-session mints a new key instead of serving a
    * stale schema. Caveats (r15 ADVICE): mtime is second-granularity
    * on some filesystems, so a file regenerated to the SAME byte
    * length within the same second would be served the prior schema —
    * acceptable for read-only testdata, noted for reuse elsewhere.
    * The memo stores ONE entry per path (superseded stamps are
    * replaced, not accumulated), so it cannot grow past the table
    * count however often data is regenerated.
    *
    * r15 OPTIMIZATION (guide §6 — metadata, not data): a bare
    * `spark.read.parquet(path)` pays file listing + parquet footer
    * schema inference on the DRIVER for every call, and every declared
    * query calls it for every table it touches — measured 0.75 s per
    * 6-table query vs 0.075 s with the schema supplied
    * (ReadSetupProbe (removed; see 7b19d2b), median of 7). This memo is the
    * catalog-table model (a metastore/manifest serves the schema; at
    * 100 TB you would never re-infer per query): schema resolved once
    * per file version per JVM, every read still scans the parquet
    * itself. No row, aggregate, or result is cached.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val f = new java.io.File(path)
    // nanosAsLong changes what inference RETURNS for nanos timestamps
    // (events.ts: LongType vs an unsupported-type error), so a session
    // with a different setting must not be served the other's schema
    val nanosConf = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
    val stamp = s"${f.lastModified}:${f.length}:$nanosConf"
    val schema = schemaMemo.compute(path, (_, prev) =>
      if (prev != null && prev._1 == stamp) prev
      else (stamp, spark.read.parquet(path).schema))._2
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark reads as raw
    * int64 under the `nanosAsLong` legacy conf) and plain TIMESTAMP
    * (micros, naive → TIMESTAMP_NTZ under the reader's default NTZ
    * inference). Dispatch on the READ type — the same schema-driven
    * coercion ladder the reference applies to its heterogeneous pickup
    * timestamps (pivot_and_boostrap/pivot_all_files.py:139-149) —
    * normalizing both to session-UTC TimestampType:
    *  - LongType (legacy nanos): exact integer `DIV 1000` rebuild
    *    (`DIV`, not `/` — ns-since-epoch ≈ 1.7e18 exceeds double's 2^53
    *    integer range, so float division would corrupt it).
    *  - TIMESTAMP_NTZ: cast to TimestampType; the session timezone is
    *    pinned UTC, so the stored wall clock is reinterpreted
    *    identically to how the DuckDB oracle reads the same file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // nanosAsLong is set at session bootstrap (Session.builder); the
    // belt-and-braces set here covers sessions built elsewhere, scoped
    // check-then-set so an already-configured session is never mutated
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(apply(s, d, "events"))
  }

  /** The `ts` dispatch of [[events]], shared with the streaming source
    * (`StreamingRun.tableStream`): `events` read as a batch or as a
    * stream must land the same session-UTC TimestampType.
    */
  def eventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df // tz-adjusted micros: already session-UTC
      case other =>
        // LOUD failure beats a silent pass-through: a third physical
        // layout (the round-5 wound was a silent flip) must stop the
        // run, not feed half-coerced timestamps to 24 queries
        throw new IllegalStateException(
          s"events.ts arrived as unrecognized physical type $other — " +
            "extend the Tables.eventsTs dispatch for this layout")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
