package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vocabulary-growth (Heaps'-law) curve over a document corpus: how
  * many DISTINCT tokens the corpus has accumulated after each prefix
  * of the collection, against the running token total. The curve is
  * what sizes a tokenizer vocabulary against a growing crawl — if
  * vocab_cum still grows near-linearly in tokens_cum at the right
  * edge, the corpus is nowhere near vocabulary saturation and a
  * fixed-size vocab will see rising OOV rates.
  *
  * "Prefix" is by id order, split into `buckets` equal id-range
  * slices — a pure map-side bucket formula `((id − lo)·B) div span`,
  * NOT a global sort: no corpus-wide window, no row_number over the
  * collection. Each token's first-appearance bucket is `min(bucket)`
  * (monotone in id, so identical to the bucket of its first doc), ONE
  * token-keyed shuffle; per-bucket totals are ONE partial-agg shuffle;
  * the cumulative window runs over the B-row bucket frame only.
  *
  * Determinism: counts are BIGINTs; the type-token ratio is one
  * integral division through DECIMAL(38) (vocab·10^6 overflows LONG
  * once the corpus passes ~9.2e12 distinct tokens).
  */
object VocabGrowth {

  /** `(bucket, docs_cum, tokens_cum, vocab_cum, ttr_ppm)` — one row
    * per id-range slice, cumulative left-to-right; buckets that
    * contain no documents still appear (zero deltas carried forward).
    */
  def heapsCurve(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = df.sparkSession
    val bounds = df.agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
    val d = df.crossJoin(bounds)
      .withColumn("__bucket",
        (expr(s"(($idCol - __lo) * $buckets) div (__hi - __lo + 1)") + 1)
          .cast("int"))
    val perBucket = d.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__docs"),
        sum(size(TextFunctions.tokens(col(textCol))).cast("long"))
          .as("__toks"))
    val firstSeen = d
      .select(col("__bucket"),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .groupBy(col("__tok")).agg(min(col("__bucket")).as("__fb"))
      .groupBy(col("__fb").as("__bucket"))
      .agg(count(lit(1)).as("__vocab"))
    val spine = spark.range(1, buckets + 1L)
      .select(col("id").cast("int").as("__bucket"))
    val w = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(perBucket, Seq("__bucket"), "left")
      .join(firstSeen, Seq("__bucket"), "left")
      .select(col("__bucket").as("bucket"),
        sum(coalesce(col("__docs"), lit(0L))).over(w).as("docs_cum"),
        sum(coalesce(col("__toks"), lit(0L))).over(w).as("tokens_cum"),
        sum(coalesce(col("__vocab"), lit(0L))).over(w).as("vocab_cum"))
      .withColumn("ttr_ppm",
        when(col("tokens_cum") > 0,
          expr("(cast(vocab_cum as decimal(38,0)) * 1000000) " +
            "div tokens_cum")))
  }

  /** Exact pairwise vocabulary Jaccard between corpus groups (sources)
    * — the exact twin of the HLL source-vocab sketch: a pair of
    * sources sharing most of their vocabulary is the cheapest
    * mirror/double-licensing signal available before any content
    * near-dup pass runs.
    *
    * Scale shape: ONE token-keyed shuffle builds the distinct
    * (group, token) set; group sizes are a |groups|-row broadcast;
    * the overlap join is keyed on the token, fanning out at most
    * |groups|² rows per SHARED token (a constant per token — stopword
    * tokens shared by every source cost |groups|², never corpus size).
    * Jaccard is integer ppm through DECIMAL(38).
    */
  def groupVocabJaccard(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val st = df.select(col(groupCol).as("__g"),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .distinct()
    val sizes = st.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val common = st.select(col("__g").as("source_a"), col("__tok"))
      .join(st.select(col("__g").as("source_b"), col("__tok")), Seq("__tok"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("common"))
    common
      // hint kept: sizes is a grouped aggregate, priced at st's size
      .join(broadcast(sizes.select(col("__g").as("source_a"),
        col("__n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("__g").as("source_b"),
        col("__n").as("n_b"))), Seq("source_b"))
      .withColumn("jaccard_ppm",
        expr("(cast(common as decimal(38,0)) * 1000000) " +
          "div (n_a + n_b - common)"))
      .select(col("source_a"), col("source_b"), col("common"),
        col("n_a"), col("n_b"), col("jaccard_ppm"))
  }
}
