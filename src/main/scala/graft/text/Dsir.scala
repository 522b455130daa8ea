package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style data selection with importance resampling (Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how much its hashed
  * n-gram distribution looks like a small TRUSTED target distribution,
  * then resample the corpus toward the target. The production recipe
  * behind "make 100 TB of web text look like Wikipedia".
  *
  * Engine-replayable formulation: DSIR's log-likelihood-ratio weight
  * `sum_b n_b log(p_t[b]/p_r[b])` needs libm — which is NOT
  * bit-portable across engines (the NgramLm/Bm25 lesson). We keep the
  * same ordering signal in pure integer algebra: each token scores the
  * Laplace-smoothed target/raw probability RATIO in ppm,
  *
  *   ratio_ppm[b] = floor( (tc[b]+1)(R+B) * 10^6 / ((rc[b]+1)(T+B)) )
  *
  * and a document's weight is the floor mean of its tokens' ratios —
  * the first-order (arithmetic-mean) surrogate of DSIR's geometric
  * mean. Monotone in target affinity, exactly replayable: every step
  * is integer (the oracle runs the same algebra in HUGEINT).
  *
  * Scale shape:
  *  - Counting is two hash aggregates over (bucket) — full map-side
  *    combine, B (≤ 4096) groups, no shuffle wider than B rows.
  *  - The model is a BOUNDED frame (exactly B rows, set by a
  *    parameter, not by data) — the k-centroids/PQ-codebook precedent:
  *    collected once, exact BigInt driver math (no decimal-precision
  *    drift at 10^33 intermediates), broadcast back.
  *  - Scoring is tokenize → bucket → broadcast-join the model → one
  *    per-doc hash aggregate. One shuffle on doc_id, all codegen'd.
  */
object Dsir {

  /** Stable token → bucket in [0, buckets): first 13 md5 hex chars
    * (2^52 < 2^63 — exact in a long) mod B. DuckDB replays it as
    * `CAST(('0x' || substr(md5(t), 1, 13)) AS UBIGINT) % B`.
    */
  def bucketOf(token: Column, buckets: Int): Column =
    pmod(conv(substring(md5(token), 1, 13), 16, 10).cast("long"),
      lit(buckets.toLong))

  private def bucketCounts(docs: DataFrame, textCol: String,
      buckets: Int): DataFrame =
    docs.where(length(trim(col(textCol))) > 0)
      .select(explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .select(bucketOf(col("__t"), buckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** The importance model: (bucket, ratio_ppm) for every bucket with
    * raw mass. `target` must be a subset slice of `raw` (the trusted
    * distribution); Laplace +1 smoothing keeps target-unseen buckets
    * finite. Exactly `buckets` rows at most — a model frame.
    */
  def importanceModel(target: DataFrame, raw: DataFrame,
      textCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      "buckets is the bounded-model-frame guarantee")
    val spark = raw.sparkSession
    val tc = bucketCounts(target, textCol, buckets)
      .withColumnRenamed("n", "tn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rc = bucketCounts(raw, textCol, buckets).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val bigT = BigInt(tc.valuesIterator.sum) + buckets
    val bigR = BigInt(rc.iterator.map(_._2).sum) + buckets
    val rows = rc.toSeq.sortBy(_._1).map { case (b, rn) =>
      val num = BigInt(tc.getOrElse(b, 0L) + 1L) * bigR * 1000000
      val den = BigInt(rn + 1L) * bigT
      (b, (num / den).toLong)
    }
    import spark.implicits._
    rows.toDF("bucket", "ratio_ppm")
  }

  /** Per-document importance weights against a frozen model:
    * (idCol, n_tokens, weight_ppm) for every non-blank document.
    * weight_ppm = floor(sum(token ratio_ppm) / n_tokens); `buckets`
    * must match the model's. Tokens hashing to a raw-unseen bucket
    * (absent from the model) can only come from docs outside the
    * model's raw corpus — the inner join drops them from the sum AND
    * the token count, which the oracle mirrors.
    */
  def weights(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, buckets: Int): DataFrame =
    docs.where(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .select(col(idCol), bucketOf(col("__t"), buckets).as("bucket"))
      // hint kept: model (≤ buckets rows) is priced at its input's size
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ratio_ppm")).as("__sum"))
      .select(col(idCol), col("n_tokens"),
        expr("__sum div n_tokens").as("weight_ppm"))
}
