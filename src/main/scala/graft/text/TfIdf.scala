package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-frequency / document-frequency statistics and top-terms-per-doc
  * — the keyword-extraction primitive of a training-data pipeline
  * (topic balancing, dedup explain, corpus QA).
  *
  * Everything stays integer (tf, df counts) until the caller derives a
  * weighting, so results are engine-exact (the declared query ranks by
  * (tf DESC, df ASC, term ASC) — a pure-integer tf-idf ordering: high
  * in-doc frequency, low corpus frequency — and is hash-checked against
  * DuckDB).
  *
  * Scale shape: one (doc, term) hash aggregate (map-side partials — the
  * shuffle carries distinct (doc, term) pairs, not tokens), one |vocab|
  * aggregate for df, a term-keyed join to attach df (AQE broadcasts the
  * df side when small), and a per-doc window for the top-k. No
  * collects; every stage is codegen'd.
  */
object TfIdf {

  /** (doc, term, tf): term counts per document. */
  def termFreq(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.Partitioning.fanOut(df)
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Feature hashing (the "hashing trick" — Weinberger et al.,
    * ICML'09): fixed-`dim` signed token-count vectors with NO
    * vocabulary pass — the featurizer that keeps linear-model training
    * one-pass at 100 TB (a vocabulary dictionary is a corpus-wide
    * distinct + broadcast that grows with the crawl; the hash needs
    * neither). Bucket and sign come from md5 (engine-portable, unlike
    * xxhash64): idx = hex[0:4] mod dim, sign = parity of hex[4] —
    * signed so bucket collisions cancel in expectation rather than
    * bias upward.
    *
    * Declared output serializes the sparse vector as
    * "idx:val;…" with zero-padded indexes (deterministic lexicographic
    * = numeric order; the driver harness hashes atomic columns only —
    * the q_inverted_index precedent). Exactly-cancelled buckets are
    * dropped on both engines.
    *
    * Scale shape: one map-side explode+hash, one (id, idx) partial-agg
    * shuffle (≤ dim rows per doc), one per-doc fold. Nothing
    * vocabulary-sized anywhere.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 65536, s"dim must be in [2, 65536]: $dim")
    // pad width derives from dim: lpad TRUNCATES strings longer than
    // the pad length (Spark and DuckDB agree on this), so a fixed
    // width-3 pad would silently collapse indexes >= 1000 at
    // dim > 1000 — distinct buckets collide to one label and the
    // zero-padded-equals-numeric-order contract breaks (ADVICE r12).
    val padW = (dim - 1).toString.length
    df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .withColumn("__h", md5(col("t")))
      .withColumn("__idx",
        expr(s"pmod(cast(conv(substring(__h, 1, 4), 16, 10) as bigint), $dim)"))
      .withColumn("__sgn",
        expr("case when cast(conv(substring(__h, 5, 1), 16, 10) as int) % 2 = 0" +
          " then 1L else -1L end"))
      .groupBy(col("id"), col("__idx"))
      .agg(sum(col("__sgn")).as("__v"))
      .where(col("__v") =!= 0)
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_nonzero"),
        concat_ws(";", sort_array(collect_list(
          concat_ws(":", lpad(col("__idx"), padW, "0"), col("__v")))))
          .as("features"))
  }

  /** (term, df): number of documents containing each term. */
  def docFreq(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Inverted index: (term, df, postings, tfs) — the doc-id posting
    * list (ascending) with the parallel term-frequency array, the
    * retrieval structure BM25/boolean search serve from.
    *
    * The df band is applied BEFORE the posting lists materialize:
    * df is computed on the (doc, term) pair frame and out-of-band
    * terms (stopwords above, hapaxes below) are dropped by a term-keyed
    * join, so a corpus-sized stopword list never enters the collect —
    * the aggregate only ever builds lists ≤ maxDf entries. At 100 TB
    * the band IS the sharding policy: head terms that genuinely need
    * full posting lists get dedicated impact-ordered shards in a real
    * serving system; this operator builds the banded middle.
    *
    * Determinism: sort_array over (doc_id, tf) structs — doc_id is
    * unique within a term, so the order is total.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long, maxDf: Long): DataFrame = {
    require(n >= 1, "gram size must be >= 1")
    require(minDf >= 1L && maxDf >= minDf, "need 1 <= minDf <= maxDf")
    // token array aliased in its OWN projection (the shinglesFromTokens
    // pitfall: an inlined split re-runs per element_at in the lambda)
    val toks = df.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("__t"))
    val grams =
      if (n == 1) toks.select(col("doc_id"), explode(col("__t")).as("term"))
      else toks.where(size(col("__t")) >= n)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("__t")) - n),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(col("__t"), i + k + 1)): _*)))
          .as("term"))
    val tf = grams.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val kept = docFreq(tf).where(col("df").between(minDf, maxDf))
    tf.join(kept, Seq("term"))
      .groupBy(col("term"), col("df"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
        .as("__p"))
      .select(col("term"), col("df"),
        col("__p.doc_id").as("postings"), col("__p.tf").as("tfs"))
  }

  /** Shard of a term under the served-index layout: pmod(xxhash64, n),
    * evaluated with the SAME Catalyst expression executors run, so a
    * driver-side literal term resolves to the partition the writer put
    * its posting list in.
    */
  def termShard(term: String, nShards: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(term))),
        42L) // xxhash64's default seed — must match the writer's column
      .eval(null).asInstanceOf[Long]
    (((h % nShards) + nShards) % nShards).toInt
  }

  /** Build the banded inverted index and persist it term-sharded:
    * `shard = pmod(xxhash64(term), nShards)` as a partition column, so
    * a serve-time lookup for a handful of terms prunes to their shards
    * AT THE SCAN (PartitionFilters, no corpus or full-index read). At
    * 100 TB this is the index's sharding policy: the directory layout
    * IS the term router, and a conjunctive query touches
    * ≤ |query terms| shards of the banded middle.
    */
  def buildAndWriteIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long, maxDf: Long, dir: String,
      nShards: Int = 32): Unit =
    invertedIndex(df, idCol, textCol, n, minDf, maxDf)
      .withColumn("shard",
        pmod(xxhash64(col("term")), lit(nShards.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** Read a served index written by [[buildAndWriteIndex]]. */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Flatten a (term, postings, tfs) index frame to (term, doc_id, tf)
    * posting rows. Lists are band-bounded (≤ maxDf entries), so the
    * explode is cheap by construction.
    */
  def postings(index: DataFrame): DataFrame =
    index.select(col("term"),
        explode(arrays_zip(col("postings"), col("tfs"))).as("__p"))
      .select(col("term"), col("__p.postings").as("doc_id"),
        col("__p.tfs").as("tf"))

  /** Conjunctive (AND-of-terms) lookup served from the index ALONE —
    * the read path of [[invertedIndex]]: filter to the query terms'
    * shards (partition-pruned) and terms, intersect posting lists by
    * doc_id (a doc matches iff every query term posts it), rank by
    * summed tf. Never touches the corpus; the df band bounds every
    * posting list, so the whole lookup is ≤ |terms| × maxDf rows.
    */
  def conjunctiveLookup(index: DataFrame, terms: Seq[String],
      nShards: Int = 32): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val shards = terms.map(termShard(_, nShards)).distinct
    postings(index
        .where(col("shard").isin(shards: _*) &&
          col("term").isin(terms: _*)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"), sum(col("tf")).as("score"))
      .where(col("__n") === lit(terms.distinct.size.toLong))
      .select(col("doc_id"), col("score"))
  }

  /** Deterministic exhibit query terms: the top-`k` banded terms (by
    * tf DESC, term ASC) of the LOWEST doc_id that has at least `k`
    * banded terms — derived from the index alone, and guaranteeing the
    * conjunctive lookup a non-empty result (the anchor doc matches by
    * construction). The collect is k strings — the serve contract's
    * query literal, not a data-plane collect.
    */
  def anchorQueryTerms(index: DataFrame, k: Int): Seq[String] = {
    val p = postings(index)
    val anchor = p.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= k)
      .agg(min(col("doc_id")).as("doc_id"))
    p.join(anchor, Seq("doc_id"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(k)
      .select(col("term"))
      .collect().map(_.getString(0)).toSeq
  }

  /** Top-k terms per document by the integer tf-idf ordering
    * (tf DESC, df ASC, term ASC — term as the total tiebreaker).
    */
  def topTermsPerDoc(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tf = termFreq(df, idCol, textCol)
    val withDf = tf.join(docFreq(tf), Seq("term"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    withDf
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
  }
}
