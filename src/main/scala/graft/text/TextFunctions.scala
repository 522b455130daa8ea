package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Text-analysis column functions for large-scale training-data
  * pipelines: tokenization, token counting, language-ID heuristics,
  * quality scoring. All pure Catalyst expressions (builtin functions +
  * higher-order functions) — codegen'd, no UDFs in the hot path, so they
  * stay inside WholeStageCodegen at 100 TB.
  *
  * Determinism: every scoring rule is integer arithmetic followed by at
  * most one double division, so results are bit-identical across engines
  * given the same inputs (the DuckDB oracles mirror the exact formulas).
  */
object TextFunctions {

  /** Whitespace tokenization; empty/blank text → empty array (Spark's
    * split("") yields Array("") — normalized away here).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Adjacent character pairs of one token (the BPE merge-candidate
    * unit): `"hash"` → `["ha","as","sh"]`; tokens shorter than 2 chars
    * yield an empty array. Codegen'd HOF — `sequence` is guarded so it
    * never sees an empty range.
    */
  def charPairs(token: Column): Column =
    when(length(token) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(token) - 1),
        i => token.substr(i, lit(2))))

  /** A BPE-ish subword proxy: count of alternating letter/digit runs —
    * `regexp_count`-style token estimate used when whitespace tokens are
    * too coarse (long concatenated strings). Pure regex, codegen'd.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=[a-z])(?=[A-Z])|[^A-Za-z0-9]+"),
      t => length(t) > 0))

  /** Ratio of stopword tokens — marker-word frequency is the classic
    * cheap language-ID signal (n-gram heuristic over function words).
    */
  def stopwordRatio(text: Column, stopwords: Seq[String] = Seq("the", "a", "of", "and")): Column = {
    val t = tokens(text)
    val matches = size(filter(t, w => w.isInCollection(stopwords)))
    when(size(t) === 0, lit(0.0)).otherwise(matches / size(t))
  }

  /** Heuristic language ID: English function-word density. Thresholds
    * are part of the operator spec (mirrored in oracle SQL).
    */
  def langIdGuess(text: Column): Column = {
    val r = stopwordRatio(text)
    when(r >= 0.10, lit("en"))
      .when(r >= 0.03, lit("en-ish"))
      .otherwise(lit("other"))
  }

  /** Mean characters per token (whitespace removed / token count). */
  def avgTokenLength(text: Column): Column = {
    val nTokens = tokenCount(text)
    val chars = length(regexp_replace(text, "\\s", ""))
    when(nTokens === 0, lit(0.0)).otherwise(chars / nTokens)
  }

  /** Punctuation density over non-space characters. */
  def punctRatio(text: Column): Column = {
    val chars = length(regexp_replace(text, "\\s", ""))
    val punct = chars - length(regexp_replace(regexp_replace(text, "\\s", ""),
      "[^A-Za-z0-9]", ""))
    when(chars === 0, lit(0.0)).otherwise(punct / chars)
  }

  /** Composite quality score in [0,1]: length band + token-shape +
    * stopword presence — the standard cheap pre-filter for web-scale
    * corpora. Components are 0/1 indicators plus bounded ratios; the
    * formula is pinned (oracle mirrors it).
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lenOk = when(nTok >= 10 && nTok <= 10000, lit(1.0)).otherwise(lit(0.0))
    val avgLenOk = when(avgTokenLength(text) >= 2.0 && avgTokenLength(text) <= 12.0,
      lit(1.0)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(text) >= 0.01, lit(1.0)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) <= 0.2, lit(1.0)).otherwise(lit(0.0))
    (lenOk + avgLenOk + stopOk + punctOk) / 4.0
  }

  /** Flesch-style readability signals, integerized so any engine
    * replays them exactly: words (whitespace tokens), sentences
    * (runs of [.!?], clamped ≥ 1), syllable PROXY (vowel-group runs —
    * the standard cheap approximation; clamped ≥ 1), and
    *
    *   flesch_milli = 206835 − (1015·words) div sentences
    *                         − (84600·syllables) div words
    *
    * — the Flesch reading-ease formula ×1000 with integral divisions
    * BY SPEC (documented deviation from the float original; the
    * ranking it induces is what quality gates consume). Map-side only.
    */
  def withReadability(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val words = greatest(tokenCount(col(textCol)).cast("long"), lit(1L))
    val sentences = greatest(
      call_function("regexp_count", col(textCol), lit("[.!?]+"))
        .cast("long"), lit(1L))
    val vowelGroups = greatest(
      call_function("regexp_count", col(textCol), lit("[aeiouyAEIOUY]+"))
        .cast("long"), lit(1L))
    df.withColumn("n_words", words)
      .withColumn("n_sentences", sentences)
      .withColumn("n_vowel_groups", vowelGroups)
      .withColumn("flesch_milli",
        lit(206835L) - expr("(1015 * n_words) div n_sentences") -
          expr("(84600 * n_vowel_groups) div n_words"))
  }

  /** Staged quality score: same formula as `qualityScore`, but the
    * expensive shared subexpressions — the token split and the
    * whitespace-stripped text — are hoisted into explicit projections
    * so each evaluates ONCE per row. The scalar `qualityScore` leans on
    * codegen subexpression elimination, which cannot dedupe across the
    * interpreted HOF boundary (the stopword filter) — measured ~3× cost
    * on long documents. Use this form in scans; the scalar form remains
    * for composition inside other expressions.
    */
  def withQualityScore(df: org.apache.spark.sql.DataFrame, textCol: String,
      outCol: String,
      stopwords: Seq[String] = Seq("the", "a", "of", "and")): org.apache.spark.sql.DataFrame = {
    val keep = df.columns.map(col).toSeq
    val staged = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__nows", regexp_replace(col(textCol), "\\s", ""))
      .withColumn("__nt", size(col("__toks")))
      .withColumn("__nstop",
        size(filter(col("__toks"), w => w.isInCollection(stopwords))))
      .withColumn("__chars", length(col("__nows")))
      .withColumn("__alnum",
        length(regexp_replace(col("__nows"), "[^A-Za-z0-9]", "")))
    val nt = col("__nt"); val chars = col("__chars")
    val avgLen = when(nt === 0, lit(0.0)).otherwise(chars / nt)
    val stopRatio = when(nt === 0, lit(0.0)).otherwise(col("__nstop") / nt)
    val punct = when(chars === 0, lit(0.0))
      .otherwise((chars - col("__alnum")) / chars)
    val score = (
      when(nt >= 10 && nt <= 10000, lit(1.0)).otherwise(lit(0.0)) +
      when(avgLen >= 2.0 && avgLen <= 12.0, lit(1.0)).otherwise(lit(0.0)) +
      when(stopRatio >= 0.01, lit(1.0)).otherwise(lit(0.0)) +
      when(punct <= 0.2, lit(1.0)).otherwise(lit(0.0))) / 4.0
    staged.select(keep :+ score.as(outCol): _*)
  }

  /** Word n-gram shingles (distinct), the unit for Jaccard/MinHash
    * near-dup detection. Pure HOF: sequence + transform + concat.
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Same, over an ALREADY-tokenized array column. Callers on a hot
    * path must alias the token array in its own projection and pass
    * the attribute: inlining `tokens(text)` here makes Catalyst
    * re-run the regex split for every reference inside the lambda
    * (3 element_at per gram — measured 8.7 s → 0.7 s on
    * q_common_ngrams at sf0.1; same pitfall Dedup.shingleHashFrame
    * documents).
    */
  def shinglesFromTokens(t: Column, n: Int): Column =
    array_distinct(
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(t) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k + 1)): _*))))

  /** Order-sensitive rolling fingerprint of the token stream: fold of
    * xxhash64(acc, token) — a chained hash rather than a polynomial, so
    * it needs no wrapping multiply (Spark 4 runs ANSI mode; `*` on
    * longs throws on overflow). Not SQL-portable (xxhash64 impl is
    * engine-specific) → declared queries using it are rows-only checks.
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  // ----------------------------------------------------- PII redaction
  // RE2-compatible patterns (no lookaround) so the DuckDB oracles run
  // the identical regexes.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Count pattern occurrences (codegen'd regex scan). */
  def countMatches(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Mask emails then phone numbers — the standard pre-training
    * scrubbing pass. Order matters and is part of the spec (an email's
    * local part could contain a phone-shaped digit run; masking emails
    * first keeps the two counts disjoint).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Portable content fingerprint: md5 over the canonical (whitespace-
    * normalized) token stream. Order-sensitive like the rolling hash,
    * but reproducible in any engine with md5 → oracle-checkable. Use
    * `fingerprint` when only intra-engine identity is needed (xxhash64
    * is ~10× cheaper than md5); use this one at interchange boundaries.
    */
  def contentFingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Repetition quality signals — the Gopher/MassiveText-style filter
    * (adapted to occurrence fractions): the fraction of 2-gram
    * occurrences claimed by the single most frequent 2-gram, and the
    * fraction of 3-gram occurrences that are repeats of an already-seen
    * 3-gram. Boilerplate/keyword-stuffed/looping documents light these
    * up while clean prose stays low.
    *
    * Output per document with ≥3 tokens: (id, n_2grams, top2gram_frac,
    * n_3grams, dup3gram_frac, repetitive) — `repetitive` at the
    * Gopher-ish thresholds (top-2-gram > 0.20 OR dup-3-gram > 0.18).
    *
    * Distributed shape: hashed-gram inverted counts (two map-side gram
    * builds via Dedup.shingleHashFrame, no text shuffles; per-gram then
    * per-doc aggregates carry longs only). Gram identity is xxhash64 —
    * collisions merge counts with P ≈ n²/2⁶⁵, negligible and the same
    * assumption the dedup family documents.
    */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // Two exploded gram frames + a per-doc join: yes, the corpus is
    // scanned and regex-tokenized twice — and it is still the right
    // shape. The "one map-side pass" alternative (per-row transform
    // lambdas building both gram arrays, array_sort + an aggregate-HOF
    // longest-equal-run for the top-gram count) was built and measured
    // in round 3: 9.6 s vs ~2 s at sf0.1 — HOF lambdas evaluate
    // interpreted per element, and that CPU loses to a second
    // codegen'd scan + narrow (id, hash) exchanges at any scale where
    // compute is the bill.
    def gramStats(n: Int) =
      Dedup.shingleHashFrame(df, idCol, textCol, n, distinctShingles = false)
        .groupBy(col("id"), col("s")).agg(count(lit(1)).as("n"))
        .groupBy(col("id"))
        .agg(sum(col("n")).as(s"tot$n"), max(col("n")).as(s"top$n"),
          count(lit(1)).as(s"dist$n"))
    gramStats(2).join(gramStats(3), Seq("id"))
      .select(col("id").as(idCol),
        col("tot2").as("n_2grams"),
        (col("top2") / col("tot2")).as("top2gram_frac"),
        col("tot3").as("n_3grams"),
        ((col("tot3") - col("dist3")) / col("tot3")).as("dup3gram_frac"),
        (col("top2") / col("tot2") > 0.20 ||
          (col("tot3") - col("dist3")) / col("tot3") > 0.18).as("repetitive"))
  }

  /** Vocabulary coverage curve — the tokenizer-training statistic:
    * the top-k tokens by occurrence count, each with its rank and the
    * CUMULATIVE share of all corpus tokens the top-rank prefix covers
    * ("the 100 most frequent tokens cover X% of the corpus" — the
    * curve that sizes a vocabulary).
    *
    * Shape at scale: map-side token explode → one partial-agg shuffle
    * of (token, count) → TakeOrdered for the top k → rank/cumsum
    * windows over the K-ROW result only (never the vocabulary, never
    * the corpus). The corpus-wide token total rides a single-row
    * broadcast cross join. Exact integers throughout; the share is
    * one per-row double division.
    */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int = 100): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(tokens(col(textCol)).as("__tk"))
      .select(explode(col("__tk")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occurrences"))
    val total = counts.agg(sum(col("n_occurrences")).as("__tot"))
    val top = counts.orderBy(col("n_occurrences").desc, col("token")).limit(k)
    val w = Window.orderBy(col("n_occurrences").desc, col("token"))
    top.crossJoin(total)
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_share",
        sum(col("n_occurrences"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          / col("__tot"))
      .select(col("rank"), col("token"), col("n_occurrences"),
        col("cum_share"))
  }

  /** Overlapping token-window chunking — the embedding-prep step that
    * turns long documents into fixed-budget chunks (RAG indexing,
    * long-doc embedding): starts at 0, stride, 2·stride… while < doc
    * length; each chunk is `chunkTokens` tokens (the last may be
    * shorter). Output carries the chunk's token count and md5 of the
    * re-joined text (not the text itself — chunk payloads shouldn't
    * ride result sets, same rule as the dedup pipelines).
    *
    * Scale: pure map-side — two nested codegen'd explodes, no shuffle;
    * at 100 TB chunking is a scan-stage transform feeding the
    * embedding UDF or the write.
    */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && stride > 0)
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .where(size(col("__tk")) > 0)
      .select(col(idCol),
        col("__tk"),
        explode(sequence(lit(0), size(col("__tk")) - 1, lit(stride)))
          .as("__start"))
      .select(col(idCol),
        (col("__start") / stride).cast("int").as("chunk_id"),
        col("__start").cast("int").as("start_tok"),
        slice(col("__tk"), col("__start") + 1, lit(chunkTokens)).as("__c"))
      .select(col(idCol), col("chunk_id"), col("start_tok"),
        size(col("__c")).as("n_tokens"),
        md5(array_join(col("__c"), " ")).as("chunk_md5"))
  }

  /** Vocabulary encoding — tokenizer application at corpus scale: the
    * top-`vocabSize` tokens by (frequency DESC, token ASC) become ids
    * 1..V, and every (doc, pos, token) row gets its id (null = OOV).
    * The vocab is corpus-derived in the same plan; at deployment it is
    * a small broadcast table either way. The token explosion shuffles
    * only for the count aggregate; the encode join broadcasts the
    * vocab.
    */
  def vocabEncode(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol), posexplode(tokens(col(textCol)))
      .as(Seq("pos", "token")))
      .select(col(idCol), (col("pos") + 1).cast("int").as("pos"), col("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("token")).limit(vocabSize)
      .withColumn("token_id", row_number()
        .over(Window.orderBy(col("__n").desc, col("token"))).cast("int"))
      .select(col("token"), col("token_id"))
    tok.join(vocab, Seq("token"), "left")
      .select(col(idCol), col("pos"), col("token"), col("token_id"))
  }

  /** Iterative BPE merge training at corpus scale — the tokenizer-
    * induction loop itself, not just round 1's pair counts
    * (q_bpe_merge_pairs): each round counts adjacent SYMBOL pairs
    * across the corpus, picks the most frequent (ties → lexicographic
    * smallest), and merges every occurrence before the next round.
    *
    * Representation: each whitespace token becomes a FENCED symbol
    * string — ` s1  s2  … sn `
    * (single fence at the ends, double between symbols). The merge of
    * pair (a,b) is then ONE literal string replace of
    * `ab` with `ab`: fences make
    * matches exact-symbol-only, the double interior fence keeps
    * back-to-back occurrences non-overlapping, and left-to-right
    * non-overlapping replacement IS greedy BPE merge order ("a a a" →
    * "aa a"). Both Spark's `replace` and the SQL oracle's `replace`
    * implement exactly that scan, which is what makes the whole
    * trained trajectory hash-checkable.
    *
    * Scale shape — the three tricks that decouple per-round cost from
    * CORPUS size (the round-7 verdict's top item; the naive loop was
    * one full-corpus rewrite + one driver round-trip PER merge):
    *
    *  1. **Word-count collapse.** Pairs never cross token boundaries
    *     (each token is fenced separately), so the corpus collapses to
    *     (distinct token, weight) in ONE corpus-sized aggregate — the
    *     only job that ever touches corpus-scale data. Every round
    *     thereafter operates on the vocabulary-sized word table (Heaps'
    *     law: ~10M-100M distinct words for a 100 TB corpus vs ~10^13
    *     token instances).
    *  2. **Incremental pair-delta maintenance.** A merge of (l,r) only
    *     changes counts of pairs adjacent to a merge site, and only in
    *     words CONTAINING the fenced pattern. Each batch computes exact
    *     per-merge deltas from the fold stages of affected words and
    *     folds them into the running pair-count table — the global pair
    *     recount happens once, at init.
    *  3. **Batched merge selection.** Per driver round-trip the trainer
    *     scans the (n DESC, l, r) candidate order and accepts up to
    *     batchSize pairs, skipping only a pair whose symbol EQUALS an
    *     earlier accepted pair's concatenation (a batch-created symbol
    *     — the one case where the pre-image `contains` filter below
    *     would miss affected words, since pattern occurrences can
    *     never otherwise be CREATED by other merges; shared raw
    *     symbols are fine — the fold applies stages sequentially, so
    *     destruction is handled exactly). The batch is then verified
    *     exactly against the computed deltas (driver-side replay over
    *     the changed-pair set PLUS skipped candidates, UTF-8 binary
    *     tie-order, each accepted member ranked at its CURRENT
    *     replayed count) and truncated at the first step where the
    *     sequential trajectory would diverge. Result: bit-identical to
    *     the one-merge-at-a-time loop, at up to batchSize merges per
    *     ~3 Spark jobs — including on flat/all-tied counts, where the
    *     former no-shared-symbol rule degraded to 1 merge/round-trip
    *     (BpeProbe's flat-tie row measures the repaired shape).
    *
    * Returns (round, merge_left, merge_right, n) — the learned merge
    * table, `rounds` rows; `n` is the pair's corpus count AT ITS OWN
    * MERGE STEP (deltas from earlier batch members applied), exactly
    * the count the sequential loop would report.
    */
  def bpeTrainMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int, batchSize: Int = 32): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1 && batchSize >= 1)
    val spark = df.sparkSession
    val F = "\u0001"
    val FF = F + F
    val chars = transform(sequence(lit(1), length(col("tok"))),
      i => col("tok").substr(i, lit(1)))
    def pairArr(s: Column): Column = {
      // the split is LET-BOUND via a one-element array + transform so
      // it evaluates once: an inline `sy` expression would re-split
      // the fenced string for every element_at — 2 splits per pair,
      // the HOF lambda trap (see Collocations; measured 14x there)
      element_at(transform(
        array(split(s.substr(lit(2), length(s) - 2), FF)),
        sy => transform(
          when(size(sy) >= 2, sequence(lit(1), size(sy) - 1))
            .otherwise(array().cast("array<int>")),
          i => struct(element_at(sy, i).as("l"),
            element_at(sy, i + 1).as("r")))), 1)
    }
    // contract: a token CONTAINING the fence char would corrupt the
    // symbol framing — fail loudly (real corpora should strip control
    // chars upstream; silently dropping tokens would skew pair counts).
    // fanOut BEFORE the aggregate: a single-file source arrives as one
    // partition and the tokenize+explode map side would be one task.
    var words = Pin(graft.ops.Partitioning.fanOut(
      df.select(explode(tokens(col(textCol))).as("tok"))
        .where(length(col("tok")) >= 1))
      .select(when(col("tok").contains(F), raise_error(concat(
          lit("bpeTrainMerges: token contains the U+0001 fence char: "),
          col("tok")))).otherwise(col("tok")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("w"))
      .select(concat(lit(F), array_join(chars, FF), lit(F)).as("s"), col("w")))
    var pairCounts = Pin(words
      .select(explode(pairArr(col("s"))).as("p"), col("w"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("w")).as("n")))
    // unsigned UTF-8 byte order — what both Spark (UTF8String) and
    // DuckDB use for string ORDER BY; Java's String.compareTo (UTF-16
    // code units) disagrees on supplementary characters
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    def beats(cN: Long, cL: String, cR: String,
        pN: Long, pL: String, pR: String): Boolean =
      cN > pN || (cN == pN &&
        (utf8Lt(cL, pL) || (cL == pL && utf8Lt(cR, pR))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // waypoint telemetry for the production-depth s/merge curve
    // (BpeProbe reads these stderr lines; zero cost in the loop)
    val trainT0 = System.nanoTime()
    var nextWaypoint = 1000
    while (merges.size < rounds) {
      val want = math.min(batchSize, rounds - merges.size)
      val cands = pairCounts
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(math.max(want * 4, 64))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cands.isEmpty) {
        // vocabulary saturated — every remaining word is one symbol.
        // The trainer contract (HF/sentencepiece alike) is to return
        // the merges actually learnable, not to error: how many the
        // corpus supports is data-dependent and only discovered here.
        System.err.println(s"[bpe-train] saturated at ${merges.size} " +
          s"merges (requested $rounds)")
        import spark.implicits._
        return merges.toSeq
          .toDF("round", "merge_left", "merge_right", "n")
      }
      // accept up to `want` pairs scanning the ranked candidates,
      // SKIPPING only a candidate that reuses a symbol CREATED by an
      // earlier accepted member (l/r == its concatenation): that is
      // the one case where the pre-image `contains` filter below could
      // miss words gaining the pattern mid-batch. Shared RAW symbols
      // are accepted — the staged fold applies merges sequentially
      // (fenced replace per stage), so destroyed/shifted occurrences
      // are exact, and the verification replay ranks each member at
      // its CURRENT (delta-adjusted) count. Skipped candidates enter
      // the replay at their original counts so a wrongly-ordered
      // acceptance is always caught and truncated. (The former
      // no-shared-symbol stop-at-first-clash rule degraded to 1
      // merge/round-trip on flat-count corpora: all ties → the
      // lexicographic neighbor always shared the left symbol.)
      val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val skipped = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      for (c <- cands if accepted.size < want) {
        val (l, r, _) = c
        val clash = accepted.exists { case (al, ar, _) =>
          val made = al + ar
          l == made || r == made
        }
        if (clash) skipped += c else accepted += c
      }
      val k = accepted.size
      // fold stages over affected words only: st0 = s, st_i = st_{i-1}
      // with merge i applied. Pattern positions are invariant under the
      // other accepted merges (non-interaction), so the PRE-image
      // `contains` filter is exact.
      val pats = accepted.map { case (l, r, _) =>
        (F + l + FF + r + F, F + l + r + F) }.toSeq
      val affected = words.where(
        pats.map(p => col("s").contains(p._1)).reduce(_ || _))
      // stages st0..stk as ONE runtime-fold column — NOT a k-deep
      // nested replace expression tree: whole-stage codegen's
      // subexpression-elimination state duplicates deep shared chains
      // into the generated source super-linearly (observed: a 2 GB
      // source string → OOM at k≈30 on a wide-alphabet corpus). The
      // aggregate HOF keeps the plan O(1) in k; the per-row work is
      // the same k replaces the tree form ran.
      val stagesCol = aggregate(
        typedLit(pats), array(col("s")),
        (acc, p) => array_append(acc, call_function("replace",
          element_at(acc, -1), p.getField("_1"), p.getField("_2"))))
      val staged = affected.select(col("w"), stagesCol.as("sts"))
      val deltaParts = (1 to k).flatMap { i => Seq(
        transform(pairArr(element_at(col("sts"), i + 1)), x =>
          struct(lit(i).as("i"), x.getField("l").as("l"),
            x.getField("r").as("r"), col("w").as("d"))),
        transform(pairArr(element_at(col("sts"), i)), x =>
          struct(lit(i).as("i"), x.getField("l").as("l"),
            x.getField("r").as("r"), (-col("w")).as("d")))) }
      val deltas = Pin(staged
        .select(explode(concat(deltaParts: _*)).as("e"))
        .groupBy(col("e.i").as("i"), col("e.l").as("l"), col("e.r").as("r"))
        .agg(sum(col("e.d")).as("d"))
        .where(col("d") =!= 0L))
      // exact trajectory verification: replay steps 2..k over the
      // changed-pair set PLUS the skipped candidates (an unchanged,
      // unskipped pair outside `cands` cannot outrank an accepted pair:
      // `cands` is the global (n desc, l, r) top block, so everything
      // outside ranks below every accepted member unless a delta moved
      // it — and then it IS in the replay set). Collect is bounded:
      // past the cap, fall back to the single certain merge.
      // stepCounts(i) = accepted(i)'s corpus count AT ITS OWN STEP —
      // with shared-symbol batches an earlier member can change a
      // later member's count, and both the divergence ranking and the
      // emitted merge row must use the sequential-loop value
      val (kEff, stepCounts) =
        if (k == 1) (1, Seq(accepted(0)._3))
        else if (deltas.count() > 200000L) (1, Seq(accepted(0)._3))
        else {
          val cur = scala.collection.mutable.Map.empty[(String, String), Long]
          deltas.select(col("l"), col("r")).distinct()
            .join(pairCounts, Seq("l", "r"), "left")
            .collect().foreach { r =>
              cur((r.getString(0), r.getString(1))) =
                if (r.isNullAt(2)) 0L else r.getLong(2) }
          // EVERY candidate (accepted, skipped, unscanned) enters at
          // its original count: with shared-symbol batches a member's
          // count can DROP mid-batch, so the post-delta order among
          // candidates themselves can invert (ties resolve
          // lexicographically at the NEW counts) — the replay must be
          // able to rank them all
          cands.foreach { case (l, r, n0) =>
            if (!cur.contains((l, r))) cur((l, r)) = n0 }
          val byStep = deltas.collect()
            .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
            .groupBy(_._1)
          // pairs OUTSIDE `cands` with unchanged counts are not in the
          // replay set; they all rank below the candidate floor's
          // ORIGINAL key, so an accepted member is only provably still
          // the true next merge while its CURRENT key outranks that
          // floor (unless cands was the exhaustive pair population)
          val (fL, fR, fN) = cands.last
          val exhaustive = cands.length < math.max(want * 4, 64)
          val stepN = scala.collection.mutable.ArrayBuffer(accepted(0)._3)
          var good = 1
          var diverged = false
          while (!diverged && good < k) {
            byStep.getOrElse(good, Array.empty).foreach { case (_, l, r, d) =>
              cur((l, r)) = cur.getOrElse((l, r), 0L) + d }
            val (pL, pR, pN) = accepted(good)
            val pNcur = cur.getOrElse((pL, pR), pN)
            diverged = pNcur <= 0L ||
              !(exhaustive || beats(pNcur, pL, pR, fN, fL, fR)) ||
              cur.exists { case ((l, r), c) =>
                c > 0L && (l != pL || r != pR) && beats(c, l, r, pNcur, pL, pR) }
            if (!diverged) { stepN += pNcur; good += 1 }
          }
          (good, stepN.toSeq)
        }
      val kept = accepted.take(kEff)
      // same O(1)-plan runtime fold for the words update (the nested
      // form is fine single-use at small k, but keep one shape)
      val keptPats = kept.map { case (l, r, _) =>
        (F + l + FF + r + F, F + l + r + F) }.toSeq
      val foldCol = aggregate(typedLit(keptPats), col("s"),
        (acc, p) => call_function("replace",
          acc, p.getField("_1"), p.getField("_2")))
      words = Pin(words.select(foldCol.as("s"), col("w")))
      pairCounts = Pin(pairCounts
        .join(deltas.where(col("i") <= kEff)
            .groupBy(col("l"), col("r")).agg(sum(col("d")).as("d")),
          Seq("l", "r"), "full_outer")
        .select(col("l"), col("r"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("d"), lit(0L))).as("n"))
        .where(col("n") > 0L))
      kept.zip(stepCounts).foreach { case ((l, r, _), nStep) =>
        merges += ((merges.size + 1, l, r, nStep)) }
      if (merges.size >= nextWaypoint) {
        System.err.println(f"[bpe-train] waypoint merges=${merges.size}%d " +
          f"elapsed_sec=${(System.nanoTime() - trainT0) / 1e9}%.1f")
        while (nextWaypoint <= merges.size) nextWaypoint += 1000
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("round", "merge_left", "merge_right", "n")
  }

  /** Apply a trained BPE merge table: encode every token into its
    * post-merge symbol sequence (exploded one row per symbol). The
    * merge fold is N literal replaces in ONE map-side projection chain
    * — no shuffle, no state; the trained table is tiny and rides the
    * plan as literals (the broadcast-the-model contract, same as
    * k-means assignment). Greedy left-to-right merge order is inherited
    * from the fenced-replace semantics of [[bpeTrainMerges]].
    */
  def bpeEncodeSymbols(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    // The native-Expression rung (functions/BpeExpressions.BpeEncode):
    // the merge table rides as two foldable array literals, each token
    // pays one in-place array pass per merge. The earlier
    // aggregate-HOF formulation had the same O(merges * len) bound but
    // evaluated interpreted AND rebuilt the fenced string once per
    // merge (BpeProbe measured the gap at 1000 merges). Fold semantics
    // are bit-identical (rank order, greedy L2R non-overlapping per
    // pass) -- pinned by the randomized reference tests and the
    // q_bpe_encode_vocab oracle. No fence-char contract on encode:
    // symbols are array elements, nothing to corrupt.
    graft.ops.Partitioning.fanOut(
      df.select(explode(tokens(col(textCol))).as("tok"))
        .where(length(col("tok")) >= 1))
      .select(explode(graft.functions.VectorFunctions.bpe_encode(col("tok"),
        typedlit(merges.map(_._1)), typedlit(merges.map(_._2))))
        .as("symbol"))
  }

  /** Pairwise source drift: L1 distance between per-source token
    * DISTRIBUTIONS for every source pair — the corpus-mixture monitor
    * (did src7's vocabulary shift vs src3? is a new crawl snapshot
    * distributionally different?). Values in [0, 2]; 0 = identical
    * distributions, 2 = disjoint vocabularies.
    *
    * Exact-by-construction: L1(a,b) = Σ_t |n_a·N_b − n_b·N_a| /
    * (N_a·N_b) over integer counts, with ONE double division at the
    * end — hash-identical across engines. The sum needs only the
    * tokens PRESENT IN BOTH sources (one self-equi-join on token):
    * each side's absent-token mass is recovered from totals,
    * Σ_{a only} n_a·N_b = (N_a − Σ_both n_a)·N_b — so no full-outer
    * join and no token-grid materialization. The numerator algebra
    * runs in DECIMAL (the Registry determinism pattern): counts and
    * totals cast to DECIMAL(18,0) (exact to 10¹⁸ tokens/source), each
    * cross-product lands in DECIMAL(37,0) with no precision cap, and
    * the abs-sum accumulates in DECIMAL(38,0) — bound sharedVocab ·
    * N_a · N_b ≈ 10²⁹ at 10⁵ vocab × 10¹² tokens/source, no overflow
    * cliff anywhere on the 100 TB path. One final double division.
    *
    * Shape at scale: counts are a (source × vocab)-sized aggregate;
    * the self-join shuffles counts by token (never text); totals are
    * S rows, broadcast; the pair frame is S² rows on the driver side
    * of a broadcast join. Missing pairs (zero shared vocabulary) still
    * emit, at drift exactly 2.
    */
  def sourceTokenDrift(df: org.apache.spark.sql.DataFrame, sourceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(sourceCol).as("src"),
      explode(tokens(col(textCol))).as("t"))
    driftFromCounts(
      tok.groupBy(col("src"), col("t")).agg(count(lit(1)).as("n")))
  }

  /** The drift algebra over a prebuilt (src, t, n) count frame —
    * separated so the DECIMAL-exactness contract is testable at
    * synthetic 10¹²-token-per-source counts (no corpus could inject
    * them through the tokenizer). All products run DECIMAL(18)×
    * DECIMAL(18) → DECIMAL(37) (uncapped), sums in DECIMAL(38).
    */
  private[graft] def driftFromCounts(
      counts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d18 = "decimal(18,0)"
    val totals = counts.groupBy(col("src"))
      .agg(sum(col("n")).cast(d18).as("tot"))
    // hint kept: totals is a grouped aggregate, priced at counts' size
    val ct = counts.join(broadcast(totals), Seq("src"))
      .select(col("src"), col("t"), col("n").cast(d18).as("n"), col("tot"))
    val inner = ct.as("a").join(ct.as("b"),
        col("a.t") === col("b.t") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(
        sum(abs(col("a.n") * col("b.tot") - col("b.n") * col("a.tot")))
          .as("s_abs"),
        sum(col("a.n")).as("s_a"),
        sum(col("b.n")).as("s_b"))
    val pairs = totals.as("x").join(totals.as("y"),
        col("x.src") < col("y.src"))
      .select(col("x.src").as("source_a"), col("y.src").as("source_b"),
        col("x.tot").as("tot_a"), col("y.tot").as("tot_b"))
    pairs.join(inner, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        ((coalesce(col("s_abs"), lit(0).cast(d18)) +
          (col("tot_a") - coalesce(col("s_a"), lit(0).cast(d18))) * col("tot_b") +
          (col("tot_b") - coalesce(col("s_b"), lit(0).cast(d18))) * col("tot_a"))
          .cast("double") /
          (col("tot_a") * col("tot_b")).cast("double")).as("l1_drift"))
  }

  /** Corpus-level boilerplate detector: the k n-grams appearing in the
    * most DISTINCT documents (document frequency, not raw count — a
    * single spammy document must not promote its pet phrase). The
    * classic first step of template/boilerplate removal: inspect the
    * head of this list, then strip or down-weight matching spans.
    *
    * Distributed shape: per-document distinct grams are built map-side
    * (`wordShingles` — sequence/transform HOFs, no UDF), exploded, and
    * count(*) per gram IS the document frequency because grams are
    * already distinct within each document — one partial-agg shuffle
    * of (gram, partial count), then TakeOrdered for the top k. The
    * corpus text never shuffles; no candidate blow-up exists (contrast
    * the pair-joining dedup family). Gram cardinality is high but
    * partial aggregation bounds every exchange row to one gram string
    * + one long; hot grams are exactly the ones partials compress.
    */
  def commonNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int = 3, k: Int = 20): org.apache.spark.sql.DataFrame =
    df.select(tokens(col(textCol)).as("__tk"))
      .select(explode(shinglesFromTokens(col("__tk"), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(k)
}
