package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.PlanCapture
import graft.text.{Dedup, TextFunctions => TF}

class TextDedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = Session.builder("text-test", "4").getOrCreate()
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again today"
  private val docANear = "the quick brown fox jumps over the lazy cat again and again today"
  private val docB = "completely different words about spark query engines and large scale data"

  test("exact dedup keeps first id per identical text") {
    val df = Seq((1L, docA), (2L, docA), (3L, docB), (4L, docA))
      .toDF("doc_id", "text")
    val keepers = Dedup.exactKeepers(df, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(keepers.toSeq == Seq(1L, 3L))
    val stats = Dedup.exactDupStats(df, "text").collect()
    assert(stats.length == 1 && stats(0).getAs[Long]("n_copies") == 3L)
  }

  test("word shingles: count and distinctness") {
    val df = Seq(("a b c d e", 3)).toDF("text", "n")
    val sh = df.select(TF.wordShingles(col("text"), 3).as("s"))
      .selectExpr("size(s)").as[Int].first()
    assert(sh == 3) // "a b c", "b c d", "c d e"
    val short = Seq(("a b", 0)).toDF("text", "n")
      .select(TF.wordShingles(col("text"), 3).as("s"))
      .selectExpr("size(s)").as[Int].first()
    assert(short == 0)
  }

  test("minhash LSH finds near-identical pair, verified jaccard is exact") {
    val df = Seq((1L, docA), (2L, docANear), (3L, docB)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
      threshold = 0.3, numHashes = 32, bands = 16).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = pairs(0).getAs[Double]("jaccard")
    // 13 tokens → 11 shingles each; the changed word sits in 3 windows,
    // so 8 shingles are shared: jaccard = 8 / (11 + 11 - 8)
    assert(j === 8.0 / 14.0)
  }

  test("minhash LSH: signatures re-attach by broadcast; shuffled re-attach gives the same output") {
    val df = Seq((1L, docA), (2L, docANear), (3L, docB), (4L, docA))
      .toDF("doc_id", "text")
    def run() = Dedup.minhashNearDups(df, "doc_id", "text",
      threshold = 0.3, numHashes = 32, bands = 16)
      .collect().map(_.toString).toSet
    val ran = PlanCapture(spark)(run())
    // the pinned signature frame is small, so the planner broadcasts
    // it into both re-attach joins (one per pair side)
    Seq("a_mh_0", "b_mh_0").foreach { sig =>
      val reattach = ran.plans.flatMap(p => collect(p) {
        case j: BroadcastHashJoinExec if j.output.exists(_.name == sig) => j
      })
      assert(reattach.nonEmpty, s"$sig\n${ran.planText}")
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = try run()
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(ran.value.size == 3, ran.value)
    assert(shuffled == ran.value, "broadcast vs shuffled re-attach diverged")
  }

  test("prefix-filtered exact join equals brute-force jaccard, no misses") {
    // brute force in Scala over distinct 3-gram shingles; the operator
    // must return EXACTLY the pairs at j >= 1/2 — the no-recall-caveat
    // contract that distinguishes it from the banded-LSH path
    val docs = Seq(
      1L -> docA, 2L -> docANear, 3L -> docB,
      4L -> docA, // exact copy of 1 -> jaccard 1.0 with 1 and near 2
      5L -> "completely different words about flink query engines and large scale data",
      6L -> "one two three four five six seven eight nine ten")
    def sh(t: String) =
      t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val brute = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      j = {
        val (a, b) = (sh(ta), sh(tb))
        (a & b).size.toDouble / (a | b).size
      } if j >= 0.5
    } yield (ia, ib, j)).toSet
    val out = Dedup.prefixFilterNearDups(
        docs.toDF("doc_id", "text"), "doc_id", "text", tNum = 1, tDen = 2)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    assert(out == brute, s"prefix join $out vs brute $brute")
    assert(brute.exists(_._3 == 1.0) && brute.exists(t => t._3 < 1.0),
      "fixture must exercise both exact and near pairs")
  }

  test("containment join: ratio threshold, asymmetric, prefix-pruned") {
    val corpus = Seq((1L, "a b c d e f g"), (2L, "x y z w"))
      .toDF("doc_id", "text")
    val probes = Seq(
      (101L, "a b c d e"),     // 3 shingles, all in doc 1 -> 1.0
      (102L, "a b c x y z"),   // 4 shingles, 1 hit each side -> below 1/2
      (103L, "c d e f g h"))   // 4 shingles, 3 in doc 1 -> 0.75
      .toDF("doc_id", "text")
    val out = graft.text.Dedup.containmentJoin(
        corpus, probes, "doc_id", "text", tNum = 1, tDen = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      (101L, 1L) -> ((3L, 3L, 1000000L)),
      (103L, 1L) -> ((3L, 4L, 750000L))), out.toString)
  }

  test("prefix length law: threshold 1/1 keeps a single rarest shingle") {
    // at t=1 the prefix is |x| - |x| + 1 = 1 token: only identical
    // sets can collide AND verify; near pair must vanish
    val df = Seq((1L, docA), (2L, docANear), (3L, docA))
      .toDF("doc_id", "text")
    val out = Dedup.prefixFilterNearDups(df, "doc_id", "text", 1, 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 3L)))
  }

  test("served near-dup index: batch vs indexed corpus equals all-pairs restriction") {
    // sf0.001 documents give a real near-dup population; the served
    // result must equal the batch×corpus restriction of the all-pairs
    // pipeline at the same operating point
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("neardup_idx_test").toString + "/idx"
    Dedup.buildAndWriteNearDupIndex(corpus, "doc_id", "text", dir)
    val served = Dedup.servedNearDups(spark, batch, corpus, "doc_id",
      "text", dir, threshold = 0.5, numHashes = 32, bands = 16,
      estThresholdOpt = Some(0.35))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val allPairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5, numHashes = 32, bands = 16,
      estThresholdOpt = Some(0.35))
      .collect().flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        // orient as (batch, corpus); drop pairs within one side
        if (a % 5 == 0 && b % 5 != 0) Some((a, b))
        else if (b % 5 == 0 && a % 5 != 0) Some((b, a))
        else None
      }.sorted.toSeq
    assert(served == allPairs && served.nonEmpty)
  }

  test("simhash: identical texts at hamming 0, near texts close, found by banding") {
    val df = Seq((1L, docA), (2L, docA), (3L, docANear), (4L, docB))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(pairs((1L, 2L)) == 0) // identical
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 16)
  }

  test("simhash verified pipeline: exact jaccard on survivors, complete at 1-bit chunks") {
    val df = Seq((1L, docA), (2L, docA), (3L, docANear), (4L, docB))
      .toDF("doc_id", "text")
    // Default cut (hamming<=15): identical docs are at hamming 0 and must
    // survive. An 11-shingle near-pair has huge signature variance (each
    // bit is a sign over ~11 votes), so 1-3 may legitimately fall outside
    // the cut on a fixture this small — sketch completeness is a
    // corpus-scale property (checked against the sf oracles).
    val got = Dedup.simhashVerifiedNearDups(df, "doc_id", "text",
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) === 1.0)
    // Exhaustive config (64 1-bit chunks, hamming<=63 — the pigeonhole
    // guarantee needs chunks > maxHamming, and a hamming-64 pair is a
    // bitwise complement, never a near-dup): candidate generation is
    // total, so output is exactly the j>=0.3 pair set with exact
    // values: 1-2 identical, 1-3/2-3 share 8 of 14 shingles.
    val all = Dedup.simhashVerifiedNearDups(df, "doc_id", "text",
      threshold = 0.3, maxHamming = 63, chunks = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(all.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(all((1L, 2L)) === 1.0)
    assert(all((1L, 3L)) === 8.0 / 14.0)
    assert(all((2L, 3L)) === 8.0 / 14.0)
  }

  test("auto minhash banding derives the hand-tuned operating points") {
    // t=0.5 → r=2 (16 bands at k=32): the round-1..3 hand-tuned point
    assert(Dedup.autoMinhashBands(32, 0.5) == 16)
    // t=0.8 → r=4 (8 bands): harsher threshold prunes harder
    assert(Dedup.autoMinhashBands(32, 0.8) == 8)
    // recall bound at the boundary: r=2 at t=0.5 gives 1-(1-.25)^16 ≈ .99
    val recall = 1.0 - math.pow(1.0 - math.pow(0.5, 2), 16)
    assert(recall >= 0.98)
  }

  test("simhash pruning default (8×8 chunks) matches the 16×4 guarantee output at sf0.001") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(chunks: Int) =
      Dedup.simhashVerifiedNearDups(docs, "doc_id", "text", chunks = chunks)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dflt = pairs(0)     // library default → 8 chunks of 8 bits
    val full = pairs(16)    // pigeonhole-complete exhibit configuration
    assert(dflt == full, s"default missed ${full -- dflt}, extra ${dflt -- full}")
  }

  test("corpus dedup composite: exact dup dropped, near-dup cluster keeps min id") {
    // 2 is an exact copy of 1 (dropped at the md5 stage); 3 is a near
    // dup of 1 (j = 8/14 >= 0.5 -> clustered with 1, min id 1 kept);
    // 4 is unrelated (kept).
    val df = Seq((1L, docA), (2L, docA), (3L, docANear), (4L, docB))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(df, "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("near-dup clustering: chains collapse to min-id rep, isolated keep themselves") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2-3 (transitive), pair 4-5, isolated 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = graft.text.Dedup.nearDupClusters(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true))
    assert(out(2L) == (1L, false))
    assert(out(3L) == (1L, false)) // via transitivity, needs 2 rounds
    assert(out(4L) == (4L, true))
    assert(out(5L) == (4L, false))
    assert(out(9L) == (9L, true))
    // the planner broadcasts the pinned label frames while they fit;
    // that choice must be invisible in the labels — turn size-based
    // broadcast off and compare
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = graft.text.Dedup.nearDupClusters(ids, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
        .toMap
      assert(shuffled == out, "broadcast vs shuffled label joins diverged")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("near-dup clustering throws when maxIters runs out before convergence") {
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.nearDupClusters(ids, "doc_id", chain, maxIters = 1))
    assert(e.getMessage.contains("maxIters=1"), e.getMessage)
    // the same chain with rounds to spare collapses to one cluster
    val reps = Dedup.nearDupClusters(ids, "doc_id", chain, maxIters = 4)
      .select("rep").distinct().collect().map(_.getLong(0))
    assert(reps.toSeq == Seq(1L))
  }

  test("priority keepers: highest priority wins, ties to smaller id, one per cluster") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val labels = Dedup.nearDupClusters(ids, "doc_id", pairs)
    // cluster {1,2,3}: doc 2 has highest priority; {4,5}: tie → min id 4
    val prio = Seq((1L, 10L), (2L, 30L), (3L, 20L),
      (4L, 7L), (5L, 7L), (9L, 1L)).toDF("doc_id", "quality")
    val out = Dedup.priorityKeepers(labels, prio, "doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.filter(_._2).keySet == Set(2L, 4L, 9L))
    assert(out.size == 6)
  }

  test("repetition signals: looping text flagged, clean text passes") {
    import graft.text.TextFunctions
    val df = Seq((1L, "a b a b a b"), (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val out = TextFunctions.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 2-grams "a b"×3 "b a"×2 → top 3/5; 3-grams 2 distinct of 4
    assert(out(1L).getAs[Double]("top2gram_frac") === 3.0 / 5.0)
    assert(out(1L).getAs[Double]("dup3gram_frac") === 0.5)
    assert(out(1L).getAs[Boolean]("repetitive"))
    // doc 2: all grams unique → top 1/5 = 0.2 (not > 0.2), dup 0
    assert(out(2L).getAs[Double]("top2gram_frac") === 0.2)
    assert(out(2L).getAs[Double]("dup3gram_frac") === 0.0)
    assert(!out(2L).getAs[Boolean]("repetitive"))
  }

  test("dup-span stats: cross-doc verbatim spans counted, within-doc repeats are not dups") {
    // docs 1 and 2 share the 8-token prefix of docA verbatim; doc 3 is
    // disjoint; doc 4 repeats ITS OWN 8-token span twice (within-doc
    // only — must not count as duplicated).
    val selfRep = "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8"
    val df = Seq((1L, docA), (2L, docA + " zz"), (3L, docB + " extra pad tokens here"),
      (4L, selfRep)).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(df, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"))).toMap
    // docA has 13 tokens -> 6 windows, all 6 inside doc2's 14-token text
    assert(byId(1L) == ((6L, 6L)))
    assert(byId(2L) == ((7L, 6L))) // its extra trailing window is unique
    assert(byId(3L)._2 == 0L)
    // 16 tokens -> 9 windows; spans repeat within the doc only
    assert(byId(4L) == ((9L, 0L)))
  }

  test("dup-span removal: shared spans cut everywhere, runs merged, untouched docs intact") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"   // shared by docs 1, 2, 4
    val span2 = "u1 u2 u3 u4 u5 u6 u7 u8"  // shared by docs 4, 5
    val wide = "v1 v2 v3 v4 v5 v6 v7 v8 v9" // 9 tokens shared by 6, 7 → one merged run
    val df = Seq(
      (1L, s"$span x1 x2 x3"),
      (2L, s"p1 p2 $span r1"),
      (3L, "only unique words live here today"),
      (4L, s"$span a1 a2 a3 $span2"),
      (5L, s"b1 $span2 b2 b3"),
      (6L, s"$wide c1"),
      (7L, s"d1 $wide")).toDF("doc_id", "text")
    val out = Dedup.dupSpanRemoval(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def row(id: Long) = {
      val r = out(id)
      (r.getAs[Long]("n_removed"), r.getAs[Long]("n_spans"),
        r.getAs[String]("cleaned_text"))
    }
    assert(row(1L) == ((8L, 1L, "x1 x2 x3")))
    assert(row(2L) == ((8L, 1L, "p1 p2 r1")))
    assert(row(3L) == ((0L, 0L, "only unique words live here today")))
    assert(row(4L) == ((16L, 2L, "a1 a2 a3"))) // two disjoint runs
    assert(row(5L) == ((8L, 1L, "b1 b2 b3")))
    // two overlapping 8-windows over the 9-token span merge into ONE run
    assert(row(6L) == ((9L, 1L, "c1")))
    assert(row(7L) == ((9L, 1L, "d1")))
    assert(out(4L).getAs[Long]("n_tokens") == 19L)
    assert(out(4L).getAs[Double]("removed_frac") === 16.0 / 19.0)
  }

  test("contamination flags: shared shingle with probe set flags the doc") {
    val corpus = Seq((1L, "x y z w"), (2L, "p q r s")).toDF("doc_id", "text")
    val probes = Seq((100L, "x y z k")).toDF("doc_id", "text")
    val out = Dedup.contaminationFlags(corpus, probes, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 shares shingle "x y z" (1 of its 2) with the probe set
    assert(out(1L).getAs[Long]("n_overlap") == 1L)
    assert(out(1L).getAs[Double]("overlap_frac") === 0.5)
    assert(out(1L).getAs[Boolean]("contaminated"))
    assert(out(2L).getAs[Long]("n_overlap") == 0L)
    assert(!out(2L).getAs[Boolean]("contaminated"))
  }

  test("bloom-prefiltered contamination equals the broadcast-exact operator") {
    val df = Seq((1L, docA), (2L, docANear), (3L, docB),
      (10L, docA + " suffix drift"), (11L, "nothing shared with anything here at all"))
      .toDF("doc_id", "text")
    val corpus = df.where(col("doc_id") < 10)
    val probes = df.where(col("doc_id") >= 10)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val exact = rows(Dedup.contaminationFlags(corpus, probes, "doc_id", "text"))
    val bloom = rows(Dedup.contaminationFlagsBloom(corpus, probes, "doc_id", "text"))
    assert(bloom == exact)
    assert(exact.exists(r => r(4) == true) && exact.exists(r => r(4) == false))
  }

  test("fingerprint is order-sensitive; token counts match") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
    assert(df.select(TF.tokenCount(col("text"))).as[Int].first() == 3)
  }

  test("quality score components: clean text scores 1.0, garbage scores low") {
    val good = "the quick brown fox jumps over a lazy dog and then rests quietly"
    val bad = "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( )))) ____ ++++"
    val df = Seq((1L, good), (2L, bad)).toDF("doc_id", "text")
    val scores = df.select(col("doc_id"), TF.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) == 1.0)
    assert(scores(2L) <= 0.5)
  }
}
