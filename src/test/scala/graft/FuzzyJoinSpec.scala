package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.text.FuzzyJoin

class FuzzyJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("fuzzy-test", "4").getOrCreate()
  import spark.implicits._

  test("sorted neighborhood: bucketed windows equal the global window") {
    // identical texts -> jaccard 1 for every candidate, so the output
    // IS the candidate set; keys span 4 prefix buckets (sizes 2,1,2,1)
    // which the driver-side coalesce folds into supers of >= w-1 rows,
    // exercising boundary replication on both seams
    val txt = "same same entity text"
    val rows = Seq((1L, "aa"), (2L, "ab"), (3L, "ba"),
      (4L, "ca"), (5L, "cb"), (6L, "da"))
      .map { case (id, k) => (id, k, txt) }
      .toDF("id", "key", "txt")
    val out = FuzzyJoin.sortedNeighborhoodPairs(rows, "id", "key", "txt",
        window = 4, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      i <- 1L to 6L; j <- 1L to 6L if j > i && j - i <= 3
    } yield (i, j)).toSet // ids happen to be in key order
    assert(out == brute, s"got $out expected $brute")
  }

  test("sorted neighborhood: short trailing super merges backward") {
    // bucket 'a' alone fills super 0 (4 rows >= w-1); bucket 'b' (1
    // row) would be a short trailing super -> merged back, so the
    // (a-tail, b) pairs still appear
    val txt = "same same entity text"
    val rows = (1L to 4L).map(i => (i, s"a$i", txt)) :+ ((5L, "b1", txt))
    val out = FuzzyJoin.sortedNeighborhoodPairs(
        rows.toDF("id", "key", "txt"), "id", "key", "txt",
        window = 5, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      i <- 1L to 5L; j <- 1L to 5L if j > i && j - i <= 4
    } yield (i, j)).toSet
    assert(out == brute, s"got $out expected $brute")
  }

  test("window derivation: exposes the unclamped value and flags a binding clamp") {
    import org.apache.spark.sql.functions._
    // one 200-row first-token cluster + one singleton: ascending sizes
    // [1, 200], q90 position ceil(0.9*2)=2 -> q=200 -> derived=201
    val df = spark.range(200).select(lit("big cluster").as("key"))
      .unionAll(spark.range(1).select(lit("solo one").as("key")))
    val d = FuzzyJoin.windowDerivation(df, "key", quantile = 0.9,
      minWindow = 2, maxWindow = 8)
    assert(d.derived == 201L, "unclamped derivation must be visible")
    assert(d.window == 8 && d.clamped,
      "maxWindow must bind and the clamp must be flagged")
    // unclamped regime: same data, roomy clamp -> flag off, values agree
    val u = FuzzyJoin.windowDerivation(df, "key", quantile = 0.9,
      minWindow = 2, maxWindow = 500)
    assert(u.window == 201 && u.derived == 201L && !u.clamped)
    assert(FuzzyJoin.windowFromClusterSize(df, "key",
      maxWindow = 8) == 8, "scalar entry point stays clamp-compatible")
  }

  test("window derivation: vocabulary guard fires before the driver collects") {
    import org.apache.spark.sql.functions._
    // 100001 distinct first tokens — over the metadata contract. The
    // limit-probe must trip the require without materializing the
    // frame driver-side (the guard-after-collect fix, r13 verdict #2).
    val big = spark.range(100001)
      .select(concat(lit("t"), col("id")).as("key"))
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.windowDerivation(big, "key")
    }
    assert(e.getMessage.contains("distinct first tokens"))
  }

  test("gram frame: count and distinctness") {
    val df = Seq((1L, "abcd")).toDF("id", "s")
    // q=3 grams: abc, bcd -> 2 distinct
    val n = FuzzyJoin.charGramFrame(df, "id", "s", q = 3).count()
    assert(n == 2)
    // repeated gram collapses: "aaaa" -> {aaa}
    val n2 = FuzzyJoin.charGramFrame(
      Seq((1L, "aaaa")).toDF("id", "s"), "id", "s", q = 3).count()
    assert(n2 == 1)
    // too-short strings produce no grams at all
    val n3 = FuzzyJoin.charGramFrame(
      Seq((1L, "abcd")).toDF("id", "s"), "id", "s", q = 5).count()
    assert(n3 == 0)
  }

  test("fuzzy top-1: picks the best right match, ties to lowest id, threshold filters") {
    val left = Seq(
      (2L, "golden lavender spring chocolate"),
      (4L, "completely unmatched entity string qqq")).toDF("id", "name")
    val right = Seq(
      (1L, "golden lavender spring chocolate"), // exact match of left 2
      (3L, "golden lavender spring chocolatX"), // near match of left 2
      (5L, "golden lavender spring chocolate"), // duplicate of right 1 (tie)
      (7L, "zzz yyy xxx www vvv")).toDF("id", "name")
    val out = FuzzyJoin.fuzzyJoinTop1(left, right, "id", "name", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // left 2 matches rights 1/3/5; best jaccard 1.0 at rights 1 and 5 -> tie to 1
    // left 4 has no match above 0.8
    assert(out == List((2L, 1L, 1.0)))
  }

  test("count-verify path is identical to the arrays path") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def name(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until 4).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    val left = (0 until 60).map(i => (i * 2L, name(i))).toDF("id", "name")
    val right = (0 until 60).map(i => (i * 2L + 1, name(i + 5))).toDF("id", "name")
    def run(countVerify: Boolean) =
      FuzzyJoin.fuzzyJoinTop1(left, right, "id", "name", 0.7, 5, Some(countVerify))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val arrays = run(countVerify = false)
    assert(arrays.nonEmpty) // the comparison must exercise real matches
    assert(run(countVerify = true) == arrays)
  }

  test("prefix filter is exact: matches brute force on a random-ish catalog") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def name(seed: Int): String = {
      // deterministic 4-word names with heavy overlap
      val r = new scala.util.Random(seed)
      (0 until 4).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    val left = (0 until 40).map(i => (i * 2L, name(i))).toDF("id", "name")
    val right = (0 until 40).map(i => (i * 2L + 1, name(i + 7))).toDF("id", "name")
    val got = FuzzyJoin.fuzzyJoinTop1(left, right, "id", "name", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // brute force ground truth
    def tris(s: String) = s.sliding(5).toSet
    val lm = left.collect().map(r => r.getLong(0) -> tris(r.getString(1)))
    val rm = right.collect().map(r => r.getLong(0) -> tris(r.getString(1)))
    val want = lm.flatMap { case (lid, lt) =>
      val scored = rm.map { case (rid, rt) =>
        val c = (lt & rt).size
        (rid, c.toDouble / (lt.size + rt.size - c))
      }.filter(_._2 >= 0.7)
      if (scored.isEmpty) None
      else Some {
        val best = scored.minBy { case (rid, j) => (-j, rid) }
        (lid, best._1, best._2)
      }
    }.toSet
    assert(got == want)
  }
}
