package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Association, Attribution, Forecast, SequentialPatterns, SplitFinder}
import graft.text.VocabGrowth

/** Hand-computed fixtures for the round-11 analytics wave:
  * attribution, seasonal MASE, Heaps' curve, vocab Jaccard, item
  * neighbors, session sequences, Gini split finding.
  */
class AnalyticsOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("analytics-test", "4").getOrCreate()
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("attribution: last-touch to latest, linear ppm floor, lookback honored") {
    val ev = Seq(
      // user 1: click then view then purchase — both in window
      (1L, 1L, ts("2024-01-10 10:00:00"), "click"),
      (2L, 1L, ts("2024-01-10 11:00:00"), "view"),
      (3L, 1L, ts("2024-01-10 12:00:00"), "purchase"),
      // user 2: touch OUTSIDE the 3-day lookback -> organic conversion
      (4L, 2L, ts("2024-01-01 00:00:00"), "click"),
      (5L, 2L, ts("2024-01-10 00:00:00"), "purchase"),
      // user 3: same-timestamp touch with smaller id counts; larger id doesn't
      (6L, 3L, ts("2024-01-10 09:00:00"), "view"),
      (8L, 3L, ts("2024-01-10 09:00:00"), "view"),
      (7L, 3L, ts("2024-01-10 09:00:00"), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Attribution.touchAttribution(ev, "user_id", "ts", "event_id",
        "event_type", "purchase", Seq("click", "view"), lookbackDays = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // user 1: n=2 -> 500000 each; last = view. user 3: only event 6
    // qualifies (tid 6 < cid 7; tid 8 does not) -> n=1, last=view.
    assert(out("view") == (2L, 1500000L, 2L))
    assert(out("click") == (0L, 500000L, 1L))
  }

  test("rbo: hand-computed truncated overlap at depth 3") {
    // A-order: a,b,c,d ; B-order: b,a,d,c ; depth 3
    // overlaps: d1=0, d2=2 (a,b), d3=2 -> RBO = (1/10)(0.9 + 0.54)
    //         = 0.144 exactly -> 144000 ppm-scaled
    import graft.ops.Eval
    val df = Seq(("g", "a", 40L, 30L), ("g", "b", 30L, 40L),
      ("g", "c", 20L, 5L), ("g", "d", 10L, 20L))
      .toDF("k", "item", "sa", "sb")
    val out = Eval.rankBiasedOverlap(df, Seq("k"), "item",
      col("sa"), col("sb"), depth = 3).collect().head
    assert(out.getLong(out.fieldIndex("n_common")) == 2L)
    assert(out.getLong(out.fieldIndex("rbo_x1e6")) == 144000L)
    // identical rankings: truncated RBO = 1 - p^k = 0.271 exactly
    // (mass past depth k is unobserved); the normalized column reads 1
    val same = Eval.rankBiasedOverlap(df, Seq("k"), "item",
      col("sa"), col("sa"), depth = 3).collect().head
    assert(same.getLong(same.fieldIndex("rbo_x1e6")) == 271000L)
    assert(same.getLong(same.fieldIndex("rbo_norm_x1e6")) == 1000000L)
  }

  test("rbo: zero-overlap key reports 0, not a dropped row") {
    // key g: disjoint top-3s (sa ranks a,b,c; sb ranks x,y,z) — the
    // strongest-disagreement key must surface as rbo 0, not vanish
    // from the output (ADVICE r12: inner-join-only fold dropped it)
    import graft.ops.Eval
    val df = Seq(
      ("g", "a", 30L, 0L), ("g", "b", 20L, 0L), ("g", "c", 10L, 0L),
      ("g", "x", 0L, 30L), ("g", "y", 0L, 20L), ("g", "z", 0L, 10L),
      ("h", "a", 30L, 30L), ("h", "b", 20L, 20L), ("h", "c", 10L, 10L))
      .toDF("k", "item", "sa", "sb")
    val out = Eval.rankBiasedOverlap(df, Seq("k"), "item",
        col("sa"), col("sb"), depth = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(r.fieldIndex("n_common")),
          r.getLong(r.fieldIndex("rbo_x1e6")))).toMap
    assert(out.size == 2, s"zero-overlap key dropped: $out")
    assert(out("g") == (0L, 0L))
    assert(out("h") == (3L, 271000L))
  }

  test("fd audit: true FD zero violations, broken FD counted per group") {
    val df = Seq(
      (1L, "a", 10), (1L, "a", 20), // key 1 -> a (consistent), 2 vals of v
      (2L, "b", 30),
      (3L, "c", 40), (3L, "d", 40)) // key 3 -> {c, d}: violation
      .toDF("k", "u", "v")
    val out = graft.ops.Expectations.fdAudit(df,
        Seq(("k", "u"), ("u", "v")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("k->u") == (3L, 1L, 333333L))
    // u->v: a->{10,20} violates; b,c,d single-valued
    assert(out("u->v") == (4L, 1L, 250000L))
  }

  test("personalized pagerank: seed-proximity trajectory, 0 off-component") {
    import graft.graph.Graph
    val und = Seq(("a", "b"), ("g", "b"), ("d", "b"), ("x", "y"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = Seq("a", "b", "g", "d", "x", "y").toDF("id")
    val seeds = Seq("b").toDF("id")
    // hand trajectory (teleport 150000 only at b; leaves outdeg 1,
    // b outdeg 3):
    //  r1: b = 150000, leaf = (1e6 div 3)*85 div 100 = 283333
    //  r2: b = 150000 + (3*283333*85) div 100 = 872499
    //      leaf = ((150000 div 3)*85) div 100 = 42500
    //  r3: b = 150000 + (3*42500*85) div 100 = 258375
    //      leaf = ((872499 div 3)*85) div 100 = 247208
    val out = Graph.pageRankPersonalized(edges, nodes, seeds, "id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("b") == 258375L)
    assert(out("a") == 247208L && out("g") == 247208L && out("d") == 247208L)
    // x, y are unreachable from the seed: exactly 0, not epsilon
    assert(out("x") == 0L && out("y") == 0L)
  }

  test("hits: one-round bipartite trajectory, L-inf normalized") {
    import graft.graph.Graph
    // u1 -> {p1, p2}, u2 -> {p1}; one round:
    //  raw auth: p1 = 2e6, p2 = 1e6; max 2e6 -> a(p1)=1e6, a(p2)=5e5
    //  raw hub:  u1 = 1.5e6, u2 = 1e6; max 1.5e6 -> h(u1)=1e6,
    //            h(u2) = (1e6*1e6) div 1.5e6 = 666666
    val edges = Seq(("u1", "p1"), ("u1", "p2"), ("u2", "p1"))
      .toDF("src", "dst")
    val out = Graph.hits(edges, iters = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out(("p1", "authority")) == 1000000L)
    assert(out(("p2", "authority")) == 500000L)
    assert(out(("u1", "hub")) == 1000000L)
    assert(out(("u2", "hub")) == 666666L)
  }

  test("frequent triples: a-priori candidates, membership-counted support") {
    // baskets: b1{x,y,z} b2{x,y,z} b3{x,y} b4{x,z,w} b5{y,z,w} b6{w}
    // minSupport 2: frequent pairs xy:3 xz:3 yz:3 wz:2; the only
    // candidate triple is (x,y,z) (closure: all three sub-pairs
    // frequent); support 2 (b1, b2); (x,z,w)/(y,z,w) die at candidate
    // generation (wx / wy infrequent) despite being basket triples.
    val rows = Seq(
      "b1" -> "x", "b1" -> "y", "b1" -> "z",
      "b2" -> "x", "b2" -> "y", "b2" -> "z",
      "b3" -> "x", "b3" -> "y",
      "b4" -> "x", "b4" -> "z", "b4" -> "w",
      "b5" -> "y", "b5" -> "z", "b5" -> "w",
      "b6" -> "w").toDF("basket", "item")
    val out = Association.frequentTriples(rows, "basket", "item",
      minSupport = 2L).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1), r.getString(2)) == ("x", "y", "z"))
    assert(r.getLong(r.fieldIndex("n_abc")) == 2L)
    assert(r.getLong(r.fieldIndex("n_ab")) == 3L)
    assert(r.getLong(r.fieldIndex("n_ac")) == 3L)
    assert(r.getLong(r.fieldIndex("n_bc")) == 3L)
    assert(r.getLong(r.fieldIndex("conf_ppm")) == 666666L)
  }

  test("multi-touch: position 40/20/40 and dyadic decay, hand-computed") {
    // conv Jan12 12:00; click Jan10 10:00 (age 2, wt 2), views Jan12
    // 09:00/11:00 (age 0, wt 8 each), wsum 18:
    //  decay: click (2e6 div 18)=111111, each view (8e6 div 18)=444444
    //  position (n=3): last view 400000, first click 400000,
    //  middle view 200000; linear 333333 each
    val ev = Seq(
      (1L, 1L, ts("2024-01-10 10:00:00"), "click"),
      (2L, 1L, ts("2024-01-12 09:00:00"), "view"),
      (3L, 1L, ts("2024-01-12 11:00:00"), "view"),
      (4L, 1L, ts("2024-01-12 12:00:00"), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Attribution.multiTouchAttribution(ev, "user_id", "ts",
        "event_id", "event_type", "purchase", Seq("click", "view"),
        lookbackDays = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(out("click") == (0L, 1L, 333333L, 400000L, 111111L, 1L))
    assert(out("view") == (1L, 0L, 666666L, 600000L, 888888L, 2L))
  }

  test("attribution: salted rung output identical to plain grid") {
    // burst-bot rung (ADVICE/verdict r12): saltFactor spreads one
    // (user, bucket) hot key's pairs across partitions — must be a
    // pure compute rewrite, byte-identical output
    val ev = Seq(
      (1L, 1L, ts("2024-01-10 10:00:00"), "click"),
      (2L, 1L, ts("2024-01-12 09:00:00"), "view"),
      (3L, 1L, ts("2024-01-12 11:00:00"), "view"),
      (4L, 1L, ts("2024-01-12 12:00:00"), "purchase"),
      (5L, 2L, ts("2024-01-12 08:00:00"), "click"),
      (6L, 2L, ts("2024-01-12 09:30:00"), "purchase"),
      (7L, 2L, ts("2024-01-12 10:00:00"), "view")) // after conv: no credit
      .toDF("event_id", "user_id", "ts", "event_type")
    def run(salt: Int) = Attribution.touchAttribution(ev, "user_id",
        "ts", "event_id", "event_type", "purchase", Seq("click", "view"),
        lookbackDays = 3, saltFactor = salt)
      .orderBy("touch_type").collect().map(_.toString).toSeq
    assert(run(1) == run(5))
    def runMulti(salt: Int) = Attribution.multiTouchAttribution(ev,
        "user_id", "ts", "event_id", "event_type", "purchase",
        Seq("click", "view"), lookbackDays = 3, saltFactor = salt)
      .orderBy("touch_type").collect().map(_.toString).toSeq
    assert(runMulti(1) == runMulti(5))
  }

  test("multi-touch: lookback 62 decay sum does not wrap (decimal wsum)") {
    // three age-0 touches at lookback 62: each __wt = 2^62, so a LONG
    // window sum would wrap to negative (3·2^62 > Long.MaxValue) and
    // emit garbage decay credit (ADVICE r12). Decimal accumulation
    // gives exactly 10^6 div 3 = 333333 each.
    val ev = Seq(
      (1L, 1L, ts("2024-01-12 09:00:00"), "view"),
      (2L, 1L, ts("2024-01-12 10:00:00"), "view"),
      (3L, 1L, ts("2024-01-12 11:00:00"), "view"),
      (4L, 1L, ts("2024-01-12 12:00:00"), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Attribution.multiTouchAttribution(ev, "user_id", "ts",
        "event_id", "event_type", "purchase", Seq("click", "view"),
        lookbackDays = 62)
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(out("view") == 999999L, s"decay wrapped: $out") // 3×333333
  }

  test("grid dbscan: diagonal merge, isolated core, sparse-cell noise") {
    // cellSize 10, minPts 2: cells (0,0),(1,0) core and adjacent;
    // (2,1) core and DIAGONAL to (1,0) -> all one cluster labeled by
    // the min cell key 0; (9,0) core but isolated -> own cluster
    // 9*2^20; (5,5) single point -> noise -1
    val pts = Seq(
      (1L, 1L, 1L), (2L, 2L, 2L),      // cell (0,0)
      (3L, 11L, 5L), (4L, 12L, 6L),    // cell (1,0)
      (5L, 21L, 11L), (6L, 22L, 12L),  // cell (2,1) diagonal to (1,0)
      (7L, 55L, 55L),                  // sparse cell (5,5)
      (8L, 91L, 1L), (9L, 92L, 2L))    // cell (9,0) isolated core
      .toDF("id", "x", "y")
    val out = graft.ops.GeoJoin.gridDensityClusters(pts, "id", "x", "y",
        cellSize = 10L, minPts = 2L, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert((1L to 6L).forall(out(_) == 0L), out.toString)
    assert(out(7L) == -1L)
    assert(out(8L) == 9L * 1048576L && out(9L) == 9L * 1048576L)
  }

  test("grid dbscan: out-of-range cell coords fail loudly, not collide") {
    // cy >= 2^20 would alias a different (cx, cy) under the packed
    // key cx·2^20 + cy (ADVICE r12) — the guard must raise, not
    // silently merge clusters
    val pts = Seq((1L, 5L, 20971520000L), (2L, 6L, 20971520001L))
      .toDF("id", "x", "y") // y div 10 = 2097152000 >= 2^20
    val ex = intercept[Exception] {
      graft.ops.GeoJoin.gridDensityClusters(pts, "id", "x", "y",
        cellSize = 10L, minPts = 2L, iters = 1).collect()
    }
    assert(ex.getMessage != null)
  }

  test("grid dbscan: fixed rounds merge a chain once iters covers its diameter") {
    // 6 core cells in a row: adjacency diameter 5; iters=1 leaves
    // multiple labels, iters=5 (the diameter) reaches the single label
    val pts = (0 until 6).flatMap(c =>
      Seq((c * 2L, c * 10L + 1L, 1L), (c * 2L + 1L, c * 10L + 2L, 2L)))
      .toDF("id", "x", "y")
    def clusters(iters: Int) =
      graft.ops.GeoJoin.gridDensityClusters(pts, "id", "x", "y",
          cellSize = 10L, minPts = 2L, iters = iters)
        .collect().map(_.getLong(3)).toSet
    assert(clusters(1).size > 1)
    assert(clusters(5) == Set(0L))
  }

  test("rolling distinct: window coverage, dedup within window, zero days") {
    // u1 active d1 and d10, u2 active d2; window 3:
    //  d1:1  d2:2  d3:2  d4:1  d5..d9:0  d10:1 (span ends at the last
    //  active day; u1's double activity never double-counts)
    val ev = Seq(
      ("A", ts("2024-03-01 01:00:00"), 1L),
      ("A", ts("2024-03-01 09:00:00"), 1L), // same user+day dup
      ("A", ts("2024-03-10 01:00:00"), 1L),
      ("A", ts("2024-03-02 01:00:00"), 2L))
      .toDF("k", "ts", "u")
    val out = graft.ops.Resample.rollingDistinct(ev, "k", "ts", "u", 3)
      .collect().map(r => r.getDate(1).toString -> r.getLong(2)).toMap
    assert(out.size == 10)
    assert(out("2024-03-01") == 1L && out("2024-03-02") == 2L &&
      out("2024-03-03") == 2L && out("2024-03-04") == 1L)
    assert((5 to 9).forall(d => out(f"2024-03-0$d%d") == 0L))
    assert(out("2024-03-10") == 1L)
  }

  test("dow profile: ISO weekday, dense-grid zeros, cross-multiplied index") {
    // Mon 2 events, Tue 1, Wed an explicit zero-volume day (the grid
    // treats gap days the same): tc=3 over tn=3 days
    //  Mon index = (2*3*1e6) div (3*1) = 2e6; Tue 1e6; Wed 0
    val daily = Seq(("A", java.sql.Date.valueOf("2024-06-03"), 2L),
      ("A", java.sql.Date.valueOf("2024-06-04"), 1L))
      .toDF("k", "day", "c")
      .union(Seq(("A", java.sql.Date.valueOf("2024-06-05"), 0L))
        .toDF("k", "day", "c"))
    val out = Forecast.dowProfileFromDaily(daily, "k")
      .collect().map(r => r.getInt(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1) == (1L, 2L, 2000000L)) // Monday
    assert(out(2) == (1L, 1L, 1000000L)) // Tuesday
    assert(out(3) == (1L, 0L, 0L))       // Wednesday
  }

  test("seasonal MASE: gap days zero-filled, constant series -> null") {
    // key A over days 1..5 (day 3 absent -> 0): counts 2,1,0,1,2
    // season=2: |c_d - c_{d-2}| for d=3..5 -> |0-2|+|1-1|+|2-0| = 4, n_s=3
    // naive:    |c_d - c_{d-1}| for d=2..5 -> 1+1+1+1 = 4, n_1=4
    // mase_ppm = 4*4*1e6 div (3*4) = 1333333
    val rows = Seq(
      ("A", ts("2024-01-01 01:00:00")), ("A", ts("2024-01-01 02:00:00")),
      ("A", ts("2024-01-02 01:00:00")),
      ("A", ts("2024-01-04 01:00:00")),
      ("A", ts("2024-01-05 01:00:00")), ("A", ts("2024-01-05 02:00:00")),
      // key B: constant 1/day -> naive err 0 -> mase null
      ("B", ts("2024-01-01 01:00:00")), ("B", ts("2024-01-02 01:00:00")),
      ("B", ts("2024-01-03 01:00:00")), ("B", ts("2024-01-04 01:00:00")),
      ("B", ts("2024-01-05 01:00:00")))
      .toDF("k", "ts")
    val out = Forecast.seasonalNaiveMase(rows, "k", "ts", season = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getLong(a.fieldIndex("n_days")) == 5L)
    assert(a.getLong(a.fieldIndex("seasonal_abs_err")) == 4L)
    assert(a.getLong(a.fieldIndex("naive_abs_err")) == 4L)
    assert(a.getLong(a.fieldIndex("mase_ppm")) == 1333333L)
    assert(out("B").isNullAt(out("B").fieldIndex("mase_ppm")))
  }

  test("heaps curve: cumulative vocab/tokens per id-range bucket") {
    val docs = Seq(
      (0L, "a b a"), (1L, ""),          // bucket 1: 3 tokens, vocab {a,b}
      (2L, "b c"), (3L, "c d d"))       // bucket 2: +5 tokens, new {c,d}
      .toDF("doc_id", "text")
    val out = VocabGrowth.heapsCurve(docs, "doc_id", "text", buckets = 2)
      .orderBy("bucket").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((2L, 3L, 2L), (4L, 8L, 4L)))
    // ttr: 2e6 div 3 = 666666; 4e6 div 8 = 500000
    assert(out.map(_.getLong(4)).toSeq == Seq(666666L, 500000L))
  }

  test("group vocab jaccard: exact overlap ppm, unordered pair once") {
    val docs = Seq(
      ("s1", "a b c"), ("s1", "c d"),     // s1 vocab {a,b,c,d}
      ("s2", "c d e"), ("s2", ""),        // s2 vocab {c,d,e}
      ("s3", "x"))                        // s3 vocab {x} — no overlap rows
      .toDF("source", "text")
    val out = VocabGrowth.groupVocabJaccard(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // common {c,d}=2, union 4+3-2=5 -> 400000 ppm
    assert(out(("s1", "s2")) == (2L, 4L, 3L, 400000L))
    assert(out.size == 1) // disjoint pairs emit nothing
  }

  test("item neighbors: cos2 ppm exact, mirrored, ranked, k-capped") {
    // baskets: {1,2} x3, {1,3} x1 via four orders; item counts 1->4, 2->3, 3->2
    val rows = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L),
      (13L, 1L), (13L, 3L), (14L, 2L), (15L, 3L))
      .toDF("order_id", "item_id")
    val out = Association.itemNeighbors(rows, "order_id", "item_id",
        k = 1, minItemCount = 1L, minPairCount = 1L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(5), r.getInt(6))).toMap
    // pair (1,2): n_ab=3, n_1=4, n_2=4 -> wait: item 2 appears in orders
    // 10,11,12,14 -> 4. cos2 = 9e6 div 16 = 562500
    // pair (1,3): n_ab=1, n_1=4, n_3=2 -> 1e6 div 8 = 125000
    assert(out(1L) == (2L, 3L, 562500L, 1))   // item 1's best neighbor: 2
    assert(out(2L) == (1L, 3L, 562500L, 1))   // mirrored
    assert(out(3L) == (1L, 1L, 125000L, 1))
    assert(out.size == 3) // k=1 caps each item's list
  }

  test("session sequences: strictly-before within session, gap splits") {
    // user 1, session 1: view(1) click(2) view(3) -> view<click, click<view
    // user 1, session 2 (gap > 1800s): buy(4) alone
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 10:05:00"), "click"),
      (3L, 1L, ts("2024-01-01 10:10:00"), "view"),
      (4L, 1L, ts("2024-01-01 12:00:00"), "buy"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = SequentialPatterns.sessionSequencePairs(ev, "user_id", "ts",
        "event_id", "event_type", gapSeconds = 1800L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // 2 sessions total -> support 500000 each; buy pairs with nothing
    assert(out(("view", "click")) == (1L, 500000L))
    assert(out(("click", "view")) == (1L, 500000L))
    assert(out.size == 2)
  }

  test("mad outliers: type-1 medians, fence exact, one wild value can't move it") {
    // group g: values 1,2,3,4,100 (cents) -> median 3 (type-1 lower:
    // cum*2>=5 first at v=3); devs 2,1,0,1,97 -> sorted 0,1,1,2,97 ->
    // MAD 1; fence 3 -> outlier only 97
    val rows = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L), ("g", 100L))
      .toDF("t", "v")
    val out = graft.ops.GroupQuantile.madOutliers(rows, Seq("t"), col("v"))
      .head()
    assert(out.getLong(1) == 5L)   // n
    assert(out.getLong(2) == 3L)   // median
    assert(out.getLong(3) == 1L)   // mad
    assert(out.getLong(4) == 1L)   // outliers: just the wild 100
  }

  test("theil-sen: exact quantized median slope, negative trend exact") {
    // key D (down): counts 5,3,1 over 3 days. pairs: (d1,d2)->-2e6,
    // (d1,d3)->-2e6, (d2,d3)->-2e6 -> median -2000000 (trunc-safe)
    val rows = (0 until 5).map(i => ("D", ts("2024-01-01 0%d:00:00".format(i + 1)))) ++
      (0 until 3).map(i => ("D", ts("2024-01-02 0%d:00:00".format(i + 1)))) ++
      Seq(("D", ts("2024-01-03 01:00:00")))
    val out = graft.ops.Forecast.theilSenDailyTrend(
      rows.toDF("k", "ts"), "k", "ts").head()
    assert(out.getLong(1) == 3L)          // n_days
    assert(out.getLong(2) == 3L)          // n_pairs
    assert(out.getLong(3) == -2000000L)   // slope
  }

  test("mips: exact top-k even when the top-norm vector is not the top-dot") {
    // query q=(1,0); a=(0,10) has the LARGEST norm but dot 0;
    // b=(3,0) dot 3; c=(2,2) dot 2; d=(-5,0) dot -5 (negative)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),   // query
      (1L, Array(0.0f, 10.0f)),
      (2L, Array(3.0f, 0.0f)),
      (3L, Array(2.0f, 2.0f)),
      (4L, Array(-5.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.sim.Similarity.mipsTopKNormPruned(
        vecs, "vec_id", "embedding", queryId = 0L, k = 2,
        initialFactor = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // quantized: 1e4 grid -> dots x1e8: b=3e8, c=2e8
    assert(out.toSeq == Seq((2L, 300000000L), (3L, 200000000L)))
  }

  test("asof forward: next right at >= left ts, inclusive tie, null past end") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 10L, 400L))
      .toDF("id", "k", "lts")
    val right = Seq((10L, 100L), (10L, 300L)).toDF("k", "rts")
    val out = graft.ops.AsOfJoin.asOfForward(left, right, Seq("k"),
        "lts", "rts", Map("rts" -> "next_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(1L).contains(100L)) // same-ts match is inclusive
    assert(out(2L).contains(300L)) // next, not previous
    assert(out(3L).isEmpty)        // nothing after 400
  }

  test("fk orphans: planted orphan counted, null fk excluded, ppm exact") {
    val child = Seq((1L, Some(10L)), (2L, Some(10L)), (3L, Some(99L)),
      (4L, None)).toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val out = graft.ops.Expectations.fkOrphans(
      Seq(("c->p", child, "fk", parent, "pk"))).head()
    assert(out.getString(0) == "c->p")
    assert(out.getLong(1) == 3L) // null fk excluded
    assert(out.getLong(2) == 1L) // the 99
    assert(out.getLong(3) == 333333L)
  }

  test("hamilton allocation: sums to budget, largest remainders win") {
    // strata sizes 5, 3, 2 over budget 7: quotas 3.5, 2.1, 1.4 ->
    // bases 3,2,1 (sum 6), remainders (7*5)%10=5, (7*3)%10=1, (7*2)%10=4
    // -> the one leftover seat goes to stratum a (rem 5)
    val rows = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .toDF("s")
    val out = graft.ops.Sampling.largestRemainderAllocation(
        rows, Seq("s"), budget = 7L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(4)))
      .toMap
    assert(out("a") == (3L, 4L))
    assert(out("b") == (2L, 2L))
    assert(out("c") == (1L, 1L))
    assert(out.values.map(_._2).sum == 7L)
  }

  test("stupid backoff: all four levels hand-checked at alpha = 2/5") {
    // trusted: "a b c a b d" -> unigrams a:2 b:2 c:1 d:1 (V=4, N=6)
    // bigrams: "a b":2, "b c":1, "c a":1, "b d":1
    // trigrams: "a b c":1, "b c a":1, "c a b":1, "a b d":1
    val trusted = Seq((0L, "a b c a b d", "en")).toDF("doc_id", "text", "lang")
    val model = graft.text.NgramLm.trainStupidBackoff(trusted, "text")
    // score "a b c" (L1: 1e6*1 div 2), "a b z" (L4 OOV: 4e6 div 100),
    // "x b d" (L2 via "b d": 2e6*1 div (5*2)), "x y d" (L3: 4e6*1 div 150)
    val docs = Seq(
      (1L, "a b c"), (2L, "a b z"), (3L, "x b d"), (4L, "x y d"))
      .toDF("doc_id", "text")
    val out = graft.text.NgramLm.scoreStupidBackoff(
        docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 500000L)  // seen trigram: c123/c12 = 1/2
    assert(out(2L) == 40000L)   // OOV w3: 4e6 div (25*4)
    assert(out(3L) == 200000L)  // backoff bigram: 2e6*1 div (5*2)
    assert(out(4L) == 26666L)   // backoff unigram: 4e6*1 div (25*6)
  }

  test("cusum: planted level shift alarms on the right day and direction") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // key U: 2/day for 3 ref days, then 10/day — must UP-alarm once the
    // drawup clears 2x the ref mean; key D mirrors downward (2 -> 0);
    // key F flat — never alarms
    def day(d: Int) = java.sql.Date.valueOf(f"2024-01-$d%02d")
    val rows =
      (1 to 3).map(d => Row("U", day(d), 2L)) ++
      (4 to 8).map(d => Row("U", day(d), 10L)) ++
      (1 to 3).map(d => Row("D", day(d), 2L)) ++
      (4 to 8).map(d => Row("D", day(d), 0L)) ++
      (1 to 8).map(d => Row("F", day(d), 2L))
    val daily = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("k", StringType),
        StructField("day", DateType), StructField("c", LongType))))
    val out = graft.ops.Changepoint.cusumFromDaily(daily, "k",
        refDays = 3, slackPpm = 0L, hPpm = 2000000L)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(4)), Option(r.getString(5)))).toMap
    // U: dev/day = (10-2)*3*1e6 = 24e6 scaled; h = 2e6*6 = 12e6 ->
    // first chart day (Jan 4) already clears it
    assert(out("U") == (Some("2024-01-04"), None))
    // D: -2/day -> scaled 6e6/day down; clears 12e6 on day 3 (Jan 6)
    assert(out("D") == (None, Some("2024-01-06")))
    assert(out("F") == (None, None))
  }

  test("cusum: flat series with positive slack never alarms either side") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Regression for the down-chart slack sign: a perfectly in-control
    // series run long enough that an ADDED (wrong-sign) slack of
    // 100000 ppm would cross h = 2e6 ppm after ~20 chart days. With
    // slack correctly SUBTRACTED in both directions the drawups stay
    // pinned at 0 and neither side may ever alarm.
    def day(d: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(d - 1).toString)
    val rows = (1 to 40).map(d => Row("F", day(d), 5L))
    val daily = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("k", StringType),
        StructField("day", DateType), StructField("c", LongType))))
    val out = graft.ops.Changepoint.cusumFromDaily(daily, "k",
        refDays = 7, slackPpm = 100000L, hPpm = 2000000L)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(4)), Option(r.getString(5)))).toMap
    assert(out("F") == (None, None))
  }

  test("brier decomposition: perfect predictor vs constant predictor") {
    // perfect: p = 1e6*y -> brier 0; one bin per class, ybar = pbar
    // -> reliability 0; resolution = uncertainty (quantized equal here)
    val perfect = Seq((1000000L, true), (1000000L, true), (0L, false),
      (0L, false)).toDF("score_ppm", "y")
    val p = graft.ops.Eval.brierDecomposition(perfect, "score_ppm", "y")
      .head()
    assert(p.getLong(2) == 0L)                    // brier
    assert(p.getLong(3) == 0L)                    // reliability
    assert(p.getLong(4) == p.getLong(5))          // resolution = unc
    // constant 500000 on a 50% base: brier = 0.25e12 exactly;
    // resolution 0; reliability 0 (pbar=ybar=500000 in the one bin)
    val const = Seq((500000L, true), (500000L, false))
      .toDF("score_ppm", "y")
    val c = graft.ops.Eval.brierDecomposition(const, "score_ppm", "y")
      .head()
    assert(c.getLong(2) == 250000000000L)
    assert(c.getLong(3) == 0L && c.getLong(4) == 0L)
    assert(c.getLong(5) == 250000000000L)
  }

  test("gini split: perfect separation scores 0, threshold tiebreaks low") {
    val rows = Seq(
      (1L, "en"), (2L, "en"), (3L, "en"),
      (10L, "fr"), (11L, "fr"))
      .toDF("f", "lab")
    val out = SplitFinder.bestGiniSplits(rows, "f", "lab", k = 2)
      .collect()
    // threshold 3 separates perfectly: gini 0. Next-best by tiebreak.
    assert(out(0).getLong(0) == 3L)
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 2L)
    assert(out(0).getLong(3) == 0L)
    assert(out(1).getLong(3) > 0L)
    // threshold cap guard trips loudly
    val e = intercept[IllegalArgumentException] {
      SplitFinder.bestGiniSplits(rows, "f", "lab", k = 1, maxThresholds = 2L)
    }
    assert(e.getMessage.contains("bucket the feature upstream"))
  }
}
