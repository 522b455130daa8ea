package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Graph
import graft.obs.PlanCapture

class GraphSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = Session.builder("graph-test", "4").getOrCreate()
  import spark.implicits._

  /** Runs `body` with Spark's size-based broadcast off (static and
    * adaptive), so every planner-chosen broadcast join shuffles. */
  private def withoutBroadcast[A](body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("clustering coefficient: triangle 1.0, junction diluted, pendant null") {
    // triangle a-b-c plus pendant d on a: b,c fully clustered (1e6),
    // a has 3 neighbors / 1 closed wedge of 3 -> 333333, d deg 1 -> NULL
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    val out = Graph.clusteringCoefficient(edges, nodes, "id")
      .collect().map(r => r.getString(0) -> r).toMap
    def ppm(k: String) = out(k).getLong(out(k).fieldIndex("clustering_ppm"))
    assert(ppm("a") == 333333L)
    assert(ppm("b") == 1000000L && ppm("c") == 1000000L)
    assert(out("d").isNullAt(out("d").fieldIndex("clustering_ppm")))
  }

  test("assortativity: a star is exactly -1") {
    val und = Seq(("a", "b"), ("a", "c"), ("a", "d"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.degreeAssortativity(edges).collect().head
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) == -1.0)
  }

  test("kCore: pendant peels, triangle survives, cascades peel in rounds") {
    import org.apache.spark.sql.functions.col
    // triangle 1-2-3, pendant 4 on 1, chain 5 on 4: at k=2 the chain
    // peels over TWO rounds (5 first, then 4 once 5 is gone)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    def core(iters: Int) = Graph.kCore(edges, nodes, "id", k = 2, iters)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // one round: only 5 (degree 1) peels; 4 still counted degree 2
    assert(core(1) == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 0))
    // two rounds: 4's degree drops to 1 once 5 is gone
    assert(core(2) == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 0))
    // fixpoint: round 3 removes nothing, the triangle is the 2-core
    assert(core(3) == core(2))
  }

  test("kCore: q_kcore_membership's declared iters=3 is a fixpoint on gate data") {
    // The declared query's oracle unrolls the SAME 3 peeling rounds, so
    // the hash gate proves implementation-matches-spec but cannot catch
    // an unconverged core. This is the spec-matches-true-k-core check:
    // on the gate-scale graph (sf0.01 co-purchase, k=60) a 4th round
    // must remove nothing. If testdata regeneration deepens the peeling
    // cascade past 3, this fails and the declared iters must be raised.
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.01"
    val li = graft.sources.Tables.lineitem(spark, d)
    val e = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      .localCheckpoint(true)
    val nodes = li.select(col("l_partkey")).distinct()
    def core(iters: Int) = Graph.kCore(e, nodes, "l_partkey", k = 60, iters)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val three = core(3)
    // non-vacuous: the peel keeps some nodes and drops others
    assert(three.values.toSet == Set(0, 1), three.values.groupBy(identity)
      .map { case (v, vs) => v -> vs.size })
    assert(core(4) == three,
      "iters=3 no longer converges on gate data: a 4th peeling round " +
        "removes nodes — raise q_kcore_membership's round count")
  }

  test("co-occurrence edges: within-group pairs, symmetric, simple") {
    // groups: {1,2,3}, {2,3}, {4} — edge set {1-2,1-3,2-3} both ways
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 2L), (20L, 3L),
      (20L, 3L), (30L, 4L)).toDF("g", "item")
    val e = Graph.coOccurrenceEdges(df, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("co-occurrence edges: pathological mega-group fails loudly, not silently squares") {
    // one basket with 50 distinct items; cap at 10 → must refuse with
    // the group size in the message, BEFORE emitting ~2500 pairs
    val mega = (1L to 50L).map(i => (1L, i)).toDF("g", "item")
    val ex = intercept[IllegalArgumentException] {
      Graph.coOccurrenceEdges(mega, "g", "item", maxGroupSize = 10L).count()
    }
    assert(ex.getMessage.contains("50"))
    // at or under the cap it proceeds: 50·49 directed pairs
    assert(Graph.coOccurrenceEdges(mega, "g", "item",
      maxGroupSize = 50L).count() == 50L * 49L)
  }

  test("fixed-point pagerank matches the hand-unrolled integer trajectory") {
    // 1→2, 2→1, 3→1; base 10⁶, damping 85/100, teleport 150000.
    // iter1: r1=150000+85%·2e6=1850000, r2=1000000, r3=150000
    // iter2: r1=150000+85%·1150000=1127500, r2=150000+85%·1850000=1722500
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val out = Graph.pageRank(edges, nodes, "id", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1127500L, 2L -> 1722500L, 3L -> 150000L))
    val units = Graph.pageRank(edges, nodes, "id", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(units(2L) === 1.7225)
  }

  test("pagerank conserves teleport floor and favors in-degree") {
    // star: spokes 2..5 all point at hub 1 (and hub back, symmetric)
    val spokes = (2L to 5L)
    val edges = (spokes.map(s => (s, 1L)) ++ spokes.map(s => (1L, s)))
      .toDF("src", "dst")
    val nodes = (1L to 5L).toDF("id")
    val out = Graph.pageRank(edges, nodes, "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) > out(2L), "hub must outrank spokes")
    assert(spokes.map(out).toSet.size == 1, "symmetric spokes tie")
    assert(out.values.forall(_ >= 150000L), "teleport floor")
  }

  test("triangle counts: K4 has 3 per node, square has none, isolate 0") {
    // K4 on 1..4 (4 triangles, each node in 3); square 5-6-7-8 (none);
    // node 9 isolated
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val sq = Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L))
    val edges = (k4 ++ sq.flatMap { case (a, b) => Seq((a, b), (b, a)) })
      .toDF("src", "dst")
    val nodes = (1L to 9L).toDF("id")
    val out = Graph.triangleCounts(edges, nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(out(_) == 3L))
    assert((5L to 9L).forall(out(_) == 0L))
    // the degree joins broadcast by the pins' measured size; with
    // size-based broadcast off they shuffle — identical counts
    val outS = withoutBroadcast(Graph.triangleCounts(edges, nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(outS == out)
  }

  test("label propagation: hand-checked spread, tie to smallest, clamp, isolate -1") {
    // path 1-2-3-4-5, isolate 6; seeds 1->10, 5->20
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val nodes = (1L to 6L).toDF("id")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("id", "label")
    def run(iters: Int) = Graph.labelPropagation(edges, seeds, nodes,
      "id", iters).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter1: 2<-10, 4<-20, 3 has no labeled neighbor yet
    assert(run(1) == Map(1L -> 10L, 2L -> 10L, 3L -> -1L,
      4L -> 20L, 5L -> 20L, 6L -> -1L))
    // iter2: 3 sees 10 and 20 once each -> tie -> smallest (10);
    // seeds stay clamped; isolate stays -1
    assert(run(2) == Map(1L -> 10L, 2L -> 10L, 3L -> 10L,
      4L -> 20L, 5L -> 20L, 6L -> -1L))
    // iter3: unseeded 4 now ties between 3 (10) and 5 (20) -> flips
    // to the smaller label; the clamped seed 5 itself never moves
    assert(run(3) == Map(1L -> 10L, 2L -> 10L, 3L -> 10L,
      4L -> 10L, 5L -> 20L, 6L -> -1L))
  }

  test("bfs levels: min-hop on a diamond, cycle stops, horizon excluded") {
    // path 1→2→3→4→5 plus diamond shortcut 1→6, 6→4, and back-edge
    // 3→1 (cycle). seeds {1}. maxHops 3:
    //   hop0: 1; hop1: 2,6; hop2: 3,4 (4 via the SHORT path through 6,
    //   not hop 3 via the path); hop3: 5. back-edge to 1 re-reaches a
    //   seen node — anti-join drops it.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 6L), (6L, 4L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = Graph.bfsLevels(edges, seeds, "id", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 6L -> 1, 3L -> 2, 4L -> 2, 5L -> 3))
    // horizon: maxHops=2 must EXCLUDE node 5 entirely, not report -1
    val got2 = Graph.bfsLevels(edges, seeds, "id", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2 == Map(1L -> 0, 2L -> 1, 6L -> 1, 3L -> 2, 4L -> 2))
  }

  test("connected components: fixpoint labels each component by its min id") {
    // path 1-2-3-4 (diameter 3 — needs >1 round), triangle 5-6-7,
    // isolate 8; symmetric edges
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = (1L to 8L).toDF("id")
    // fixed-round HashMin at iters = the path's diameter is the fixpoint
    val got = Graph.connectedComponents(edges, nodes, "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L))
    // … the same labels the exact operator (pointer jumping, run to
    // convergence) gives on the same pairs
    val exact = graft.text.Dedup.nearDupClusters(nodes, "id",
        und.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == got)
    // a capped run is the k-round HashMin state, not yet converged:
    // node 4 has only seen labels within 1 hop after round 1
    val capped = Graph.connectedComponents(edges, nodes, "id", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped(4L) == 3L && capped(2L) == 1L && capped(8L) == 8L)
  }

  test("node-frame broadcast rung: both rungs produce identical output") {
    // per-round node frames are pins with measured sizes, so the
    // planner broadcasts them while they fit its threshold; with
    // size-based broadcast off every such join shuffles. The choice
    // must be invisible in the results.
    import org.apache.spark.sql.functions.col
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = (1L to 8L).toDF("id")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("id", "label")
    def runAll(): Seq[Set[String]] = Seq(
      Graph.pageRank(edges, nodes, "id", iters = 3),
      Graph.pageRankPersonalized(edges, nodes, seeds.select(col("id")),
        "id", iters = 3),
      Graph.labelPropagation(edges, seeds, nodes, "id", iters = 3),
      Graph.connectedComponents(edges, nodes, "id", iters = 5),
      Graph.kCore(edges, nodes, "id", k = 2, iters = 3),
      Graph.bfsLevels(edges, seeds.select(col("id")), "id", maxHops = 3),
      Graph.hits(edges, iters = 2)
    ).map(_.collect().map(_.toString).toSet)
    val broadcastRung = runAll() // default threshold: node side broadcasts
    val shuffleRung = withoutBroadcast(runAll())
    broadcastRung.zip(shuffleRung).zipWithIndex.foreach {
      case ((b, s), i) => assert(b == s, s"operator $i diverged")
    }
  }

  test("pagerank: the rank side broadcasts into each round's edge join, the edge side never shuffles") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = (1L to 8L).toDF("id")
    // the rounds run inside the pins' own executions
    val ran = PlanCapture(spark)(
      Graph.pageRank(edges, nodes, "id", iters = 3).collect())
    // the per-round edge join is the one that emits the contribution `c`
    val edgeJoins = ran.plans.flatMap(p => collect(p) {
      case j: BroadcastHashJoinExec
          if j.output.exists(_.name == "c") &&
            j.leftKeys.exists(_.references.exists(_.name == "src")) => j
    })
    assert(edgeJoins.size >= 3, ran.planText)
    edgeJoins.foreach { j =>
      val (build, streamed) =
        if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
      assert(find(build)(_.isInstanceOf[BroadcastExchangeLike]).isDefined &&
        build.output.exists(_.name == "c"), j)
      assert(find(streamed)(_.isInstanceOf[ShuffleExchangeLike]).isEmpty, j)
    }
  }
}
