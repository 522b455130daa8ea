package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.PlanCapture

/** Physical-plan assertions: the properties that matter at 100 TB are
  * visible in the plan at any scale factor — filters reach the parquet
  * scan, projections prune the read schema, dimension joins broadcast,
  * aggregates run partial→final, and nothing falls back to
  * CartesianProduct except the deliberate broadcast-one-row cross joins.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("plan-test", "4").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan
  }

  private def planString(name: String): String =
    executedPlan(name).toString

  test("join hints: only the audited sites carry one, each with its reason") {
    // every other join shape is the planner's call from a size that is
    // exact or measured (a global aggregate, a pin, a local, range or
    // limit frame, a table scan). These sites keep theirs: a side priced at
    // its input's size (a filter, distinct or grouped aggregate), or a
    // shape the planner does not pick. A new hint needs an edit here
    // and a "hint kept:" reason above it.
    val kept = Map(
      "graph/Graph.scala" -> 1,
      "ops/Conformal.scala" -> 1,
      "ops/Experiment.scala" -> 2,
      "ops/GroupQuantile.scala" -> 6,
      "ops/NegativeSampling.scala" -> 3,
      "ops/Privacy.scala" -> 1,
      "ops/Profiling.scala" -> 1,
      "ops/Ranking.scala" -> 1,
      "ops/Resample.scala" -> 1,
      "ops/Sampling.scala" -> 4,
      "ops/Sketches.scala" -> 2,
      "ops/Skyline.scala" -> 2,
      "ops/SplitFinder.scala" -> 1,
      "ops/Transitions.scala" -> 1,
      "queries/AdvancedQueries.scala" -> 2,
      "queries/RelationalQueries.scala" -> 1,
      "queries/SimilarityQueries.scala" -> 3,
      "sim/RandomProjection.scala" -> 1,
      "sim/Similarity.scala" -> 9,
      "text/Bm25.scala" -> 1,
      "text/Dedup.scala" -> 3,
      "text/Dsir.scala" -> 1,
      "text/QualityClassifier.scala" -> 1,
      "text/TextFunctions.scala" -> 1,
      "text/VocabGrowth.scala" -> 2)
    val hint = "\\bbroadcast\\(|\\.hint\\(".r
    val root = Paths.get("src/main/scala/graft")
    val sites = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.collect {
          case i if !lines(i).trim.startsWith("*") &&
              hint.findFirstIn(lines(i).split("//", 2)(0)).isDefined =>
            (root.relativize(f).toString, i,
              lines.slice(i - 3, i).exists(_.toLowerCase.contains("hint kept:")))
        }
      }
    val perFile = sites.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perFile == kept, perFile)
    val unexplained = sites.filterNot(_._3).map { case (f, i, _) => s"$f:${i + 1}" }
    assert(unexplained.isEmpty, unexplained)
  }

  test("q3: filters are pushed into the parquet scans") {
    val p = planString("q3_top_orders")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("BUILDING"), "mktsegment filter should be pushed")
  }

  test("q3: column pruning — lineitem scan reads only needed columns") {
    val p = planString("q3_top_orders")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val liSchema = readSchemas.find(_.contains("l_orderkey")).get
    assert(!liSchema.contains("l_quantity") && !liSchema.contains("l_tax"),
      s"lineitem scan reads too much: $liSchema")
  }

  test("q5: dimension joins are broadcast, no shuffle on dims") {
    val p = planString("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "region/nation/supplier/customer should all broadcast")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q1: hash aggregate runs partial then final") {
    val p = planString("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("hour pivot is a single aggregate pair — one shuffle") {
    val p = planString("q_hour_pivot")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"hour pivot should shuffle exactly once:\n$p")
  }

  test("wide table: one shuffle on fixed-width keys, no per-row metrics or calendar calls") {
    import spark.implicits._
    import org.apache.spark.sql.execution.CollectMetricsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.pipeline.WideTablePipeline
    val in = java.nio.file.Files.createTempDirectory("graft_plan_wide").toString
    val t0 = java.time.Instant.parse("2023-01-15T08:00:00Z").toEpochMilli
    (1 to 10).map(i => (new java.sql.Timestamp(t0 + i * 1000L), 132))
      .toDF("tpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/yellow_tripdata_2023-01.parquet")
    (1 to 10).map(i => (t0 + i * 1000L, "B00256"))
      .toDF("request_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$in/fhv_tripdata_2023-01.parquet")
    val files = graft.ingest.Discovery.selectTripFiles(
      graft.ingest.Discovery.discoverParquet(spark, in))
    val plan = WideTablePipeline.plan(spark, files, 50L).get
      .wide.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val s = plan.toString
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1, s)
    val aggs = plan.collect { case a: HashAggregateExec => a }
    assert(aggs.size == 2, s)
    aggs.foreach(a => assert(
      a.collect { case m: CollectMetricsExec => m }.isEmpty,
      s"CollectMetrics below a HashAggregate:\n$s"))
    val partial = aggs.filter(
      _.collect { case e: ShuffleExchangeExec => e }.isEmpty)
    assert(partial.size == 1, s)
    val mapSide = partial.head.treeString
    assert(!mapSide.contains("hour(") && !mapSide.contains("to_date("), mapSide)
    assert(partial.head.groupingExpressions.map(_.name).toSet ==
      Set("type_code", "place_num", "place_str", "date"), mapSide)
  }

  test("wide table: one file scan for many small drifting files and for bulk files") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.{col, sum}
    import graft.pipeline.WideTablePipeline
    val t0 = java.time.Instant.parse("2023-01-15T08:00:00Z").toEpochMilli
    def ts(i: Int) = new java.sql.Timestamp(t0 + i * 1000L)
    // the graftbench shapes in small: many files over three taxi types,
    // several months and six dialects; a few files in two dialects
    val many = java.nio.file.Files.createTempDirectory("graft_plan_many").toString
    for (m <- 1 to 4) {
      (1 to 5).map(i => (ts(i), 132)).toDF("tpep_pickup_datetime", "PULocationID")
        .coalesce(1).write.parquet(s"$many/yellow_tripdata_2023-0$m.parquet")
      (1 to 5).map(i => (ts(i), 7L)).toDF("tpep_pickup_datetime", "PULocationID")
        .coalesce(1).write.parquet(s"$many/y64/yellow_tripdata_2023-0$m.parquet")
      (1 to 5).map(i => (ts(i), 3.0)).toDF("lpep_pickup_datetime", "PULocationID")
        .coalesce(1).write.parquet(s"$many/green_tripdata_2023-0$m.parquet")
      (1 to 5).map(i => (t0 + i, "B1")).toDF("request_datetime", "pickup_zone_id")
        .coalesce(1).write.parquet(s"$many/fhv_tripdata_2023-0$m.parquet")
      (1 to 5).map(i => (ts(i).toString, 40.7, -74.0))
        .toDF("Trip_Pickup_DateTime", "Start_Lat", "Start_Lon")
        .coalesce(1).write.parquet(s"$many/ll/yellow_tripdata_2023-0$m.parquet")
      (1 to 5).map(i => (t0 / 1000 + i, 9)).toDF("pickup_datetime", "PULocationID")
        .coalesce(1).write.parquet(s"$many/fhv/fhv_tripdata_2023-0$m.parquet")
    }
    val bulk = java.nio.file.Files.createTempDirectory("graft_plan_bulk").toString
    (1 to 50).map(i => (ts(i), 132)).toDF("tpep_pickup_datetime", "PULocationID")
      .write.parquet(s"$bulk/yellow_tripdata_2023-01.parquet")
    (1 to 50).map(i => (t0 + i, "B1")).toDF("request_datetime", "pickup_zone_id")
      .write.parquet(s"$bulk/fhv_tripdata_2023-01.parquet")

    for ((in, nFiles) <- Seq(many -> 24, bulk -> -1)) {
      val files = graft.ingest.Discovery.selectTripFiles(
        graft.ingest.Discovery.discoverParquet(spark, in))
      if (nFiles > 0) assert(files.size == nFiles)
      val wide = WideTablePipeline.plan(spark, files, 1L).get.wide
      val leaves = wide.queryExecution.analyzed.collectLeaves()
      assert(leaves.count(_.isInstanceOf[LogicalRelation]) == 1, leaves)
      assert(!leaves.exists(_.isInstanceOf[LocalRelation]), leaves)
      val plan = wide.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val s = plan.toString
      assert(plan.collect { case f: FileSourceScanExec => f }.size == 1, s)
      assert(plan.collect { case u: UnionExec => u }.isEmpty, s)
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty, s)
      assert(!s.contains("input_file_name"), s)
      // and it reads every file
      assert(wide.agg(sum(graft.ops.HourPivot.hourCols.map(col).reduce(_ + _)))
        .first().getLong(0) == (if (in == many) 24 * 5 else 100), in)
    }
  }

  test("text-stats hot path: vectorized scan, no UDF nodes") {
    // Note: projections containing HOF lambdas (filter/transform) fall
    // out of WholeStageCodegen by design (interpreted eval) — see
    // SCALE_NOTES "Measured lessons" #2. The requirements here are a
    // vectorized parquet scan and zero UDF/Python eval nodes.
    val p = planString("q_text_stats")
    assert(p.contains("Batched: true"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("SQL UDF"), p)
  }

  test("brute-force ANN broadcasts the query vector (no shuffle of vectors)") {
    val p = planString("q_ann_topk_quantized")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p)
    // global top-k via TakeOrderedAndProject, not a full sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("range join plans as an equi-join, never a nested loop") {
    // the bucketed composition must keep the pair search an equi-join;
    // a raw inequality predicate would plan BroadcastNestedLoopJoin /
    // CartesianProduct and die at scale
    val p = planString("q_range_join_purchase_click")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("join"), p)
  }

  test("hash sampling is a scan-stage filter — no shuffle, no extra jobs") {
    val p = planString("q_sample_by_key")
    assert(!p.contains("Exchange"), s"sampler must not shuffle: $p")
  }

  test("top-k queries use TakeOrderedAndProject, never global Sort+Limit") {
    Seq("q3_top_orders", "q_topk_customers").foreach { q =>
      val p = planString(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
    }
  }

  test("LSH top-k: one map-side scan — no exchange, no join, no vector shuffle") {
    // r16: the query's band buckets are computed driver-side, so the
    // candidate test is a filter fused into the corpus scan. The plan
    // must stay exchange- and join-free (scan → filter → project →
    // TakeOrderedAndProject); any Exchange here means the old banding
    // join / candidate distinct crept back (and with it the r15 hazard
    // of a vector payload crossing a hash exchange).
    val p = planString("q_ann_lsh_topk")
    assert(!p.contains("Exchange hashpartitioning"),
      s"LSH top-k grew a hash exchange:\n$p")
    assert(!p.contains("Join"), s"LSH top-k grew a join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("kNN join: partial pair-top-k aggregate — no vector in any exchange") {
    val p = planString("q_knn_join")
    // scoring is map-side against the broadcast query set; the only
    // hash exchange carries (query_id, top-k buffer), never embeddings
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, s"expected the per-query agg to shuffle:\n$p")
    assert(exchanges.forall(e => !e.contains("embedding#") && !e.contains("__qv")),
      s"vector payload crossed a hash exchange: $exchanges")
    // and the aggregate runs partial→final (map-side top-k)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("phrase lookup: serves from the sharded index only, shards pruned at the scan") {
    val p = planString("q_index_phrase_lookup")
    // the lookup must never re-read the corpus — only the index layout
    assert(!p.contains("documents.parquet"),
      s"phrase lookup fell back to a corpus scan:\n$p")
    assert(p.contains("graft_phrase_index"), p)
    // the query terms' shard set lands in PartitionFilters (directory
    // pruning), not a post-scan row filter over every shard
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.contains("shard#")),
      s"expected the term shards to land in PartitionFilters:\n$p")
    assert(!"Filter [^\\n]*shard#".r.findFirstIn(p).isDefined,
      s"shard probe fell out of partition pruning into a row filter:\n$p")
  }

  test("basket lift: pair join is basket-keyed hash/merge, never cartesian") {
    val p = planString("q_basket_lift")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is the deliberate ONE-ROW basket-total
    // broadcast (crossJoin(broadcast(n)) — the house scalar-attach);
    // the pair join itself must be an equi-join on the basket key
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n$p")
    assert("Join [^\\n]*\\[g#\\d+L?\\]".r.findFirstIn(p).isDefined ||
      p.contains("Join [g#") || "HashJoin \\[g#".r.findFirstIn(p).isDefined,
      s"pair join not keyed on the basket id:\n$p")
  }

  test("golden record: argmax by min-struct aggregates — no window anywhere") {
    val p = planString("q_golden_record")
    assert(!p.contains("Window"), s"mode must not sort per group:\n$p")
  }

  test("winsorized stats: threshold table broadcasts back, corpus never globally sorts") {
    val p = planString("q_winsorized_value")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the per-group threshold broadcast:\n$p")
    // windows may sort the DISTRIBUTION (distinct values per group);
    // a corpus-sized global sort would show as Sort [..] over the scan
    // feeding no Window — assert the clamp aggregate is partial->final
    assert(p.contains("HashAggregate"), p)
  }

  test("rolling median: day-spine joins broadcast; daily distribution aggregates partial->final") {
    val p = planString("q_rolling_median")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected the broadcast day-spine range join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scd2 point-in-time join: key-equi SMJ with interval residual, no nested loop") {
    val p = planString("q_scd2_pit")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"interval predicate fell out of the equi-join:\n$p")
  }

  test("served IVF: probe prunes cell partitions at the scan, no full-corpus filter") {
    val p = planString("q_ann_ivf_served")
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.contains("cell#") && f.contains("IN")),
      s"expected the nProbe cell set to land in PartitionFilters:\n$p")
    // the probe must NOT be a post-scan Filter over every partition
    assert(!"Filter .*cell#".r.findFirstIn(p).isDefined,
      s"cell probe fell out of partition pruning into a row filter:\n$p")
  }

  test("appended IVF: serve path still prunes cell partitions after append") {
    val p = planString("q_ann_ivf_appended")
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.contains("cell#") && f.contains("IN")),
      s"expected the nProbe cell set to land in PartitionFilters:\n$p")
    assert(!"Filter .*cell#".r.findFirstIn(p).isDefined,
      s"cell probe fell out of partition pruning into a row filter:\n$p")
  }

  /** Whether a plan calls a corpus-assignment kernel. Plans print a
    * kernel under its expression class's name, lower-cased. */
  private def assignsCorpus(plan: String): Boolean =
    plan.contains("qvecnearestl2") || plan.contains("floatmatvecscore")

  test("corpus-assignment predicate holds on a plan that assigns") {
    // positive control for the serve-plan tests below: PQ encoding
    // assigns every vector to its nearest code in each subspace
    assert(assignsCorpus(planString("q_pq_codes")))
  }

  test("served IVF+PQ: codes scan prunes cluster partitions; no re-assignment, no vectors") {
    val p = planString("q_ann_ivfpq_served")
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.contains("cluster#") && f.contains("IN")),
      s"expected the nProbe cluster set to land in PartitionFilters:\n$p")
    // the probe must NOT be a post-scan Filter over every partition
    assert(!"Filter .*cluster#".r.findFirstIn(p).isDefined,
      s"cluster probe fell out of partition pruning into a row filter:\n$p")
    // serve plan must not re-assign the corpus (no kernel calls) …
    assert(!assignsCorpus(p), s"serve plan re-assigns the corpus:\n$p")
    // … and must read CODES only — the embedding column never appears
    // (match to end-of-line: long schemas truncate before the closing >)
    val readSchemas = "ReadSchema: ([^\\n]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("embedding")),
      s"serve scan reads vectors, not codes: $readSchemas")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("one-shot IVF+PQ folded onto the served layout: same pruned-scan plan shape") {
    // round-8: q_ann_ivfpq_topk no longer re-trains + full-scan-assigns
    // per invocation — it serves a second query vector from the layout
    // q_ann_ivfpq_served builds, so its plan must show the identical
    // directory-pruning shape
    val p = planString("q_ann_ivfpq_topk")
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.contains("cluster#") && f.contains("IN")),
      s"expected the nProbe cluster set to land in PartitionFilters:\n$p")
    assert(!"Filter .*cluster#".r.findFirstIn(p).isDefined,
      s"cluster probe fell out of partition pruning into a row filter:\n$p")
    assert(!assignsCorpus(p), s"serve plan re-assigns the corpus:\n$p")
    val readSchemas = "ReadSchema: ([^\\n]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("embedding")),
      s"serve scan reads vectors, not codes: $readSchemas")
  }

  test("contamination: probe shingle set broadcasts, corpus side never shuffles text") {
    val p = planString("q_contamination_flags")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash exchanges should carry (id, counts) aggregates /
    // gram rows — never the text column
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(!_.contains("text#")),
      s"text column crossed a shuffle: $exchanges")
  }

  test("bloom contamination: sketch prefilter is a scan-side Filter, text never shuffles") {
    val p = planString("q_contamination_bloom")
    // the literal-sketch membership test must evaluate BEFORE any
    // exchange (that is the whole point — candidates shrink map-side)
    assert(p.contains("might_contain"), p)
    val firstExchange = p.indexOf("Exchange")
    val filterAt = p.indexOf("might_contain")
    assert(filterAt >= 0 && (firstExchange < 0 || p.lastIndexOf("might_contain") > firstExchange),
      "bloom prefilter should sit below the first exchange in the candidate branch")
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(!_.contains("text#")),
      s"text column crossed a shuffle: $exchanges")
  }

  test("bloom-pruned join: might_contain filters the fact side below its exchange") {
    val p = planString("q_bloom_join_revenue")
    assert(p.contains("might_contain"), p)
    // the prune must sit in the fact side's scan stage, i.e. BELOW an
    // exchange — in the plan string the deepest nodes print last, so
    // the filter's position must be after the last exchange header
    // above it; cheap proxy: some exchange appears BEFORE the filter
    // (the join's shuffle), and the filter is not above all exchanges
    val filterAt = p.indexOf("might_contain")
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0 && firstExchange < filterAt,
      "bloom prune should be below the join exchange (scan stage)")
    // and it tests the fact-side order key (the sketch literal is one
    // 0x… token; the probed column follows it) — at this SF the scan
    // column is still l_orderkey (the rename projects above the scan)
    assert("might_contain\\(0x[0-9A-F]+, [lo]_orderkey"
      .r.findFirstIn(p).isDefined, "prune does not probe the join key")
  }

  test("shingle build is map-side: no exchange between scan and gram explode") {
    // the Generate (explode of the zipped token array) must sit directly
    // on the scan-side project, with only the deliberate fanOut
    // round-robin repartition in between — no hashpartitioning exchange
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val plan = graft.text.Dedup
      .shingleHashFrame(docs, "doc_id", "text", 3, distinctShingles = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected hash exchange before/inside the shingle build:\n$plan")
    assert(plan.contains("Generate explode"), plan)
  }

  test("dataset split is a scan-stage projection — no shuffle before the agg") {
    val p = planString("q_dataset_split")
    // exactly the aggregate's partial→final exchange pair, nothing for
    // the split assignment itself (a map-side CASE over md5)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("group-quantile filter: corpus never sorts; threshold joins broadcast") {
    val p = planString("q_quality_percentile_filter")
    // the window runs over the aggregated (lang, q) DISTRIBUTION, so
    // the only Sorts in the plan sit above an aggregate output, never
    // over the documents scan; the threshold comes back as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // corpus rows flow scan → project/filter → join: no hash exchange
    // of full-corpus rows. Every exchange in this plan keys on the
    // operator's __gq_* temp columns — i.e. it sits on the aggregated
    // (group, value) DISTRIBUTION path, never on documents rows
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(k => k.contains("__gq_")),
      s"unexpected non-distribution exchange: $exchanges")
  }

  test("common n-grams: partial agg before the gram shuffle, top-k takes ordered") {
    val p = planString("q_common_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    // partial_count before the exchange: hot grams compress map-side
    assert("partial_count".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("Sort "), "global sort would defeat TakeOrdered")
  }

  test("served near-dup index: batch broadcasts to the index scan, text never shuffles") {
    val p = planString("q_neardup_index_served")
    // the candidate join against the signature index must be the
    // broadcast of the (small) banded batch — a shuffle of the index
    // is the exact cost the served shape exists to avoid
    assert(p.contains("BroadcastHashJoin"), p)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(k => !k.contains("text")),
      s"document text crossed a shuffle: $exchanges")
  }

  test("fuzzy count-verify plan: no object aggregate, no arrays in any exchange") {
    import spark.implicits._
    val left = (0 until 50).map(i => (i.toLong, s"entity number $i padded"))
      .toDF("id", "name")
    val right = (0 until 50).map(i => (i.toLong, s"entity number $i padXed"))
      .toDF("id", "name")
    val df = graft.text.FuzzyJoin.fuzzyJoinTop1(
      left, right, "id", "name", 0.8, 5, Some(true))
    val p = df.queryExecution.executedPlan.toString
    // the large-catalog path must never build heap gram arrays: that is
    // the arrays path's measured OOM cliff (ObjectHashAggregate over
    // collect_set at 150M gram rows on an 8g heap)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("collect_set"), p)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(k => !k.contains("sh_l") && !k.contains("sh_r")),
      s"gram arrays crossed a shuffle: $exchanges")
  }

  test("dup-span removal: exchanges partition on ids/hashes, never on text") {
    val p = planString("q_dup_span_removal")
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(k => !k.contains("text#") && !k.contains("t#")),
      s"text keyed a shuffle: $exchanges")
  }

  test("media near-dup: payload bytes never enter an exchange") {
    val p = planString("q_media_neardup")
    assert(!p.contains("CartesianProduct"), p)
    // the perceptual hash is map-side (mapPartitions behind the codec
    // seam); every exchange after it must carry only (id, hash, chunk)
    // longs — a payload column in any shuffle would move the corpus
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(k => !k.contains("payload#")),
      s"payload keyed a shuffle: $exchanges")
    // the codec seam (mapPartitions → SerializeFromObject) is the type
    // boundary: its output encoder is (media_id, phash), so no operator
    // downstream can reference payload at all
    assert(p.contains("SerializeFromObject"), p)
  }

  test("triangle counts: wedge join is hash-based on ids, no cartesian") {
    val p = planString("q_copurchase_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("snapshot diff: one full-outer join keyed on the snapshot key, digest map-side") {
    val p = planString("q_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(_.contains("o_orderkey#")),
      s"diff must shuffle on the key only: $exchanges")
    // the md5 digest is computed below the join (map-side), so the
    // change test compares 16-byte digests, not payload columns
    assert(p.contains("md5"), p)
  }

  test("bucketed join: zero exchanges, zero sorts — scan satisfies SMJ requirements") {
    // build through the declared query (memoized layout), then assert
    // the join subtree reads the bucketed layout co-located
    val p = executedPlan("q_bucketed_join_revenue").toString
    assert(p.contains("SortMergeJoin"), p)
    // the ONLY exchange allowed is the final groupBy's — none may feed
    // the join itself; with 16 matching sorted buckets there must be no
    // Sort node either (scan ordering satisfies the SMJ)
    val joinPart = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$p")
    assert(!joinPart.contains("Sort "),
      s"bucketed+sorted layout must not re-sort:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan must be bucket-aware:\n$p")
  }

  test("bucketed join-view maintenance: delta legs prune buckets, zero exchange") {
    // the deployment shape SCALE_NOTES previously punted: A2/B2 stored
    // bucketed on the join key, delta keys literal. The repair joins
    // must be co-located SMJs (no exchange either side) and the
    // dim-fanout leg must read ONLY the delta keys' buckets.
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val base = System.getProperty("java.io.tmpdir") + "/graft_jv_bucketed"
    val a = graft.sources.Tables.orders(s, sf)
      .select(col("o_orderkey").as("pk"), col("o_custkey").as("fk"),
        col("o_totalprice").as("pay"))
    val b = graft.sources.Tables.customer(s, sf)
      .select(col("c_custkey").as("bk"), col("c_mktsegment").as("attr"))
    graft.ops.Bucketing.writeBucketed(a, "graft_jv_a", s"$base/a", "fk", 8)
    graft.ops.Bucketing.writeBucketed(b, "graft_jv_b", s"$base/b", "bk", 8)
    val a2 = graft.ops.Bucketing.readBucketed(s, "graft_jv_a")
    val b2 = graft.ops.Bucketing.readBucketed(s, "graft_jv_b")
    val view = a2.join(b2, col("fk") === col("bk")).drop("bk")
      .localCheckpoint(true)
    val maintained = graft.ops.SnapshotDiff.maintainJoinViewBucketed(
      view, a2, b2, aKeys = Seq(1L, 7L), bKeys = Seq(5L, 11L),
      "pk", "fk", "bk")
    val p = maintained.queryExecution.executedPlan.toString
    assert("SortMergeJoin".r.findAllIn(p).size == 2,
      s"both repair legs must be SMJs over the bucketed scans:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed maintenance must be exchange-free end to end:\n$p")
    // dim-fanout leg: both sides prune to the delta keys' buckets
    val pruned = "SelectedBucketsCount: (\\d+) out of 8".r
      .findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(pruned.count(_ < 8) >= 2,
      s"expected >=2 bucket-pruned scans, got $pruned:\n$p")
    // and the literal keys reach the scans as pushed In filters
    // (substring check: PushedFilters values nest brackets — In(pk,
    // [1,7]) — so a [^]]* regex self-truncates)
    assert(p.contains("In(pk"), p)
    assert(p.contains("In(fk"), p)
  }

  test("stream-stream join plans StreamingSymmetricHashJoin with watermarks") {
    import org.apache.spark.sql.functions.col
    val ev = graft.streaming.StreamingRun.tableStream(spark, sf, "events")
    val joined = graft.streaming.StreamingJoin.purchaseClickJoin(
      ev.where(col("event_type") === "purchase"),
      ev.where(col("event_type") === "click"), 600L)
    // streaming plans resolve at query start; the analyzed plan shows
    // the join + both event-time watermarks
    val p = joined.queryExecution.analyzed.toString
    assert(p.contains("EventTimeWatermark"), p)
    assert("EventTimeWatermark".r.findAllIn(p).size == 2,
      "both sides must carry a watermark for state cleanup")
  }

  test("index-draw negative sampling: no cartesian product, only bounded global windows") {
    val p = planString("q_negative_samples_draws")
    // the O(anchors×k) claim in plan form: draws meet the pool through
    // an equi-join on the index, never an anchors×pool product
    assert(!p.contains("CartesianProduct"), s"anchors×pool product:\n$p")
    // the only partition-less window is the ≤indexBuckets-row offsets
    // prefix-sum; the per-bucket row_number must stay partitioned
    val globalWindows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
      .filterNot(_.contains("windowspecdefinition(__b#"))
    assert(globalWindows.size <= 1,
      s"unexpected global windows:\n${globalWindows.mkString("\n")}")
  }

  test("weighted negative sampling: bin equi-join, no inequality-only join") {
    val p = planString("q_negative_samples_weighted")
    assert(!p.contains("CartesianProduct"),
      s"interval lookup fell back to a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval lookup is an inequality-only join:\n$p")
  }

  test("scd2 history: run-collapse pays ONE key shuffle, both windows reuse it") {
    val p = planString("q_scd2_history")
    // two window passes (run-start lag, valid_to lead) over the same
    // hashpartitioning(user_id) — the filter between them preserves
    // the distribution, so exactly one exchange feeds both
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"run-collapse should shuffle once on the key:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hard negatives: label filter below the agg, no vector in any exchange") {
    val p = planString("q_hard_negatives")
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, s"expected the per-anchor agg to shuffle:\n$p")
    assert(exchanges.forall(e => !e.contains("embedding#") && !e.contains("__av")),
      s"vector payload crossed a hash exchange: $exchanges")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("margin mining: mutual join is id-equi hash, vectors never shuffle") {
    val p = planString("q_margin_mining")
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(e => !e.contains("embedding#") && !e.contains("__qv")),
      s"vector payload crossed a hash exchange: $exchanges")
    // the (nn1 = id && nn1 = id) mutual condition must plan as an
    // equi hash join of the two |queries|-sized top-2 frames
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("key skew: lean rank — every window is bucket-partitioned, counts pinned") {
    val p = planString("q_key_skew")
    // globalRankLean: literal bounds -> the row_number window must be
    // partitioned by the bucket id; NO partition-less window anywhere
    // (the pinned variant's offsets prefix-sum is absent by design)
    val globalWindows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
      .filterNot(_.contains("windowspecdefinition(__pid#"))
    assert(globalWindows.isEmpty,
      s"expected only __pid-partitioned windows:\n${globalWindows.mkString("\n")}")
    // the |keys|-sized counts frame IS pinned — five passes consume it
    // and must not recompute the corpus aggregation (SkewProbe: 15.1 s
    // unpinned vs 4.5 s pinned at 50M events)
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"counts frame not pinned:\n$p")
  }

  test("IVF margin mining: corpus vectors never cross a hash exchange") {
    val p = planString("q_margin_mining_ivf")
    // query vectors deliberately ride the broadcast probe frame; the
    // CORPUS sides must only ever meet them through the cell equi-join
    // and aggregate map-side — no corpus embedding in any shuffle
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(!_.contains("embedding#")),
      s"corpus vectors crossed a hash exchange: $exchanges")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("centroid AUC: lean-ranked — every window bucket-partitioned, no cartesian") {
    val p = planString("q_centroid_auc")
    assert(!p.contains("CartesianProduct"), p)
    val globalWindows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
      .filterNot(_.contains("windowspecdefinition(__pid#"))
    assert(globalWindows.isEmpty,
      s"expected only __pid-partitioned windows:\n${globalWindows.mkString("\n")}")
  }

  test("refined IVF+PQ: shortlist re-rank point-reads by pushed id filter") {
    val p = planString("q_ann_ivfpq_refined")
    // the exact re-rank must reach the base parquet as an In() pushdown
    // over the bounded shortlist, not a full scan + row filter only
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(p).isDefined,
      s"shortlist ids not pushed to the base scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("adaptive IVF+PQ refine: pruned-scan serve shape survives the retry loop") {
    // the loop's per-round shortlist fetch is ivfPqSearch — the SAME
    // pruned serve path as q_ann_ivfpq_served (PartitionFilters on the
    // probed cluster= dirs); what the retry loop must NOT regress is
    // the FINAL declared plan: a bounded point-read of shortlist rows
    // via id pushdown, never a corpus scan + row filter only
    val p = planString("q_ann_ivfpq_adaptive")
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(p).isDefined,
      s"adaptive re-rank: shortlist ids not pushed to the base scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("session co-presence: grid equi-join, never an all-pairs overlap join") {
    val p = planString("q_session_copresence")
    // a raw a.s<=b.e AND b.s<=a.e predicate would plan as
    // BroadcastNestedLoopJoin — the grid must make it an equi-join
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"overlap join fell back to all-pairs:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__cell_a"), "grid cell key missing from plan")
  }

  test("dsir: model joins broadcast, scoring pays one doc-keyed aggregate") {
    val p = planString("q_dsir_weights")
    // the B-row model must broadcast — a shuffled join on the bucket
    // key would shuffle the full token stream
    assert(p.contains("BroadcastHashJoin"),
      s"model join is not broadcast:\n$p")
    assert(!"Exchange hashpartitioning\\(bucket".r.findFirstIn(p).isDefined,
      s"token stream shuffles on bucket:\n$p")
  }

  test("join-view maintenance: delta probes broadcast, no cartesian") {
    val p = planString("q_incremental_join_view")
    // the key-only delta frames must broadcast into the anti/semi
    // probes — shuffling the view or A2 on the probe would defeat the
    // incremental shape
    assert("BroadcastHashJoin [^\\n]*Left(Anti|Semi)".r
      .findFirstIn(p).isDefined,
      s"delta probes are not broadcast anti/semi joins:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dsir resample: interval lookup is a bin equi-join, bounded windows only") {
    val p = planString("q_dsir_resample")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval lookup is an inequality-only join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // only partition-less window: the ≤indexBuckets-row offsets sum
    val globalWindows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
      .filterNot(_.contains("windowspecdefinition(__b#"))
    assert(globalWindows.size <= 1,
      s"unexpected global windows:\n${globalWindows.mkString("\n")}")
  }

  // ---- HOF-lambda loop-invariant guard -------------------------------
  // Catalyst does NOT common-subexpression-eliminate inside lambda
  // bodies: `transform(sequence(...), i => element_at(split(t,' '), i))`
  // re-runs the regex split once PER ELEMENT. Two such regressions
  // shipped in round 10 and benched 14x slow before the bench caught
  // them (Collocations, NgramLm). This guard makes the lesson
  // structural: an expensive regex expression inside a lambda body that
  // references NO lambda variable is loop-invariant work that must be
  // projected/let-bound outside the lambda. A regex ON the element
  // itself (subtree references the lambda variable) is inherent
  // per-element work and stays legal.

  import org.apache.spark.sql.catalyst.expressions.{Expression,
    LambdaFunction, NamedLambdaVariable, RegExpExtract, RegExpExtractAll,
    RegExpReplace, StringSplit, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private def invariantExpensiveInLambdas(root: Expression): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    root.foreach {
      case lf: LambdaFunction =>
        lf.function.foreach { e =>
          val expensive = e match {
            case _: StringSplit | _: RegExpReplace | _: RegExpExtract |
                 _: RegExpExtractAll => true
            case _ => false
          }
          if (expensive && !e.exists(_.isInstanceOf[NamedLambdaVariable]))
            out += e.simpleString(120)
        }
      case _ =>
    }
    out.toSeq
  }

  private def lambdaOffenders(plan: LogicalPlan): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    plan.foreach { node =>
      node.expressions.foreach { ex =>
        out ++= invariantExpensiveInLambdas(ex)
        ex.foreach {
          case sq: SubqueryExpression => out ++= lambdaOffenders(sq.plan)
          case _ =>
        }
      }
    }
    out.toSeq
  }

  test("no declared query re-runs a regex inside a HOF lambda") {
    val bad = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      lambdaOffenders(fn(spark, sf).queryExecution.analyzed)
        .map(o => s"$name: $o")
    }
    assert(bad.isEmpty,
      s"loop-invariant regex inside lambda (project the array first):\n" +
        bad.mkString("\n"))
  }

  test("HOF-lambda guard trips on a deliberately-regressed plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val regressed = Seq("a b c").toDF("t").select(
      transform(sequence(lit(1), lit(3)),
        i => element_at(split(col("t"), " "), i)).as("xs"))
    assert(lambdaOffenders(regressed.queryExecution.analyzed).nonEmpty,
      "guard failed to detect the known 14x split-inside-lambda shape")
    // and the legal per-element shape stays green
    val legal = Seq(Array("a", "b")).toDF("xs").select(
      transform(col("xs"), x => regexp_replace(x, "a", "b")).as("ys"))
    assert(lambdaOffenders(legal.queryExecution.analyzed).isEmpty,
      "guard must not flag regex applied to the lambda variable itself")
  }

  test("mips: shortlist dots are a pushed-In point read, vectors never shuffle") {
    val p = planString("q_mips_topk")
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(p).isDefined,
      s"shortlist read is not a pushed In point read:\n$p")
    assert(!"Exchange hashpartitioning\\(embedding".r.findFirstIn(p).isDefined,
      s"corpus vectors cross a hash exchange:\n$p")
  }

  test("attribution: type filters pushed to both event scans, no cartesian") {
    val p = planString("q_attribution_touch")
    // the conversion/touch slices must narrow at the scan — at 100 TB
    // the join sides are the two filtered slices, not the event log
    assert(p.contains("PushedFilters"), p)
    assert("event_type[^\\n]*purchase".r.findFirstIn(p).isDefined,
      s"conversion filter did not reach a scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("split finder: corpus collapses to ONE pre-window aggregate") {
    val p = planString("q_best_split_stump")
    // windows must run on the distinct-value grid, never the corpus:
    // the only aggregate upstream of the Window must be the
    // (feature,label) partial+final pair on the parquet scan side
    assert(p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final corpus collapse before the grid")
    assert(!p.contains("CartesianProduct"),
      s"class grid must build from the collapsed frame:\n$p")
  }

  test("pareto frontier: no pair join — prune windows + one broadcast re-join") {
    val p = planString("q_pareto_frontier")
    // the naive skyline is an all-pairs inequality anti join; ours must
    // show zero nested-loop shapes and re-join identities by equi-key
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastExchange"),
      s"all-pairs shape leaked into the skyline plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin Inner") ||
      !p.contains("q.p_retailprice"), p)
    // identity re-join is an EQUI join (hash/merge); broadcast is
    // AQE's runtime call — the frontier is output-sized, so a static
    // hint would be the fkOrphans driver-OOM pattern
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("sorted neighborhood: every window partitioned — no global sort") {
    val p = planString("q_sorted_neighborhood")
    // the textbook single-ROW_NUMBER form would show a Window whose
    // required distribution is SinglePartition; the bucketed
    // decomposition partitions every window by the super-bucket id
    val winSpecs = "windowspecdefinition\\(([^,]+)," .r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty, p)
    assert(winSpecs.forall(_.contains("__r")),
      s"unpartitioned window leaked into the SN plan: $winSpecs")
  }

  test("prefix jaccard join: candidates come from a token equi-join") {
    val p = planString("q_jaccard_prefix_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join must never fall back to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("pareto 3d: only the bounded level-pair join is nested-loop") {
    val p = planString("q_pareto_frontier_3d")
    // allowed nested-loop shapes: the |levels|^2 broadcast inequality
    // join and the 1-row bounds cross — both bounded by the domain;
    // the frontier re-join must be a broadcast HASH join
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 2, s"unexpected nested-loop count $bnl:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // identity re-join: equi join, broadcast left to AQE (the frame
    // is output-sized — same reasoning as the 2-D test above)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("containment join: candidates flow through a shingle equi-join") {
    val p = planString("q_containment_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment must never go all-pairs:\n$p")
  }

  test("cuped: one moment aggregate, theta crosses back as broadcast") {
    val p = planString("q_cuped_adjust")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "expected partial+final pairs for moments and arms")
  }

  test("heaps curve: no corpus-wide sort — bucket is a map-side formula") {
    val p = executedPlan("q_heaps_law")
    // a row_number-over-the-collection implementation would show a
    // Window whose child sorts on doc_id over the full documents scan;
    // the bucket formula needs only the 10-row cumulative window
    val sorts = "Sort \\[".r.findAllIn(p.toString).size
    val windows = "Window ".r.findAllIn(p.toString).size
    assert(windows <= 2, s"unexpected windows ($windows):\n$p")
    assert(!p.toString.contains("rangepartitioning(doc_id"),
      s"corpus-wide sort on doc_id:\n$p")
    assert(sorts <= 4, s"too many sorts for a bucket-formula plan:\n$p")
  }

  test("drift timeseries: eval-day range join broadcasts the tiny frame") {
    // the theta join runs inside the pin of the guarded counts frame,
    // so assert over the plans of every execution the query runs
    val p = PlanCapture(spark) {
      SparkEntry.queries("q_ks_drift_timeseries")(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }.planText
    // the day-range theta join must put the ~days-sized eval frame on
    // a broadcast build side; a shuffle or cartesian here would move
    // the corpus-sized distribution frame for a <100-row dimension
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
