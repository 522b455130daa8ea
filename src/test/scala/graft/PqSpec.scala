package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{KMeans, ProductQuantizer}
import graft.sources.Tables

class PqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("pq-test", "4").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("encode: one code per subspace, ids within the codebook") {
    val emb = Tables.embeddings(spark, sf)
    val model = ProductQuantizer.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1)
    val enc = ProductQuantizer.encode(emb, "vec_id", "embedding", model)
    assert(enc.columns.toSeq ==
      "vec_id" +: (0 until 8).map(j => s"code_$j"))
    val rows = enc.collect()
    assert(rows.length == emb.count())
    (0 until 8).foreach { j =>
      val valid = model.codebooks(j).ids.toSet
      assert(rows.forall(r => valid.contains(r.getInt(j + 1))))
    }
  }

  test("identical vectors get identical codes; ADC ranks the twin first") {
    import spark.implicits._
    // 16 seed vectors + vec 16 identical to vec 3 + background
    val dim = 16
    def v(seed: Int): Seq[Float] =
      (0 until dim).map(i => ((seed * 31 + i * 7) % 19 - 9) / 10.0f)
    val rows = (0 until 16).map(i => (i.toLong, v(i))) ++
      Seq((16L, v(3))) ++ (17 until 40).map(i => (i.toLong, v(i)))
    val df = rows.toDF("vec_id", "embedding")
    val model = ProductQuantizer.train(df, "vec_id", "embedding",
      m = 4, k = 8, iters = 2)
    val enc = ProductQuantizer.encode(df, "vec_id", "embedding", model)
    val byId = enc.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(byId(16L) == byId(3L), "identical vectors must share codes")
    // ADC search with vec 3 as the query must rank its twin (16) first
    val query = df.where(col("vec_id") === 3L)
      .select(KMeans.quantize(col("embedding"))).head().getSeq[Long](0).toArray
    val top = ProductQuantizer.adcTopK(enc, "vec_id", query, model,
      k = 3, excludeId = Some(3L)).collect()
    assert(top.head.getLong(0) == 16L, top.mkString(","))
  }

  test("ivfPq: full probe equals plain ADC; partial probe stays within probed cells") {
    val emb = Tables.embeddings(spark, sf)
    val cells = KMeans.fitCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val model = ProductQuantizer.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1)
    val query = emb.where(col("vec_id") === 0L)
      .select(KMeans.quantize(col("embedding"))).head().getSeq[Long](0).toArray
    // probing every cell must reproduce the unpartitioned ADC ranking
    val full = ProductQuantizer.ivfPqTopK(emb, "vec_id", "embedding",
      query, cells, model, nProbe = 4, k = 10, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val plain = ProductQuantizer.adcTopK(
      ProductQuantizer.encode(emb, "vec_id", "embedding", model),
      "vec_id", query, model, k = 10, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == plain)
    // partial probe returns only vectors from probed cells
    val base = emb.select(col("vec_id"), KMeans.quantize(col("embedding")).as("__qv"))
    val cellOf = KMeans.assign(base, cells)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val partial = ProductQuantizer.ivfPqTopK(emb, "vec_id", "embedding",
      query, cells, model, nProbe = 1, k = 10, excludeId = Some(0L))
      .collect().map(_.getLong(0))
    assert(partial.nonEmpty)
    assert(partial.map(cellOf).distinct.length == 1,
      "nProbe=1 results must come from one cell")
  }

  test("served index round-trips: ivfPqSearch over the written layout equals ivfPqTopK") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("pq_served_spec").toString + "/idx"
    ProductQuantizer.buildAndWriteIvfPqIndex(emb, "vec_id", "embedding",
      dir, kCells = 4, iters = 2, m = 8, kCodes = 16)
    val index = ProductQuantizer.readIvfPqIndex(spark, dir)
    // sidecars reconstruct the exact trained models
    val cells = KMeans.fitCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val model = ProductQuantizer.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    assert(index.cells.ids == cells.ids &&
      index.cells.cells.map(_.toSeq) == cells.cells.map(_.toSeq))
    assert(index.model.m == model.m && index.model.subDim == model.subDim)
    (0 until model.m).foreach { j =>
      assert(index.model.codebooks(j).ids == model.codebooks(j).ids &&
        index.model.codebooks(j).cells.map(_.toSeq) ==
          model.codebooks(j).cells.map(_.toSeq), s"codebook $j diverged")
    }
    val query = emb.where(col("vec_id") === 0L)
      .select(KMeans.quantize(col("embedding"))).head().getSeq[Long](0).toArray
    Seq(1, 2, 4).foreach { nProbe =>
      val served = ProductQuantizer.ivfPqSearch(index, "vec_id", query,
        nProbe = nProbe, k = 10, excludeId = Some(0L))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val oneShot = ProductQuantizer.ivfPqTopK(emb, "vec_id", "embedding",
        query, cells, model, nProbe = nProbe, k = 10, excludeId = Some(0L))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(served == oneShot, s"nProbe=$nProbe: $served != $oneShot")
    }
  }

  test("append into the served index: frozen models, full-probe search covers the union") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("pq_append_spec").toString + "/idx"
    // build on 3/4, append the remaining quarter against frozen models
    ProductQuantizer.buildAndWriteIvfPqIndex(
      emb.where(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
      dir, kCells = 4, iters = 2, m = 8, kCodes = 16)
    ProductQuantizer.appendToIvfPqIndex(
      emb.where(col("vec_id") % 4 === 0), "vec_id", "embedding", dir)
    val index = ProductQuantizer.readIvfPqIndex(spark, dir)
    assert(index.codes.count() == emb.count(),
      "appended layout must contain every corpus row exactly once")
    // full-probe serve == plain ADC under the SAME (base-trained) model
    // over the full corpus: appends encode with frozen codebooks
    val baseCells = KMeans.fitCentroids(
      emb.where(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
      k = 4, iters = 2)
    val baseModel = ProductQuantizer.train(
      emb.where(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    assert(index.cells.cells.map(_.toSeq) == baseCells.cells.map(_.toSeq),
      "append must not retrain the coarse cells")
    val query = emb.where(col("vec_id") === 0L)
      .select(KMeans.quantize(col("embedding"))).head().getSeq[Long](0).toArray
    val served = ProductQuantizer.ivfPqSearch(index, "vec_id", query,
      nProbe = 4, k = 10, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val plain = ProductQuantizer.adcTopK(
      ProductQuantizer.encode(emb, "vec_id", "embedding", baseModel),
      "vec_id", query, baseModel, k = 10, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == plain, s"$served != $plain")
  }

  test("adaptive refine recovers exact top-k where a fixed shortlist truncates ADC ties") {
    import spark.implicits._
    // One tight 100-member cluster spread only along component 0
    // (5 quantized units apart — far below PQ code resolution, so ADC
    // ties in bands much wider than k×refine) plus 5 far outliers.
    val dim = 8
    val members = (0 until 100).map { i =>
      (i.toLong, (0 until dim).map(c => if (c == 0) 0.0005f * i else 0.5f))
    }
    val far = (100 until 105).map { i =>
      (i.toLong, (0 until dim).map(_ => -10.0f + (i - 100) * 0.1f))
    }
    val df = (members ++ far).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pq_adaptive_spec").toString + "/idx"
    ProductQuantizer.buildAndWriteIvfPqIndex(df, "vec_id", "embedding",
      dir, kCells = 1, iters = 2, m = 2, kCodes = 4)
    val index = ProductQuantizer.readIvfPqIndex(spark, dir)
    val query = df.where(col("vec_id") === 60L)
      .select(KMeans.quantize(col("embedding"))).head().getSeq[Long](0).toArray
    val exact = df.select(col("vec_id"), element_at(
        graft.functions.VectorFunctions.q_vec_nearest_l2(
          KMeans.quantize(col("embedding")), typedLit(query.toSeq)), 2)
        .as("d2"))
      .where(col("vec_id") =!= 60L)
      .orderBy(col("d2"), col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    // the motivating failure: a refine=1 shortlist cuts the tied band
    // by (adc, id) and misses the true neighbors entirely
    val fixed = ProductQuantizer.ivfPqSearchRefined(index, df, "vec_id",
        "embedding", query, nProbe = 1, k = 5, refine = 1,
        excludeId = Some(60L))
      .collect().map(_.getLong(0)).toSeq
    assert(fixed != exact,
      s"fixture must tie ADC so the fixed shortlist truncates: $fixed")
    val adaptive = ProductQuantizer.ivfPqSearchRefinedAdaptive(index, df,
        "vec_id", "embedding", query, nProbe = 1, k = 5,
        initialRefine = 1, excludeId = Some(60L))
      .collect().map(_.getLong(0)).toSeq
    assert(adaptive == exact, s"$adaptive != $exact")
  }

  test("adaptive refine stabilizes in one round when ADC is exact, matching the fixed rung") {
    import spark.implicits._
    // kCodes = corpus size: after training every subvector is its own
    // code centroid, so ADC == exact d2, the doubled fetch cannot
    // reorder the prefix top-k, and the rule stops at round one —
    // adaptive ≡ fixed at the initial factor with one doubled fetch.
    val dim = 8
    def v(i: Int): Seq[Float] =
      (0 until dim).map(c => ((i * 31 + c * 7) % 19 - 9) / 10.0f)
    val df = (0 until 30).map(i => (i.toLong, v(i))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pq_adaptive_eq_spec").toString + "/idx"
    ProductQuantizer.buildAndWriteIvfPqIndex(df, "vec_id", "embedding",
      dir, kCells = 1, iters = 2, m = 2, kCodes = 30)
    val index = ProductQuantizer.readIvfPqIndex(spark, dir)
    val query = df.where(col("vec_id") === 2L)
      .select(KMeans.quantize(col("embedding"))).head().getSeq[Long](0).toArray
    val fixed = ProductQuantizer.ivfPqSearchRefined(index, df, "vec_id",
        "embedding", query, nProbe = 1, k = 5, refine = 1,
        excludeId = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adaptive = ProductQuantizer.ivfPqSearchRefinedAdaptive(index, df,
        "vec_id", "embedding", query, nProbe = 1, k = 5,
        initialRefine = 1, excludeId = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(adaptive == fixed,
      s"exact-ADC corpus: adaptive must equal fixed at the initial factor\n  $adaptive\n  $fixed")
  }

  test("ADC equals brute-force distance through the codebooks") {
    val emb = Tables.embeddings(spark, sf).limit(64)
    val model = ProductQuantizer.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1)
    val enc = ProductQuantizer.encode(emb, "vec_id", "embedding", model)
    val query = emb.where(col("vec_id") === 0L)
      .select(KMeans.quantize(col("embedding"))).head().getSeq[Long](0).toArray
    val lut = ProductQuantizer.adcLut(query, model)
    val adc = ProductQuantizer.adcTopK(enc, "vec_id", query, model, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recompute each returned distance by hand from codes + lut
    val codes = enc.collect().map(r =>
      r.getLong(0) -> (0 until 8).map(j => r.getInt(j + 1))).toMap
    adc.foreach { case (id, d) =>
      val hand = (0 until 8).map { j =>
        val pos = model.codebooks(j).ids.indexOf(codes(id)(j))
        lut(j)(pos)
      }.sum
      assert(hand == d, s"vec $id: $hand != $d")
    }
  }
}
