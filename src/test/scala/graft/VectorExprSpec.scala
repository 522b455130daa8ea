package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.sim.Similarity

class VectorExprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("vec-test", "4").getOrCreate()
  import spark.implicits._

  private def df = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.5f, -0.5f, 0.0f), Array(2.0f, 2.0f, 2.0f)))
    .toDF("id", "a", "b")

  test("vec_dot matches hand computation and HOF dot exactly") {
    val rows = df.select(col("id"),
      VectorFunctions.vec_dot(col("a"), col("b")).as("native"),
      Similarity.dot(col("a"), col("b")).as("hof"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val m = rows.map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1L)._1 == 4.0 + 10.0 + 18.0)
    assert(m(2L)._1 == 1.0 - 1.0 + 0.0)
    // same fp result: both sum left-to-right in doubles
    rows.foreach { case (_, n, h) => assert(n == h) }
  }

  test("vec_dot nulls propagate") {
    val withNull = df.select(col("id"),
      VectorFunctions.vec_dot(col("a"),
        when(col("id") === 1L, col("b"))).as("d"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!withNull(1L) && withNull(2L))
  }

  test("vec_dot participates in whole-stage codegen (HOF dot does not)") {
    // parquet-backed (a local Seq constant-folds to LocalTableScan)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // "*(n) Project" is the WholeStageCodegen marker in simple mode
    val codegenProject = """\*\(\d+\) Project""".r
    val native = emb.select(
      VectorFunctions.vec_dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(codegenProject.findFirstIn(native).isDefined, native)
    val hof = emb.select(Similarity.dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(codegenProject.findFirstIn(hof).isEmpty, hof)
  }

  test("q_vec_dot is bit-identical to the HOF quantizedDot on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(100)
    val q = emb.crossJoin(
        emb.select(col("embedding").as("e2")).limit(3))
      .select(
        VectorFunctions.q_vec_dot(col("embedding"), col("e2")).as("native"),
        Similarity.quantizedDot(col("embedding"), col("e2")).as("hof"))
      .collect()
    assert(q.nonEmpty)
    q.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // negative-component rounding ties: away-from-zero on both paths
    val tie = Seq((Array(-0.00005f, 0.00015f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
      .select(VectorFunctions.q_vec_dot(col("a"), col("b")).as("n"),
        Similarity.quantizedDot(col("a"), col("b")).as("h"))
      .head()
    assert(tie.getLong(0) == tie.getLong(1))
  }

  test("vec_mat_score equals per-row FloatVecDot + bias") {
    val planes = graft.sim.Similarity.hyperplanes(8, 3, seed = 1L)
    val flat = typedLit(planes.flatten)
    val bias = typedLit((1 to 8).map(_.toDouble))
    val rows = df.select(col("id"),
      VectorFunctions.vec_mat_score(col("a"), flat, bias).as("batched"),
      array((0 until 8).map(j =>
        VectorFunctions.vec_dot(col("a"), typedLit(planes(j))) +
          lit((j + 1).toDouble)): _*).as("individual"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](2), r.toString)
    }
    // null vector propagates
    val n = df.select(VectorFunctions.vec_mat_score(
      when(col("id") === 99L, col("a")), flat, bias)).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("q_vec_nearest_l2: argmin + exact distance, first index wins ties") {
    // centroids (flat 3×2): (0,0), (10,10), (0,0) — duplicate of row 0
    val flat = typedLit(Seq(0L, 0L, 10L, 10L, 0L, 0L))
    val rows = Seq(
      (1L, Seq(1L, 1L)),   // nearest (0,0): dist 2; tie between j=0,2 → 0
      (2L, Seq(9L, 9L)),   // nearest (10,10): dist 2, j=1
      (3L, Seq(5L, 5L)))   // equidistant 50 vs 50 vs 50 → j=0
      .toDF("id", "qv")
    val out = rows.select(col("id"),
      VectorFunctions.q_vec_nearest_l2(col("qv"), flat).as("n"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(0L, 2L))
    assert(out(2L) == Seq(1L, 2L))
    assert(out(3L) == Seq(0L, 50L))
  }

  test("q_vec_nearest_l2 codegen equals interpreted evaluation") {
    import graft.functions.QVecNearestL2
    val vec = Array(3L, -4L, 5L)
    val mat = Array(0L, 0L, 0L, 3L, -4L, 5L, 1L, 1L, 1L)
    val lit_v = org.apache.spark.sql.catalyst.expressions.Literal
      .create(vec, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))
    val lit_m = org.apache.spark.sql.catalyst.expressions.Literal
      .create(mat, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))
    val expr = QVecNearestL2(lit_v, lit_m)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(interp.toSeq == Seq(1L, 0L)) // exact match at row 1
    // end-to-end through codegen via the DataFrame path
    val viaDf = Seq(Tuple1(vec.toSeq)).toDF("qv")
      .select(VectorFunctions.q_vec_nearest_l2(col("qv"),
        typedLit(mat.toSeq)))
      .head().getSeq[Long](0)
    assert(viaDf == interp.toSeq)
  }

  test("q_vec_nearest_l2_blocked equals the flat kernel on random matrices (ties included)") {
    val rnd = new scala.util.Random(7)
    // several shapes, including k below/above the √k grouping and a
    // duplicate-row matrix that forces distance ties
    Seq((5, 4), (64, 8), (300, 16), (1024, 4)).foreach { case (k, dim) =>
      val mat = Array.fill(k * dim)(rnd.nextInt(2001) - 1000L)
      // plant ties: rows 1 and k-1 identical
      System.arraycopy(mat, dim, mat, (k - 1) * dim, dim)
      val matSeq = mat.toSeq
      val vecs = (0 until 50).map { _ =>
        Tuple1(Seq.fill(dim)(rnd.nextInt(2001) - 1000L))
      } :+ Tuple1(mat.slice(dim, 2 * dim).toSeq) // exact hit on the tied row
      val df2 = vecs.toDF("qv")
      val both = df2.select(
        VectorFunctions.q_vec_nearest_l2(col("qv"), typedLit(matSeq)).as("flat"),
        VectorFunctions.q_vec_nearest_l2_blocked(col("qv"), typedLit(matSeq), k)
          .as("blocked"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"k=$k dim=$dim: flat=${r.getSeq[Long](0)} blocked=${r.getSeq[Long](1)}")
      }
    }
  }

  test("vec_cosine of a vector with itself is 1") {
    val c = df.select(VectorFunctions.vec_cosine(col("a"), col("a")))
      .as[Double].collect()
    c.foreach(v => assert(math.abs(v - 1.0) < 1e-12))
  }

  test("every kernel Column works on a new session with nothing registered") {
    val sketch = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
      bf.putLong(1L)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mat = typedLit(Seq(0L, 0L, 3L, -4L, 1L, 1L))
    def kernels(s: SparkSession): Seq[Row] = {
      import s.implicits._
      Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f),
          Seq(3L, -4L), "abab"),
        (2L, Array(0.5f, -0.5f, 0.0f), Array(2.0f, 2.0f, 2.0f),
          Seq(1L, 2L), "ba"))
        .toDF("id", "a", "b", "qv", "tok")
        .select(col("id"),
          VectorFunctions.vec_dot(col("a"), col("b")),
          VectorFunctions.vec_mat_score(col("a"),
            typedLit(Seq(1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 0.0f)),
            typedLit(Seq(0.5, 1.5))),
          VectorFunctions.q_vec_nearest_l2(col("qv"), mat),
          VectorFunctions.q_vec_nearest_l2_blocked(col("qv"), mat, 3),
          VectorFunctions.q_vec_dot(col("a"), col("b")),
          VectorFunctions.bloom_might_contain(lit(sketch), col("id")),
          VectorFunctions.bpe_encode(col("tok"), typedLit(Seq("a")),
            typedLit(Seq("b"))))
        .orderBy("id").collect().toSeq
    }
    val fresh = kernels(spark.newSession())
    assert(fresh == kernels(spark))
    assert(fresh.head == Row(1L, 32.0, Seq(1.5, 3.5), Seq(1L, 0L),
      Seq(1L, 0L), 3200000000L, true, Seq("ab", "ab")), fresh.head)
  }

  test("src/main reaches kernels as Columns: no function registry, one ExpressionUtils shim") {
    val kernels = Seq("vec_dot", "q_vec_dot", "vec_mat_score",
      "q_vec_nearest_l2", "q_vec_nearest_l2_blocked", "bloom_might_contain",
      "bpe_encode")
    // a temp function or a session extension reaches the registry only
    // through `functionRegistry` or `injectFunction`
    val banned = ("functionRegistry|injectFunction|VectorFunctions\\.register|" +
      kernels.mkString("call_function\\(\\s*\"(?:", "|", ")\"")).r
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = sources.flatMap { f =>
      banned.findAllIn(Files.readString(f)).map(b => s"$f: $b")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
    val shim = sources.filter(f => Files.readString(f).contains("ExpressionUtils"))
      .map(_.getFileName.toString).toSet
    assert(shim == Set("GraftColumn.scala"), shim)
  }
}
