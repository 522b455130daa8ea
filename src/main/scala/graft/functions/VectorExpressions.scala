package graft.functions

import org.apache.spark.sql.{classic, Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-vector dot product — the
  * hot loop of brute-force similarity scoring.
  *
  * Why an Expression and not `zip_with` + `aggregate`: higher-order
  * functions evaluate interpreted (lambda variables, per-element boxing)
  * and fall out of whole-stage codegen. `doGenCode` here emits a tight
  * primitive loop over the two `ArrayData` buffers — no allocation, no
  * boxing — and composes into the surrounding codegen stage. Measured
  * ~4–10× over the HOF formulation on 64-dim vectors (see
  * VectorExprSpec / SCALE_NOTES).
  *
  * Null semantics: null if either array is null (NullIntolerant-style);
  * mismatched lengths dot over the common prefix (defensive — callers
  * have fixed-dim embeddings).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"FloatVecDot needs two array<float> inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Quantized-grid dot product: each float component is rounded to the
  * 1e-4 integer grid (round-half-away-from-zero, matching Spark
  * `round()` and SQL ROUND) and the dot is the exact integer sum —
  * the codegen twin of `Similarity.quantizedDot`'s HOF formulation,
  * bit-identical results (|x|≤1 ⇒ |q|≤10⁴ ⇒ 64-dim dot ≤ 6.4e9 « 2⁶³).
  * Output LongType so downstream cosine math matches the SQL oracles.
  */
case class QuantizedVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"QuantizedVecDot needs two array<float> inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  @inline private def q(v: Double): Long =
    if (v < 0) -java.lang.Math.round(-v * 10000.0)
    else java.lang.Math.round(v * 10000.0)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += q(x.getFloat(i).toDouble) * q(y.getFloat(i).toDouble)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val xq = ctx.freshName("xq")
      val yq = ctx.freshName("yq")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ((double) $a.getFloat($i)) * 10000.0;
         |  double $yv = ((double) $b.getFloat($i)) * 10000.0;
         |  long $xq = $xv < 0 ? -java.lang.Math.round(-$xv) : java.lang.Math.round($xv);
         |  long $yq = $yv < 0 ? -java.lang.Math.round(-$yv) : java.lang.Math.round($yv);
         |  $acc += $xq * $yq;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedVecDot =
    copy(left = newLeft, right = newRight)
}

/** Batched scoring of one vector against k constant rows: returns
  * array<double> of `vec · mat[j] + bias[j]` for j in 0..k-1, where
  * `flatMat` is the k×dim matrix flattened row-major and `bias` has
  * length k (pass −‖c‖²/2 biases for L2-nearest-centroid scoring).
  *
  * Why one expression and not k `FloatVecDot`s: k independent dot
  * expressions inline into ONE generated method; at k=64 the method
  * blows past the JIT's bytecode threshold and runs interpreted —
  * measured 35 s for 100k rows vs 0.4 s at k=8. A single expression
  * with its own two-loop `doGenCode` stays a few hundred bytes of
  * bytecode no matter how large k is.
  */
case class FloatMatVecScore(vec: Expression, flatMat: Expression,
    bias: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = flatMat
  override def third: Expression = bias

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (vec.dataType, flatMat.dataType, bias.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _),
            ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "FloatMatVecScore needs (array<float>, array<float>, array<double>), got " +
            s"${vec.dataType.catalogString} / ${flatMat.dataType.catalogString} / " +
            bias.dataType.catalogString)
    }
  }

  override def nullSafeEval(v: Any, m: Any, b: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val mat = m.asInstanceOf[ArrayData]
    val bs = b.asInstanceOf[ArrayData]
    val k = bs.numElements()
    val dim = x.numElements()
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var acc = bs.getDouble(j)
      var i = 0
      val off = j * dim
      while (i < dim) {
        acc += x.getFloat(i).toDouble * mat.getFloat(off + i).toDouble
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val dim = ctx.freshName("dim")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      s"""
         |int $k = $b.numElements();
         |int $dim = $v.numElements();
         |double[] $out = new double[$k];
         |for (int $j = 0; $j < $k; $j++) {
         |  double $acc = $b.getDouble($j);
         |  int $off = $j * $dim;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $acc += ((double) $v.getFloat($i)) * ((double) $m.getFloat($off + $i));
         |  }
         |  $out[$j] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): FloatMatVecScore =
    copy(vec = newFirst, flatMat = newSecond, bias = newThird)
}

/** Nearest row of a constant quantized matrix under squared L2 —
  * the k-means assignment kernel. Inputs: the row's quantized vector
  * (array<long>) and the k×dim centroid matrix flattened row-major
  * (array<long>); output: [argmin_index, min_distance] as array<long>
  * (first index wins ties → smallest cluster id when rows are ordered
  * by id). All-integer arithmetic — bit-identical to the
  * `transform`+`zip_with`+`aggregate` HOF formulation, which evaluates
  * interpreted with per-element boxing: measured 155 s → (see
  * SCALE_NOTES round 6) for 1M×64-dim×k=64 assignment. Like
  * FloatMatVecScore, ONE expression with its own two-loop body stays
  * a few hundred bytecodes regardless of k, where k inlined
  * sub-expressions would blow the JIT threshold.
  */
case class QVecNearestL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"QVecNearestL2 needs two array<bigint> inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(v: Any, m: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val mat = m.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val k = if (dim == 0) 0 else mat.numElements() / dim
    var bestJ = 0L
    var bestD = Long.MaxValue
    var j = 0
    while (j < k) {
      var acc = 0L
      val off = j * dim
      var i = 0
      while (i < dim) {
        val d = x.getLong(i) - mat.getLong(off + i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; bestJ = j.toLong }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(bestJ, bestD))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val dim = ctx.freshName("dim")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val bestJ = ctx.freshName("bestJ")
      val bestD = ctx.freshName("bestD")
      s"""
         |int $dim = $v.numElements();
         |int $k = $dim == 0 ? 0 : $m.numElements() / $dim;
         |long $bestJ = 0L;
         |long $bestD = Long.MAX_VALUE;
         |for (int $j = 0; $j < $k; $j++) {
         |  long $acc = 0L;
         |  int $off = $j * $dim;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    long $d = $v.getLong($i) - $m.getLong($off + $i);
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $bestD) { $bestD = $acc; $bestJ = (long) $j; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[]{$bestJ, $bestD});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QVecNearestL2 =
    copy(left = newLeft, right = newRight)
}

/** Exact nearest-row search against a LARGE constant quantized matrix
  * with two-level triangle-inequality pruning — the k ≳ a-few-hundred
  * assignment kernel (IVF-scale cell counts). The flat QVecNearestL2
  * kernel pays k·dim ops per row; at k = 1024 × dim 64 that is 65k
  * multiplies per row and the scan time scales linearly in k. Here the
  * k centroid rows are grouped into g ≈ √k spatially-coherent blocks
  * (a small local Lloyd's over the centroids themselves, built ONCE
  * lazily from the literal matrix), and each input row:
  *
  *  1. scores the g group centers (g·dim ops),
  *  2. visits groups in ascending center distance, skipping any group
  *     whose triangle-inequality lower bound
  *     (d(x, center) − radius)² exceeds the current best,
  *  3. early-abandons each member's distance sum once it passes the
  *     current best.
  *
  * EXACTNESS: the result is identical to the flat scan — the bound is
  * the metric triangle inequality (valid in any Euclidean embedding of
  * the integer grid), applied with an integer slack of 4 that dwarfs
  * the double rounding error of the sqrt bound (≤ ~1e-5 at these
  * magnitudes: components ≤ 2·10⁴, d² ≤ 2.6e10 « 2⁵³). Ties return
  * the smallest ORIGINAL row index, matching QVecNearestL2's
  * first-index-of-min contract (group skipping uses a STRICT bound
  * test, so an equal-distance row in a skipped group is impossible).
  *
  * Output: array<long> [argmin_original_index, min_distance] — drop-in
  * for QVecNearestL2. Children: (vec, flatMat LITERAL, k LITERAL); the
  * block model is built once per (de)serialized expression instance.
  */
case class QVecNearestL2Blocked(vec: Expression, flatMat: Expression,
    kExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = flatMat
  override def third: Expression = kExpr

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (vec.dataType, flatMat.dataType, kExpr.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _),
            org.apache.spark.sql.types.IntegerType)
          if flatMat.foldable && kExpr.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "QVecNearestL2Blocked needs (array<bigint>, foldable array<bigint>, " +
            s"foldable int), got ${vec.dataType.catalogString} / " +
            s"${flatMat.dataType.catalogString} / ${kExpr.dataType.catalogString}")
    }
  }

  /** Lazily-built block model: permuted matrix + group geometry. */
  @transient private lazy val model: QVecNearestL2Blocked.Blocks = {
    val flat = flatMat.eval(null).asInstanceOf[ArrayData].toLongArray()
    val k = kExpr.eval(null).asInstanceOf[Int]
    QVecNearestL2Blocked.build(flat, k)
  }

  /** The per-row search; called from both eval and generated code. */
  def searchRow(v: ArrayData): ArrayData = {
    val m = model
    val dim = m.dim
    val x = new Array[Long](dim)
    var i = 0
    while (i < dim) { x(i) = v.getLong(i); i += 1 }
    // 1. group-center distances (double — used only for bounds)
    val gd = new Array[Double](m.g)
    var j = 0
    while (j < m.g) {
      var acc = 0.0
      val off = j * dim
      i = 0
      while (i < dim) {
        val d = x(i) - m.centers(off + i); acc += d * d; i += 1
      }
      gd(j) = acc
      j += 1
    }
    // 2. visiting order: ascending gd (insertion sort, g ≈ √k is small)
    val order = new Array[Int](m.g)
    j = 0
    while (j < m.g) { order(j) = j; j += 1 }
    j = 1
    while (j < m.g) {
      val oj = order(j); val dj = gd(oj)
      var p = j - 1
      while (p >= 0 && gd(order(p)) > dj) { order(p + 1) = order(p); p -= 1 }
      order(p + 1) = oj
      j += 1
    }
    // 3. pruned scan with early abandon
    var best = Long.MaxValue
    var bestIdx = Int.MaxValue
    var oi = 0
    while (oi < m.g) {
      val grp = order(oi)
      val lb = math.sqrt(gd(grp)) - m.radii(grp)
      // strict test with integer slack 4 » double rounding error
      if (best == Long.MaxValue || lb <= 0 ||
          lb * lb - 4.0 <= best.toDouble) {
        var r = m.starts(grp)
        val end = m.starts(grp + 1)
        while (r < end) {
          var acc = 0L
          val off = r * dim
          i = 0
          while (i < dim && acc <= best) {
            val d = x(i) - m.flatSorted(off + i); acc += d * d; i += 1
          }
          if (i == dim &&
              (acc < best || (acc == best && m.orig(r) < bestIdx))) {
            best = acc; bestIdx = m.orig(r)
          }
          r += 1
        }
      }
      oi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(bestIdx.toLong, best))
  }

  override def nullSafeEval(v: Any, m: Any, kk: Any): Any =
    searchRow(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blockedKernel", this,
      classOf[QVecNearestL2Blocked].getName)
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      s"${ev.value} = $ref.searchRow($v);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): QVecNearestL2Blocked =
    copy(vec = newFirst, flatMat = newSecond, kExpr = newThird)
}

object QVecNearestL2Blocked {
  /** Permuted matrix + group geometry for the pruned search. */
  final class Blocks(val k: Int, val dim: Int, val g: Int,
      val flatSorted: Array[Long], val orig: Array[Int],
      val starts: Array[Int], val centers: Array[Double],
      val radii: Array[Double]) extends Serializable

  /** Group the k rows into g ≈ √k blocks with a bounded local Lloyd's
    * (seeds = evenly spaced rows, ≤ 8 iterations) and precompute per-
    * group centers + covering radii. Any grouping is CORRECT (bounds
    * are metric facts); coherent groups just prune better.
    */
  def build(flat: Array[Long], k: Int): Blocks = {
    require(k > 0 && flat.length % k == 0,
      s"flat matrix length ${flat.length} not divisible by k=$k")
    val dim = flat.length / k
    val g = math.max(1, math.min(k, math.ceil(math.sqrt(k.toDouble)).toInt))
    val centers = new Array[Double](g * dim)
    var j = 0
    while (j < g) {
      val r = (j.toLong * k / g).toInt
      var i = 0
      while (i < dim) { centers(j * dim + i) = flat(r * dim + i).toDouble; i += 1 }
      j += 1
    }
    val assign = new Array[Int](k)
    var it = 0
    var changed = true
    while (it < 8 && changed) {
      changed = false
      var r = 0
      while (r < k) {
        var bestJ = 0
        var bestD = Double.MaxValue
        j = 0
        while (j < g) {
          var acc = 0.0
          var i = 0
          while (i < dim) {
            val d = flat(r * dim + i) - centers(j * dim + i); acc += d * d; i += 1
          }
          if (acc < bestD) { bestD = acc; bestJ = j }
          j += 1
        }
        if (assign(r) != bestJ) { assign(r) = bestJ; changed = true }
        r += 1
      }
      val sums = new Array[Double](g * dim)
      val counts = new Array[Int](g)
      var r2 = 0
      while (r2 < k) {
        val c = assign(r2); counts(c) += 1
        var i = 0
        while (i < dim) { sums(c * dim + i) += flat(r2 * dim + i); i += 1 }
        r2 += 1
      }
      j = 0
      while (j < g) {
        if (counts(j) > 0) {
          var i = 0
          while (i < dim) {
            centers(j * dim + i) = sums(j * dim + i) / counts(j); i += 1
          }
        }
        j += 1
      }
      it += 1
    }
    // bucket rows by group, ascending original index within each group
    val starts = new Array[Int](g + 1)
    var r3 = 0
    while (r3 < k) { starts(assign(r3) + 1) += 1; r3 += 1 }
    j = 0
    while (j < g) { starts(j + 1) += starts(j); j += 1 }
    val cursor = starts.clone()
    val orig = new Array[Int](k)
    val flatSorted = new Array[Long](flat.length)
    r3 = 0
    while (r3 < k) {
      val pos = cursor(assign(r3)); cursor(assign(r3)) += 1
      orig(pos) = r3
      System.arraycopy(flat, r3 * dim, flatSorted, pos * dim, dim)
      r3 += 1
    }
    // covering radius per group: max member distance to the center
    val radii = new Array[Double](g)
    j = 0
    while (j < g) {
      var maxD = 0.0
      var r = starts(j)
      while (r < starts(j + 1)) {
        var acc = 0.0
        var i = 0
        while (i < dim) {
          val d = flatSorted(r * dim + i) - centers(j * dim + i)
          acc += d * d; i += 1
        }
        if (acc > maxD) maxD = acc
        r += 1
      }
      radii(j) = math.sqrt(maxD)
      j += 1
    }
    new Blocks(k, dim, g, flatSorted, orig, starts, centers, radii)
  }
}

/** Column API over graft's native kernels. Each function builds its
  * Catalyst expression directly, so it needs nothing registered on the
  * session it runs on.
  */
object VectorFunctions {
  private def arg(c: Column): Expression = classic.ColumnConversions.expression(c)

  /** Codegen'd dot product of two array<float> columns. */
  def vec_dot(a: Column, b: Column): Column =
    GraftColumn(FloatVecDot(arg(a), arg(b)))

  /** Codegen'd cosine from the native dot (3 tight loops, no HOFs). */
  def vec_cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))
  }

  /** Batched constant-matrix scoring: array of `vec·row_j + bias_j`. */
  def vec_mat_score(vec: Column, flatMat: Column, bias: Column): Column =
    GraftColumn(FloatMatVecScore(arg(vec), arg(flatMat), arg(bias)))

  /** Codegen'd k-means assignment kernel: [argmin_index, min_sq_l2]
    * of a quantized vector against a flat k×dim quantized matrix.
    */
  def q_vec_nearest_l2(vec: Column, flatMat: Column): Column =
    GraftColumn(QVecNearestL2(arg(vec), arg(flatMat)))

  /** Blocked exact variant for large k (triangle-inequality group
    * pruning + early abandon — see QVecNearestL2Blocked). flatMat must
    * be a literal; k the row count.
    */
  def q_vec_nearest_l2_blocked(vec: Column, flatMat: Column, k: Int): Column =
    GraftColumn(QVecNearestL2Blocked(arg(vec), arg(flatMat), Literal(k)))

  /** Codegen'd quantized dot (exact integer sum on the 1e-4 grid). */
  def q_vec_dot(a: Column, b: Column): Column =
    GraftColumn(QuantizedVecDot(arg(a), arg(b)))

  /** Codegen'd deterministic cosine — bit-identical to
    * `Similarity.quantizedCosine`'s HOF form, minus the interpreted
    * per-element evaluation.
    */
  def q_vec_cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    q_vec_dot(a, b) / (sqrt(q_vec_dot(a, a)) * sqrt(q_vec_dot(b, b)))
  }

  /** Spark's own Bloom-filter membership test (the expression behind its
    * runtime row-group filters, which it does not expose as a function)
    * of `value` against a literal serialized sketch.
    */
  def bloom_might_contain(sketch: Column, value: Column): Column =
    GraftColumn(BloomFilterMightContain(arg(sketch), arg(value)))

  /** Trained-BPE encoding of one token (see [[BpeEncode]]); the merge
    * table arrives as two literal array<string> columns.
    */
  def bpe_encode(tok: Column, lefts: Column, rights: Column): Column =
    GraftColumn(BpeEncode(arg(tok), arg(lefts), arg(rights)))
}
