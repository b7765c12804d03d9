package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The shared half of the fused embedding kernels ([[CosineSimilarity]],
  * [[DotProduct]]): both operands `array<float>` or `array<double>`
  * (mixed sides allowed), a double result, elements widened to double.
  *
  * Why an Expression and not `zip_with`/`aggregate` column math: Spark's
  * array higher-order functions are `CodegenFallback` — every element hop
  * is an interpreted expression-tree walk. Each kernel emits one fused JVM
  * loop via `doGenCode`, keeping the ANN scan inside whole-stage codegen.
  *
  * Null semantics: null array → null result (BinaryExpression default);
  * elements are assumed non-null (embedding contract). Unequal lengths
  * use the common prefix.
  */
private[expressions] trait VectorPairKernel extends BinaryExpression {
  protected def kernelName: String

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorExpressions.isVector(left.dataType) && VectorExpressions.isVector(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$kernelName expects array<float|double>, got ${left.dataType} / ${right.dataType}")

  /** The interpreted loop: `step(xᵢ, yᵢ)` over the common prefix, in order. */
  protected final def foreachPair(a: Any, b: Any)(step: (Double, Double) => Unit): Unit = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = VectorExpressions.isFloat(left.dataType)
    val rf = VectorExpressions.isFloat(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      step(VectorExpressions.elem(x, lf, i), VectorExpressions.elem(y, rf, i))
      i += 1
    }
  }

  /** The generated loop: `accs` double accumulators start at 0.0, `step`
    * runs per element of the common prefix on the widened operands
    * (`xi`, `yi`), then `finish` assigns the result to `ev.value`.
    */
  protected final def genLoop(ctx: CodegenContext, ev: ExprCode, accs: Int)(
      step: (Seq[String], String, String) => String)(
      finish: Seq[String] => String): ExprCode = {
    val lGet = VectorExpressions.getter(left.dataType)
    val rGet = VectorExpressions.getter(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val Seq(n, i, xi, yi) = Seq("n", "i", "xi", "yi").map(ctx.freshName)
      val acc = Seq.fill(accs)(ctx.freshName("acc"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${acc.map(v => s"double $v = 0.0;").mkString(" ")}
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.$lGet($i);
         |  double $yi = (double) $b.$rGet($i);
         |  ${step(acc, xi, yi)}
         |}
         |${finish(acc)}
       """.stripMargin
    })
  }
}

/** Cosine similarity in [-1, 1], one pass computing dot, |a|² and |b|²;
  * an all-zero vector gives 0.0.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorPairKernel {
  override protected def kernelName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    foreachPair(a, b) { (xi, yi) =>
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genLoop(ctx, ev, 3) { case (Seq(dot, nx, ny), xi, yi) =>
      s"$dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;"
    } { case Seq(dot, nx, ny) =>
      val denom = ctx.freshName("denom")
      s"""double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;""".stripMargin
    }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused dot product Σ aᵢ·bᵢ. */
case class DotProduct(left: Expression, right: Expression) extends VectorPairKernel {
  override protected def kernelName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    var dot = 0.0
    foreachPair(a, b)((xi, yi) => dot += xi * yi)
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genLoop(ctx, ev, 1) { case (Seq(dot), xi, yi) => s"$dot += $xi * $yi;" } {
      case Seq(dot) => s"${ev.value} = $dot;"
    }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Top-`p` nearest seed cells for a vector against a small driver-side
  * codebook — the coarse-quantizer assignment step of IVF/mutual-kNN
  * candidate generation, fused into ONE codegen loop. Replaces the
  * boxed Scala UDF form: at n·nCells·dim scale (the probe cost grows
  * with the cell count that keeps occupancy constant) the UDF's
  * per-row Seq boxing dominated the whole operator (measured: qs14 at
  * sf1 spent most of its 43 s in the probe; this kernel runs the same
  * 4·10⁸ FLOPs inside whole-stage codegen).
  *
  * Semantics pinned to [[graft.operators.Similarity]]'s pqEncode/probe
  * contract: L2² distances rounded to 6 dp (floor(d·1e6 + 0.5)/1e6),
  * ties broken toward the LOWEST cell index, output = the p best cell
  * indices in (rounded distance, index) order. Null vector → null; a
  * null ELEMENT throws (the embedding contract is dense — parquet
  * arrays arrive as containsNull = true, so the type check can't reject
  * them statically, and silently reading a null slot as 0.0 would
  * corrupt the L2 distance, unlike the old Seq[Double] UDF path which
  * errored on deserialization).
  */
case class NearestCells(child: Expression, seeds: Array[Array[Double]], p: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorExpressions.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects array<float|double>, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val f = VectorExpressions.isFloat(child.dataType) // once, not per element
    val x: Int => Double = j => VectorExpressions.elem(v, f, j)
    // null-element pre-scan: ONE pass per vector, not per (vector, seed)
    var g = 0
    val nv = v.numElements()
    while (g < nv) {
      if (v.isNullAt(g))
        throw new IllegalArgumentException(
          s"nearest_cells: null element at index $g in input vector")
      g += 1
    }
    val bestD = Array.fill(p)(Double.PositiveInfinity)
    val bestI = Array.fill(p)(-1)
    var c = 0
    while (c < seeds.length) {
      val rd = VectorExpressions.round6(
        VectorExpressions.sqL2(x, 0, seeds(c), math.min(seeds(c).length, v.numElements())))
      // strict < at each slot keeps the earlier (lower) index on ties
      var k = 0
      while (k < p && !(rd < bestD(k))) k += 1
      if (k < p) {
        var m = p - 1
        while (m > k) { bestD(m) = bestD(m - 1); bestI(m) = bestI(m - 1); m -= 1 }
        bestD(k) = rd
        bestI(k) = c
      }
      c += 1
    }
    val out = bestI.takeWhile(_ >= 0)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.map(_.asInstanceOf[Any]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("seeds", seeds, "double[][]")
    val get = VectorExpressions.getter(child.dataType)
    nullSafeCodeGen(ctx, ev, v => {
      val bestD = ctx.freshName("bestD")
      val bestI = ctx.freshName("bestI")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val m = ctx.freshName("m")
      val d = ctx.freshName("d")
      val rd = ctx.freshName("rd")
      val cent = ctx.freshName("cent")
      val nEl = ctx.freshName("nEl")
      val diff = ctx.freshName("diff")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val g = ctx.freshName("g")
      s"""
         |for (int $g = 0; $g < $v.numElements(); $g++) {
         |  if ($v.isNullAt($g)) {
         |    throw new IllegalArgumentException(
         |      "nearest_cells: null element at index " + $g + " in input vector");
         |  }
         |}
         |double[] $bestD = new double[$p];
         |int[] $bestI = new int[$p];
         |java.util.Arrays.fill($bestD, Double.POSITIVE_INFINITY);
         |java.util.Arrays.fill($bestI, -1);
         |for (int $c = 0; $c < $cbRef.length; $c++) {
         |  double[] $cent = $cbRef[$c];
         |  int $nEl = java.lang.Math.min($cent.length, $v.numElements());
         |  double $d = 0.0;
         |  for (int $j = 0; $j < $nEl; $j++) {
         |    double $diff = ((double) $v.$get($j)) - $cent[$j];
         |    $d += $diff * $diff;
         |  }
         |  double $rd = java.lang.Math.floor($d * 1e6 + 0.5) / 1e6;
         |  int $k = 0;
         |  while ($k < $p && !($rd < $bestD[$k])) $k++;
         |  if ($k < $p) {
         |    for (int $m = $p - 1; $m > $k; $m--) {
         |      $bestD[$m] = $bestD[$m - 1];
         |      $bestI[$m] = $bestI[$m - 1];
         |    }
         |    $bestD[$k] = $rd;
         |    $bestI[$k] = $c;
         |  }
         |}
         |int $cnt = 0;
         |while ($cnt < $p && $bestI[$cnt] >= 0) $cnt++;
         |Object[] $out = new Object[$cnt];
         |for (int $m = 0; $m < $cnt; $m++) $out[$m] = (Object) (Integer) $bestI[$m];
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  private[expressions] def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  private[expressions] def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The ArrayData getter generated code calls for an operand of type `t`. */
  private[expressions] def getter(t: DataType): String =
    if (isFloat(t)) "getFloat" else "getDouble"

  /** Element `i` as a double: float elements widen exactly. */
  private[expressions] def elem(a: ArrayData, float: Boolean, i: Int): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)

  /** Σ (x(off + j) − c(j))² for j < n, folded in element order: the one
    * squared-L2 loop behind the driver-side argmins, the k-means and PQ
    * UDFs and [[NearestCells]]' interpreted path.
    */
  private[graft] def sqL2(x: Int => Double, off: Int, c: Array[Double], n: Int): Double = {
    var d = 0.0
    var j = 0
    while (j < n) {
      val diff = x(off + j) - c(j)
      d += diff * diff
      j += 1
    }
    d
  }

  /** ⌊x·10⁶ + ½⌋ / 10⁶: the 6-dp round every L2² argmin ranks on. */
  private[graft] def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Column-facing constructors. */
  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def nearestCells(v: Column, seeds: Array[Array[Double]], p: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(v), seeds, p))
}
