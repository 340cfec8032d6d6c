package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector arithmetic over `array<double>` / `array<float>`
  * columns (each side independently; accumulation always in double).
  *
  * The HOF route (`aggregate(zip_with(...))`) evaluates a boxed lambda
  * per element — on the kNN candidate stream that is tens of millions
  * of boxed Doubles per second and the allocation churn throttles
  * per-core throughput at high parallelism. These expressions stay in
  * whole-stage codegen with a primitive double loop. Float support
  * exists so the high-volume LSH candidate shuffle can carry 4-byte
  * elements (half the bus/shuffle bytes) without a per-row cast back.
  */
object VectorExprs {

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }

  private def checkArrays(l: Expression, r: Expression, name: String): TypeCheckResult =
    if (isVec(l.dataType) && isVec(r.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<double|float>, got ${l.dataType} / ${r.dataType}")

  /** Element accessor (interpreted path): double regardless of storage. */
  private def get(e: Expression, a: ArrayData, i: Int): Double = e.dataType match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  /** Element accessor (codegen): double regardless of storage. */
  private def getGen(e: Expression, arr: String, i: String): String = e.dataType match {
    case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  /** Σ (a_i − b_i)² over min length. */
  case class SqDist(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult = checkArrays(left, right, "sq_dist")
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sq_dist"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0; var i = 0
      while (i < n) { val d = get(left, x, i) - get(right, y, i); s += d * d; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val d = ctx.freshName("d"); val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = ${getGen(left, a, i)} - ${getGen(right, b, i)};
           |  $s += $d * $d;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Σ a_i·b_i over min length (left-to-right accumulation — same float
    * semantics as the sequential HOF it replaces).
    */
  case class Dot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult = checkArrays(left, right, "vec_dot")
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0; var i = 0
      while (i < n) { s += get(left, x, i) * get(right, y, i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += ${getGen(left, a, i)} * ${getGen(right, b, i)};
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Per-element z-score: out_i = (v_i − mu_i) / (sigma_i > 1e-12 ?
    * sigma_i : 1). Replaces the `transform(vec, (v, i) => ...)` HOF in
    * SimilarityPipeline.standardize: a higher-order function evaluates an
    * interpreted lambda per ELEMENT and allocates boxed doubles +
    * GenericArrayData per row — on the scaling legs' 1.6M standardize
    * rows that interpreter showed up in executor stack samples. Same
    * arithmetic, same element order: bit-identical output.
    */
  case class ZScore(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (isVec(first.dataType) && isVec(second.dataType) && isVec(third.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"vec_zscore expects 3 array<double|float>, got " +
          s"${first.dataType} / ${second.dataType} / ${third.dataType}")
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vec_zscore"

    override def nullSafeEval(v: Any, m: Any, s: Any): Any = {
      val xv = v.asInstanceOf[ArrayData]
      val xm = m.asInstanceOf[ArrayData]
      val xs = s.asInstanceOf[ArrayData]
      // min-length like SqDist/Dot: ragged mu/sigma must not read past
      // their end (UnsafeArrayData.getDouble would return silent garbage)
      val n = math.min(xv.numElements(),
        math.min(xm.numElements(), xs.numElements()))
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        val sd = get(third, xs, i)
        out(i) = (get(first, xv, i) - get(second, xm, i)) / (if (sd > 1e-12) sd else 1.0)
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, m, s) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val out = ctx.freshName("out"); val sd = ctx.freshName("sd")
        s"""
           |int $n = java.lang.Math.min($v.numElements(),
           |  java.lang.Math.min($m.numElements(), $s.numElements()));
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  double $sd = ${getGen(third, s, i)};
           |  $out[$i] = (${getGen(first, v, i)} - ${getGen(second, m, i)})
           |    / ($sd > 1e-12 ? $sd : 1.0);
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression) =
      copy(first = f, second = s, third = t)
  }

  def sq_dist(a: Column, b: Column): Column =
    Bridge.column(SqDist(Bridge.expression(a), Bridge.expression(b)))

  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(Dot(Bridge.expression(a), Bridge.expression(b)))

  /** Cosine similarity: a·b / (√(a·a) · √(b·b)), each dot a left-to-right
    * fold — the value DuckDB's `list_cosine_similarity` computes.
    */
  def cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))

  def vec_zscore(v: Column, mu: Column, sigma: Column): Column =
    Bridge.column(ZScore(Bridge.expression(v), Bridge.expression(mu),
      Bridge.expression(sigma)))
}
