package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the per-row vector hot path.
  *
  * The higher-order-function forms (`aggregate(zip_with(…))`, kept in
  * VectorOpsSpec as its reference) are correct but pay
  * per-element lambda dispatch; these loop over the primitive
  * `ArrayData` buffer inside whole-stage codegen — the preferred shape
  * for 100 TB scans where the vector math runs O(pairs) times (see
  * SURVEY.md §7.3: "custom Expression ... if vectorized cosine becomes
  * the bottleneck" — at sf0.1 the all-pairs cosine join was 50% of
  * total bench time, so it did).
  *
  * Semantics: strict sequential left-to-right accumulation, identical
  * to those `aggregate`-based forms and to a single-threaded
  * loop — results are bit-identical across engines and partitionings.
  * Nulls propagate (null array OR null element → null result, same as
  * the HOF forms); lengths are not required to match (the shorter
  * bound wins, as zip_with-with-nulls would otherwise poison the sum).
  */
object VectorExprs {

  /** Σ aᵢ·bᵢ over two double arrays. Inputs must already be
    * ArrayType(DoubleType) — internal callers guarantee it via
    * [[VectorOps.asDouble]]; there is deliberately no analyzer-time
    * coercion (ExpectsInputTypes is private[sql] in Spark 4). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"
    // null even when both arrays are non-null (element nulls propagate)
    override def nullable: Boolean = true

    // a null ELEMENT nulls the whole result, matching the HOF forms
    // (ArrayData.getDouble would silently read a null slot as 0.0)
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  $s += $x.getDouble($i) * $y.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ aᵢ² over one double array (squared L2 norm). */
  case class Norm2(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_norm2"
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) return null
        val v = x.getDouble(i)
        s += v * v
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val v = ctx.freshName("v")
        s"""
           |final int $n = $x.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($x.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  final double $v = $x.getDouble($i);
           |  $s += $v * $v;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  // -- Column surface ---------------------------------------------------------

  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def norm2(a: Column): Column =
    GraftSqlBridge.column(Norm2(GraftSqlBridge.expression(a)))
}
