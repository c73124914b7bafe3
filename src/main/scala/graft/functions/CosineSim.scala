package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two numeric-array
  * embeddings in ONE fused, codegen'd pass (dot product and both
  * norms in a single loop over the vectors — no posexplode, no join,
  * no shuffle). The relational formulation survives as the DuckDB
  * oracle; this is the 100 TB execution path where a 64-float copy
  * through an exploded join would dominate the query.
  *
  * Each side may independently be array<float> (raw embeddings) or
  * array<double> (e.g. IVF centroid component means) — the element
  * accessor is chosen from the child's STATIC type, so codegen stays
  * branch-free inside the loop. Accumulation is sequential
  * left-to-right in double — deterministic for a given pair
  * regardless of partitioning.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloat(left)
    val yf = isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val getX =
        if (isFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val getY =
        if (isFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $getX;
         |  double $yv = $getY;
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Register `cosine_sim(a, b)` for use via expr()/SQL, once per
    * session. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "cosine_sim",
      exprs => CosineSim(exprs(0), exprs(1)))
}
