package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native imperative aggregate for the GLS bootstrap's trig sums: the
  * whole per-replicate moment vector in ONE primitive-array buffer.
  *
  * The declarative formulation (2·NF separate `avg` expressions) pays
  * Spark's per-aggregate machinery 100× per row — 100 null checks,
  * 100 (sum, count) buffer slots, a 104-field codegen'd update — and
  * that row-handling, not the arithmetic, dominates the query
  * (measured: ~95 CPU-seconds for ~1 Gflop of real work). Here each
  * input row costs one virtual call: the cos/sin comb comes from the
  * same angle-addition recurrence as [[TrigWave]] (2 libm calls per
  * row), and the accumulation is a tight primitive loop the JIT
  * compiles whole. The partial-aggregate shuffle carries one
  * array<double> instead of 104 named doubles.
  *
  * Two modes:
  *  - `withY = true` (input tc, y): buffer = [Σy·cₖ ×nf, Σy·sₖ ×nf,
  *    Σ round(100y), Σy², n]; eval → [avg(y·cₖ) ×nf, avg(y·sₖ) ×nf,
  *    ym, avg(y²)] of length 2·nf+2, ym = (Σcents/n)/100 exactly as
  *    the declarative twin computed it (cents are exact in doubles).
  *  - `withY = false` (input tc): buffer = [Σcₖ, Σsₖ, Σ(cₖ²−sₖ²),
  *    Σ2sₖcₖ each ×nf, n]; eval → the four averages, length 4·nf.
  *
  * Sum order within/across partials is partition-dependent — exactly
  * like the built-in `avg` it replaces, and absorbed by the 6 dp
  * output rounding the oracle already relies on.
  *
  * The recurrence stays because the bootstrap's DuckDB oracle
  * (`GlsBootstrap.glsFapSql`) replays it step by step as chained CTE
  * columns, so both engines see the same trig values. The periodogram
  * and stream aggregate, [[GlsMoments]], computes every harmonic with
  * direct cos/sin instead, because their oracles do.
  */
case class GlsTrigSums(
    tc: Expression,
    y: Expression,
    omega: Double,
    nf: Int,
    withY: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DoubleArrayAggregate {

  override protected val bufLen: Int = if (withY) 2 * nf + 3 else 4 * nf + 1

  override def children: Seq[Expression] = if (withY) Seq(tc, y) else Seq(tc)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val tv = tc.eval(input)
    if (tv == null) return buf
    val t = tv.asInstanceOf[Double]
    val c1 = math.cos(omega * t)
    val s1 = math.sin(omega * t)
    var ck = c1
    var sk = s1
    if (withY) {
      val yv = y.eval(input)
      if (yv == null) return buf
      val yd = yv.asInstanceOf[Double]
      var k = 0
      while (k < nf) {
        buf(k) += yd * ck
        buf(nf + k) += yd * sk
        val cn = ck * c1 - sk * s1
        val sn = sk * c1 + ck * s1
        ck = cn; sk = sn
        k += 1
      }
      // HALF_UP like Spark's round(y*100, 0) (rint would be half-even)
      val cents = yd * 100.0
      buf(2 * nf) +=
        (if (cents >= 0) math.floor(cents + 0.5) else math.ceil(cents - 0.5))
      buf(2 * nf + 1) += yd * yd
      buf(2 * nf + 2) += 1.0
    } else {
      var k = 0
      while (k < nf) {
        buf(k) += ck
        buf(nf + k) += sk
        buf(2 * nf + k) += ck * ck - sk * sk
        buf(3 * nf + k) += 2.0 * sk * ck
        val cn = ck * c1 - sk * s1
        val sn = sk * c1 + ck * s1
        ck = cn; sk = sn
        k += 1
      }
      buf(4 * nf) += 1.0
    }
    buf
  }

  override def eval(buf: Array[Double]): Any = {
    val n = buf(bufLen - 1)
    val out = buf.init.map(_ / n)
    // ym exactly as the declarative twin: (Σcents / n) / 100
    if (withY) out(2 * nf) /= 100.0
    ArrayData.toArrayData(out)
  }

  override def withNewMutableAggBufferOffset(o: Int): GlsTrigSums =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GlsTrigSums =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GlsTrigSums =
    if (withY) copy(tc = newChildren(0), y = newChildren(1))
    else copy(tc = newChildren(0))
}

object GlsTrigSums {
  /** Register `gls_trig_y(tc, y)` and `gls_trig_base(tc)` (idempotent);
    * the analyzer wraps the bare AggregateFunction in an
    * AggregateExpression. */
  def register(spark: SparkSession, omega: Double, nf: Int): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gls_trig_y",
      exprs => GlsTrigSums(exprs(0), exprs(1), omega, nf, withY = true),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gls_trig_base",
      exprs => GlsTrigSums(exprs(0), exprs(0), omega, nf, withY = false),
      "built-in")
  }
}
