package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** The GLS moment vector of one key as ONE aggregation buffer: for
  * every harmonic k = 1..nf, with om = (ω·k)·tc, the sums of cos(om),
  * sin(om), cos(om·2), sin(om·2), y·cos(om) and y·sin(om), plus Σy,
  * Σy² and n. `eval` divides each sum by n, as Spark's `avg` does, so
  * a group yields
  * `struct<n, ym, y2, h: array<struct<k, C, S, C2, S2, ycos, ysin>>>`.
  *
  * This replaces the declarative "explode k, then groupBy(key, k) and
  * 7–8 `avg`s" of the fixed-grid periodograms and the stream twin: one
  * buffer per key instead of nf keys of `avg` buffers, and no ×nf
  * explode ahead of the partial aggregate. The per-term arithmetic
  * (direct `math.cos`/`math.sin` of the same products) and the
  * per-group summation order (input order, then partials in shuffle
  * order) are those of the `avg`s and `sum`s it replaces, so the
  * moments are bit-identical to them. [[GlsTrigSums]]' angle-addition
  * recurrence is deliberately not used here: it differs from direct
  * cos/sin in the last bits, and the oracles compute direct cos/sin.
  *
  * A row whose `tc`, `y` or weight is null is skipped, as `avg` skips
  * it; a group with no counted row has n = 0 and null moments.
  *
  * @param weight per-row weight w, for `Gls.glsWeighted` alone: every
  *               term accumulates as w·c, and the signal terms as
  *               (w·y)·c, in that operator's `sum(wt * …)` order; the
  *               moments divide by Σw instead of n
  * @param sums   `eval` returns the raw sums instead of the means, for
  *               `Gls.psdDft` alone, which squares sums: n·mean is not
  *               bit-equal to the sum
  */
case class GlsMoments(
    tc: Expression,
    y: Expression,
    omega: Double,
    nf: Int,
    weight: Option[Expression] = None,
    sums: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DoubleArrayAggregate {

  // [c, s, c2, s2, y·c, y·s] per harmonic, then Σy, Σy², n; with a
  // weight, every one of those terms carries its w, and Σw follows n
  override protected val bufLen = 6 * nf + (if (weight.isEmpty) 3 else 4)

  override def children: Seq[Expression] = Seq(tc, y) ++ weight
  override def dataType: DataType = GlsMoments.resultType
  override def nullable: Boolean = false

  // weight and sums print only when set: the mean plans read as before
  override protected def stringArgs: Iterator[Any] =
    Iterator(tc, y) ++ weight ++ Iterator[Any](omega, nf) ++
      (if (sums) Iterator("sums") else Iterator.empty) ++
      Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val tv = tc.eval(input)
    if (tv == null) return buf
    val yv = y.eval(input)
    if (yv == null) return buf
    val t = tv.asInstanceOf[Double]
    val yd = yv.asInstanceOf[Double]
    if (weight.isDefined) return updateWeighted(buf, input, t, yd)
    var k = 0
    while (k < nf) {
      val om = (omega * (k + 1)) * t
      val c = math.cos(om)
      val s = math.sin(om)
      val o = 6 * k
      buf(o) += c
      buf(o + 1) += s
      buf(o + 2) += math.cos(om * 2.0)
      buf(o + 3) += math.sin(om * 2.0)
      buf(o + 4) += yd * c
      buf(o + 5) += yd * s
      k += 1
    }
    buf(6 * nf) += yd
    buf(6 * nf + 1) += yd * yd
    buf(6 * nf + 2) += 1.0
    buf
  }

  /** [[update]] with `weight`: the unweighted loop above stays free of
    * the multiplies by w. */
  private def updateWeighted(buf: Array[Double], input: InternalRow,
      t: Double, yd: Double): Array[Double] = {
    val wv = weight.get.eval(input)
    if (wv == null) return buf
    val w = wv.asInstanceOf[Double]
    val wy = w * yd
    var k = 0
    while (k < nf) {
      val om = (omega * (k + 1)) * t
      val c = math.cos(om)
      val s = math.sin(om)
      val o = 6 * k
      buf(o) += w * c
      buf(o + 1) += w * s
      buf(o + 2) += w * math.cos(om * 2.0)
      buf(o + 3) += w * math.sin(om * 2.0)
      buf(o + 4) += wy * c
      buf(o + 5) += wy * s
      k += 1
    }
    buf(6 * nf) += wy
    buf(6 * nf + 1) += wy * yd
    buf(6 * nf + 2) += 1.0
    buf(6 * nf + 3) += w
    buf
  }

  override def eval(buf: Array[Double]): Any = {
    val n = buf(6 * nf + 2)
    val div = buf(bufLen - 1) // n, or Σw with a weight
    // null over an empty divisor, as sum(…)/sum(wt) and avg give
    def moment(i: Int): Any =
      if (div == 0.0) null else if (sums) buf(i) else buf(i) / div
    val h = new Array[Any](nf)
    var k = 0
    while (k < nf) {
      val o = 6 * k
      h(k) = InternalRow(k + 1, moment(o), moment(o + 1), moment(o + 2),
        moment(o + 3), moment(o + 4), moment(o + 5))
      k += 1
    }
    InternalRow(n.toLong, moment(6 * nf), moment(6 * nf + 1),
      new GenericArrayData(h))
  }

  override def withNewMutableAggBufferOffset(o: Int): GlsMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GlsMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GlsMoments =
    copy(tc = newChildren(0), y = newChildren(1),
      weight = weight.map(_ => newChildren(2)))
}

object GlsMoments {
  private val Name = "gls_moments"

  private val harmonicType = StructType(Seq(
    StructField("k", IntegerType, nullable = false)) ++
    Seq("C", "S", "C2", "S2", "ycos", "ysin")
      .map(StructField(_, DoubleType, nullable = true)))

  val resultType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("ym", DoubleType, nullable = true),
    StructField("y2", DoubleType, nullable = true),
    StructField("h", ArrayType(harmonicType, containsNull = false),
      nullable = false)))

  /** The moment aggregate of `tc` and `y` (and `weight`; all cast to
    * double) as a Column on `spark`. ω, nf and `sums` travel as literal
    * arguments of ONE session function, `gls_moments(tc, y, ω, nf,
    * sums[, w])`, so every grid shares its name; registering it again
    * is idempotent. */
  def column(spark: SparkSession, tc: Column, y: Column, omega: Double,
      nf: Int, weight: Option[Column] = None, sums: Boolean = false): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(Name,
      exprs => {
        require(exprs.length >= 5 && exprs.slice(2, 5).forall(_.foldable),
          s"$Name(tc, y, omega, nf, sums[, w]): omega, nf and sums must be literals")
        GlsMoments(exprs(0), exprs(1),
          exprs(2).eval().asInstanceOf[Number].doubleValue,
          exprs(3).eval().asInstanceOf[Number].intValue,
          exprs.lift(5), exprs(4).eval().asInstanceOf[Boolean])
      },
      "built-in")
    call_function(Name, Seq(tc.cast(DoubleType), y.cast(DoubleType),
      lit(omega), lit(nf), lit(sums)) ++ weight.map(_.cast(DoubleType)): _*)
  }
}
