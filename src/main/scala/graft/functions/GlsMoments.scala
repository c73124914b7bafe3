package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
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
  * 7–8 `avg`s" of the batch periodogram and the stream twin: one
  * buffer per key instead of nf keys of `avg` buffers, and no ×nf
  * explode ahead of the partial aggregate. The per-term arithmetic
  * (direct `math.cos`/`math.sin` of the same products) and the
  * per-group summation order (input order, then partials in shuffle
  * order) are those of the `avg`s it replaces, so the moments are
  * bit-identical to them. [[GlsTrigSums]]' angle-addition recurrence
  * is deliberately not used here: it differs from direct cos/sin in
  * the last bits, and the oracles compute direct cos/sin.
  *
  * A row whose `tc` or `y` is null is skipped, as `avg` skips it; a
  * group with no counted row has n = 0 and null means.
  */
case class GlsMoments(
    tc: Expression,
    y: Expression,
    omega: Double,
    nf: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {

  // [c, s, c2, s2, y·c, y·s] per harmonic, then Σy, Σy², n
  private val bufLen = 6 * nf + 3

  override def children: Seq[Expression] = Seq(tc, y)
  override def dataType: DataType = GlsMoments.resultType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](bufLen)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val tv = tc.eval(input)
    if (tv == null) return buf
    val yv = y.eval(input)
    if (yv == null) return buf
    val t = tv.asInstanceOf[Double]
    val yd = yv.asInstanceOf[Double]
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

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any = {
    val n = buf(6 * nf + 2)
    def mean(i: Int): Any = if (n == 0.0) null else buf(i) / n
    val h = new Array[Any](nf)
    var k = 0
    while (k < nf) {
      val o = 6 * k
      h(k) = InternalRow(k + 1, mean(o), mean(o + 1), mean(o + 2),
        mean(o + 3), mean(o + 4), mean(o + 5))
      k += 1
    }
    InternalRow(n.toLong, mean(6 * nf), mean(6 * nf + 1),
      new GenericArrayData(h))
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(bufLen * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bufLen)
    ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): GlsMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GlsMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GlsMoments =
    copy(tc = newChildren(0), y = newChildren(1))
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

  /** The moment aggregate of `tc` and `y` (cast to double) as a
    * Column on `spark`. ω and nf travel as literal arguments of ONE
    * session function, `gls_moments(tc, y, ω, nf)`, so every grid
    * shares its name; registering it again is idempotent. */
  def column(spark: SparkSession, tc: Column, y: Column, omega: Double,
      nf: Int): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(Name,
      exprs => {
        require(exprs.length == 4 && exprs(2).foldable && exprs(3).foldable,
          s"$Name(tc, y, omega, nf): omega and nf must be literals")
        GlsMoments(exprs(0), exprs(1),
          exprs(2).eval().asInstanceOf[Number].doubleValue,
          exprs(3).eval().asInstanceOf[Number].intValue)
      },
      "built-in")
    call_function(Name, tc.cast(DoubleType), y.cast(DoubleType), lit(omega),
      lit(nf))
  }
}
