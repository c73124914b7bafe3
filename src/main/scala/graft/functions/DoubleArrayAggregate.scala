package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

/** The `double[]` buffer of [[GlsMoments]] and [[GlsTrigSums]]:
  * `bufLen` zeroed slots, merged slot by slot, serialized (for the
  * partial-aggregate shuffle and stream state) as `bufLen` big-endian
  * doubles. Each aggregate owns its slot layout, `update` and `eval`. */
trait DoubleArrayAggregate extends TypedImperativeAggregate[Array[Double]] {

  /** Slots in one buffer. */
  protected def bufLen: Int

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](bufLen)

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { b1(i) += b2(i); i += 1 }
    b1
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
}
