package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** NumPy `.npy` DataSource V2: byte-level read correctness against
  * hand-built NEP-1 files, element-range partition splits, column
  * pruning, and the SpottedStar-style (3, n) unpack into the series
  * table shape (reference data/__init__.py:6). */
class NpySourceSpec extends AnyFunSuite with GraftSpark {

  private def npyBytes(descr: String, shape: String,
      fill: ByteBuffer => Unit, payloadLen: Int): Array[Byte] = {
    val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shape, }"
    val pad = (64 - (10 + dict.length + 1) % 64) % 64
    val full = dict + (" " * pad) + "\n"
    val buf = ByteBuffer.allocate(10 + full.length + payloadLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0x93.toByte).put("NUMPY".getBytes("ASCII"))
      .put(1.toByte).put(0.toByte)
      .putShort(full.length.toShort).put(full.getBytes("ASCII"))
    fill(buf)
    buf.array()
  }

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_npy_spec")
    // 2-D f8 (3×5), values r*10 + c
    java.nio.file.Files.write(d.resolve("grid.npy"),
      npyBytes("<f8", "(3, 5)",
        bb => for (r <- 0 until 3; c <- 0 until 5)
          bb.putDouble(r * 10.0 + c), 3 * 5 * 8))
    // 1-D i4
    java.nio.file.Files.write(d.resolve("ints.npy"),
      npyBytes("<i4", "(4,)",
        bb => Seq(7, -3, 0, 42).foreach(bb.putInt), 4 * 4))
    d.toString
  }

  private def read(path: String) =
    spark.read.format("graft.sources.NpyDataSource").load(path)

  test("reads 2-D f8 row-major with (row, idx) addressing") {
    val got = read(dir).filter(col("file") === "grid.npy")
      .orderBy("row", "idx").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 15)
    assert(got.forall { case (r, c, v) => v == r * 10.0 + c })
  }

  test("reads 1-D i4 with integer widening") {
    val got = read(dir).filter(col("file") === "ints.npy")
      .orderBy("idx").collect().map(r => r.getDouble(3))
    assert(got.toSeq == Seq(7.0, -3.0, 0.0, 42.0))
    val rows = read(dir).filter(col("file") === "ints.npy")
      .select("row").distinct().collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(0L), "1-D arrays are row 0")
  }

  test("column pruning reaches the reader") {
    val pruned = read(dir).select("value")
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("ReadSchema: value"),
      s"pruned scan should read only value: $scan")
    assert(pruned.count() == 19)
  }

  test("element-range splits cover a file larger than one partition") {
    // shrink the split size? SplitElems is fixed — instead verify the
    // planner math on the fixture: 19 elements, 1M split → 2 files,
    // 2 partitions; the invariant that matters is ranges tile the
    // file exactly (no dropped/duplicated tail), checked via count
    // and distinct addresses
    val all = read(dir)
    assert(all.count() == 19)
    assert(all.select("file", "row", "idx").distinct().count() == 19)
  }

  test("SpottedStar-style unpack: rows pivot to the series table shape") {
    // t, y, dy = data  →  id=file, t=row 0, y=row 1 (data/__init__.py:21)
    val g = read(dir).filter(col("file") === "grid.npy")
    val series = g.groupBy("idx").pivot("row", Seq(0L, 1L, 2L)).sum("value")
      .withColumnRenamed("0", "t").withColumnRenamed("1", "y")
      .withColumnRenamed("2", "dy")
    val rows = series.orderBy("idx").collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getDouble(2) == r.getDouble(1) + 10.0),
      "y row sits 10 above t row in the fixture")
  }

  test("write path round-trips through the reader (multi-partition)") {
    import spark.implicits._
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_npy_write").toString + "/sink"
    val values = (0 until 10000).map(i => math.sin(i * 0.01))
    values.toDF("value").repartition(3)
      .write.format("graft.sources.NpyDataSource").mode("append").save(outDir)
    val parts = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".npy"))
    assert(parts.length == 3, s"one part file per partition: ${parts.length}")
    val back = read(outDir).select("value").collect().map(_.getDouble(0))
    assert(back.length == 10000)
    assert(back.sorted.toSeq == values.sorted,
      "round-tripped multiset differs")
  }

  test("npy_source gate fixture is deterministic across reads") {
    val a = sources.NpySource.npySource(spark, "unused")
      .agg(sum(col("value") * col("idx"))).collect()(0).getDouble(0)
    val b = sources.NpySource.npySource(spark, "unused")
      .agg(sum(col("value") * col("idx"))).collect()(0).getDouble(0)
    assert(a == b)
    assert(sources.NpySource.npySource(spark, "unused").count() == 3 * 512 + 1000)
  }
}
