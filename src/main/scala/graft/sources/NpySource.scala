package graft.sources

import graft.Query
import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `npy_source` — end-to-end gate for [[NpyDataSource]].
  *
  * The reference's datasets are `.npy` files unpacked as
  * `t, y, dy = SpottedStar()` (data/__init__.py:6: shape (3, 2148)).
  * This query writes two deterministic analogs of that layout —
  * a 2-D '<f8' (3×512) and a 1-D '<f4' tone — then reads them back
  * through the DataSource V2 byte reader.
  *
  * Oracle trick: the payload is pure formula content, so DuckDB
  * reproduces it from `generate_series` arithmetic WITHOUT reading
  * npy — the comparison hash-checks the whole read path (magic,
  * header parse, payload offset, element-range splits, endianness,
  * f4 widening). The 6 dp rounding absorbs only the last-ulp libm
  * sin() divergence; any parsing defect is orders of magnitude
  * larger.
  */
object NpySource {
  private val NCols = 512
  private val NTone = 1000

  /** NEP-1 v1.0 header: magic + version + padded dict (total header
    * a multiple of 64 bytes, space-padded, '\n'-terminated). */
  private def header(descr: String, shape: String): Array[Byte] = {
    val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shape, }"
    val unpadded = 10 + dict.length + 1
    val pad = (64 - unpadded % 64) % 64
    val full = dict + (" " * pad) + "\n"
    val buf = ByteBuffer.allocate(10 + full.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0x93.toByte).put("NUMPY".getBytes("ASCII"))
    buf.put(1.toByte).put(0.toByte)
    buf.putShort(full.length.toShort)
    buf.put(full.getBytes("ASCII"))
    buf.array()
  }

  private def write(path: java.io.File, hdr: Array[Byte],
      payload: ByteBuffer): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path))
    try { out.write(hdr); out.write(payload.array()) } finally out.close()
  }

  /** Writes the two fixture files (idempotent, deterministic bytes)
    * and returns the directory. */
  def fixtureDir(): String = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_npy")
    dir.mkdirs()
    val f8 = new java.io.File(dir, "spotted_demo.npy")
    val f4 = new java.io.File(dir, "two_tone_f4.npy")
    if (!f8.exists()) {
      val bb = ByteBuffer.allocate(3 * NCols * 8).order(ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until NCols) bb.putDouble(i * 0.02)
      for (i <- 0 until NCols) bb.putDouble(
        math.sin(2.0 * math.Pi * i / 50.0) +
          0.5 * math.sin(2.0 * math.Pi * i / 13.0))
      for (i <- 0 until NCols) bb.putDouble(0.01 * (1 + i % 7))
      write(f8, header("<f8", s"(3, $NCols)"), bb)
    }
    if (!f4.exists()) {
      val bb = ByteBuffer.allocate(NTone * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until NTone)
        bb.putFloat(math.sin(2.0 * math.Pi * 0.065 * i).toFloat)
      write(f4, header("<f4", s"($NTone,)"), bb)
    }
    dir.getPath
  }

  def npySource(spark: SparkSession, dir: String): DataFrame = {
    val d = fixtureDir()
    spark.read.format("graft.sources.NpyDataSource")
      .load(d)
      .select(col("file"), col("row"), col("idx"),
        (round(col("value"), 6) + lit(0.0)).as("value"))
  }

  val npySourceSql: String =
    s"""SELECT 'spotted_demo.npy' AS file, (g.e // $NCols) AS row,
       |  (g.e % $NCols) AS idx,
       |  round(CASE (g.e // $NCols)
       |    WHEN 0 THEN (g.e % $NCols) * 0.02
       |    WHEN 1 THEN sin(2*pi()*(g.e % $NCols)/50.0)
       |              + 0.5*sin(2*pi()*(g.e % $NCols)/13.0)
       |    ELSE 0.01 * (1 + (g.e % $NCols) % 7) END, 6) + 0.0 AS value
       |FROM generate_series(0, ${3 * NCols - 1}) AS g(e)
       |UNION ALL
       |SELECT 'two_tone_f4.npy' AS file, 0 AS row, g.i AS idx,
       |  round(cast(cast(sin(2*pi()*0.065*g.i) AS FLOAT) AS DOUBLE), 6)
       |    + 0.0 AS value
       |FROM generate_series(0, ${NTone - 1}) AS g(i)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("npy_source", npySource, npySourceSql))
}
