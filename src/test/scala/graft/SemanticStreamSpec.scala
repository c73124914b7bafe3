package graft

import graft.sim.SemDedup
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{SemDrop, Vec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming semantic-dedup twin: (1) its row-local assignment
  * mirror lands on the batch plan's exact cells and centroid cosines
  * over the whole corpus, (2) the drop events accumulated across
  * micro-batches equal the batch `dedup_semantic` loser set. */
class SemanticStreamSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  /** The trained two-level codebook as driver-side arrays — the
    * static model the streaming twin's caller prepares (the lm-table
    * analogue in scoreDocs; the collect lives with the CALLER so main
    * sources stay collect-free per PlanGuardSpec). Coarse rows are
    * keyed by code, fine rows by cluster = code·16 + f. */
  private def toArrays(rows: Array[(Long, Int, Double)])
      : Array[(Long, Array[Double])] =
    rows.groupBy(_._1).toArray.sortBy(_._1)
      .map { case (key, rs) =>
        val arr = new Array[Double](rs.length)
        rs.foreach { case (_, i, cv) => arr(i) = cv }
        (key, arr)
      }

  private def coarseArrays: Array[(Long, Array[Double])] =
    toArrays(SemDedup.coarseCentroids(spark, dir).collect()
      .map(r => (r.getAs[Number]("code").longValue,
        r.getAs[Number]("i").intValue, r.getAs[Number]("cv").doubleValue)))

  private def fineArrays: Array[(Long, Array[Double])] =
    toArrays(SemDedup.fineCentroids(spark, dir).collect()
      .map(r => (r.getAs[Number]("code").longValue * 16 +
        r.getAs[Number]("f").longValue,
        r.getAs[Number]("i").intValue, r.getAs[Number]("cv").doubleValue)))

  private def corpus: Seq[Vec] = {
    import spark.implicits._
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[Vec].collect().sortBy(_.vec_id).toSeq
  }

  test("row-local assignment mirror == batch cells and c2c corpus-wide") {
    val coarse = coarseArrays
    val fine = fineArrays
    val batch = SemDedup.dedupSemantic(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    corpus.foreach { v =>
      val (cell, c2c) = SemDedup.assignOf(v.embedding, coarse, fine)
      val (bCell, bC2c) = batch(v.vec_id)
      assert(cell == bCell, s"cell mismatch at ${v.vec_id}: $cell != $bCell")
      assert(c2c == bC2c, s"c2c mismatch at ${v.vec_id}: $c2c != $bC2c")
    }
  }

  test("drop events across micro-batches == the batch loser set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val coarse = coarseArrays
    val fine = fineArrays
    val all = corpus
    val input = MemoryStream[Vec]
    // three vec_id-ordered micro-batches: cross-batch pairing (a later
    // arrival dropping an EARLIER kept member) must still converge on
    // the batch set
    val (b1, rest) = all.splitAt(all.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val q = StreamingOps.semanticDedupStream(input.toDS(), coarse, fine)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_drops")
      .trigger(Trigger.AvailableNow())
    Seq(b1, b2, b3).foreach(input.addData(_))
    val run = q.start(); run.processAllAvailable(); run.stop()
    val got = spark.sql("SELECT cluster, vec_id FROM sem_drops")
      .as[SemDrop].collect()
    val gotIds = got.map(_.vec_id).toSet
    assert(got.length == gotIds.size, "a vector was dropped twice")
    val batch = SemDedup.dedupSemantic(spark, dir).collect()
    val expDropped = batch.filter(!_.getBoolean(3))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotIds == expDropped.keySet,
      s"drop sets differ: extra=${gotIds.diff(expDropped.keySet)} " +
        s"missing=${expDropped.keySet.diff(gotIds)}")
    got.foreach(d => assert(d.cluster == expDropped(d.vec_id),
      s"cluster mismatch for dropped ${d.vec_id}"))
  }
}
