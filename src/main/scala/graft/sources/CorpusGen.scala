package graft.sources

import org.apache.spark.sql.SparkSession

/** Deterministic synthetic documents/embeddings generator for scaling
  * evidence ABOVE the driver's largest testdata (round 11, VERDICT
  * item 5): the dedup/ANN/text pillar's 100 TB posture claims
  * (occupancy-capped band joins, bounded pair output, edge-∝ CC
  * shuffle) had never been measured past sf0.1. This emits a corpus
  * with the driver testdata's shape (token-salad text over a small
  * vocabulary, 5 langs / 20 sources, 64-dim clustered embeddings) at
  * a caller-chosen multiple, with planted exact (1%) and near (2%)
  * duplicates so the dedup family has real work at every scale.
  *
  * Generation is distributed (spark.range → map, no driver-side
  * materialization) and splitmix64-seeded per row id, so any scale
  * generates identically and in parallel.
  *
  * Usage: runMain graft.sources.CorpusGen <outDir> <nDocs> <nVecs>
  */
object CorpusGen {

  // same public constants as SeriesOps2's splitmix64
  private def mix(seed0: Long): () => Long = {
    var s = seed0
    () => {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }
  private def unif(next: () => Long): Double =
    (next() >>> 11).toDouble / (1L << 53).toDouble

  private val Vocab: Array[String] = Array(
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "batch", "agg", "filter", "query",
    "a", "big", "key", "window", "row", "part", "table", "stream",
    "merge", "data", "vector", "join", "the", "customer")
  private val Langs = Array("en", "es", "fr", "de", "zh")
  private val Dim = 64
  private val Clusters = 10

  private def docText(id: Long): String = {
    val next = mix(id * 0x9e3779b9L + 17)
    val len = 15 + (unif(next) * 45).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab((unif(next) * Vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  /** The generator's own content-family relation, re-derived from the
    * per-row seeds — ground truth for LSH recall measurement
    * (round-13 verdict item 6): doc `id`'s stored text is
    * docText(family(id)) (one token possibly rewritten for the 2%
    * near copies), so two docs are true (near-)duplicates iff they
    * share a family. (doc_id, family, planted: 0 none / 1 exact / 2
    * near.) */
  def families(spark: SparkSession, nDocs: Long)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(0, nDocs, 1, 32).map { boxed =>
      val id = boxed.longValue
      val next = mix(id)
      val roll = unif(next)
      if (id >= 100 && roll < 0.01) (id, id % (id / 2 + 1), 1)
      else if (id >= 100 && roll < 0.03) (id, id % (id / 2 + 1), 2)
      else (id, id, 0)
    }.toDF("doc_id", "family", "planted")
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "target/tmp/corpus10x"
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val nVecs = if (args.length > 2) args(2).toLong else 20000L
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 4th arg "skew" → the adversarial variant (nDocs = base size,
    // nVecs reused as the hot-cluster size)
    if (args.length > 3 && args(3) == "skew") writeSkew(spark, out, nDocs, nVecs)
    else write(spark, out, nDocs, nVecs)
    spark.stop()
  }

  /** Adversarial SKEW variant (round 13, r12 verdict item 5) — the
    * base corpus with three planted pathologies a 100 TB crawl
    * actually has:
    *  (a) ONE 10⁶-token document (a concatenated-dump page — the
    *      monster-row stressor for token counting / shingling / pack);
    *  (b) a 10-token boilerplate segment PREPENDED to every ODD-id
    *      base document (offset 0 ⇒ it aligns to the segment grid —
    *      the hottest possible segment-dedup key; odd ids only so the
    *      benchmark split (id % 50 == 0, all even) stays boiler-free —
    *      a TRULY universal segment contaminates the whole corpus
    *      under any-hit Bloom decontamination, correctly but
    *      degenerately: everything drops);
    *  (c) one `hot`-member near-dup cluster (single-token rewrites of
    *      one base text — a crawl-boilerplate family far past the 256
    *      bucket occupancy cap).
    * doc_ids: base docs keep 0..nBase-1 semantics (boiler prepended),
    * hot cluster at nBase..nBase+hot-1, the monster doc last. */
  def writeSkew(spark: SparkSession, out: String, nBase: Long = 50000L,
      hot: Long = 100000L): Unit = {
    import spark.implicits._
    val boiler = (0 until SegBoilerTokens).map(k => s"bw$k")
      .mkString(" ")
    val base = spark.range(0, nBase, 1, 32).map { boxed =>
      val id = boxed.longValue
      (id, if (id % 2 == 1) boiler + " " + docText(id) else docText(id))
    }
    val hotDocs = spark.range(nBase, nBase + hot, 1, 32).map { boxed =>
      val id = boxed.longValue
      val toks = docText(7L).split(' ')
      val next = mix(id * 31 + 5)
      val j = (unif(next) * toks.length).toInt
      (id, toks.updated(j, Vocab((unif(next) * Vocab.length).toInt))
        .mkString(" "))
    }
    val monsterId = nBase + hot
    val monster = spark.range(monsterId, monsterId + 1).map { _ =>
      val sb = new StringBuilder
      var i = 0
      while (i < 1000000) {
        if (i > 0) sb.append(' ')
        sb.append(Vocab(i % Vocab.length))
        i += 1
      }
      (monsterId, sb.toString)
    }
    val docs = base.union(hotDocs).union(monster)
      .map { case (id, text) =>
        (id, text, "en", s"src${(id % 20).toInt}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    new java.io.File(out).mkdirs()
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  private val SegBoilerTokens = 10 // == SegDedup.SegTokens: one full segment

  /** Session-preserving generator body (specs call this directly —
    * main owns the session lifecycle, not the generator). */
  def write(spark: SparkSession, out: String, nDocs: Long,
      nVecs: Long): Unit = {
    import spark.implicits._

    val docs = spark.range(0, nDocs, 1, 32).map { id =>
      val next = mix(id)
      val roll = unif(next)
      // planted duplicates reference EARLIER ids only (id >= 100):
      // 1% exact copies, 2% near copies with one token region rewritten
      val text =
        if (id >= 100 && roll < 0.01) docText(id % (id / 2 + 1))
        else if (id >= 100 && roll < 0.03) {
          val base = docText(id % (id / 2 + 1))
          val toks = base.split(' ')
          val j = (unif(next) * toks.length).toInt
          toks.updated(j, Vocab((unif(next) * Vocab.length).toInt))
            .mkString(" ")
        } else docText(id)
      val lang =
        if (unif(next) < 0.4) "en" else Langs(1 + (unif(next) * 4).toInt)
      (id, text, lang, s"src${(unif(next) * 20).toInt}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    val vecs = spark.range(0, nVecs, 1, 32).map { id =>
      val next = mix(id + 0x5eedL)
      val label = (unif(next) * Clusters).toInt
      // cluster centers on coordinate axes + noise — the IVF/ANN
      // structure of the driver corpus (labels ≈ recoverable cells)
      val emb = Array.tabulate(Dim) { d =>
        val center = if (d % Clusters == label) 2.0f else 0.0f
        center + (unif(next) * 0.6 - 0.3).toFloat
      }
      (id, emb, label)
    }.toDF("vec_id", "embedding", "label")

    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$out/_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    new java.io.File(out).mkdirs()
    writeOne(docs, "documents")
    writeOne(vecs, "embeddings")
    println(s"""{"out":"$out","docs":$nDocs,"vecs":$nVecs}""")
  }
}
