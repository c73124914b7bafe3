package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Doc, Event}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Closed-loop benchmark client for one workload (see perfbench/README.md).
  *
  * One JVM, one client thread. Calls reach the program only through
  * its public entry points: `SparkEntry.queries`, the
  * `streaming.StreamingOps` twins and the `Tables` loaders. Writes
  * `result.json` (metrics), `oracle.json` (DuckDB twins of every
  * checked output) and `check/<name>/` (the checked outputs as parquet)
  * into the run directory; `run.py` compares them with the oracles. */
object Harness {

  final case class Opts(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, warmups: Int, minPasses: Int,
      batches: Int, master: String, cores: Int,
      conf: Seq[(String, String)], traceFile: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toSeq
    val m = kv.toMap
    Opts(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("warmups").toInt, m("min-passes").toInt,
      m("batches").toInt, m("master"), m("cores").toInt,
      kv.collect { case ("conf", c) =>
        val i = c.indexOf('='); c.take(i) -> c.drop(i + 1) },
      m("trace-file"))
  }

  /** Order-insensitive digest of every output column: (rows, sum of the
    * low 32 bits of xxhash64 over all columns). The sum cannot overflow
    * below 2^31 rows, and no column can be pruned from the plan. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("xxhash64(*) & 4294967295 AS h")
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ---------------------------------------------------------------- stats

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile of {99, 95, 90, 75, 50} that leaves at least
    * ten samples above it (nearest-rank), or 100 (the maximum) when fewer
    * than 20 samples exist. */
  def tailPercentile(n: Int): Int =
    Seq(99, 95, 90, 75, 50).find(p => n - math.ceil(p * n / 100.0).toInt >= 10)
      .getOrElse(100)

  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s((math.ceil(p * s.size / 100.0).toInt - 1).max(0).min(s.size - 1))
  }

  /** Every number leaves the JVM through here: Locale.ROOT, so a
    * comma-decimal default locale cannot break the JSON. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else String.format(Locale.ROOT, "%.9g", Double.box(x))
      .replaceFirst("(\\.\\d*?)0+(e|$)", "$1$2").replaceFirst("\\.(e|$)", "$1")

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  }.mkString("\"", "", "\"")

  def json(m: Seq[(String, Any)]): String = m.map { case (k, v) =>
    val s = v match {
      case d: Double => num(d)
      case i: Int => i.toString
      case l: Long => l.toString
      case b: Boolean => b.toString
      case s: String => quote(s)
      case xs: Seq[_] => xs.map {
        case d: Double => num(d); case o => o.toString }.mkString("[", ",", "]")
      case m: Map[_, _] => json(m.toSeq.map { case (a, b) => a.toString -> b })
    }
    "\"" + k + "\":" + s
  }.mkString("{", ",", "}")

  // -------------------------------------------------------------- session

  private var localDirSeq = 0

  def session(o: Opts): SparkSession = {
    localDirSeq += 1
    val b = SparkSession.builder().master(o.master)
      .config("spark.local.dir", s"${o.out}/local$localDirSeq")
    o.conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop everything the program memoizes for this session, so the next
    * pass recomputes it instead of being timed as a memo hit. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.dedup.Dedup.releaseClusters(spark)
    graft.text.Pipeline.releaseCounts(spark)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def gcBarrier(): Unit = { System.gc(); System.gc() }

  /** Collector time of this JVM so far, for the log. */
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time of the JIT compiler threads so far (Linux `/proc`; 0
    * elsewhere). Their thread set is fixed: run.py starts the JVM with
    * `-XX:-UseDynamicNumberOfCompilerThreads`, so none exits and takes
    * its time with it. */
  def jitCpuNs: Long =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.matches("C[12] CompilerThre.*")) 0L
        else {
          // utime and stime, fields 14 and 15, in ticks of 1/100 s
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // thread gone
    }.sum

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  // ------------------------------------------------------------- workloads

  /** One pass's bookkeeping: micro-batch latencies, output digests,
    * failures, and the spans the tracer records when it is on. */
  final class Pass(val id: Int, val tracer: Option[Tracer]) {
    val units = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.LinkedHashMap.empty[String, (Long, Long)]
    var failed = 0
    var attempted = 0
    private val open = tracer.map(_.begin())
    private val spanId = open.map(_.id).getOrElse(0L)

    /** Run one call into the program, tagged with a job group and, when
      * traced, a `layer.function` span. Returns the call's result. */
    def call[T](spark: SparkSession, layer: String, fn: String)(
        body: => T)(rows: T => Long): Option[T] = {
      val span = tracer.map(_.begin())
      span.foreach(s => spark.sparkContext.setJobGroup(
        s"perfbench.${s.id}", s"$layer.$fn", interruptOnCancel = false))
      attempted += 1
      val r = try Some(body) catch { case e: Exception =>
        log(s"$layer.$fn failed: ${e.getMessage}")
        failed += 1
        None
      }
      spark.sparkContext.clearJobGroup()
      for (t <- tracer; s <- span) t.end(s, spanId, id, "call", s"$layer.$fn",
        Map("failed" -> (if (r.isEmpty) 1.0 else 0.0),
          "rows_out" -> r.map(rows).getOrElse(0L).toDouble))
      r
    }

    def close(name: String): Unit =
      for (t <- tracer; o <- open) t.end(o, 0L, id, "pass", name)
  }

  /** One input stream of a workload: rows fed `batches` micro-batches
    * at a time through one StreamingOps twin on a MemoryStream, each
    * batch drained by processAllAvailable() before the next is offered.
    * One feed (query start and stop included) is part of every pass;
    * each micro-batch is one unit of `batch_p50_s` / `batch_tail_s`. */
  final class Feed[T: org.apache.spark.sql.Encoder](val name: String,
      mode: String, inParts: Int, batches: Int, out: String,
      rows: SparkSession => Seq[T], query: Dataset[T] => DataFrame,
      result: DataFrame => DataFrame, val oracle: String) {
    private var slices: Seq[Seq[T]] = Nil
    private var feeds = 0
    private var pending: Option[(String, String)] = None
    val runs = mutable.Map.empty[String, String]
    /** Time spent loading the rows (input, not program work). */
    var loadNs = 0L

    /** Load and slice the rows once, at the first feed: after the batch
      * calls, so the first Spark job of the JVM is the program's. */
    private def load(spark: SparkSession): Unit = if (slices.isEmpty) {
      val t0 = System.nanoTime()
      val all = rows(spark)
      slices = (0 until batches).map(i =>
        all.slice(i * all.size / batches, (i + 1) * all.size / batches))
      loadNs = System.nanoTime() - t0
    }

    /** Run one feed, leaving its sink table registered until
      * [[release]]. */
    def run(spark: SparkSession, p: Pass): Unit = {
      implicit val ctx = spark.sqlContext
      load(spark)
      release(spark)(_ => ())
      feeds += 1
      val (table, ck) = (s"${name}_$feeds", s"$out/ck-${name}_$feeds")
      val in = MemoryStream[T](inParts)
      val q = query(in.toDS()).writeStream.outputMode(mode).format("memory")
        .queryName(table).option("checkpointLocation", ck).start()
      runs(q.runId.toString) = s"streaming.$name"
      try slices.foreach { b =>
        val t0 = System.nanoTime()
        p.call(spark, "streaming", name) {
          in.addData(b); q.processAllAvailable()
        }(_ => q.lastProgress.numInputRows)
        p.units += (System.nanoTime() - t0) / 1e9
      } finally {
        q.stop()
        org.apache.spark.sql.graft.StateStoreBridge.unloadForCheckpoint(ck)
        pending = Some((table, ck))
      }
    }

    /** Apply `f` to the last feed's final table, then drop it. */
    def release(spark: SparkSession)(f: DataFrame => Unit): Unit =
      pending.foreach { case (table, ck) =>
        pending = None
        try f(result(spark.table(table))) finally {
          spark.catalog.dropTempView(table)
          rm(new File(ck))
        }
      }
  }

  /** A workload: a fixed sequence of batch calls, each timed through a
    * digest action that consumes every output column, then one feed of
    * the same inputs through a streaming twin. */
  final class Workload(calls: Seq[(String, String, SparkSession => DataFrame)],
      batchOracles: Map[String, String], val feed: Feed[_]) {
    def oracles: Map[String, String] = batchOracles + (feed.name -> feed.oracle)

    def pass(spark: SparkSession, p: Pass): Unit = {
      calls.foreach { case (layer, name, q) =>
        p.call(spark, layer, name)(digest(q(spark)))(_._1)
          .foreach(d => p.digests(name) = d)
      }
      feed.run(spark, p)
    }

    /** Untimed, after a pass: digest the feed's final table. */
    def afterPass(spark: SparkSession, p: Pass): Unit =
      feed.release(spark)(df => p.digests(feed.name) = digest(df))

    /** Checked outputs, written as parquet under `out`; each digest is
      * taken from what was written. The feed's is the final table of
      * the feed that just ran (the set-up pass's), the batch calls'
      * come from running them again. */
    def check(spark: SparkSession, out: String, p: Pass): Unit = {
      def keep(name: String, df: DataFrame): (Long, Long) = {
        df.write.mode("overwrite").parquet(s"$out/$name")
        digest(spark.read.parquet(s"$out/$name"))
      }
      feed.release(spark)(df => p.digests(feed.name) = keep(feed.name, df))
      clearCaches(spark)
      calls.foreach { case (layer, name, q) =>
        p.call(spark, layer, name)(keep(name, q(spark)))(_._1)
          .foreach(d => p.digests(name) = d)
      }
    }
  }

  def query(name: String, dir: String): SparkSession => DataFrame = {
    val q = SparkEntry.queries(name)
    s => q(s, dir)
  }

  /** Period search over every series, then the same events in event-time
    * order through the incremental GLS twin (complete mode). */
  def periodicity(dir: String, o: Opts): Workload = {
    val spectral = Seq("gls_periodogram")
    val tsa = Seq("emd_imfs")
    val feed = new Feed[Event]("gls", "complete", 1, o.batches, o.out,
      spark => {
        import spark.implicits._
        val e = Tables.table(spark, dir, "events")
        e.select(col("event_id"), timestamp_micros(Tables.tsMicros(e)).as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .as[Event].collect().sortBy(x => (x.ts.getTime, x.event_id)).toSeq
      },
      in => StreamingOps.streamingGls(in),
      _.select(col("window_start").cast("long").as("window_start"),
        col("user_id"), col("k"), col("n"), col("power")),
      graft.streaming.Replay.streamingGlsReplaySql)(
      org.apache.spark.sql.Encoders.product[Event])
    new Workload(
      ("tables", "series", (s: SparkSession) => Tables.series(s, dir)) +:
        (spectral.map(n => ("spectral", n, query(n, dir))) ++
          tsa.map(n => ("tsa", n, query(n, dir)))),
      (spectral ++ tsa).map(n => n -> SparkEntry.oracleSql(n)).toMap +
        ("series" -> Tables.seriesSql),
      feed)
  }

  /** Curation calls over documents and embeddings, then the documents in
    * doc_id order through the incremental near-dedup twin (append mode). */
  def corpus(dir: String, o: Opts): Workload = {
    val qs = Seq("dedup" -> "dedup_exact", "sim" -> "ann_cosine_topk",
      "text" -> "text_tfidf_top")
    val feed = new Feed[Doc]("neardedup", "append", o.cores, o.batches, o.out,
      spark => {
        import spark.implicits._
        Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
          .as[Doc].collect().sortBy(_.doc_id).toSeq
      },
      in => StreamingOps.nearDedupStream(in).toDF(),
      identity,
      graft.streaming.Replay.streamingNeardedupReplaySql)(
      org.apache.spark.sql.Encoders.product[Doc])
    new Workload(qs.map { case (l, n) => (l, n, query(n, dir)) },
      qs.map { case (_, n) => n -> SparkEntry.oracleSql(n) }.toMap, feed)
  }

  // ------------------------------------------------------------------ run

  def workload(name: String, data: String, o: Opts): Workload = name match {
    case "periodicity" => periodicity(data, o)
    case "corpus" => corpus(data, o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = new File(o.out); out.mkdirs()
    val w = workload(o.workload, o.data, o)
    val counter = new JobCounter
    val passSeq = Iterator.from(1)

    // Set-up (setup_s): the JVM's first session start plus its first
    // pass, which pays the cold class loading, JIT and code generation.
    // Loading the feed's rows during that pass is input, not set-up.
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionNs = System.nanoTime() - t0
    val first = new Pass(passSeq.next(), None)
    w.pass(spark, first)
    val setupS = (System.nanoTime() - t0 - w.feed.loadNs) / 1e9
    log(f"set-up: $setupS%.3f s (session ${sessionNs / 1e9}%.3f s; feed rows " +
      f"loaded in ${w.feed.loadNs / 1e9}%.3f s, not counted)")

    // Untimed: the checked outputs, written as parquet for the oracle
    // comparison. Their digests are the reference of every other pass.
    val tc = System.nanoTime()
    val checked = new Pass(passSeq.next(), None)
    w.check(spark, s"${o.out}/check", checked)
    Files.writeString(Paths.get(s"${o.out}/oracle.json"),
      json(w.oracles.toSeq.sortBy(_._1)))
    log(f"checked outputs: ${checked.digests.size}, ${(System.nanoTime() - tc) / 1e9}%.1f s")

    // untimed passes while the JIT compiles the hot paths: a JVM's
    // first passes run slower and drift from run to run
    (1 to o.warmups).foreach { i =>
      clearCaches(spark)
      val p = new Pass(passSeq.next(), None)
      val t0 = System.nanoTime()
      w.pass(spark, p)
      w.afterPass(spark, p)
      log(f"warm-up $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.sparkContext.addSparkListener(counter)

    // timed passes; traced runs alternate untraced and traced passes
    val tracer = new Tracer
    val timed = mutable.ArrayBuffer.empty[(Pass, Double, Double, Long, Double)]
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var k = 0
    def enough = {
      val traced = timed.count(_._1.tracer.nonEmpty)
      val plain = timed.size - traced
      elapsed >= o.seconds &&
        (if (o.trace) plain >= 1 && traced >= o.minPasses else plain >= o.minPasses)
    }
    while (!enough) {
      val traced = o.trace && k % 2 == 0 // traced first, then alternate
      k += 1
      clearCaches(spark)
      gcBarrier()
      ListenerSync.drain(spark.sparkContext)
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.streams.addListener(tracer.streamListener)
      }
      val jobs0 = counter.started
      val p = new Pass(passSeq.next(), if (traced) Some(tracer) else None)
      val gc0 = gcMs
      val (c0, jit0) = (cpu.getProcessCpuTime, jitCpuNs)
      val t0 = System.nanoTime()
      w.pass(spark, p)
      val wall = (System.nanoTime() - t0) / 1e9
      val (c1, jit1) = (cpu.getProcessCpuTime, jitCpuNs)
      val jitS = (jit1 - jit0) / 1e9
      val cpuS = (c1 - c0) / 1e9 - jitS
      val gcS = (gcMs - gc0) / 1e3
      p.close(s"pass ${p.id}")
      ListenerSync.drain(spark.sparkContext)
      if (traced) {
        spark.sparkContext.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.streamListener)
      }
      timed += ((p, wall, cpuS, counter.started - jobs0, jitS))
      log(f"timed pass ${p.id}${if (traced) " (traced)" else ""}: $wall%.3f s wall, " +
        f"$cpuS%.3f s cpu (JIT $jitS%.3f s more; gc $gcS%.3f s), ${counter.started - jobs0} jobs")
      w.afterPass(spark, p)
    }
    clearCaches(spark)
    gcBarrier()
    Thread.sleep(200) // let the context cleaner drop released blocks
    gcBarrier()
    val heapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val plain = timed.filter(_._1.tracer.isEmpty)
    val units = plain.flatMap(_._1.units).toSeq
    val tailP = tailPercentile(units.size)
    val mismatched = (first +: timed.map(_._1).toSeq).flatMap { p =>
      p.digests.collect { case (n, d) if checked.digests.get(n).exists(_ != d) =>
        s"pass ${p.id}: $n" } }
    val jobCounts = timed.map(_._4)
    val attempted = first.attempted + checked.attempted + timed.map(_._1.attempted).sum
    val failed = first.failed + checked.failed + timed.map(_._1.failed).sum
    val base = Seq[(String, Any)](
      "workload" -> o.workload,
      "passes" -> plain.size,
      "setup_s" -> setupS,
      "pass_samples" -> plain.map(_._2).toSeq,
      "pass_s" -> median(plain.map(_._2).toSeq),
      "cpu_s" -> median(plain.map(_._3).toSeq),
      "jit_cpu_s" -> median(plain.map(_._5).toSeq),
      "units" -> units.size,
      "batch_p50_s" -> percentile(units, 50),
      "batch_tail_s" -> percentile(units, tailP),
      "tail_percentile" -> tailP,
      "heap_retained_mb" -> heapMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "digest_mismatches" -> mismatched.toSeq.map(quote),
      "job_counts" -> jobCounts.toSeq,
      "jobs_consistent" -> jobCounts.forall(_ == jobCounts.head))

    val traceFields: Seq[(String, Any)] = if (!o.trace) Nil else {
      val tracedPasses = timed.filter(_._1.tracer.nonEmpty)
      val spans = tracer.spans(w.feed.runs.toMap)
      val layers = LayerMetrics.compute(spans, tracedPasses.size, o.cores) ++
        LayerMetrics.streaming(tracer.progress.toSeq, tracedPasses.size) ++
        Map("dedup.pairs_per_candidate" -> pairsPerCandidate(spark, o),
          "tracing.overhead" ->
            median(tracedPasses.map(_._2).toSeq) / median(plain.map(_._2).toSeq))
      writeSpans(o.traceFile, spans)
      Seq("traced_passes" -> tracedPasses.size,
        "traced_pass_s" -> median(tracedPasses.map(_._2).toSeq),
        "layers" -> layers.toSeq.sortBy(_._1).toMap)
    }
    Files.writeString(Paths.get(s"${o.out}/result.json"),
      json(base ++ traceFields) + "\n")
    spark.stop()
  }

  /** Verified MinHash-LSH pairs per banded candidate pair: the share of
    * candidate work that survives verification. Corpus workload only. */
  def pairsPerCandidate(spark: SparkSession, o: Opts): Double =
    if (o.workload != "corpus") 0.0 else {
      val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, o.data).count()
      val cand = graft.dedup.Dedup.minhashCand(spark, o.data,
        graft.dedup.Dedup.MaxBucket).count()
      if (cand == 0) 0.0 else pairs.toDouble / cand
    }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), spans.sortBy(s => (s.pass, s.startMs, s.id))
      .map(s => json(Seq("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "attrs" -> s.attrs))).asJava)
  }
}

/** Starts one session and stops it. Run once per build with
  * `-XX:ArchiveClassesAtExit`, so that the class-data-sharing archive
  * holds the classes every session start loads. */
object SessionStart {
  def main(args: Array[String]): Unit = {
    val o = Harness.parse(args)
    new File(o.out).mkdirs()
    Harness.session(o).stop()
  }
}
