package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Pass spans hold call spans (`layer.function`),
  * call spans hold the Spark job spans they caused, and job spans hold
  * their stage spans. Every span of one pass carries that pass's id. */
final case class Span(id: Long, parent: Long, pass: Int, kind: String,
    name: String, startMs: Long, endMs: Long,
    attrs: Map[String, Double] = Map.empty)

/** A span still running: its id, start (epoch ms) and the JVM's GC
  * time (ms) when it opened. */
final case class OpenSpan(id: Long, start: Long, gc0: Long)

/** Counts every Spark job the JVM starts. Installed for the whole run,
  * so each timed pass's job count can be compared with the first. */
final class JobCounter extends SparkListener {
  @volatile var started = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = started += 1
}

object ListenerSync {
  /** Block until the listener bus has delivered every posted event, so
    * counts read after a pass cover all of that pass's jobs. The bus is
    * `private[spark]`; Scala compiles that as a public JVM method. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Span recorder for traced passes. The client opens pass and call
  * spans; the Spark and streaming listeners record job, stage, task
  * and micro-batch events, which [[Tracer.spans]] attaches to calls
  * once the run is over. Everything stays in memory until then. */
final class Tracer extends SparkListener {
  private final case class Job(id: Int, group: String, start: Long,
      var end: Long, stages: Seq[Int])
  private final case class Task(stage: Int, runMs: Long, launch: Long,
      recIn: Long, bytesIn: Long, shuffleW: Long, spill: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageEnd = mutable.Map.empty[Int, Long]
  private val stageName = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val open = mutable.ArrayBuffer.empty[Span]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  def begin(): OpenSpan =
    OpenSpan(ids.incrementAndGet(), System.currentTimeMillis(), gcMs)

  /** Close a span opened with [[begin]]; the JVM's GC time during the
    * span is recorded as `gc_s`. */
  def end(o: OpenSpan, parent: Long, pass: Int, kind: String, name: String,
      attrs: Map[String, Double] = Map.empty): Span = synchronized {
    val s = Span(o.id, parent, pass, kind, name, o.start,
      System.currentTimeMillis(), attrs + ("gc_s" -> (gcMs - o.gc0) / 1e3))
    open += s
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, group, e.time, -1L, e.stageIds)
    e.stageInfos.foreach(si => stageName(si.stageId) = si.name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      e.stageInfo.completionTime.foreach(t => stageEnd(e.stageInfo.stageId) = t)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime,
      e.taskInfo.launchTime, m.inputMetrics.recordsRead,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  /** Streaming progress arrives on the same listener bus. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
  }

  /** All spans, with each job attached to the call span that caused it:
    * a batch call tags its jobs with its own job group; a streaming
    * micro-batch's jobs carry the query's run id as their group and are
    * matched to the call of that query whose interval holds them. */
  def spans(streamRuns: Map[String, String]): Seq[Span] = synchronized {
    val calls = open.filter(_.kind == "call")
    val byGroup = calls.map(c => s"perfbench.${c.id}" -> c).toMap
    val out = mutable.ArrayBuffer.empty[Span] ++ open
    val tasksByStage = tasks.groupBy(_.stage)
    jobs.foreach { j =>
      val owner = byGroup.get(j.group).orElse(streamRuns.get(j.group)
        .flatMap(q => calls.find(c => c.name == q &&
          c.startMs <= j.start && j.start <= c.endMs)))
      owner.foreach { c =>
        val jid = ids.incrementAndGet()
        out += Span(jid, c.id, c.pass, "job", s"job ${j.id}", j.start,
          if (j.end < 0) j.start else j.end)
        j.stages.filter(stageSubmit.contains).foreach { s =>
          val ts = tasksByStage.getOrElse(s, Seq.empty)
          val run = ts.map(_.runMs).sorted
          val sub = stageSubmit(s)
          out += Span(ids.incrementAndGet(), jid, c.pass, "stage",
            stageName.getOrElse(s, s"stage $s"), sub,
            stageEnd.getOrElse(s, sub), Map(
              "tasks" -> ts.size.toDouble,
              "task_s" -> run.sum / 1e3,
              "sched_wait_s" -> ts.map(t => math.max(0L, t.launch - sub)).sum / 1e3,
              "rows_in" -> ts.map(_.recIn).sum.toDouble,
              "read_mb" -> ts.map(_.bytesIn).sum / 1048576.0,
              "shuffle_mb" -> ts.map(_.shuffleW).sum / 1048576.0,
              "spill_mb" -> ts.map(_.spill).sum / 1048576.0,
              "max_task_s" -> (if (run.isEmpty) 0.0 else run.last / 1e3),
              "median_task_s" ->
                (if (run.isEmpty) 0.0 else run(run.size / 2) / 1e3)))
        }
      }
    }
    out.toSeq
  }
}

/** Per-layer metrics from the spans of the traced passes, as means per
  * pass. Layer names are the program's modules. */
object LayerMetrics {
  val Layers = Seq("tables", "spectral", "tsa", "dedup", "text", "sim",
    "streaming")
  val Generic = Seq("busy_s", "driver_s", "calls", "failed", "jobs",
    "tasks", "task_s", "util", "sched_wait_s", "gc_s", "shuffle_mb",
    "spill_mb", "skew", "rows_out")

  /** Union length of [a, b) intervals clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  def compute(spans: Seq[Span], passes: Int, cores: Int): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val calls = spans.filter(_.kind == "call")
    val out = mutable.LinkedHashMap.empty[String, Double]
    val np = passes.max(1).toDouble
    var rowsIn, readMb = 0.0
    Layers.foreach { layer =>
      val cs = calls.filter(_.name.startsWith(layer + "."))
      val jobs = cs.flatMap(c => children.getOrElse(c.id, Seq.empty))
      val stages = jobs.flatMap(j => children.getOrElse(j.id, Seq.empty))
      def st(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
      val busy = cs.map(c => c.endMs - c.startMs).sum / 1e3
      val driver = cs.map { c =>
        val js = children.getOrElse(c.id, Seq.empty).map(j => (j.startMs, j.endMs))
        (c.endMs - c.startMs) - covered(js, c.startMs, c.endMs)
      }.sum / 1e3
      val skews = stages.filter(s => s.attrs("tasks") >= 2 &&
          s.attrs("max_task_s") >= 0.05 && s.attrs("median_task_s") > 0)
        .map(s => s.attrs("max_task_s") / s.attrs("median_task_s"))
      val taskS = st("task_s")
      rowsIn += st("rows_in"); readMb += st("read_mb")
      val m = Map(
        "busy_s" -> busy, "driver_s" -> driver, "calls" -> cs.size.toDouble,
        "failed" -> cs.map(_.attrs.getOrElse("failed", 0.0)).sum,
        "jobs" -> jobs.size.toDouble, "tasks" -> st("tasks"),
        "task_s" -> taskS, "sched_wait_s" -> st("sched_wait_s"),
        "gc_s" -> cs.map(_.attrs.getOrElse("gc_s", 0.0)).sum,
        "shuffle_mb" -> st("shuffle_mb"), "spill_mb" -> st("spill_mb"),
        "rows_out" -> cs.map(_.attrs.getOrElse("rows_out", 0.0)).sum)
      Generic.foreach { k =>
        out(s"$layer.$k") = k match {
          case "util" => if (busy > 0) taskS / (busy * cores) else 0.0
          case "skew" => if (skews.isEmpty) 0.0 else skews.max
          case _ => m(k) / np
        }
      }
    }
    out("tables.rows_in") = rowsIn / np
    out("tables.read_mb") = readMb / np
    out.toMap
  }

  /** Streaming extras from the micro-batch progress of the traced feeds:
    * durations summed per feed; state size as of each feed's last batch. */
  def streaming(progress: Seq[StreamingQueryListener.QueryProgressEvent],
      feeds: Int): Map[String, Double] = {
    val np = feeds.max(1).toDouble
    val ps = progress.map(_.progress)
    def dur(keys: String*) = ps.map(p => keys.map(k =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3 / np
    val last = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    Map(
      "streaming.batches" -> ps.size / np,
      "streaming.plan_s" -> dur("queryPlanning"),
      "streaming.exec_s" -> dur("addBatch"),
      "streaming.wal_s" -> dur("walCommit", "commitOffsets"),
      "streaming.state_commit_s" ->
        ps.map(_.stateOperators.map(_.commitTimeMs).sum).sum / 1e3 / np,
      "streaming.state_rows" ->
        last.map(_.stateOperators.map(_.numRowsTotal).sum).sum / np,
      "streaming.state_mb" ->
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / 1048576.0 / np)
  }
}
