package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.sources.SkewGate
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Latches for the spec's slot-holding tasks, which run in this JVM. */
object SkewSlots {
  @volatile var held = new CountDownLatch(0)
  val release = new CountDownLatch(1)
}

/** The skew corpus is written once per directory outside every lock:
  * while its write waits in a Spark job, SkewGate's monitor is free
  * and a second caller waits for that write alone; a write that throws
  * leaves nothing behind. */
class SkewGateSpec extends AnyFunSuite with GraftSpark
    with BeforeAndAfterAll {

  private val pool = Executors.newFixedThreadPool(3)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutor(pool)

  override def afterAll(): Unit = pool.shutdownNow()

  private def scratch(name: String): String =
    new java.io.File(s"target/tmp/$name").getAbsolutePath

  test("no lock is held while the corpus write waits in a Spark job") {
    val sc = spark.sparkContext
    // hold every task slot, so the write's first job waits for one
    val slots = sc.defaultParallelism
    SkewSlots.held = new CountDownLatch(slots)
    val hold = Future(sc.parallelize(1 to slots, slots).map { x =>
      SkewSlots.held.countDown()
      SkewSlots.release.await()
      x
    }.count())
    val group = "skewgate-spec-write"
    val writeJob = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          writeJob.countDown()
    }
    sc.addSparkListener(listener)
    val dir = scratch("skewgate-spec")
    val write = Future {
      sc.setJobGroup(group, "skew corpus write")
      try SkewGate.corpus(spark, dir) finally sc.clearJobGroup()
    }
    val second =
      try {
        assert(SkewSlots.held.await(60, TimeUnit.SECONDS), "slots never held")
        assert(writeJob.await(60, TimeUnit.SECONDS), "the write never ran a job")
        val entered = Future(SkewGate.synchronized("entered"))
        assert(Await.result(entered, 10.seconds) == "entered")
        val waiter = Future(SkewGate.corpus(spark, dir))
        Thread.sleep(200) // let the second caller reach the held write
        assert(!write.isCompleted && !waiter.isCompleted)
        waiter
      } finally {
        SkewSlots.release.countDown()
        sc.removeSparkListener(listener)
      }
    assert(Await.result(hold, 60.seconds) == slots)
    assert(Await.result(write, 300.seconds) == dir)
    assert(Await.result(second, 60.seconds) == dir)
    assert(new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists)
  }

  test("a write that throws leaves no holder behind") {
    val file = new java.io.File(scratch("skewgate-spec-file"))
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath, Array[Byte](1))
    val dir = s"${file.getPath}/corpus" // under a regular file
    val first = intercept[Exception](SkewGate.corpus(spark, dir))
    // a held failure would rethrow the same exception
    val again = intercept[Exception](SkewGate.corpus(spark, dir))
    assert(again ne first)
  }
}
