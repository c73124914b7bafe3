package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors,
  TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Latches for a Spark task to park on; tasks run in this JVM. */
object MemoGate {
  val parked = new CountDownLatch(1)
  val resume = new CountDownLatch(1)
}

/** SessionMemo builds outside every lock: a parked build blocks no
  * other key, builds nest, a failed build leaves nothing behind, and
  * concurrent lookups of one key share one build. The keys of each
  * test share a hash bin, so a memo that built inside its map's bin
  * lock would block or fail here. */
class SessionMemoSpec extends AnyFunSuite with GraftSpark
    with BeforeAndAfterAll {

  private val pool = Executors.newFixedThreadPool(2)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutor(pool)

  override def afterAll(): Unit = pool.shutdownNow()

  private def spread(k: (AnyRef, String)): Int = {
    val h = k.hashCode
    (h ^ (h >>> 16)) & 0x7fffffff
  }

  /** A key other than `key` whose (session, key) pair lands in the same
    * bin of any hash table of up to 64 bins. */
  private def binMate(key: String): String = {
    val bin = spread((spark, key)) & 63
    Iterator.from(0).map(i => s"$key-mate-$i")
      .find(k => (spread((spark, k)) & 63) == bin).get
  }

  private def memo(freed: ConcurrentLinkedQueue[String] =
      new ConcurrentLinkedQueue[String]()) =
    new SessionMemo[String](_ => true, (_, v) => freed.add(v))

  test("another key and a release return while a build is parked in a Spark job") {
    val freed = new ConcurrentLinkedQueue[String]()
    val m = memo(freed)
    val b = binMate("a")
    val parkedBuild = Future(m(spark, "a") {
      spark.sparkContext.parallelize(Seq(1), 1).map { x =>
        MemoGate.parked.countDown()
        MemoGate.resume.await()
        x
      }.count()
      "A"
    })
    try {
      assert(MemoGate.parked.await(60, TimeUnit.SECONDS), "build never parked")
      val other = Future {
        val v = m(spark, b)("B")
        m.release(spark)
        v
      }
      assert(Await.result(other, 30.seconds) == "B")
      assert(!parkedBuild.isCompleted)
    } finally MemoGate.resume.countDown()
    assert(Await.result(parkedBuild, 60.seconds) == "A")
    // released while it was building: freed once the build ended
    assert(freed.contains("A") && freed.contains("B"))
  }

  test("a build may look up another key of the same memo") {
    val m = memo()
    val inner = binMate("outer")
    val v = m(spark, "outer") { m(spark, inner)("in") + "+out" }
    assert(v == "in+out")
    assert(m(spark, inner)("rebuilt") == "in")
  }

  test("a build that throws leaves no entry behind") {
    val m = memo()
    val e = intercept[IllegalStateException] {
      m(spark, "k") { throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(m(spark, "k")("built") == "built")
  }

  test("two concurrent lookups of one key run one build") {
    val m = memo()
    val builds = new AtomicInteger()
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    def lookup() = m(spark, "shared") {
      builds.incrementAndGet()
      started.countDown()
      finish.await()
      new String("v")
    }
    val first = Future(lookup())
    assert(started.await(30, TimeUnit.SECONDS))
    val second = Future(lookup())
    Thread.sleep(200) // let the second lookup reach the held build
    finish.countDown()
    val (a, b) = (Await.result(first, 30.seconds),
      Await.result(second, 30.seconds))
    assert(builds.get == 1)
    assert(a eq b)
  }

  test("a value that is no longer live is built again") {
    val m = new SessionMemo[Array[Int]](_(0) >= 0, (_, _) => ())
    val held = m(spark, "k")(Array(1))
    assert(m(spark, "k")(Array(2)) eq held)
    held(0) = -1
    assert(m(spark, "k")(Array(3)).toSeq == Seq(3))
  }

  test("replace releases the value it replaces") {
    val freed = new ConcurrentLinkedQueue[String]()
    val m = memo(freed)
    m.replace(spark, "op", "v1")
    assert(freed.isEmpty)
    m.replace(spark, "op", "v2")
    assert(freed.toArray.toSeq == Seq("v1"))
  }
}
