package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft's native functions (gls_moments, cosine_sim, gls_trig_*) are
  * registered once per session: a second build of the operators that
  * use them leaves the session's function registry alone, so the
  * registry logs no "replaced a previously registered function". */
class FunctionRegistrationSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"
  private val builds = Seq("gls_periodogram", "ann_cosine_topk", "gls_fap")

  private class Capture extends AbstractAppender("registry-capture",
      null, null, true, Property.EMPTY_ARRAY) {
    val messages = new ConcurrentLinkedQueue[String]
    override def append(e: LogEvent): Unit =
      messages.add(e.getMessage.getFormattedMessage)
  }

  test("a second build registers no function again") {
    builds.foreach(SparkEntry.queries(_)(spark, dir))
    val logger = LogManager.getLogger(
      classOf[SimpleFunctionRegistry].getName).asInstanceOf[CoreLogger]
    val capture = new Capture
    capture.start()
    logger.addAppender(capture)
    try builds.foreach(SparkEntry.queries(_)(spark, dir))
    finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    val replaced = capture.messages.asScala.toList
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, s"re-registered on a second build: $replaced")
  }
}
