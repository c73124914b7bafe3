package graft

import org.apache.spark.sql.SparkSession

/** The one session every spec runs on. The test JVM is shared, so
  * `getOrCreate` hands all specs the first session built: every spec
  * asks for the same one, on a fixed 4 cores. */
trait GraftSpark {
  lazy val spark: SparkSession = Session.builder(4).getOrCreate()
}
