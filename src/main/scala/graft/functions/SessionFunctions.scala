package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

/** Registers graft's native functions in a session's function
  * registry once: a name the registry already holds is left alone, so
  * a build does not rewrite the registry (and log "replaced a
  * previously registered function") every time it runs. That is safe
  * because no builder captures per-call state: a grid travels as
  * literal arguments (`gls_moments`) or is fixed (`gls_trig_*`). */
private[graft] object SessionFunctions {
  def registerOnce(spark: SparkSession, name: String,
      builder: FunctionBuilder): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
