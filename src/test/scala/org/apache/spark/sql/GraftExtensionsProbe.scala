package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test-only shim: SparkSessionExtensions.registerFunctions is private[sql];
  * this probe (compiled into the spark.sql package from TEST sources only)
  * lets GraftExtensionsSpec apply the injections to a registry exactly as
  * session building does, without tearing down the suite-shared session to
  * construct a configured one.
  */
object GraftExtensionsProbe {
  def applyInjections(ext: SparkSessionExtensions,
                      registry: FunctionRegistry = FunctionRegistry.builtin.clone())
      : FunctionRegistry =
    ext.registerFunctions(registry)
}
