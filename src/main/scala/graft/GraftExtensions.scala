package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.NativeFunctions

/** Session-extension entry point (SURVEY §4.2): registers graft's native
  * Catalyst expressions at session build time, the idiomatic deployment for
  * a library extension —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * It injects every entry of [[graft.functions.NativeFunctions.table]], so
  * pure-SQL sessions (thriftserver, spark-sql), where no operator code runs
  * first, see all of graft's function names. Operators also self-register
  * lazily from the same table ([[graft.functions.NativeFunctions.register]]),
  * so the library works without any session configuration; in a session
  * built with the extension that call changes nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.table.foreach(ext.injectFunction)
}
