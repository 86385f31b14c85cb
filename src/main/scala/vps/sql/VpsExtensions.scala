package vps.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — the idiomatic deployment surface:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=vps.sql.VpsExtensions ...
  * }}}
  *
  * injects the engine's SQL functions into every session built from that
  * context (no imperative `functions.register(spark)` call needed), and
  * registers the geometry UDT. Injects the same [[FunctionTable]] that
  * [[vps.sql.functions.register]] installs.
  */
class VpsExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    vps.geom.Geo.registerUDTs()
    FunctionTable.builders.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo("vps", name), builder))
    }
  }
}
