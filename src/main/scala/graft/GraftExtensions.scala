package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Spark extensions injector — the deployment-grade registration path
  * for the native graft expressions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * makes every function of [[graft.functions.NativeFunctions.all]]
  * available to every session (including pure-SQL users) without any
  * driver-side `ensure()` call. [[graft.engine.Engine.session]] sets
  * this extension; [[graft.functions.VectorExpressions.ensure]] fills in
  * the same table for sessions built without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.NativeFunctions.all.foreach(f =>
      ext.injectFunction((f.id, f.info, f.builder)))
}
