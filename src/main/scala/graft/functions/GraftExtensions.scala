package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Library integration point: inject the native graft expressions into any
  * session at build time via
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * — the idiomatic way for a Spark library to ship custom Catalyst
  * expressions (no per-session `GraftFunctions.register` call needed, and
  * unlike temp functions the injection survives into every session cloned
  * from the build). `GraftFunctions.register` remains for notebook-style
  * ad-hoc use on an already-built session; both paths install the same
  * `GraftFunctions.table`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
    // builtin-HOF-cosine → fused native kernel (semantics-preserving;
    // see NativeCosineRule scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.NativeCosineRule)
  }
}
