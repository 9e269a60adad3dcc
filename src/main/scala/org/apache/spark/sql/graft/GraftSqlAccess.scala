package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryExecutionErrors

/** Narrow accessor into `private[sql]` Spark internals — the standard
  * Spark-library technique (a package-qualified shim) for raising the
  * SAME error objects the engine raises, so an optimizer rewrite that
  * must preserve ANSI failure semantics (graft.plans.NativeCosineRule →
  * graft.functions.CosineHof) throws exactly what `Divide` throws. Keep
  * this file minimal: one forwarder per internal touched. */
object GraftSqlAccess {

  /** Divide's ANSI DIVIDE_BY_ZERO, without positional query context (the
    * rewrite site does not retain the SQL text origin). Thrown from
    * `CosineHof.compute`, the one method both eval and generated code
    * call, so generated Java never spells the throw itself. */
  def divideByZeroError(): ArithmeticException =
    QueryExecutionErrors.divideByZeroError(null)
}
