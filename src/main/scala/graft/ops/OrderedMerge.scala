package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-safe ordered concatenation per group — merge_sidecars semantics
  * (reference: src/ocrmypdf/_pipeline.py:1307-1327 concatenates per-page
  * text in page order with \f separators) as a distributed operator.
  *
  * Shape: repartition by the group key, sortWithinPartitions(key, order),
  * then a single streaming pass that concatenates consecutive rows of the
  * same key. Unlike `collect_list`, no per-group array is ever buffered:
  * peak memory per task is ONE output string (inherent to the query — the
  * result row contains the concatenation), not one boxed struct per input
  * row. With the corpus's designed 70%-one-host skew, collect_list holds
  * 70% of all rows on one executor; this streams them.
  *
  * Determinism: the sort key (key, order) is total per row (order column
  * must be unique within a group, e.g. url), so output is independent of
  * task scheduling.
  */
object OrderedMerge {

  /** Returns (key, n_docs BIGINT, merged STRING): values of `valueCol`
    * concatenated in `orderCol` order within each `keyCol` group,
    * separated by `sep`. The sort runs on the order column's NATIVE type
    * (casting first would merge numeric orders lexicographically —
    * 1,10,11,2,… — with no error), and the KEY keeps its native type
    * too: callers with string/long/any atomic id columns get the same
    * type back, so no numeric round-trip narrows the id contract
    * (an ANSI cast on a non-numeric id would abort the job). Key must be
    * an atomic type (equality by value); the value is stringified. */
  def concatOrdered(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, sep: String,
      nName: String = "n_docs", mergedName: String = "merged"): DataFrame = {
    val sorted = df
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(orderCol))
      .select(col(keyCol), col(valueCol).cast("string"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      sorted.schema.fields(0).copy(name = keyCol),
      org.apache.spark.sql.types.StructField(nName,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(mergedName,
        org.apache.spark.sql.types.StringType, nullable = true)))
    // mapPartitions preserves the per-partition sort; the streaming pass
    // holds ONE output string at a time (the whole point vs collect_list).
    // Dataset.mapPartitions, not .rdd: under AQE `.rdd` finalizes the
    // plan, running every upstream shuffle while the caller only builds
    sorted.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[org.apache.spark.sql.Row] {
        def hasNext: Boolean = buf.hasNext
        def next(): org.apache.spark.sql.Row = {
          val k = buf.head.get(0)
          var n = 0L
          var emitted = 0L
          val sb = new StringBuilder
          while (buf.hasNext && buf.head.get(0) == k) {
            val v = buf.next().getString(1)
            // SQL string_agg semantics, exactly: a NULL value is counted
            // by count(*) but contributes NOTHING to the concatenation —
            // no separator, no text (appending "" while still emitting a
            // separator would diverge from the DuckDB oracle the moment
            // a null value appears); a group of only NULLs aggregates to
            // SQL NULL, not ""
            n += 1L
            if (v != null) {
              if (emitted > 0L) sb.append(sep)
              sb.append(v)
              emitted += 1L
            }
          }
          org.apache.spark.sql.Row(k, n,
            if (emitted == 0L) null else sb.toString)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
