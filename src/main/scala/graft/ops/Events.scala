package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream relational operators (windowed aggregation, ordered
  * window functions, gap-based sessionization) over the events table —
  * the classic training-data-pipeline session features.
  *
  * Numeric discipline for cross-engine oracles: aggregates over doubles
  * use order-independent forms (count/min/max or pre-quantized integer
  * sums), because a float SUM's low bits depend on reduction order.
  */
object Events {

  /** Per-hour per-type counts + quantized value sum (exact integers). */
  def hourly(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(value * 1000) as bigint)")).as("value_milli"))
      .orderBy("hour", "event_type")

  /** Ordered per-user window functions: row number + previous event type.
    * Deterministic ordering via (ts, event_id) tie-break. */
  def ordered(events: DataFrame, maxUsers: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events.filter(col("user_id") < maxUsers)
      .select(col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .orderBy("user_id", "rn")
  }

  /** AS-OF join: each `leftType` event gets the LATEST `rightType` event
    * of the same user with right.ts <= left.ts (null when none precedes) —
    * the classic "purchase joined to the view that drove it" shape that
    * plain equi-joins can't express.
    *
    * Spark lacks a native as-of join; the idiomatic distributed form is
    * the tagged-union window: both sides union into one stream, one
    * shuffle partitioned by user, and a running last_value(ignoreNulls)
    * carries the latest right event forward into each left row. At equal
    * timestamps the right row sorts FIRST, so right.ts == left.ts counts
    * as "preceding" — exactly DuckDB ASOF JOIN's `ON l.ts >= r.ts`
    * inclusive semantics (the independent oracle).
    *
    * 100 TB shape: ONE hash shuffle on user_id + an in-partition sort —
    * same cost as any per-user window; never a range/band join, never a
    * per-user buffer beyond the sort. */
  def asofJoin(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("is_left").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin(leftType, rightType))
      .withColumn("is_left", when(col("event_type") === lit(leftType), 1)
        .otherwise(0))
      .withColumn("r_id",
        when(col("is_left") === 0, col("event_id")))
      .withColumn("r_ts",
        when(col("is_left") === 0, col("ts")))
      .withColumn("right_id", last(col("r_id"), ignoreNulls = true).over(w))
      .withColumn("right_ts", last(col("r_ts"), ignoreNulls = true).over(w))
      .filter(col("is_left") === 1)
      .select(col("event_id").as("left_id"), col("user_id"),
        col("right_id"),
        (unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("right_ts").cast("timestamp"))).as("lag_us"))
  }

  /** RANGE join: assign each `pointType` event to the session INTERVAL of
    * the same user that contains it (sessions derived from all OTHER
    * event types with `gapSec` inactivity splits; points in gaps get
    * null). The point-in-interval shape a plain equi-join can't express.
    *
    * Spark's generic range join degenerates to a per-key nested loop;
    * because gap-based sessions are DISJOINT per user, the idiomatic
    * distributed form is again the tagged-union window: interval STARTS
    * enter the per-user stream as right rows carrying (session_idx,
    * end_ts), a running last_value gives each point the latest interval
    * starting at or before it, and containment is then one end_ts
    * comparison. One hash shuffle on user_id + in-partition sort — no
    * nested loop, no band join.
    *
    * Oracle independence: DuckDB recomputes it as an actual
    * `p.ts BETWEEN iv.s AND iv.e` LEFT JOIN — a genuinely different
    * evaluation strategy over the same semantics. */
  def rangeJoinSessions(events: DataFrame, pointType: String,
      gapSec: Long = 86400): DataFrame = {
    val iv = withSessionIdx(
        events.filter(col("event_type") =!= pointType), gapSec)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("ts"), max(col("ts")).as("e_ts"))
    val rights = iv.select(col("user_id"), col("ts"),
      lit(0).as("is_left"), lit(null).cast("long").as("event_id"),
      col("session_idx").cast("long").as("session_idx"), col("e_ts"))
    val lefts = events.filter(col("event_type") === lit(pointType))
      .select(col("user_id"), col("ts"), lit(1).as("is_left"),
        col("event_id").cast("long").as("event_id"),
        lit(null).cast("long").as("session_idx"),
        lit(null).cast("timestamp").as("e_ts"))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("is_left").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rights.unionByName(lefts)
      .withColumn("m_idx", last(
        when(col("is_left") === 0, col("session_idx")), ignoreNulls = true)
        .over(w2))
      .withColumn("m_end", last(
        when(col("is_left") === 0, col("e_ts")), ignoreNulls = true)
        .over(w2))
      .filter(col("is_left") === 1)
      .select(col("event_id"), col("user_id"),
        when(col("ts") <= col("m_end"), col("m_idx")).as("session_idx"))
  }

  /** Gap-based sessionization: a new session starts after `gapSec` of
    * inactivity; session index = running count of session starts. */
  def sessionize(events: DataFrame, gapSec: Long = 1800): DataFrame =
    withSessionIdx(events, gapSec)
      .select(col("user_id"), col("event_id"), col("session_idx"))
      .orderBy("user_id", "event_id")

  /** The session-gap rule [[sessionize]] and [[rangeJoinSessions]] share:
    * per user in (ts, event_id) order, an event opens a new session when
    * it is the user's first or follows the previous one by more than
    * `gapSec`; `session_idx` is the running count of session starts. */
  private def withSessionIdx(events: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 1L)
          .when(unix_micros(col("ts").cast("timestamp"))
            - unix_micros(col("prev_ts").cast("timestamp"))
            > gapSec * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }
}
