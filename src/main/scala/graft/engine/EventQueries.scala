package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream semantics expressed over the batch `events` table:
  * tumbling-window aggregation, gaps-and-islands sessionization, as-of
  * (most-recent-prior) joins, and JSON property extraction, each
  * checked against DuckDB.
  *
  * Timestamp note: the parquet column is nanosecond-precision; both
  * Spark and DuckDB truncate to microseconds on read, so raw `ts`
  * values compare equal. Second-granularity arithmetic uses
  * unix_micros/epoch_us (BIGINT on both engines).
  */
object EventQueries {
  import QueryDef._
  import Tables._

  val all: Seq[QueryDef] = Seq(

    sql("q30_events_hourly",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        | count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin) {
      (s, d) =>
        events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
          .orderBy(col("hour_start"), col("event_type"))
    },

    // Gaps-and-islands sessionization: a session breaks after >30 min of
    // user inactivity, in the window-function formulation both engines
    // agree on.
    sql("q31_sessionization",
      """WITH flagged AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        | SELECT user_id, event_id, ts, value,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | count(*) AS n_events, CAST(min(ts) AS TIMESTAMP) AS session_start,
        | CAST(max(ts) AS TIMESTAMP) AS session_end, round(sum(value),2) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("is_new",
            when(col("prev_us").isNull
              || unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
          .withColumn("session_id", sum("is_new").over(wCum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("session_start"),
            max("ts").as("session_end"),
            round(sum("value"), 2).as("session_value"))
          .orderBy(col("user_id"), col("session_id"))
    },

    // As-of join: each purchase picks up the most recent strictly-prior
    // click of the same user — composed from built-ins (preference (a)
    // in SURVEY.md §2C): last(..., ignoreNulls) over an
    // unbounded-to-(-1) row frame, no custom physical operator needed.
    sql("q32_asof_prev_click",
      """SELECT event_id, user_id, round(value,2) AS purchase_value,
        | CAST(last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS TIMESTAMP) AS prev_click_ts,
        | round(last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2) AS prev_click_value
        |FROM events QUALIFY event_type = 'purchase'
        |ORDER BY event_id""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        events(s, d)
          .withColumn("prev_click_ts",
            last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
          .withColumn("prev_click_value",
            round(last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w), 2))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), round(col("value"), 2).as("purchase_value"),
            col("prev_click_ts"), col("prev_click_value"))
          .orderBy(col("event_id"))
    },

    // JSON property extraction: Spark side uses the real JSON path
    // function (get_json_object); the oracle reads the same digits via
    // regex so it stays runnable without DuckDB's JSON extension.
    sql("q33_json_props",
      """SELECT event_type, CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy(col("event_type"))
          .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
          .orderBy(col("event_type"))
    }
  )
}
