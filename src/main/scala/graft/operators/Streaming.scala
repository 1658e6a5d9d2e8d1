package graft.operators

import graft.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch face of the streaming operators: the exact transform from
  * [[graft.streaming.EventStream]] applied to the batch `events`
  * table — demonstrating the batch/stream unification that
  * Structured Streaming guarantees (same plan, incrementalized).
  * The streaming execution itself (MemoryStream source, watermark,
  * stateful sessions) is exercised in StreamingSpec.
  */
object Streaming {

  def windowCounts(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedCounts(Tables.events(s, dir))

  def dedupCounts(s: SparkSession, dir: String): DataFrame =
    EventStream.dedupedPerMinute(Tables.events(s, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"))

  /** Batch face of the flatMapGroupsWithState sessionizer: one
    * shuffle on user_id, then a per-group linear pass. In batch mode
    * each group carries its complete history so the open session
    * flushes at the end; the identical transform runs incrementally
    * on a stream with the session held in state instead (see
    * StreamingSpec). The DuckDB oracle reproduces the sessions
    * relationally (lag + gap-break cumsum) with epoch_us gap math —
    * exactly the state machine's micros comparison.
    */
  def sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[EventStream.Evt]
    EventStream.sessionizeStateful(evts, flushRemaining = true).toDF()
      .withColumn("n_events", col("n_events").cast("bigint"))
  }

  def enrichCounts(s: SparkSession, dir: String): DataFrame =
    EventStream.enriched(Tables.events(s, dir), Tables.customer(s, dir))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))

  /** Batch face of the incremental RegisterSchema gate: the
    * flatMapGroupsWithState compat checker over the full registration
    * history reproduces compat_scan's N-vs-N-1 verdicts exactly —
    * the oracle IS compat_scan's SQL. On a stream the same function
    * holds one field set per subject in state (see StreamingSpec's
    * cross-micro-batch test). One shuffle on subject, O(fields)
    * state, no windows.
    */
  def compatVerdicts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val regs = Tables.events(s, dir)
      .select(col("user_id").as("subject"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .as[EventStream.RegEvt]
    EventStream.compatStateful(regs).toDF()
  }

  /** Batch face of the mapGroupsWithState latest-per-key upsert view:
    * the complete history collapses to one row per user — exactly
    * what the streaming query's state holds after the same events.
    * The oracle reproduces it relationally (rank-1 window for the
    * latest event, plain rollup for the running aggregates).
    */
  def latestState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"), col("event_id"))
      .as[EventStream.VEvt]
    EventStream.latestStateful(evts).toDF()
      .select(col("user_id"), col("last_ts"), col("last_type"), col("last_value"),
        col("n_events"), round(col("total_raw"), 4).as("total_value"))
  }

  /** Batch face of the stream-stream interval join (click→purchase
    * attribution within 30 minutes, [[EventStream.attributionJoin]]).
    * In batch the range join shuffles both sides on user_id once and
    * evaluates the time range inside the join; on a stream the SAME
    * declarative join runs with two watermarks and state bounded by
    * the 30-minute range (StreamingSpec runs it over MemoryStreams
    * across micro-batches). The oracle is the equivalent epoch-micros
    * range join.
    */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    EventStream.attributionJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "purchase"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_interval_join" -> intervalJoin,
    "stream_latest_state" -> latestState,
    "stream_window_counts" -> windowCounts,
    "stream_enrich_counts" -> enrichCounts,
    "stream_sessions" -> sessions,
    "stream_compat" -> compatVerdicts,
    "stream_dedup_counts" -> dedupCounts)

  val oracleSql: Map[String, String] = Map(
    // the incremental gate must agree with the relational scan exactly
    "stream_compat" -> Compat.oracleSql("compat_scan"),
    "stream_interval_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id,
        |  purchase_us - click_us AS lag_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND purchase_us >= click_us AND purchase_us - click_us <= 1800000000
        |ORDER BY click_id, purchase_id""".stripMargin,
    "stream_latest_state" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |a AS (
        |  SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
        |  FROM events GROUP BY 1)
        |SELECT r.user_id, r.ts AS last_ts, r.event_type AS last_type,
        |  r.value AS last_value, a.n_events, a.total_value
        |FROM r JOIN a USING (user_id) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "stream_window_counts" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "stream_dedup_counts" ->
      """SELECT event_type, count(*) AS n_keys FROM (
        |  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_enrich_counts" ->
      """SELECT c_mktsegment AS segment, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM events JOIN customer ON user_id + 1 = c_custkey
        |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin,
    "stream_sessions" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
        |s AS (SELECT user_id, ts,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_type ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)
}
