package graft.streaming

import graft.compat.AvroFields
import graft.compat.AvroFields.Slot
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming re-expression of the reference's audit
  * pipeline (internal/auth/audit.go buffers events asynchronously;
  * exporters stream changelogs): the same declarative transform runs
  * over a batch DataFrame or a `readStream` source unchanged — this
  * is the Spark-native version of tailing the audit log.
  *
  * The incremental compat gate ([[compatStateful]]) derives each
  * registration's slots from the one Avro field model,
  * [[graft.compat.AvroFields.slots]], the model the relational compat
  * scans read through `graft_avro_slots`.
  *
  * Scale notes: windowed aggregation state is bounded by the
  * watermark horizon × key cardinality; sessionization keeps one
  * small state object per active user and emits/evicts on timeout —
  * both shapes run identically on a 1000-executor cluster.
  */
object EventStream {

  /** Tumbling 1-hour windowed counts per event type. Works on batch
    * and streaming inputs; with a stream, pair with
    * `withWatermark("ts", ...)` upstream (see spec) so state is
    * dropped once the window closes.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n_events"), col("total_value"))

  /** Sliding (hopping) windowed counts — 10-minute windows every
    * 5 minutes, so each event feeds exactly two windows. Identical
    * code path batch and streaming; on a stream, watermarking bounds
    * the open-window state to (watermark horizon / slide) windows
    * per key.
    */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))

  /** Ingest dedup for at-least-once delivery: collapse redelivered
    * events on their (user_id, event_type, minute) idempotency key.
    * Only the key columns are projected, so the "keep an arbitrary
    * row per key" semantics of dropDuplicates stay deterministic.
    * On a stream, put `withWatermark("ts", ...)` upstream (or use
    * dropDuplicatesWithinWatermark — see spec) so the dedup state is
    * evicted once the key's minute passes the watermark; unbounded
    * key state is the classic streaming-dedup scale failure.
    */
  def dedupedPerMinute(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .dropDuplicates("user_id", "event_type", "minute")

  /** Stream-static enrichment join — THE streaming lookup pattern:
    * each micro-batch of events joins a slow-changing dimension
    * (broadcast; re-resolved per batch so dimension updates are
    * picked up without restarting the query). The principal key maps
    * to the customer dimension (user_id+1 = c_custkey), standing in
    * for the reference's principal→subject ACL lookup. State-free:
    * unlike stream-stream joins this holds no watermark state, so it
    * scales with the dimension size only.
    */
  def enriched(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select((col("c_custkey") - 1).as("user_id"),
        col("c_mktsegment").as("segment"))),
      Seq("user_id"))

  /** Stream-stream interval join — click→purchase attribution: each
    * click pairs with the same user's purchases landing in
    * [click_ts, click_ts + 30 min]. The join condition is the
    * canonical watermark-prunable form (equality key + event-time
    * range BETWEEN the two time columns): with `withWatermark` on
    * BOTH inputs, Spark derives per-side state-eviction bounds from
    * the range, so buffered state is (watermark horizon + 30 min) of
    * events per side — never unbounded (see StreamingSpec for the
    * MemoryStream execution). Batch and streaming share this exact
    * plan.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.select(col("user_id").as("c_uid"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .join(purchases.select(col("user_id").as("p_uid"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts")),
        col("c_uid") === col("p_uid") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("c_uid").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"))

  final case class VEvt(user_id: Long, ts: java.sql.Timestamp, event_type: String,
    value: Double, event_id: Long)
  final case class LatestState(lastUs: Long, lastId: Long, lastType: String,
    lastValue: Double, n: Long, total: Double)
  final case class LatestOut(user_id: Long, last_ts: java.sql.Timestamp,
    last_type: String, last_value: Double, n_events: Long, total_raw: Double)

  /** Streaming materialized upsert — the "latest value per key" view
    * every CDC/compaction sink maintains: one mapGroupsWithState row
    * per key carrying the most recent event (by (ts, event_id), so
    * ties are deterministic) plus running count/total. In streaming
    * Update mode each micro-batch re-emits only the keys it touched;
    * the sink applies them as upserts. State is O(1) per key — the
    * shape that scales to any key cardinality the state store holds,
    * unlike buffering events. In batch each group sees its complete
    * history and emits exactly the final state.
    */
  def latestStateful(events: Dataset[VEvt]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, LatestOut](GroupStateTimeout.NoTimeout()) {
        (uid: Long, evts: Iterator[VEvt], state: GroupState[LatestState]) =>
          var st = state.getOption.getOrElse(
            LatestState(Long.MinValue, Long.MinValue, "", 0.0, 0L, 0.0))
          evts.foreach { e =>
            val t = toMicros(e.ts)
            if (t > st.lastUs || (t == st.lastUs && e.event_id > st.lastId))
              st = st.copy(lastUs = t, lastId = e.event_id,
                lastType = e.event_type, lastValue = e.value)
            st = st.copy(n = st.n + 1, total = st.total + e.value)
          }
          state.update(st)
          LatestOut(uid, fromMicros(st.lastUs), st.lastType, st.lastValue, st.n, st.total)
      }
  }

  final case class Evt(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Int)

  /** Timestamp ↔ epoch-microseconds, loss-free (java.sql.Timestamp
    * keeps sub-ms precision in its nanos field; getTime alone would
    * truncate to ms and break round-trips).
    */
  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Stateful sessionization with a 30-minute inactivity gap via
    * flatMapGroupsWithState: closes and emits a session when the gap
    * is exceeded (or on processing-time timeout in streaming mode).
    * State is epoch-micros so emitted boundaries are exactly the
    * input timestamps. `flushRemaining` emits the still-open session
    * when the group's iterator ends — set it for BATCH execution
    * (the group then holds the complete history); leave it false on
    * a stream, where the open session must survive into state.
    */
  def sessionizeStateful(events: Dataset[Evt], flushRemaining: Boolean = false): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evts: Iterator[Evt], state: GroupState[SessionState]) =>
          val sorted = evts.toSeq.sortBy(e => (toMicros(e.ts), e.event_type))
          var cur = state.getOption
          val out = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            cur match {
              case Some(st) if t - st.last > gapUs =>
                out += SessionOut(userId, fromMicros(st.start), fromMicros(st.last), st.n)
                cur = Some(SessionState(t, t, 1))
              case Some(st) =>
                cur = Some(st.copy(last = math.max(st.last, t), n = st.n + 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          if (flushRemaining) {
            cur.foreach(st => out += SessionOut(userId, fromMicros(st.start), fromMicros(st.last), st.n))
            state.remove()
          } else cur.foreach(state.update)
          out.result().iterator
      }
  }

  // ---------------------------------------------------------------------
  // Incremental schema-compatibility gate
  // ---------------------------------------------------------------------

  /** `k` is NULL when the version's `props` lacks `$.k`. */
  final case class RegEvt(subject: Long, ts: java.sql.Timestamp, event_id: Long, k: Option[Long])
  /** The last accepted version and its ten positional slots. */
  final case class CompatState(version: Int, slots: Seq[Slot])
  final case class CompatOut(subject: Long, version: Int, n_fields: Long,
    n_violations: Long, compatible: Boolean)

  /** BACKWARD violations of reader (new) vs writer (previous) slots,
    * paired by position as [[graft.operators.Compat.pairRules]] pairs
    * them — the four avro/checker.go rules (:129 missing-without-
    * default, branch-mask type resolution covering unions
    * :224/:247/:263 and the promotion matrix :304, required-reads-
    * nullable, :182 enum symbol compat), one count per violating
    * present reader slot. A rule breaks only when it is TRUE: an
    * unknown `fnull` fails it, as a NULL fails the relational rule.
    */
  def backwardViolations(reader: Seq[Slot], writer: Seq[Slot]): Long =
    reader.zip(writer).count { case (r, w) =>
      // name-or-alias resolution in both directions (checker.go:112)
      val matched = w.present && (w.fname == r.fname ||
        r.falias.contains(w.fname) || w.falias.contains(r.fname))
      r.present && (
        if (!matched) r.fnull.contains(false) && r.fdefault.isEmpty
        else {
          val typeBreak = (w.fmask & AvroFields.accepts(r.fmask)) != w.fmask
          val enumBreak = r.ftype == "enum" && w.ftype == "enum" &&
            r.fdefault.isEmpty && w.fsyms.exists(ws => r.fsyms.exists(rs =>
              (ws.split(',').toSet -- rs.split(',').toSet).nonEmpty))
          typeBreak || (r.fnull.contains(false) && w.fnull.contains(true)) || enumBreak
        })
    }.toLong

  /** The RegisterSchema write path as an incremental stream
    * (registry.go CheckCompatibility before accept): per-subject
    * state holds ONLY the last accepted version's field set, each
    * arriving registration is verdicted against it and becomes the
    * new state. State is O(fields) per subject regardless of history
    * length — the property that makes the gate run forever on a
    * stream. In batch mode each group carries its whole history, so
    * the same function reproduces compat_scan's N-vs-N-1 verdicts
    * end-to-end (the oracle IS compat_scan's).
    */
  def compatStateful(regs: Dataset[RegEvt]): Dataset[CompatOut] = {
    import regs.sparkSession.implicits._
    regs
      .groupByKey(_.subject)
      .flatMapGroupsWithState[CompatState, CompatOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (subject: Long, evts: Iterator[RegEvt], state: GroupState[CompatState]) =>
          val sorted = evts.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[CompatOut]
          sorted.foreach { e =>
            val slots = AvroFields.slots(e.k)
            cur match {
              case Some(st) =>
                val v = st.version + 1
                val nViol = backwardViolations(slots, st.slots)
                out += CompatOut(subject, v, slots.count(_.present).toLong, nViol, nViol == 0)
                cur = Some(CompatState(v, slots))
              case None =>
                cur = Some(CompatState(1, slots))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }
}
