package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Audit-log and metrics analytics over the `events` stream — the
  * Spark re-expression of the reference's audit subsystem
  * (internal/auth/audit.go, audit_format.go) and Prometheus metrics
  * (internal/metrics/metrics.go): volume by type/day, CEF-style
  * severity classification, top principals, failure ratios, session
  * reconstruction, latency percentiles and per-minute rates.
  *
  * Scale notes: everything aggregates on (type) / (user) / (time
  * bucket) keys — map-side partial aggregation bounds shuffle volume
  * by cardinality, not event count. Sessionization uses per-user
  * windows only (state per task = one user's events). Percentiles
  * are exact here to match the oracle; at 100 TB swap in
  * `approx_percentile` (same API shape, mergeable sketch).
  */
object Audit {

  /** Event volume by type per day (audit.go event stream). */
  def countsDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** CEF severity classification (audit_format.go:102 cefSeverity):
    * failures → 8, mutating ops → 5, reads → 3. `error` events play
    * auth failures, `purchase`/`signup` mutations, the rest reads.
    */
  def severity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("severity",
        when(col("event_type") === "error", 8)
          .when(col("event_type").isin("purchase", "signup"), 5)
          .otherwise(3))
      .groupBy(col("severity"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))

  /** CEF event rendering (audit_format.go FormatCEF): the audit
    * export format — `CEF:0|vendor|product|version|signature|name|
    * severity|extension` — rendered relationally as one codegen'd
    * concat per event, filtered to actionable severity (≥5) before
    * any bytes are built. Row-local: rendering parallelizes with the
    * scan; at 100 TB this is the shape of the SIEM export job.
    */
  def cefRender(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("severity",
        when(col("event_type") === "error", 8)
          .when(col("event_type").isin("purchase", "signup"), 5)
          .otherwise(3))
      .where(col("severity") >= 5)
      .select(col("event_id"),
        concat(
          lit("CEF:0|axonops|schema-registry|1.0|"), col("event_type"), lit("|"),
          col("event_type"), lit(" by user "), col("user_id").cast("string"), lit("|"),
          col("severity").cast("string"), lit("|suser="), col("user_id").cast("string"),
          lit(" outcome="),
          when(col("severity") === 8, "failure").otherwise("success")).as("cef"))

  /** Log2-bucketed latency histogram (metrics.go keeps per-endpoint
    * latency histograms; exponential buckets are the standard SLO
    * shape). The bucket index is computed EXACTLY as the bit length
    * of the truncated integer latency (length(bin(n)) - 1) rather
    * than floor(log2(x)) — ln-ratio log2 is off by 1 ulp at exact
    * powers of two and flips buckets nondeterministically between
    * engines. One partial-aggregated groupBy (≤ ~40 buckets ever);
    * the share denominator is a 1-row broadcast.
    */
  def latencyHistogram(s: SparkSession, dir: String): DataFrame = {
    // share denominator via a window-sum over the ≤40-row rollup —
    // the former broadcast aggregate's subplan re-ran the whole event
    // scan + groupBy a second time (r12, guide §2.4 duplicated
    // subtrees; buckets partition the events, so the sums are equal)
    Tables.events(s, dir)
      .select((length(bin(floor(col("value")).cast("bigint"))) - 1).cast("bigint").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_events"))
      .withColumn("tot", sum(col("n_events")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()).cast("double"))
      .select(col("bucket"), pow(lit(2), col("bucket")).cast("bigint").as("lo_ms"),
        col("n_events"),
        (floor(col("n_events") / col("tot") * 10000 + 0.5) / lit(10000.0)).as("share"))
  }

  /** Top-k principals by activity (audit.go principal tracking).
    * Bounded top-k — TakeOrderedAndProject, no global sort.
    */
  def topActors(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(20)

  /** Top-3 actors PER DAY — the windowed face of [[topActors]]: a
    * global top-20 hides the single-day burst a compliance review
    * looks for, so the daily leaderboard is its own standard card.
    *
    * Scale: one (day, user) partial-aggregated rollup shuffles the
    * corpus once; the rank window then runs on the rollup (bounded:
    * actors-per-day rows, not events), partitioned by day. Output is
    * 3 rows per day — calendar-sized.
    */
  def topActorsDaily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("day")).orderBy(col("n_events").desc, col("user_id"))
    daily.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("day"), col("rank"), col("user_id"), col("n_events"))
  }

  /** Failure ratio per principal (metrics.go auth failure counters):
    * share of `error` events, 4dp.
    */
  def failureRatio(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(expr("floor(sum(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END) / count(1) * 10000 + 0.5) / cast(10000 AS double)").as("failure_ratio"),
        count(lit(1)).as("n_events"))

  /** Session reconstruction: a new session starts after a >30min gap
    * (audit trail analysis).
    *
    * Scale (r10, VERDICT r9 #3): the session chain is inherently
    * sequential per principal (each row's session id depends on every
    * earlier gap), so a plain per-user window puts a 50%-hot
    * principal's whole history in ONE task. The registered plan is
    * therefore SEGMENTED — the t_resample_spans day-boundary-handoff
    * treatment:
    *   1. per-(user, day) gap windows flag session starts (the day's
    *      first event always flags — its true predecessor lives in
    *      the previous segment);
    *   2. a per-(user, day) rollup keeps (starts, first_ts, last_ts,
    *      events) — one row per observed day;
    *   3. a per-user day-level lag stitches across midnight: a day
    *      whose first event is ≤30min after the previous observed
    *      day's last event had its first "start" counted spuriously
    *      in step 1, so one merge is subtracted.
    * No task ever holds more than one (principal, day) of events, and
    * the stitch window holds observed DAYS per principal —
    * calendar-bounded, never corpus-bounded. Output is row-identical
    * to the span-wide single-window form ([[sessionizeSpanWide]];
    * step 1+3 together flag exactly the rows whose true predecessor
    * gap exceeds 30min) — SkewSpec pins the equality on skewed data
    * and a cross-midnight case.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUserDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUserDay))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("new_session")).as("n_starts"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
        count(lit(1)).as("n_events"))
    val byUserByDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    daily
      .withColumn("prev_last", lag(col("last_ts"), 1).over(byUserByDay))
      .withColumn("merged",
        when(col("prev_last").isNotNull &&
          col("first_ts").cast("long") - col("prev_last").cast("long") <= 1800, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg((sum(col("n_starts")) - sum(col("merged"))).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
  }

  /** The pre-r10 span-wide formulation (one per-user window over the
    * principal's entire history): kept as the equivalence witness the
    * segmented plan is spec-checked against, not registered.
    */
  private[graft] def sessionizeSpanWide(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Latency percentiles per event type (metrics.go request-duration
    * histograms): exact p50/p95/p99 of `value`.
    */
  def latencyPctile(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))

  /** The 100 TB form of [[latencyPctile]]: `approx_percentile`
    * (t-digest-style mergeable sketch, map-side combinable) at the
    * same groupings — the exact `percentile` holds each group's
    * values and stops scaling when a single event type carries
    * billions of rows. Spec-checked against the exact operator with
    * a 5% tolerance (ScalePathSpec) — SURVEY §4's claim, executable.
    */
  def latencyPctileApprox(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, 0.5, 10000)").as("p50"),
        expr("approx_percentile(value, 0.95, 10000)").as("p95"),
        expr("approx_percentile(value, 0.99, 10000)").as("p99"))

  /** Per-minute event rate (metrics.go rate counters): tumbling
    * 1-minute buckets per type.
    */
  def rate1m(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("minute", col("ts")).as("minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Burst alerting over the per-minute rate stream — the alert rule
    * the reference's Prometheus counters exist to feed (rate vs its
    * own recent baseline, the standard anomaly gate on
    * requests/registrations/auth-failure rates): a minute fires when
    * its count exceeds 1.5× the trailing average of the 10 PRECEDING
    * observed minutes for that event type, with a full-history guard
    * (exactly 10 trailing rows) so cold starts never alert.
    *
    * Shape: the corpus collapses to the minutes×types grid FIRST
    * (one partial-agg shuffle, key space = time buckets × vocab),
    * then ONE type-partitioned ROWS window computes the trailing
    * sum/count — state per task is 10 rows per type. The alert
    * decision n > 1.5·(sum/10) is evaluated as the pure-integer
    * n·20 > 3·sum, so no float comparison exists to flip between
    * engines; the reported avg/ratio are rounded display values.
    */
  def rateAlert(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute"))
      .rowsBetween(-10, -1)
    rate1m(s, dir)
      .withColumn("t_sum", sum(col("n_events")).over(w))
      .withColumn("t_cnt", count(col("n_events")).over(w))
      .where(col("t_cnt") === 10 &&
        col("n_events") * 20 > col("t_sum") * 3)
      .select(col("event_type"), col("minute"), col("n_events"),
        round(col("t_sum") / 10.0, 4).as("trailing_avg"),
        round(col("n_events") * 10.0 / col("t_sum"), 4).as("ratio"))
  }

  /** Skew-safe two-phase aggregation: pre-aggregate on a salted key
    * (key, hash%16), then merge the partials. The final result is
    * identical to a plain groupBy (same oracle) but no single task
    * ever owns a hot key's full row set — the 100 TB skew pattern.
    */
  def topActorsSalted(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), pmod(hash(col("event_id")), lit(16)).as("_salt"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("user_id"))
      .agg(sum(col("pn")).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(20)

  /** Request-path normalization (metrics.go:573 normalizePath): map
    * raw URL paths onto a bounded endpoint-class vocabulary so metric
    * label cardinality can't explode — the `/contexts/{ctx}` prefix is
    * stripped and re-added normalized, then the inner path collapses
    * through the same prefix/contains/suffix rule chain as the
    * reference. Paths are synthesized deterministically from the
    * event row, so both engines normalize identical inputs. Row-local
    * until the tiny endpoint-class aggregation.
    */
  /** Synthesized request stream with normalized endpoint classes —
    * the shared input of [[metricsPathNorm]] and
    * [[metricsConfluentMap]]. One row per event with (method, path,
    * endpoint); entirely row-local.
    */
  private def normalizedRequests(s: SparkSession, dir: String): DataFrame = {
    val et = col("event_type")
    val uid = col("user_id").cast("string")
    val path = when(col("k") % lit(6) === 0,
        concat(lit("/subjects/"), et, lit("/versions/"), uid))
      .when(col("k") % lit(6) === 1, concat(lit("/subjects/"), et, lit("/versions")))
      .when(col("k") % lit(6) === 2, concat(lit("/subjects/"), et))
      .when(col("k") % lit(6) === 3, concat(lit("/schemas/ids/"), uid))
      .when(col("k") % lit(6) === 4,
        concat(lit("/contexts/ctx"), (col("user_id") % lit(5)).cast("string"),
          lit("/subjects/"), et, lit("/versions/"), col("k").cast("string")))
      .otherwise(concat(lit("/mode/"), et))
    val inner = when(col("path").startsWith("/contexts/"),
      regexp_replace(col("path"), "^/contexts/[^/]*", "")).otherwise(col("path"))
    val norm = when(col("inner").startsWith("/subjects/") && col("inner").contains("/versions/"),
        "/subjects/{subject}/versions/{version}")
      .when(col("inner").startsWith("/subjects/") && col("inner").endsWith("/versions"),
        "/subjects/{subject}/versions")
      .when(col("inner").startsWith("/subjects/"), "/subjects/{subject}")
      .when(col("inner").startsWith("/schemas/ids/"), "/schemas/ids/{id}")
      .when(col("inner").startsWith("/config/"), "/config/{subject}")
      .when(col("inner").startsWith("/mode/"), "/mode/{subject}")
      .when(col("inner").startsWith("/compatibility/subjects/"),
        "/compatibility/subjects/{subject}/versions/{version}")
      .otherwise(col("inner"))
    Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      // k%7, not k%4: the path class is k%6, and a shared factor of 2
      // would lock method and path to equal parity — 7 is coprime with
      // 6, so every (method, path-class) combination occurs.
      .withColumn("method",
        when(col("k") % lit(7) < 2, "GET").when(col("k") % lit(7) < 4, "POST")
          .when(col("k") % lit(7) < 6, "PUT").otherwise("DELETE"))
      .withColumn("path", path)
      .withColumn("inner", inner)
      .withColumn("endpoint",
        when(col("path").startsWith("/contexts/"), concat(lit("/contexts/{context}"), norm))
          .otherwise(norm))
  }

  def metricsPathNorm(s: SparkSession, dir: String): DataFrame =
    normalizedRequests(s, dir)
      .groupBy(col("endpoint"))
      .agg(count(lit(1)).as("n_requests"))

  /** Confluent @PerformanceMetric endpoint mapping (metrics.go:636
    * confluentEndpoint): (HTTP method, normalized path) → Confluent's
    * endpoint vocabulary, "" (reported here as 'none') for requests
    * with no Confluent equivalent — the context prefix is stripped
    * first (:640). The method dimension makes the mapping genuinely
    * two-keyed: the same normalized path maps to register / list /
    * get-schema / delete under different verbs, and unmapped
    * (method, path) combinations land in the 'none' class rather
    * than vanishing. Row-local per event + one endpoint-vocabulary
    * aggregation.
    */
  def metricsConfluentMap(s: SparkSession, dir: String): DataFrame = {
    val p = regexp_replace(col("endpoint"), "^/contexts/\\{context\\}", "")
    val m = col("method")
    val ep =
      when(m === "GET" && p === "/schemas/ids/{id}", "schemas.ids.get-schema")
        .when(m === "POST" && p === "/subjects/{subject}", "subjects.get-schema")
        .when(m === "DELETE" && p === "/subjects/{subject}", "subjects.delete-subject")
        .when(m === "POST" && p === "/subjects/{subject}/versions", "subjects.versions.register")
        .when(m === "GET" && p === "/subjects/{subject}/versions", "subjects.versions.list")
        .when(m === "GET" && p === "/subjects/{subject}/versions/{version}",
          "subjects.versions.get-schema")
        .when(m === "DELETE" && p === "/subjects/{subject}/versions/{version}",
          "subjects.versions.deleteSchemaVersion-schema")
        .when(m === "POST" && p.startsWith("/compatibility/"),
          "compatibility.subjects.versions.verify")
        .when(m === "GET" && p === "/mode/{subject}", "mode.get-subject")
        .when(m === "PUT" && p === "/mode/{subject}", "mode.update-subject")
        .when(m === "DELETE" && p === "/mode/{subject}", "mode.delete-subject")
        .otherwise("none")
    normalizedRequests(s, dir)
      .withColumn("confluent_endpoint", ep)
      .groupBy(col("confluent_endpoint"))
      .agg(count(lit(1)).as("n_requests"))
  }

  /** Metric-stream outlier detection (the alerting query behind the
    * reference's rate/latency counters): per-type z-scores against
    * the type's own mean/stddev. Two passes over the fact — a tiny
    * per-type stats agg broadcast back, then a row-local score +
    * one partial-agg rollup. No window, no sort; the at-scale shape
    * for "flag anomalous request latencies".
    */
  def metricsOutliers(s: SparkSession, dir: String): DataFrame = {
    val stats = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(avg(col("value")).as("m"), stddev_samp(col("value")).as("sd"))
    Tables.events(s, dir)
      .join(broadcast(stats), "event_type")
      // sd = 0 (constant-valued type) or NULL (single row) must yield
      // a defined NULL z on BOTH engines, not engine-specific
      // divide-by-zero semantics — guard the divisor explicitly.
      .withColumn("z", when(col("sd") > 0, abs((col("value") - col("m")) / col("sd"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("z") > 3.0, 1L).otherwise(0L)).as("n_outliers"),
        round(max(col("z")), 4).as("max_abs_z"))
  }

  /** Conversion funnel over the audit stream, with first-event stage
    * semantics: a user converts a stage when their FIRST click is
    * after their FIRST view (and their FIRST purchase after that
    * first click). A user whose first click precedes their first view
    * but who clicks again later does NOT count — min-timestamp
    * comparison, not "exists an ordered triple". One shuffle on
    * user_id, no window, no self-join; the n-way self-join
    * formulation of exists-ordered-triple would be a 100 TB trap.
    */
  def funnel(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("t_click") > col("t_view") && col("t_purchase") > col("t_click"), 1L)
          .otherwise(0L)).as("n_full_funnel"))

  /** Hopping-window rates via Spark's native `window()` generator
    * (width 10 min, slide 5 min — each event lands in exactly two
    * windows). The overlap factor is the window/slide ratio, so the
    * expansion is bounded and explicit; state per group is one count.
    * Same shape Structured Streaming uses for sliding rates, here on
    * the batch face. Oracle: union of the two phase-shifted tumbling
    * grids.
    */
  def rateHopping(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.hoppingCounts(Tables.events(s, dir))

  /** Retention cohorts over the audit stream: users grouped by their
    * first-activity week, counted in each subsequent active week —
    * the registry-adoption dashboard query. Two user_id-keyed partial
    * aggregates (first week, distinct active weeks) and one
    * cohort-keyed rollup; the user dimension never fans out.
    */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val wk = to_date(date_trunc("week", col("ts")))
    val first = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(min(wk).as("cohort"))
    val activity = Tables.events(s, dir)
      .select(col("user_id"), wk.as("wk")).distinct()
    activity.join(first, "user_id")
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("bigint").as("week_n"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Registry growth curve: registrations per week with a running
    * cumulative total — the adoption dashboard's headline series.
    * The corpus collapses to per-week counts FIRST (one partial-agg
    * shuffle); the unpartitioned cumulative window then runs over
    * the weeks-sized series only, which is the one place a global
    * window is legitimate at 100 TB.
    */
  def growth(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.events(s, dir)
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
      .agg(count(lit(1)).as("n_registrations"),
        countDistinct(col("user_id")).as("n_active_subjects"))
    val w = Window.orderBy(col("week"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cumulative", sum(col("n_registrations")).over(w))
  }

  /** Prometheus exposition-format catalog (tools_metrics.go:120-:220
    * — `parseMetricLines`, the name cut at the first `{`/space
    * exactly as list_metrics does at :225, and the `categoryPrefixes`
    * table at :125 incl. the multi-prefix `schema` category and the
    * `kafka_`-first precedence): scraped metric text → the grouped
    * catalog the reference's list_metrics/get_metrics_by_category
    * tools render. The exposition stream is synthesized per event
    * (16 line classes: one metric per category, labeled series where
    * the reference has labels, a `schema_registry_leader_elections_
    * total` name that matches NO prefix → `other`, and `# HELP` /
    * `# TYPE` comment lines the parser must skip).
    *
    * Everything up to the rollup is row-local string work on the
    * scan; the one shuffle is the (category, name) groupBy whose key
    * space is the metric vocabulary, with the distinct-series count
    * bounded by label cardinality — at 100 TB of scraped metrics
    * this is a pure map-side-combine aggregation.
    */
  /** The synthesized exposition stream parsed to (name, series, val)
    * rows — shared by [[promParse]] (category catalog) and
    * [[metricsSummary]] (the fixed-section ops card).
    */
  /** The raw synthesized exposition lines, comments included —
    * `parseMetricLines` (tools_metrics.go:320) keeps every non-empty
    * line, and query_metric's substring probe matches against the
    * FULL line text (comments and sample values too), so
    * [[queryProbe]] needs this pre-filter view.
    */
  private def promLines(s: SparkSession, dir: String): DataFrame =
    promLines(s, dir, samplesOnly = false)

  /** `samplesOnly = true` drops the `# HELP` / `# TYPE` comment lines
    * BEFORE the line is rendered: a rendered line starts with '#' iff
    * the generator CASE takes branch 14 or 15, i.e. iff
    * cast(k % 16 as int) is NOT in [0, 13] (NULL and negative k land
    * in the ELSE comment branch too, so BETWEEN keeps exactly the
    * sample branches). The r10 form filtered `line NOT LIKE '#%'`
    * AFTER rendering — Catalyst pushed that filter toward the scan
    * and INLINED the whole 16-branch concat CASE (with its ~30
    * get_json_object occurrences) into the Filter condition, so every
    * row paid the render twice and the JSON parse ~30x (plan audit
    * r11; guide §4.4's duplication trap, built-in-expression
    * edition). The k-mod predicate is a 2-op integer test instead.
    */
  private def promLines(s: SparkSession, dir: String, samplesOnly: Boolean): DataFrame = {
    // spread: the JSON parse + exposition-line rendering is ~20µs/row
    // of row-local CPU; on a single-row-group events file
    // the whole pass serialized on one scan task (stage profile: 2.3s
    // 1-task stage = ~95% of each metrics_* query's wall).
    val parsed = Tables.spread(
      Tables.events(s, dir).select(col("user_id"), col("props")))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
    val base =
      if (samplesOnly) parsed.where("cast(k % 16 AS int) BETWEEN 0 AND 13")
      else parsed
    val lines = base
      .selectExpr("user_id", "k", "cast(k % 100 AS string) AS v",
        "cast(user_id % 2 AS string) AS u2", "cast(user_id % 3 AS string) AS u3",
        "cast(user_id % 4 AS string) AS u4", "cast(user_id % 5 AS string) AS u5",
        "cast(user_id % 6 AS string) AS u6", "cast(user_id % 7 AS string) AS u7")
      .selectExpr(
        // coalesce wrapper: the CASE never yields NULL in practice
        // (every sample branch concats a non-null v, the comment
        // branches are literals, and a NULL k falls into the literal
        // ELSE), but Catalyst types it nullable — and an inner
        // contains-join over `line` then INFERS an isnotnull(line)
        // filter, inlining this whole render into a scan-stage Filter
        // (double render + ~30 JSON parses per row, plan audit r11).
        // The dead second coalesce arm makes `line` provably
        // non-nullable, so no filter is ever inferred; the value is
        // bit-identical (first arm always wins).
        """coalesce(CASE cast(k % 16 AS int)
          |WHEN 0 THEN 'kafka_schema_registry_registered_count ' || v
          |WHEN 1 THEN 'schema_registry_requests_total{method="m' || u3 || '",status="2xx"} ' || v
          |WHEN 2 THEN 'schema_registry_schemas_total{type="t' || u4 || '"} ' || v
          |WHEN 3 THEN CASE WHEN user_id % 2 = 0 THEN 'schema_registry_subjects_total ' || v
          |                 ELSE 'schema_registry_registrations_total{format="avro"} ' || v END
          |WHEN 4 THEN 'schema_registry_compatibility_checks_total{level="L' || u3 || '"} ' || v
          |WHEN 5 THEN 'schema_registry_storage_operations_total{op="o' || u5 || '"} ' || v
          |WHEN 6 THEN 'schema_registry_cache_hits_total ' || v
          |WHEN 7 THEN 'schema_registry_auth_attempts_total{method="a' || u2 || '"} ' || v
          |WHEN 8 THEN 'schema_registry_rate_limit_hits_total ' || v
          |WHEN 9 THEN 'schema_registry_mcp_tool_calls_total{tool="T' || u6 || '"} ' || v
          |WHEN 10 THEN 'schema_registry_principal_requests_total{principal="p' || u7 || '"} ' || v
          |WHEN 11 THEN 'go_goroutines ' || v
          |WHEN 12 THEN 'process_cpu_seconds_total ' || v
          |WHEN 13 THEN 'schema_registry_leader_elections_total ' || v
          |WHEN 14 THEN '# HELP schema_registry_requests_total Total requests by method and status.'
          |ELSE '# TYPE schema_registry_requests_total counter'
          |END, '# TYPE schema_registry_requests_total counter') AS line""".stripMargin)
    lines
  }

  private def promSeriesParsed(s: SparkSession, dir: String): DataFrame = {
    // r8: the three per-line regex passes fused into pure string ops
    // (prom exposition series never contain spaces, labels included,
    // and the sample value is the last space-separated token) —
    // substring_index is codegen'd and regex-free; same-host A/B at
    // sf1: prom_parse 26.6→21.9s, summary 26.3→21.1s (16–20%).
    promLines(s, dir, samplesOnly = true)
      .selectExpr(
        "substring_index(line, ' ', 1) AS series",
        "cast(substring_index(line, ' ', -1) AS bigint) AS val")
      .selectExpr("substring_index(series, '{', 1) AS name", "series", "val")
  }

  def promParse(s: SparkSession, dir: String): DataFrame = {
    promSeriesParsed(s, dir)
      .selectExpr("name", "series", "val",
        """CASE
          |WHEN name LIKE 'kafka_schema_registry_%' THEN 'wire_compatible'
          |WHEN name LIKE 'schema_registry_request%' THEN 'request'
          |WHEN name LIKE 'schema_registry_schema%' OR name LIKE 'schema_registry_subject%'
          |  OR name LIKE 'schema_registry_registration%' THEN 'schema'
          |WHEN name LIKE 'schema_registry_compatibility%' THEN 'compatibility'
          |WHEN name LIKE 'schema_registry_storage%' THEN 'storage'
          |WHEN name LIKE 'schema_registry_cache%' THEN 'cache'
          |WHEN name LIKE 'schema_registry_auth%' THEN 'auth'
          |WHEN name LIKE 'schema_registry_rate_limit%' THEN 'rate_limit'
          |WHEN name LIKE 'schema_registry_mcp%' THEN 'mcp'
          |WHEN name LIKE 'schema_registry_principal%' THEN 'principal'
          |WHEN name LIKE 'go_%' THEN 'runtime'
          |WHEN name LIKE 'process_%' THEN 'process'
          |ELSE 'other' END AS category""".stripMargin)
      .groupBy(col("category"), col("name"))
      .agg(count(lit(1)).as("n_samples"),
        countDistinct(col("series")).as("n_series"),
        sum(col("val")).as("total"))
  }

  /** The fixed-section metrics summary card (handleGetMetricsSummary,
    * mcp/tools_metrics.go:45-:118) composed over [[promSeriesParsed]]:
    * the handler's literal section/entry program — 11 sections, each a
    * mix of NAMED entries (writeMetricValue :332 — the single series
    * whose line starts `name ` / `name{`, or a "(not yet initialized)"
    * row when the counter never incremented) and FAMILY entries
    * (writeMatchingMetrics :346 — every series line matching the name
    * prefix; an empty family renders nothing). Re-expressed
    * relationally: the card spec is a 27-row broadcast literal
    * mirroring the handler's call order (sec_order / item_order = the
    * source line order), series values accumulate counter-style
    * (sum over samples), named entries left-join on exact name,
    * families inner-join on series prefix.
    *
    * Scale: the sample stream aggregates FIRST (map-side combine to
    * the ≤ label-cardinality series vocabulary, one shuffle), then a
    * 27-row broadcast joins against ~35 series rows — card
    * composition costs nothing beyond the parse scan at any corpus
    * size. The two joins (named + family) read the aggregated series
    * through its one exchange, reused within the query, so the scan
    * is derived once.
    */
  def metricsSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = Seq(
      (1L, "wire_counters", 1L, "named", "kafka_schema_registry_registered_count", "Schemas registered (total)"),
      (1L, "wire_counters", 2L, "named", "kafka_schema_registry_deleted_count", "Schemas deleted (total)"),
      (1L, "wire_counters", 3L, "named", "kafka_schema_registry_api_success_count", "Successful API calls (2xx/3xx)"),
      (1L, "wire_counters", 4L, "named", "kafka_schema_registry_api_failure_count", "Failed API calls (4xx/5xx)"),
      (1L, "wire_counters", 5L, "named", "kafka_schema_registry_master_slave_role", "Leader role (1=leader, 0=follower)"),
      (1L, "wire_counters", 6L, "named", "kafka_schema_registry_node_count", "Cluster node count"),
      (2L, "schema_counts_by_type", 1L, "family", "kafka_schema_registry_schemas_created", null),
      (2L, "schema_counts_by_type", 2L, "family", "kafka_schema_registry_schemas_deleted", null),
      (3L, "request", 1L, "named", "schema_registry_requests_in_flight", "Requests in flight"),
      (3L, "request", 2L, "family", "schema_registry_requests_total", null),
      (4L, "schema", 1L, "family", "schema_registry_schemas_total", null),
      (4L, "schema", 2L, "named", "schema_registry_subjects_total", "Total subjects"),
      (4L, "schema", 3L, "family", "schema_registry_registrations_total", null),
      (5L, "compatibility", 1L, "family", "schema_registry_compatibility_checks_total", null),
      (5L, "compatibility", 2L, "family", "schema_registry_compatibility_errors_total", null),
      (6L, "storage", 1L, "family", "schema_registry_storage_operations_total", null),
      (6L, "storage", 2L, "family", "schema_registry_storage_errors_total", null),
      (7L, "cache", 1L, "family", "schema_registry_cache_hits_total", null),
      (7L, "cache", 2L, "family", "schema_registry_cache_misses_total", null),
      (7L, "cache", 3L, "family", "schema_registry_cache_size", null),
      (8L, "auth", 1L, "family", "schema_registry_auth_attempts_total", null),
      (8L, "auth", 2L, "family", "schema_registry_auth_failures_total", null),
      (9L, "rate_limit", 1L, "family", "schema_registry_rate_limit_hits_total", null),
      (10L, "mcp", 1L, "named", "schema_registry_mcp_tool_calls_active", "Active MCP tool calls"),
      (10L, "mcp", 2L, "family", "schema_registry_mcp_tool_calls_total", null),
      (10L, "mcp", 3L, "family", "schema_registry_mcp_tool_call_errors_total", null),
      (10L, "mcp", 4L, "family", "schema_registry_mcp_confirmations_total", null),
      (10L, "mcp", 5L, "family", "schema_registry_mcp_policy_denials_total", null),
      (10L, "mcp", 6L, "family", "schema_registry_mcp_permission_denied_total", null),
      (11L, "per_principal", 1L, "family", "schema_registry_principal_requests_total", null),
      (11L, "per_principal", 2L, "family", "schema_registry_principal_mcp_calls_total", null))
      .toDF("sec_order", "section", "item_order", "kind", "metric", "descr")
    val sagg = promSeriesParsed(s, dir)
      .groupBy(col("name"), col("series"))
      .agg(sum(col("val")).as("value"))
    val outCols = Seq(col("sec_order"), col("section"), col("item_order"),
      col("kind"), col("metric"), col("descr"), col("series"), col("value"),
      col("status"))
    val named = broadcast(spec.filter(col("kind") === "named"))
      .join(sagg, col("name") === col("metric"), "left")
      .withColumn("status",
        when(col("value").isNull, "not_initialized").otherwise("ok"))
      .select(outCols: _*)
    val fams = sagg
      .join(broadcast(spec.filter(col("kind") === "family")),
        col("series").startsWith(col("metric")))
      .withColumn("status", lit("ok"))
      .select(outCols: _*)
    named.union(fams)
  }

  /** Apdex satisfaction score per endpoint class (the Apdex standard:
    * satisfied ≤ T, tolerating ≤ 4T, score = (sat + tol/2) / n) over
    * the request-duration metric the reference's histograms track
    * (metrics.go request-duration observe sites). T = 50 duration
    * units. Counts stay integers; only the final score rounds, so
    * cross-engine parity is exact. One partial-aggregated shuffle on
    * the bounded event-type key — scan-bound at any scale.
    */
  def apdex(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_requests"),
        sum(when(col("value") <= 50.0, 1L).otherwise(0L)).as("n_satisfied"),
        sum(when(col("value") > 50.0 && col("value") <= 200.0, 1L).otherwise(0L)).as("n_tolerating"),
        sum(when(col("value") > 200.0, 1L).otherwise(0L)).as("n_frustrated"))
      .withColumn("apdex",
        floor((col("n_satisfied") + col("n_tolerating") / lit(2.0))
          / col("n_requests") * 10000 + 0.5) / lit(10000.0))

  /** Weekly utilization heatmap — request volume and mean duration
    * per (day-of-week, hour-of-day) cell, the capacity-planning view
    * every ops dashboard renders. Day-of-week is normalized to the
    * 0=Sunday convention (Spark's dayofweek is 1-based, DuckDB's
    * 0-based — the one calendar-function divergence between the
    * engines). Bounded ≤168-cell rollup, scan-bound at any scale.
    */
  def heatmap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy((dayofweek(col("ts")) - 1).cast("bigint").as("dow"),
        hour(col("ts")).cast("bigint").as("hod"))
      .agg(count(lit(1)).as("n_events"),
        (floor(avg(col("value")) * 10000 + 0.5) / lit(10000.0)).as("mean_value"))

  /** Multi-window SLO error-budget burn rate (the SRE alerting
    * standard): per 1-hour window, the error rate against an 80%
    * success SLO (budget = 0.2), paired with the containing 6-hour
    * window's burn; an alert fires only when BOTH windows burn >1.2×
    * budget — the short window gives detection speed, the long window
    * suppresses blips. Reference: the ops-metrics alerting surface
    * (metrics/metrics.go counters feeding rate alerts).
    *
    * Scale: the 6-hour totals are a whole-partition window sum OVER
    * the 1-hour rollup (partitioned by h1 div 6), so raw events are
    * scanned and shuffled exactly once and everything past the hourly
    * aggregate is calendar-sized; a self-join rollup would re-derive
    * the aggregate subtree and scan the corpus twice (exchange reuse
    * cannot fire — the shared subtree ends at an aggregate, not an
    * exchange). The alert predicate is integer cross-multiplied
    * (25·err > 6·tot ⟺ burn > 1.2) — no float thresholds in the
    * decision path.
    */
  def burnRate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h1 = Tables.events(s, dir)
      .selectExpr("cast(ts AS long) div 3600 AS h1",
        "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err")
      .groupBy(col("h1"))
      .agg(count(lit(1)).as("tot_1h"), sum(col("is_err")).cast("bigint").as("err_1h"))
      .withColumn("h6", expr("h1 div 6"))
    val w6 = Window.partitionBy(col("h6"))
    h1
      .withColumn("tot_6h", sum(col("tot_1h")).over(w6))
      .withColumn("err_6h", sum(col("err_1h")).over(w6))
      .select(
        (col("h1") * 3600).as("hour_start_s"),
        col("tot_1h"), col("err_1h"),
        (floor(col("err_1h") * 5 / col("tot_1h").cast("double") * 10000 + 0.5) / 10000.0).as("burn_1h"),
        (floor(col("err_6h") * 5 / col("tot_6h").cast("double") * 10000 + 0.5) / 10000.0).as("burn_6h"),
        (col("err_1h") * 25 > col("tot_1h") * 6 && col("err_6h") * 25 > col("tot_6h") * 6).as("alert"))
  }

  /** query_metric (mcp/tools_metrics.go:194): a substring probe over
    * `parseMetricLines` output — the handler keeps every line whose
    * FULL text contains the pattern (comments and sample values
    * included, :203-:207) and returns the matching lines. The card
    * computes the handler's answer for a panel of probe patterns at
    * once: (pattern, line, n_lines) — grouped because the scraped
    * stream repeats each line once per sample event.
    *
    * Scale: the pattern panel is a broadcast literal dim, so the
    * contains-join is a broadcast nested-loop over the line scan
    * (linear, no shuffle for the match); the one shuffle is the
    * (pattern, line) groupBy whose key space is the pattern panel ×
    * line vocabulary — map-side combined.
    */
  def queryProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val patterns = broadcast(Seq(
      "requests_total", "cache", "go_", "leader_elections", "principal")
      .toDF("pattern"))
    promLines(s, dir)
      .join(patterns, col("line").contains(col("pattern")))
      .groupBy(col("pattern"), col("line"))
      .agg(count(lit(1)).as("n_lines"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "metrics_query_probe" -> queryProbe,
    "audit_top_actors_daily" -> topActorsDaily,
    "metrics_burn_rate" -> burnRate,
    "metrics_heatmap" -> heatmap,
    "metrics_apdex" -> apdex,
    "metrics_rate_alert" -> rateAlert,
    "metrics_prom_parse" -> promParse,
    "metrics_summary" -> metricsSummary,
    "audit_growth" -> growth,
    "audit_retention" -> retention,
    "metrics_rate_hop" -> rateHopping,
    "metrics_outliers" -> metricsOutliers,
    "audit_funnel" -> funnel,
    "metrics_path_norm" -> metricsPathNorm,
    "metrics_confluent_map" -> metricsConfluentMap,
    "audit_top_actors_salted" -> topActorsSalted,
    "audit_counts_daily" -> countsDaily,
    "audit_cef" -> cefRender,
    "metrics_histogram" -> latencyHistogram,
    "audit_severity" -> severity,
    "audit_top_actors" -> topActors,
    "audit_failure_ratio" -> failureRatio,
    "audit_sessionize" -> sessionize,
    "metrics_latency_pctile" -> latencyPctile,
    "metrics_rate_1m" -> rate1m)

  /** Exposition synthesis + parse as a DuckDB CTE chain ending in
    * `parsed(name, series, val)` — mirrors [[promSeriesParsed]] and is
    * shared by the metrics_prom_parse and metrics_summary oracles.
    */
  private val promOracleCte: String =
    """ev AS (
      |  SELECT user_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |base AS (
      |  SELECT user_id, k, CAST(k % 100 AS VARCHAR) AS v,
      |    CAST(user_id % 2 AS VARCHAR) AS u2, CAST(user_id % 3 AS VARCHAR) AS u3,
      |    CAST(user_id % 4 AS VARCHAR) AS u4, CAST(user_id % 5 AS VARCHAR) AS u5,
      |    CAST(user_id % 6 AS VARCHAR) AS u6, CAST(user_id % 7 AS VARCHAR) AS u7
      |  FROM ev),
      |lines AS (
      |  SELECT CASE CAST(k % 16 AS INT)
      |    WHEN 0 THEN 'kafka_schema_registry_registered_count ' || v
      |    WHEN 1 THEN 'schema_registry_requests_total{method="m' || u3 || '",status="2xx"} ' || v
      |    WHEN 2 THEN 'schema_registry_schemas_total{type="t' || u4 || '"} ' || v
      |    WHEN 3 THEN CASE WHEN user_id % 2 = 0 THEN 'schema_registry_subjects_total ' || v
      |                     ELSE 'schema_registry_registrations_total{format="avro"} ' || v END
      |    WHEN 4 THEN 'schema_registry_compatibility_checks_total{level="L' || u3 || '"} ' || v
      |    WHEN 5 THEN 'schema_registry_storage_operations_total{op="o' || u5 || '"} ' || v
      |    WHEN 6 THEN 'schema_registry_cache_hits_total ' || v
      |    WHEN 7 THEN 'schema_registry_auth_attempts_total{method="a' || u2 || '"} ' || v
      |    WHEN 8 THEN 'schema_registry_rate_limit_hits_total ' || v
      |    WHEN 9 THEN 'schema_registry_mcp_tool_calls_total{tool="T' || u6 || '"} ' || v
      |    WHEN 10 THEN 'schema_registry_principal_requests_total{principal="p' || u7 || '"} ' || v
      |    WHEN 11 THEN 'go_goroutines ' || v
      |    WHEN 12 THEN 'process_cpu_seconds_total ' || v
      |    WHEN 13 THEN 'schema_registry_leader_elections_total ' || v
      |    WHEN 14 THEN '# HELP schema_registry_requests_total Total requests by method and status.'
      |    ELSE '# TYPE schema_registry_requests_total counter'
      |    END AS line
      |  FROM base),
      |parsed AS (
      |  SELECT regexp_extract(line, '^[^{ ]+') AS name,
      |    regexp_extract(line, '^[^ ]+') AS series,
      |    CAST(regexp_extract(line, ' ([0-9]+)$', 1) AS BIGINT) AS val
      |  FROM lines WHERE line NOT LIKE '#%')""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "metrics_heatmap" ->
      """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hod,
        |  count(*) AS n_events,
        |  floor(avg(value) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS mean_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,
    "metrics_apdex" ->
      """SELECT event_type, count(*) AS n_requests,
        |  CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
        |  CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
        |  CAST(sum(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frustrated,
        |  floor((sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END)
        |         + sum(CASE WHEN value > 50.0 AND value <= 200.0 THEN 1 ELSE 0 END) / 2.0)
        |        / count(*) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS apdex
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "metrics_rate_alert" ->
      """WITH m AS (
        |  SELECT date_trunc('minute', ts) AS minute, event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, minute, n_events,
        |    sum(n_events) OVER (PARTITION BY event_type ORDER BY minute
        |      ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS t_sum,
        |    count(n_events) OVER (PARTITION BY event_type ORDER BY minute
        |      ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS t_cnt
        |  FROM m)
        |SELECT event_type, minute, n_events,
        |  round(t_sum / 10.0, 4) AS trailing_avg,
        |  round(n_events * 10.0 / t_sum, 4) AS ratio
        |FROM t
        |WHERE t_cnt = 10 AND n_events * 20 > t_sum * 3
        |ORDER BY event_type, minute""".stripMargin,
    // The card spec VALUES mirror the handler's literal call order;
    // named entries left-join (miss → not_initialized row), families
    // inner-join on series prefix (miss → no rows), value = counter
    // accumulation over samples.
    "metrics_summary" ->
      s"""WITH $promOracleCte,
        |sagg AS (
        |  SELECT name, series, CAST(sum(val) AS BIGINT) AS value
        |  FROM parsed GROUP BY name, series),
        |spec(sec_order, section, item_order, kind, metric, descr) AS (VALUES
        |  (1, 'wire_counters', 1, 'named', 'kafka_schema_registry_registered_count', 'Schemas registered (total)'),
        |  (1, 'wire_counters', 2, 'named', 'kafka_schema_registry_deleted_count', 'Schemas deleted (total)'),
        |  (1, 'wire_counters', 3, 'named', 'kafka_schema_registry_api_success_count', 'Successful API calls (2xx/3xx)'),
        |  (1, 'wire_counters', 4, 'named', 'kafka_schema_registry_api_failure_count', 'Failed API calls (4xx/5xx)'),
        |  (1, 'wire_counters', 5, 'named', 'kafka_schema_registry_master_slave_role', 'Leader role (1=leader, 0=follower)'),
        |  (1, 'wire_counters', 6, 'named', 'kafka_schema_registry_node_count', 'Cluster node count'),
        |  (2, 'schema_counts_by_type', 1, 'family', 'kafka_schema_registry_schemas_created', NULL),
        |  (2, 'schema_counts_by_type', 2, 'family', 'kafka_schema_registry_schemas_deleted', NULL),
        |  (3, 'request', 1, 'named', 'schema_registry_requests_in_flight', 'Requests in flight'),
        |  (3, 'request', 2, 'family', 'schema_registry_requests_total', NULL),
        |  (4, 'schema', 1, 'family', 'schema_registry_schemas_total', NULL),
        |  (4, 'schema', 2, 'named', 'schema_registry_subjects_total', 'Total subjects'),
        |  (4, 'schema', 3, 'family', 'schema_registry_registrations_total', NULL),
        |  (5, 'compatibility', 1, 'family', 'schema_registry_compatibility_checks_total', NULL),
        |  (5, 'compatibility', 2, 'family', 'schema_registry_compatibility_errors_total', NULL),
        |  (6, 'storage', 1, 'family', 'schema_registry_storage_operations_total', NULL),
        |  (6, 'storage', 2, 'family', 'schema_registry_storage_errors_total', NULL),
        |  (7, 'cache', 1, 'family', 'schema_registry_cache_hits_total', NULL),
        |  (7, 'cache', 2, 'family', 'schema_registry_cache_misses_total', NULL),
        |  (7, 'cache', 3, 'family', 'schema_registry_cache_size', NULL),
        |  (8, 'auth', 1, 'family', 'schema_registry_auth_attempts_total', NULL),
        |  (8, 'auth', 2, 'family', 'schema_registry_auth_failures_total', NULL),
        |  (9, 'rate_limit', 1, 'family', 'schema_registry_rate_limit_hits_total', NULL),
        |  (10, 'mcp', 1, 'named', 'schema_registry_mcp_tool_calls_active', 'Active MCP tool calls'),
        |  (10, 'mcp', 2, 'family', 'schema_registry_mcp_tool_calls_total', NULL),
        |  (10, 'mcp', 3, 'family', 'schema_registry_mcp_tool_call_errors_total', NULL),
        |  (10, 'mcp', 4, 'family', 'schema_registry_mcp_confirmations_total', NULL),
        |  (10, 'mcp', 5, 'family', 'schema_registry_mcp_policy_denials_total', NULL),
        |  (10, 'mcp', 6, 'family', 'schema_registry_mcp_permission_denied_total', NULL),
        |  (11, 'per_principal', 1, 'family', 'schema_registry_principal_requests_total', NULL),
        |  (11, 'per_principal', 2, 'family', 'schema_registry_principal_mcp_calls_total', NULL)),
        |named AS (
        |  SELECT spec.*, sagg.series, sagg.value,
        |    CASE WHEN sagg.value IS NULL THEN 'not_initialized' ELSE 'ok' END AS status
        |  FROM spec LEFT JOIN sagg ON sagg.name = spec.metric
        |  WHERE spec.kind = 'named'),
        |fams AS (
        |  SELECT spec.*, sagg.series, sagg.value, 'ok' AS status
        |  FROM spec JOIN sagg ON starts_with(sagg.series, spec.metric)
        |  WHERE spec.kind = 'family')
        |SELECT CAST(sec_order AS BIGINT) AS sec_order, section,
        |  CAST(item_order AS BIGINT) AS item_order, kind, metric, descr,
        |  series, value, status
        |FROM (SELECT * FROM named UNION ALL SELECT * FROM fams)
        |ORDER BY sec_order, item_order, series""".stripMargin,
    "metrics_query_probe" ->
      s"""WITH $promOracleCte,
        |pat AS (SELECT unnest(['requests_total', 'cache', 'go_', 'leader_elections', 'principal']) AS pattern)
        |SELECT pattern, line, count(*) AS n_lines
        |FROM lines JOIN pat ON contains(line, pattern)
        |GROUP BY pattern, line ORDER BY pattern, line""".stripMargin,
    "metrics_prom_parse" ->
      s"""WITH $promOracleCte,
        |cat AS (
        |  SELECT name, series, val,
        |    CASE
        |    WHEN name LIKE 'kafka_schema_registry_%' THEN 'wire_compatible'
        |    WHEN name LIKE 'schema_registry_request%' THEN 'request'
        |    WHEN name LIKE 'schema_registry_schema%' OR name LIKE 'schema_registry_subject%'
        |      OR name LIKE 'schema_registry_registration%' THEN 'schema'
        |    WHEN name LIKE 'schema_registry_compatibility%' THEN 'compatibility'
        |    WHEN name LIKE 'schema_registry_storage%' THEN 'storage'
        |    WHEN name LIKE 'schema_registry_cache%' THEN 'cache'
        |    WHEN name LIKE 'schema_registry_auth%' THEN 'auth'
        |    WHEN name LIKE 'schema_registry_rate_limit%' THEN 'rate_limit'
        |    WHEN name LIKE 'schema_registry_mcp%' THEN 'mcp'
        |    WHEN name LIKE 'schema_registry_principal%' THEN 'principal'
        |    WHEN name LIKE 'go_%' THEN 'runtime'
        |    WHEN name LIKE 'process_%' THEN 'process'
        |    ELSE 'other' END AS category
        |  FROM parsed)
        |SELECT category, name, count(*) AS n_samples,
        |  count(DISTINCT series) AS n_series, CAST(sum(val) AS BIGINT) AS total
        |FROM cat GROUP BY category, name ORDER BY category, name""".stripMargin,
    "audit_growth" ->
      """WITH weekly AS (
        |  SELECT date_trunc('week', ts) AS week, count(*) AS n_registrations,
        |    count(DISTINCT user_id) AS n_active_subjects
        |  FROM events GROUP BY week)
        |SELECT week, n_registrations, n_active_subjects,
        |  CAST(sum(n_registrations) OVER (ORDER BY week ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative
        |FROM weekly ORDER BY week""".stripMargin,
    "audit_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(date_trunc('week', ts)) AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
        |SELECT cohort, CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS week_n,
        |  count(*) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY cohort, week_n ORDER BY cohort, week_n""".stripMargin,
    "metrics_rate_hop" ->
      """WITH g AS (
        |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, event_type FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '10 minutes', ts - INTERVAL '5 minutes')
        |           + INTERVAL '5 minutes' AS win_start, event_type FROM events)
        |SELECT win_start, event_type, count(*) AS n_events
        |FROM g GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,
    "metrics_outliers" ->
      """WITH s AS (
        |  SELECT event_type, avg(value) AS m, stddev(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN sd > 0 AND abs((value - m) / sd) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(CASE WHEN sd > 0 THEN abs((value - m) / sd) END), 4) AS max_abs_z
        |FROM events JOIN s USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "audit_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
        |  CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        |  CAST(sum(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM f""".stripMargin,
    "metrics_histogram" ->
      """WITH b AS (
        |  SELECT CAST(length(bin(CAST(floor(value) AS BIGINT))) - 1 AS BIGINT) AS bucket
        |  FROM events),
        |h AS (SELECT bucket, count(*) AS n_events FROM b GROUP BY bucket)
        |SELECT bucket, CAST(pow(2, bucket) AS BIGINT) AS lo_ms, n_events,
        |  floor(n_events / (SELECT CAST(sum(n_events) AS DOUBLE) FROM h) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS share
        |FROM h ORDER BY bucket""".stripMargin,
    "audit_cef" ->
      """SELECT event_id,
        |  'CEF:0|axonops|schema-registry|1.0|' || event_type || '|' || event_type ||
        |  ' by user ' || CAST(user_id AS VARCHAR) || '|' || CAST(severity AS VARCHAR) ||
        |  '|suser=' || CAST(user_id AS VARCHAR) || ' outcome=' ||
        |  CASE WHEN severity = 8 THEN 'failure' ELSE 'success' END AS cef
        |FROM (SELECT event_id, event_type, user_id,
        |        CASE WHEN event_type = 'error' THEN 8
        |             WHEN event_type IN ('purchase','signup') THEN 5
        |             ELSE 3 END AS severity
        |      FROM events)
        |WHERE severity >= 5 ORDER BY event_id""".stripMargin,
    "metrics_confluent_map" ->
      """WITH req AS (
        |  SELECT
        |    CASE WHEN k % 7 < 2 THEN 'GET' WHEN k % 7 < 4 THEN 'POST'
        |         WHEN k % 7 < 6 THEN 'PUT' ELSE 'DELETE' END AS method,
        |    CASE k % 6
        |    WHEN 0 THEN '/subjects/' || event_type || '/versions/' || user_id
        |    WHEN 1 THEN '/subjects/' || event_type || '/versions'
        |    WHEN 2 THEN '/subjects/' || event_type
        |    WHEN 3 THEN '/schemas/ids/' || user_id
        |    WHEN 4 THEN '/contexts/ctx' || (user_id % 5) || '/subjects/' || event_type || '/versions/' || k
        |    ELSE '/mode/' || event_type END AS path
        |  FROM (SELECT event_type, user_id,
        |          TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)),
        |stripped AS (
        |  SELECT method, path,
        |    CASE WHEN path LIKE '/contexts/%'
        |         THEN regexp_replace(path, '^/contexts/[^/]*', '') ELSE path END AS ipath
        |  FROM req),
        |normed AS (
        |  SELECT method,
        |    CASE WHEN ipath LIKE '/subjects/%' AND ipath LIKE '%/versions/%' THEN '/subjects/{subject}/versions/{version}'
        |         WHEN ipath LIKE '/subjects/%' AND ipath LIKE '%/versions' THEN '/subjects/{subject}/versions'
        |         WHEN ipath LIKE '/subjects/%' THEN '/subjects/{subject}'
        |         WHEN ipath LIKE '/schemas/ids/%' THEN '/schemas/ids/{id}'
        |         WHEN ipath LIKE '/config/%' THEN '/config/{subject}'
        |         WHEN ipath LIKE '/mode/%' THEN '/mode/{subject}'
        |         WHEN ipath LIKE '/compatibility/subjects/%' THEN '/compatibility/subjects/{subject}/versions/{version}'
        |         ELSE ipath END AS p
        |  FROM stripped),
        |mapped AS (
        |  SELECT CASE
        |    WHEN method = 'GET' AND p = '/schemas/ids/{id}' THEN 'schemas.ids.get-schema'
        |    WHEN method = 'POST' AND p = '/subjects/{subject}' THEN 'subjects.get-schema'
        |    WHEN method = 'DELETE' AND p = '/subjects/{subject}' THEN 'subjects.delete-subject'
        |    WHEN method = 'POST' AND p = '/subjects/{subject}/versions' THEN 'subjects.versions.register'
        |    WHEN method = 'GET' AND p = '/subjects/{subject}/versions' THEN 'subjects.versions.list'
        |    WHEN method = 'GET' AND p = '/subjects/{subject}/versions/{version}' THEN 'subjects.versions.get-schema'
        |    WHEN method = 'DELETE' AND p = '/subjects/{subject}/versions/{version}' THEN 'subjects.versions.deleteSchemaVersion-schema'
        |    WHEN method = 'POST' AND p LIKE '/compatibility/%' THEN 'compatibility.subjects.versions.verify'
        |    WHEN method = 'GET' AND p = '/mode/{subject}' THEN 'mode.get-subject'
        |    WHEN method = 'PUT' AND p = '/mode/{subject}' THEN 'mode.update-subject'
        |    WHEN method = 'DELETE' AND p = '/mode/{subject}' THEN 'mode.delete-subject'
        |    ELSE 'none' END AS confluent_endpoint
        |  FROM normed)
        |SELECT confluent_endpoint, count(*) AS n_requests
        |FROM mapped GROUP BY 1 ORDER BY confluent_endpoint""".stripMargin,
    "metrics_path_norm" ->
      """WITH req AS (
        |  SELECT CASE k % 6
        |    WHEN 0 THEN '/subjects/' || event_type || '/versions/' || user_id
        |    WHEN 1 THEN '/subjects/' || event_type || '/versions'
        |    WHEN 2 THEN '/subjects/' || event_type
        |    WHEN 3 THEN '/schemas/ids/' || user_id
        |    WHEN 4 THEN '/contexts/ctx' || (user_id % 5) || '/subjects/' || event_type || '/versions/' || k
        |    ELSE '/mode/' || event_type END AS path
        |  FROM (SELECT event_type, user_id,
        |          TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)),
        |stripped AS (
        |  SELECT path,
        |    CASE WHEN path LIKE '/contexts/%'
        |         THEN regexp_replace(path, '^/contexts/[^/]*', '') ELSE path END AS ipath
        |  FROM req),
        |normed AS (
        |  SELECT path,
        |    CASE WHEN ipath LIKE '/subjects/%' AND ipath LIKE '%/versions/%' THEN '/subjects/{subject}/versions/{version}'
        |         WHEN ipath LIKE '/subjects/%' AND ipath LIKE '%/versions' THEN '/subjects/{subject}/versions'
        |         WHEN ipath LIKE '/subjects/%' THEN '/subjects/{subject}'
        |         WHEN ipath LIKE '/schemas/ids/%' THEN '/schemas/ids/{id}'
        |         WHEN ipath LIKE '/config/%' THEN '/config/{subject}'
        |         WHEN ipath LIKE '/mode/%' THEN '/mode/{subject}'
        |         WHEN ipath LIKE '/compatibility/subjects/%' THEN '/compatibility/subjects/{subject}/versions/{version}'
        |         ELSE ipath END AS norm
        |  FROM stripped)
        |SELECT CASE WHEN path LIKE '/contexts/%' THEN '/contexts/{context}' || norm ELSE norm END AS endpoint,
        |  count(*) AS n_requests
        |FROM normed GROUP BY 1 ORDER BY endpoint""".stripMargin,
    "audit_top_actors_salted" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 20""".stripMargin,
    "audit_counts_daily" ->
      """SELECT cast(ts AS DATE) AS day, event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "audit_severity" ->
      """SELECT CASE WHEN event_type = 'error' THEN 8
        |            WHEN event_type IN ('purchase','signup') THEN 5
        |            ELSE 3 END AS severity,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1 ORDER BY severity""".stripMargin,
    "audit_top_actors" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 20""".stripMargin,
    "audit_failure_ratio" ->
      """SELECT user_id,
        |  floor(sum(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END) / count(*) * 10000 + 0.5) / cast(10000 AS double) AS failure_ratio,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "audit_sessionize" ->
      """SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events) a) b) c
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "metrics_latency_pctile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "metrics_rate_1m" ->
      """SELECT date_trunc('minute', ts) AS minute, event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY minute, event_type""".stripMargin,
    "audit_top_actors_daily" ->
      """WITH d AS (
        |  SELECT cast(ts AS DATE) AS day, user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT day, user_id, n_events,
        |    row_number() OVER (PARTITION BY day ORDER BY n_events DESC, user_id) AS rank
        |  FROM d)
        |SELECT day, rank, user_id, n_events FROM r
        |WHERE rank <= 3 ORDER BY day, rank""".stripMargin,
    "metrics_burn_rate" ->
      """WITH h1 AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h1, count(*) AS tot_1h,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_1h
        |  FROM events GROUP BY 1),
        |h6 AS (
        |  SELECT h1 // 6 AS h6, CAST(sum(tot_1h) AS BIGINT) AS tot_6h,
        |    CAST(sum(err_1h) AS BIGINT) AS err_6h
        |  FROM h1 GROUP BY 1)
        |SELECT h1.h1 * 3600 AS hour_start_s, h1.tot_1h, h1.err_1h,
        |  floor(h1.err_1h * 5 / CAST(h1.tot_1h AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS burn_1h,
        |  floor(h6.err_6h * 5 / CAST(h6.tot_6h AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS burn_6h,
        |  (h1.err_1h * 25 > h1.tot_1h * 6 AND h6.err_6h * 25 > h6.tot_6h * 6) AS alert
        |FROM h1 JOIN h6 ON h1.h1 // 6 = h6.h6
        |ORDER BY hour_start_s""".stripMargin)
}
