package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks as primitives, built with the
  * scalable compositions rather than brute force:
  *
  *  - AS-OF join via the union + sorted-window technique: both sides
  *    merge into one stream sorted by (key, ts), and a last_value
  *    window carries the most recent build-side row forward. One
  *    shuffle on the key, zero row explosion — the classic
  *    kdb/Flink-style merge as a Catalyst window.
  *  - Range join via time bucketing: probe rows join candidate
  *    buckets (bucket and bucket-1) instead of an inequality-only
  *    condition that would plan as a broadcast nested loop.
  */
object Temporal {

  /** AS-OF join: for every `purchase` event, the most recent prior
    * (or same-instant) `signup` event of the same user. The union
    * stream tags sides, the window carries the last signup forward.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("is_probe"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("is_probe"))
    // signups sort before purchases at the same ts (is_probe asc) so
    // a same-instant signup is visible to the probe
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_probe"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(signups)
      .withColumn("last_signup_ts",
        last(when(col("is_probe") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("last_signup_id",
        last(when(col("is_probe") === 0, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("is_probe") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("last_signup_ts"), col("last_signup_id"))
  }

  /** Range join: (click, purchase) pairs of the same user where the
    * purchase lands within 10 minutes after the click. Probe and
    * build join on (user, bucket) for the purchase's bucket and its
    * predecessor — a pure hash join whose per-task pair space is one
    * user-bucket, then the exact range filter.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val winSec = 600L
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"),
        (col("ts").cast("long") / winSec).cast("long").as("bucket"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"), col("ts").as("buy_ts"))
      .withColumn("b0", (col("buy_ts").cast("long") / winSec).cast("long"))
    val candidates = buys
      .withColumn("bucket", explode(array(col("b0") - 1, col("b0"))))
      .join(clicks, Seq("user_id", "bucket"))
    candidates
      .filter(col("buy_ts") >= col("click_ts") &&
        col("buy_ts").cast("long") - col("click_ts").cast("long") <= winSec)
      .select(col("user_id"), col("click_id"), col("buy_id"),
        (col("buy_ts").cast("long") - col("click_ts").cast("long")).as("delta_s"))
  }

  /** The same AS-OF semantics as [[asofJoin]], planned through the
    * custom Catalyst operator ([[graft.plans.AsOfJoin]] logical node
    * → AsOfJoinStrategy → AsOfJoinExec physical merge) registered
    * via SparkSessionExtensions / extraStrategies. One shuffle per
    * side (SortMergeJoin's distribution contract), O(1) merge state
    * per task — no union, no window buffering. Shares t_asof_join's
    * oracle: both plans must produce identical rows.
    */
  def asofCustom(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{AsOfJoin, AsOfJoinStrategy}
    AsOfJoinStrategy.ensureRegistered(s)
    val ev = Tables.events(s, dir)
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val builds = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
    val (lPlan, rPlan) = (probes.queryExecution.analyzed, builds.queryExecution.analyzed)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    org.apache.spark.sql.graftshim.GraftShim.ofRows(s,
      AsOfJoin(lPlan, rPlan,
        attr(lPlan, "p_user"), attr(rPlan, "s_user"),
        attr(lPlan, "p_ts"), attr(rPlan, "s_ts"),
        Seq(attr(rPlan, "s_id"))))
      .select(col("p_id").as("purchase_id"), col("p_user").as("user_id"),
        col("p_ts").as("purchase_ts"), col("s_ts").as("last_signup_ts"),
        col("s_id").as("last_signup_id"))
  }

  /** Time-series downsampling to OHLC bars — the metrics-compaction
    * pass every long-retention dashboard runs (raw points → one
    * open/high/low/close/mean bar per (series, hour)). Open/close are
    * the first/last points by (ts, event_id) — the deterministic
    * tie-break both engines order identically. One shuffle on the
    * (type, hour) bar key; both rank windows and the final aggregate
    * ride that single exchange (same partitioning, two sort orders).
    * At retention scale the bars table is what survives; raw points
    * age out — this operator IS the compaction job.
    */
  def downsample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = graft.Tables.events(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value"))
    val asc = Window.partitionBy(col("event_type"), col("hour"))
      .orderBy(col("ts"), col("event_id"))
    val desc = Window.partitionBy(col("event_type"), col("hour"))
      .orderBy(col("ts").desc, col("event_id").desc)
    pts
      .withColumn("ra", row_number().over(asc))
      .withColumn("rd", row_number().over(desc))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n_points"),
        max(when(col("ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"),
        (floor(avg(col("value")) * 10000 + 0.5) / lit(10000.0)).as("mean_value"))
  }

  /** Regular-grid resampling with forward fill — the TSDB gap-filling
    * pass (a dashboard needs one value per minute whether or not a
    * point arrived): every series resamples onto ONE shared minute
    * grid spanning the corpus-wide [min, max] (aligned axes are the
    * dashboard contract — a per-series span would clip each panel
    * differently), observed minutes aggregate to a 4dp mean, and gaps carry the
    * last observed value forward (`last ... ignoreNulls` running
    * window); minutes before a series' first point stay NULL —
    * fill-forward never invents history.
    *
    * Scale: the grid is O(time span × series), NOT O(events) — 30
    * days × 5 series is ~216k rows however many billions of raw
    * points aggregate into it; the raw stream is touched once by the
    * minute rollup. The fill window partitions per series; on spans
    * too long for one partition the production form splits per
    * (series, day) and hands the boundary value across — the plan
    * shape stays identical.
    */
  def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val grid = minuteBounds(ev)
      .select(col("event_type"),
        explode(expr("sequence(t0, t1, interval 1 minute)")).as("minute"))
    val obs = minuteObs(ev)
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "minute"), "left")
      .withColumn("value_filled", last(col("v_obs"), ignoreNulls = true).over(w))
      .select(col("event_type"), col("minute"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("n_obs").isNotNull.as("is_observed"),
        col("value_filled"))
  }

  /** (event_type, t0, t1): every series with the corpus-wide minute
    * bounds, the one span the minute grids of [[resampleFfill]],
    * [[interpolate]] and their day-partitioned forms cover. One
    * events pass (r12, guide §2.4): the per-type rollup carries the
    * global bounds as window min/max over its ≤types rows — a
    * distinct + broadcast-aggregate pair scanned the events twice for
    * the same (types × [t0, t1]) frame.
    */
  private def minuteBounds(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .select(col("event_type"),
        date_trunc("minute", min(col("mn")).over(Window.partitionBy())).as("t0"),
        date_trunc("minute", max(col("mx")).over(Window.partitionBy())).as("t1"))

  /** (event_type, minute, n_obs, v_obs): the observed minutes of every
    * series, their count and 4dp mean — the raw stream's one touch.
    */
  private def minuteObs(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n_obs"),
        (floor(avg(col("value")) * 10000 + 0.5) / lit(10000.0)).as("v_obs"))

  /** Linear gap interpolation on the minute grid — the sibling of
    * [[resampleFfill]] for continuous signals (a gauge read every few
    * minutes wants the line between observations, not a step).
    * Interior gaps take v_prev + (v_next − v_prev) · Δt/Δtotal with
    * INTEGER minute arithmetic for the fraction (cross-engine exact);
    * the leading edge back-fills, the trailing edge forward-fills.
    * Both neighbor scans run as RUNNING frames (unbounded-preceding →
    * current row): the backward pass in minute order, the forward pass
    * in REVERSE minute order over the same per-type exchange. A
    * current-row → unbounded-following frame would be quadratic —
    * Spark's UnboundedFollowing window frame re-aggregates the
    * remainder of the partition for every row, which at a month-long
    * minute grid is ~2·10⁹ updates per series (measured: minutes per
    * series at sf0.1) — while a running frame is a single incremental
    * pass; the reverse sort costs O(n log n) once. The grid fan-out is
    * per-type bounded and the only corpus shuffle is the minute-level
    * pre-aggregation — identical scale shape to the forward-fill
    * resampler.
    */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val grid = minuteBounds(ev)
      .select(col("event_type"),
        explode(expr("sequence(t0, t1, interval 1 minute)")).as("minute"))
    val obs = minuteObs(ev)
    val wb = Window.partitionBy(col("event_type")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("event_type")).orderBy(col("minute").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "minute"), "left")
      // mobs precomputed BEFORE the windows so each direction's two
      // `last`s are plain column refs — CollapseWindow then fuses them
      // into ONE Window node per sort direction (a `when` inline in the
      // second withColumn inserts a Project between the nodes and
      // defeats the fusion: 4 Window nodes instead of 2)
      .withColumn("mobs", when(col("v_obs").isNotNull, col("minute")))
      .withColumn("vp", last(col("v_obs"), ignoreNulls = true).over(wb))
      .withColumn("tp", last(col("mobs"), ignoreNulls = true).over(wb))
      .withColumn("vn", last(col("v_obs"), ignoreNulls = true).over(wf))
      .withColumn("tn", last(col("mobs"), ignoreNulls = true).over(wf))
      .select(col("event_type"), col("minute"),
        col("v_obs").isNotNull.as("is_observed"),
        expr("""floor((CASE
          WHEN v_obs IS NOT NULL THEN v_obs
          WHEN vp IS NULL THEN vn
          WHEN vn IS NULL THEN vp
          ELSE vp + (vn - vp) * (timestampdiff(MINUTE, tp, minute) / cast(timestampdiff(MINUTE, tp, tn) AS double))
        END) * 10000 + 0.5) / cast(10000 AS double)""").as("value_interp"))
  }

  /** The long-span production form of [[resampleFfill]] (r8 — the
    * 100 TB shape SURVEY §2 documents): the fill window partitions by
    * (series, DAY) — ≤1440 rows per partition however long the span —
    * and the value carried across midnight is handed over through a
    * DAY-level pre-pass: each day's closing observation rolls up per
    * (series, day) (max_by on the minute key), and a running
    * last-ignore-nulls over the day SPINE (every calendar day in the
    * span, so whole-day gaps still carry) with an unbounded-preceding
    * → -1 frame yields each day's carry-in. Output is row-for-row
    * identical to the span-wide window (spec-asserted): within-day
    * fill wins when the day has an earlier observation, the carry-in
    * covers the rest, and minutes before a series' first point stay
    * NULL because no preceding day has a close.
    *
    * Scale: the minute window is per-(series, day) — a multi-year
    * span never serializes one series into one task; the day-level
    * handoff window is O(days) per series (thousands of rows where
    * the minute grid has millions). Same single corpus shuffle (the
    * minute rollup) as the span-wide form.
    */
  def resampleFfillSpans(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val daySpine = minuteBounds(ev)
      .select(col("event_type"), col("t0"), col("t1"),
        explode(expr("sequence(date_trunc('DAY', t0), date_trunc('DAY', t1), interval 1 day)")).as("day"))
    val obs = minuteObs(ev)
    val dayClose = obs
      .groupBy(col("event_type"), date_trunc("day", col("minute")).as("day"))
      .agg(expr("max_by(v_obs, minute)").as("day_close"))
    val wDays = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = daySpine.join(dayClose, Seq("event_type", "day"), "left")
      .withColumn("carry_in", last(col("day_close"), ignoreNulls = true).over(wDays))
    val grid = carried.select(col("event_type"), col("day"), col("carry_in"),
      explode(expr(
        "sequence(greatest(day, t0), least(day + interval 1 day - interval 1 minute, t1), interval 1 minute)"))
        .as("minute"))
    val wd = Window.partitionBy(col("event_type"), col("day")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "minute"), "left")
      .withColumn("value_filled",
        coalesce(last(col("v_obs"), ignoreNulls = true).over(wd), col("carry_in")))
      .select(col("event_type"), col("minute"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("n_obs").isNotNull.as("is_observed"),
        col("value_filled"))
  }

  /** The long-span production form of [[interpolate]] (r8): both
    * neighbor scans partition by (series, DAY) and the cross-midnight
    * neighbors hand over through the day spine — carry_in is the
    * closing (value, minute) of any preceding day (running
    * last-ignore-nulls, frame ending at -1), carry_next the opening
    * (value, minute) of any following day (same frame over the
    * reversed day order). Within a day the running frames are as in
    * [[interpolate]]; at the edges the carried struct substitutes.
    * Row-for-row identical output (spec-asserted), per-(series, day)
    * bounded partitions.
    */
  def interpolateSpans(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val daySpine = minuteBounds(ev)
      .select(col("event_type"), col("t0"), col("t1"),
        explode(expr("sequence(date_trunc('DAY', t0), date_trunc('DAY', t1), interval 1 day)")).as("day"))
    val obs = minuteObs(ev)
    val dayEnds = obs
      .groupBy(col("event_type"), date_trunc("day", col("minute")).as("day"))
      .agg(expr("max_by(named_struct('v', v_obs, 'm', minute), minute)").as("close_s"),
        expr("min_by(named_struct('v', v_obs, 'm', minute), minute)").as("open_s"))
    val wPrevDays = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNextDays = Window.partitionBy(col("event_type")).orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = daySpine.join(dayEnds, Seq("event_type", "day"), "left")
      .withColumn("carry_in", last(col("close_s"), ignoreNulls = true).over(wPrevDays))
      .withColumn("carry_next", last(col("open_s"), ignoreNulls = true).over(wNextDays))
    val grid = carried.select(col("event_type"), col("day"),
      col("carry_in"), col("carry_next"),
      explode(expr(
        "sequence(greatest(day, t0), least(day + interval 1 day - interval 1 minute, t1), interval 1 minute)"))
        .as("minute"))
    val wb = Window.partitionBy(col("event_type"), col("day")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("event_type"), col("day")).orderBy(col("minute").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "minute"), "left")
      .withColumn("mobs", when(col("v_obs").isNotNull, col("minute")))
      .withColumn("vp", coalesce(last(col("v_obs"), ignoreNulls = true).over(wb), col("carry_in.v")))
      .withColumn("tp", coalesce(last(col("mobs"), ignoreNulls = true).over(wb), col("carry_in.m")))
      .withColumn("vn", coalesce(last(col("v_obs"), ignoreNulls = true).over(wf), col("carry_next.v")))
      .withColumn("tn", coalesce(last(col("mobs"), ignoreNulls = true).over(wf), col("carry_next.m")))
      .select(col("event_type"), col("minute"),
        col("v_obs").isNotNull.as("is_observed"),
        expr("""floor((CASE
          WHEN v_obs IS NOT NULL THEN v_obs
          WHEN vp IS NULL THEN vn
          WHEN vn IS NULL THEN vp
          ELSE vp + (vn - vp) * (timestampdiff(MINUTE, tp, minute) / cast(timestampdiff(MINUTE, tp, tn) AS double))
        END) * 10000 + 0.5) / cast(10000 AS double)""").as("value_interp"))
  }

  /** Exact half-life weights 2⁻ᵏ as decimal literals, inlined into
    * BOTH engines' expression text. Multiplying a double by 2⁻ᵏ is
    * exact (exponent shift), and both sides sum the 16 terms in the
    * same left-associated order, so the smoothed value is
    * bit-identical cross-engine — the documented alternative to libm
    * pow (which is not).
    */
  private val ewmaWeights: IndexedSeq[String] = (0 until 16).map(k =>
    java.math.BigDecimal.ONE.divide(new java.math.BigDecimal(2).pow(k)).toPlainString)

  /** The EWMA numerator/denominator as SQL text over `v_obs`, shared
    * verbatim by the Spark plan and the DuckDB oracle: term k is the
    * k-th previous observation of the same series weighted 2⁻ᵏ
    * (missing history contributes 0 to both sums, so the early rows
    * renormalize over the observations that exist).
    */
  private def ewmaSums(over: String): (String, String) = {
    val num = ewmaWeights.zipWithIndex.map {
      case (w, 0) => s"v_obs * $w"
      case (w, k) => s"coalesce(lag(v_obs, $k) OVER $over * $w, 0.0)"
    }.mkString(" + ")
    val den = ewmaWeights.zipWithIndex.map {
      case (w, 0) => s"$w"
      case (w, k) => s"(CASE WHEN lag(v_obs, $k) OVER $over IS NULL THEN 0.0 ELSE $w END)"
    }.mkString(" + ")
    (num, den)
  }

  /** Exponentially-weighted moving average per metric series — the
    * smoothing pass a dashboard or anomaly detector runs over noisy
    * per-minute values (half-life = one observation: weight 2⁻ᵏ on
    * the k-th previous minute bar, truncated at 16 terms where the
    * residual mass is < 0.002%). Truncation makes the operator a
    * bounded window instead of an unbounded recursion — Spark has no
    * recursive window, and the 16-term form is embarrassingly
    * parallel.
    *
    * Scale: one shuffle for the (type, minute) rollup; all 31 lag
    * terms share ONE window sort on the same exchange (identical
    * partition/order spec), so the smoothing pass adds no shuffle.
    * Weights are powers of two, so every product is exact and both
    * engines agree bit-for-bit (see [[ewmaWeights]]).
    */
  def ewmaSmooth(s: SparkSession, dir: String): DataFrame = {
    val over = "(PARTITION BY event_type ORDER BY minute)"
    val (num, den) = ewmaSums(over)
    Tables.events(s, dir)
      .select(col("event_type"), date_trunc("minute", col("ts")).as("minute"), col("value"))
      .groupBy(col("event_type"), col("minute"))
      .agg((floor(avg(col("value")) * 10000 + 0.5) / lit(10000.0)).as("v_obs"))
      .selectExpr("event_type", "minute", "v_obs",
        s"floor(($num) / ($den) * 10000 + 0.5) / cast(10000 AS double) AS ewma")
  }

  /** Robust anomaly detection per metric series: flag minute bars
    * whose deviation from the series MEDIAN exceeds 3× the median
    * absolute deviation. Median/MAD instead of mean/σ so the
    * detector doesn't let the outliers it hunts inflate its own
    * threshold. Both medians are RANK-SELECTED (the lower median —
    * the element at row (n+1)/2 in (value, minute) order), never
    * interpolated: interpolation arithmetic is an engine-specific
    * float blend, while element selection is exact and
    * cross-engine-identical; at cluster scale rank selection is also
    * the shape that doesn't need a global percentile sketch.
    *
    * Scale: one (type, minute) rollup shuffle; both rank windows run
    * per-series on the calendar-sized rollup (its three consumers
    * read the rollup's one exchange, reused within the query); the
    * two 1-row-per-series median frames
    * broadcast back.
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("minute", col("ts")).as("minute"), col("value"))
      .groupBy(col("event_type"), col("minute"))
      .agg((floor(avg(col("value")) * 10000 + 0.5) / lit(10000.0)).as("v_obs"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type")).orderBy(col(valueCol), col("minute"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = lowerMedian(obs, "v_obs", "med")
    val dev = obs.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("v_obs") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .where(col("dev") > col("mad") * 3)
      .select(col("event_type"), col("minute"), col("v_obs"),
        (floor(col("med") * 10000 + 0.5) / 10000.0).as("med"),
        (floor(col("dev") * 10000 + 0.5) / 10000.0).as("dev"),
        (floor(col("mad") * 10000 + 0.5) / 10000.0).as("mad"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_anomaly_mad" -> anomalyMad,
    "t_resample_ffill" -> resampleFfill,
    "t_resample_spans" -> resampleFfillSpans,
    "t_interpolate" -> interpolate,
    "t_interpolate_spans" -> interpolateSpans,
    "t_downsample" -> downsample,
    "t_ewma" -> ewmaSmooth,
    "t_asof_join" -> asofJoin,
    "t_asof_custom" -> asofCustom,
    "t_range_join" -> rangeJoin)

  private val ewmaOracle: String = {
    val (num, den) = ewmaSums("(PARTITION BY event_type ORDER BY minute)")
    s"""WITH obs AS (
       |  SELECT event_type, date_trunc('minute', ts) AS minute,
       |    floor(avg(value) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS v_obs
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, minute, v_obs,
       |  floor(($num) / ($den) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS ewma
       |FROM obs ORDER BY event_type, minute""".stripMargin
  }

  /** The span variants produce row-identical output to their
    * span-wide siblings, so their oracles are the SAME SQL — the
    * split is a plan-shape change, not a semantic one.
    */
  lazy val oracleSql: Map[String, String] = baseOracleSql ++ Map(
    "t_resample_spans" -> baseOracleSql("t_resample_ffill"),
    "t_interpolate_spans" -> baseOracleSql("t_interpolate"))

  private lazy val baseOracleSql: Map[String, String] = Map(
    "t_anomaly_mad" ->
      """WITH obs AS (
        |  SELECT event_type, date_trunc('minute', ts) AS minute,
        |    floor(avg(value) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS v_obs
        |  FROM events GROUP BY 1, 2),
        |mr AS (
        |  SELECT event_type, v_obs, minute,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v_obs, minute) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM obs),
        |med AS (SELECT event_type, v_obs AS med FROM mr WHERE rn = (n + 1) // 2),
        |dv AS (
        |  SELECT o.event_type, o.minute, o.v_obs, m.med, abs(o.v_obs - m.med) AS dev
        |  FROM obs o JOIN med m USING (event_type)),
        |dr AS (
        |  SELECT event_type, dev, minute,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev, minute) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dv),
        |mad AS (SELECT event_type, dev AS mad FROM dr WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.minute, d.v_obs,
        |  floor(d.med * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS med,
        |  floor(d.dev * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS dev,
        |  floor(a.mad * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS mad
        |FROM dv d JOIN mad a USING (event_type)
        |WHERE d.dev > a.mad * 3
        |ORDER BY d.event_type, d.minute""".stripMargin,
    "t_ewma" -> ewmaOracle,
    "t_resample_ffill" ->
      """WITH b AS (
        |  SELECT date_trunc('minute', min(ts)) AS t0, date_trunc('minute', max(ts)) AS t1
        |  FROM events),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS minute
        |  FROM ty, b),
        |obs AS (
        |  SELECT event_type, date_trunc('minute', ts) AS minute, count(*) AS n_obs,
        |    floor(avg(value) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS v_obs
        |  FROM events GROUP BY 1, 2)
        |SELECT g.event_type, g.minute,
        |  coalesce(o.n_obs, 0) AS n_obs,
        |  o.n_obs IS NOT NULL AS is_observed,
        |  last_value(o.v_obs IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.minute
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.minute = o.minute
        |ORDER BY g.event_type, g.minute""".stripMargin,
    "t_interpolate" ->
      """WITH b AS (
        |  SELECT date_trunc('minute', min(ts)) AS t0, date_trunc('minute', max(ts)) AS t1
        |  FROM events),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS minute
        |  FROM ty, b),
        |obs AS (
        |  SELECT event_type, date_trunc('minute', ts) AS minute,
        |    floor(avg(value) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS v_obs
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT g.event_type, g.minute, o.v_obs,
        |    last_value(o.v_obs IGNORE NULLS) OVER wprec AS vp,
        |    last_value(CASE WHEN o.v_obs IS NOT NULL THEN g.minute END IGNORE NULLS) OVER wprec AS tp,
        |    first_value(o.v_obs IGNORE NULLS) OVER wfoll AS vn,
        |    first_value(CASE WHEN o.v_obs IS NOT NULL THEN g.minute END IGNORE NULLS) OVER wfoll AS tn
        |  FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.minute = o.minute
        |  WINDOW wprec AS (PARTITION BY g.event_type ORDER BY g.minute
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wfoll AS (PARTITION BY g.event_type ORDER BY g.minute
        |                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, minute, v_obs IS NOT NULL AS is_observed,
        |  floor((CASE WHEN v_obs IS NOT NULL THEN v_obs
        |              WHEN vp IS NULL THEN vn
        |              WHEN vn IS NULL THEN vp
        |              ELSE vp + (vn - vp) * (date_diff('minute', tp, minute) / CAST(date_diff('minute', tp, tn) AS DOUBLE))
        |         END) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS value_interp
        |FROM j ORDER BY event_type, minute""".stripMargin,
    "t_downsample" ->
      """WITH p AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hour ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, hour ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM p)
        |SELECT event_type, hour, count(*) AS n_points,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  floor(avg(value) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS mean_value
        |FROM r GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin,
    "t_asof_custom" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe
        |  FROM events WHERE event_type IN ('purchase', 'signup')),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN is_probe = 0 THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts,
        |    last_value(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_id
        |  FROM u)
        |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, last_signup_ts, last_signup_id
        |FROM w WHERE is_probe = 1 ORDER BY purchase_id""".stripMargin,
    "t_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe
        |  FROM events WHERE event_type IN ('purchase', 'signup')),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN is_probe = 0 THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts,
        |    last_value(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_id
        |  FROM u)
        |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, last_signup_ts, last_signup_id
        |FROM w WHERE is_probe = 1 ORDER BY purchase_id""".stripMargin,
    "t_range_join" ->
      """SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
        |  date_diff('second', c.ts, b.ts) AS delta_s
        |FROM events c JOIN events b
        |  ON c.user_id = b.user_id AND c.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= c.ts AND date_diff('second', c.ts, b.ts) <= 600
        |ORDER BY c.user_id, click_id, buy_id""".stripMargin)
}
