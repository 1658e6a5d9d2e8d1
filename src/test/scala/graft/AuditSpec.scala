package graft

import graft.operators.Audit
import org.apache.spark.sql.functions._

class AuditSpec extends SparkSpec {

  test("severity buckets cover all events") {
    val rows = Audit.severity(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sfDir).count())
    assert(rows.map(_.getAs[Int]("severity")).toSet.subsetOf(Set(3, 5, 8)))
  }

  test("top actors bounded at 20, sorted desc") {
    val rows = Audit.topActors(spark, sfDir).collect()
    assert(rows.length <= 20)
    val counts = rows.map(_.getAs[Long]("n_events"))
    assert(counts.sameElements(counts.sortBy(-_)))
  }

  test("failure ratio within [0,1]") {
    val bad = Audit.failureRatio(spark, sfDir)
      .filter(col("failure_ratio") < 0 || col("failure_ratio") > 1)
    assert(bad.count() == 0)
  }

  test("sessionize: session count never exceeds event count") {
    val bad = Audit.sessionize(spark, sfDir)
      .filter(col("n_sessions") > col("n_events") || col("n_sessions") < 1)
    assert(bad.count() == 0)
  }

  test("latency percentiles are ordered p50 <= p95 <= p99") {
    val bad = Audit.latencyPctile(spark, sfDir)
      .filter(col("p50") > col("p95") || col("p95") > col("p99"))
    assert(bad.count() == 0)
  }

  test("CEF rendering: well-formed lines, only actionable severities") {
    val rows = Audit.cefRender(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val cefPattern = """CEF:0\|axonops\|schema-registry\|1\.0\|\w+\|\w+ by user \d+\|[58]\|suser=\d+ outcome=(failure|success)""".r
    rows.foreach { r =>
      val cef = r.getAs[String]("cef")
      assert(cefPattern.matches(cef), s"malformed: $cef")
      // severity/outcome coupling: 8 ⇔ failure, 5 ⇔ success
      assert(cef.contains("|8|") == cef.endsWith("outcome=failure"))
    }
    // the filter kept exactly the error/purchase/signup events
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("error", "purchase", "signup")).count()
    assert(rows.length == expected)
  }

  test("latency histogram: power-of-2 buckets partition all events, shares sum to 1") {
    val rows = Audit.latencyHistogram(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == total)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-2)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Long]("lo_ms") == (1L << b))
    }
    // buckets hold exactly the events whose floored latency has that bit length
    val b3 = Tables.events(spark, sfDir)
      .filter(floor(col("value")) >= 8 && floor(col("value")) < 16).count()
    val reported = rows.find(_.getAs[Long]("bucket") == 3L).map(_.getAs[Long]("n_events")).getOrElse(0L)
    assert(reported == b3)
  }

  test("metrics outliers: z-threshold matches a manual two-pass computation") {
    val rows = Audit.metricsOutliers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sfDir).count())
    // outliers are rare by construction of a 3-sigma cut
    rows.foreach { r =>
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n_events") / 10)
    }
  }

  test("daily rollup is incrementally maintainable: merge(agg(old), agg(delta)) == agg(full)") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val cut = lit("2024-01-15").cast("timestamp")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    val merged = rollup(ev.filter(col("ts") < cut))
      .unionByName(rollup(ev.filter(col("ts") >= cut)))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"))
      .orderBy(col("day"), col("event_type"))
      .collect().map(r => (r.getDate(0), r.getString(1), r.getLong(2)))
    val full = Audit.countsDaily(spark, sfDir)
      .collect().map(r => (r.getDate(0), r.getString(1), r.getLong(2)))
      .sortBy(r => (r._1.toLocalDate.toEpochDay, r._2))
    assert(merged.sameElements(full))
  }

  test("retention cohorts: week-0 count equals the cohort population") {
    val rows = Audit.retention(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getDate(0))
    byCohort.values.foreach { ws =>
      val w0 = ws.find(_.getAs[Long]("week_n") == 0L).get.getAs[Long]("n_users")
      // week 0 is the max: every cohort member is active in their first week
      assert(ws.forall(_.getAs[Long]("n_users") <= w0))
    }
    val total = byCohort.map { case (_, ws) =>
      ws.find(_.getAs[Long]("week_n") == 0L).get.getAs[Long]("n_users") }.sum
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(total == users)
  }

  test("audit funnel: stages are monotonically non-increasing") {
    val r = Audit.funnel(spark, sfDir).head()
    val (u, v, c, f) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_viewed"),
      r.getAs[Long]("n_view_click"), r.getAs[Long]("n_full_funnel"))
    assert(u >= v && v >= c && c >= f && v > 0)
  }

  test("growth: cumulative is monotone and ends at the corpus total") {
    val rows = Audit.growth(spark, sfDir).collect()
      .sortBy(_.getAs[java.sql.Date]("week").toLocalDate.toEpochDay)
    assert(rows.nonEmpty)
    val cums = rows.map(_.getAs[Long]("cumulative"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a })
    assert(cums.last == Tables.events(spark, sfDir).count())
  }

  test("confluent endpoint map: method x path keys the mapping, unmapped requests land in 'none'") {
    val rows = operators.Audit.metricsConfluentMap(spark, sfDir).collect()
      .map(r => r.getAs[String]("confluent_endpoint") -> r.getAs[Long]("n_requests")).toMap
    // several real endpoint classes materialize from the corpus
    assert(rows.keySet.count(_ != "none") >= 5, s"got ${rows.keySet}")
    // the same normalized path maps differently per verb
    assert(rows.contains("subjects.versions.register") || rows.contains("subjects.versions.list"))
    // requests with no Confluent equivalent are counted, not dropped
    assert(rows.getOrElse("none", 0L) > 0)
    // totals reconcile with the path-norm view (same request stream)
    val pathTotal = operators.Audit.metricsPathNorm(spark, sfDir).collect()
      .map(_.getAs[Long]("n_requests")).sum
    assert(rows.values.sum == pathTotal)
  }

  test("prometheus catalog classifies every prefix class and skips comments") {
    val rows = operators.Audit.promParse(spark, sfDir).collect()
    val byCat = rows.groupBy(_.getAs[String]("category"))
    // every category of the reference's categoryPrefixes table
    // materializes from the synthesized exposition stream, plus the
    // no-prefix-matches 'other' default (tools_metrics.go:125)
    val expected = Set("wire_compatible", "request", "schema", "compatibility",
      "storage", "cache", "auth", "rate_limit", "mcp", "principal",
      "runtime", "process", "other")
    assert(byCat.keySet == expected, s"got ${byCat.keySet}")
    // comment lines never reach the catalog
    assert(rows.forall(!_.getAs[String]("name").startsWith("#")))
    // the multi-prefix 'schema' category carries all three name stems
    val schemaNames = byCat("schema").map(_.getAs[String]("name")).toSet
    assert(schemaNames == Set("schema_registry_schemas_total",
      "schema_registry_subjects_total", "schema_registry_registrations_total"))
    // label combinations count as distinct series; bare metrics as one
    val series = rows.map(r => r.getAs[String]("name") -> r.getAs[Long]("n_series")).toMap
    assert(series("schema_registry_requests_total") == 3, "method label has 3 values")
    assert(series("go_goroutines") == 1, "an unlabeled metric is one series")
    // the deliberately-unmatched name lands in 'other', nothing else does
    assert(byCat("other").map(_.getAs[String]("name")).toSet ==
      Set("schema_registry_leader_elections_total"))
  }

  test("rate alerts fire only on genuine bursts past a full baseline") {
    // sf0.001's event stream is exactly 1 event/minute/type — alerts
    // are structurally impossible there, so this spec drives sf0.01
    val dir = "/root/testdata/sf0.01"
    val alerts = operators.Audit.rateAlert(spark, dir).collect()
    assert(alerts.nonEmpty, "sf0.01 contains bursty minutes")
    alerts.foreach { r =>
      assert(r.getAs[Double]("ratio") >= 1.5 - 1e-9,
        "an alert means n exceeded 1.5x the trailing average")
      assert(r.getAs[Double]("trailing_avg") > 0)
      assert(r.getAs[Long]("n_events") > r.getAs[Double]("trailing_avg"))
    }
    // cold-start guard: a type's first 10 observed minutes never alert
    import org.apache.spark.sql.expressions.Window
    val first10 = operators.Audit.rate1m(spark, dir)
      .withColumn("k", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("minute"))))
      .filter(col("k") <= 10)
      .select(col("event_type"), col("minute")).collect()
      .map(r => (r.getAs[String]("event_type"), r.get(1))).toSet
    assert(alerts.forall(r => !first10.contains((r.getAs[String]("event_type"), r.get(1)))))
    // and the degenerate uniform stream produces zero alerts
    assert(operators.Audit.rateAlert(spark, sfDir).count() == 0)
  }

  test("heatmap covers the week grid and recounts the stream") {
    val rows = operators.Audit.heatmap(spark, sfDir).collect()
    assert(rows.length <= 168)
    assert(rows.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, sfDir).count())
    rows.foreach { r =>
      val (dow, hod) = (r.getAs[Long]("dow"), r.getAs[Long]("hod"))
      assert(dow >= 0 && dow <= 6 && hod >= 0 && hod <= 23)
    }
    // the synthetic stream runs continuously: every weekday must appear
    assert(rows.map(_.getAs[Long]("dow")).distinct.length == 7)
  }

  test("metrics summary card: section program, miss rows, and values tie to the parse catalog") {
    val rows = operators.Audit.metricsSummary(spark, sfDir).collect()
    val catalog = operators.Audit.promParse(spark, sfDir).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("total")).toMap
    // the handler's named counters that never increment in the stream
    // must render as not_initialized rows with no series/value
    val missing = rows.filter(_.getAs[String]("status") == "not_initialized")
    assert(missing.map(_.getAs[String]("metric")).toSet == Set(
      "kafka_schema_registry_deleted_count", "kafka_schema_registry_api_success_count",
      "kafka_schema_registry_api_failure_count", "kafka_schema_registry_master_slave_role",
      "kafka_schema_registry_node_count", "schema_registry_requests_in_flight",
      "schema_registry_mcp_tool_calls_active"))
    missing.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("series")) && r.isNullAt(r.fieldIndex("value")))
    }
    // every family row's series carries its prefix; empty families render nothing
    rows.filter(_.getAs[String]("kind") == "family").foreach { r =>
      assert(r.getAs[String]("series").startsWith(r.getAs[String]("metric")))
    }
    assert(!rows.exists(_.getAs[String]("metric") == "schema_registry_cache_misses_total"))
    // counter accumulation ties to the catalog totals, per family and named
    val reqTotal = rows.filter(_.getAs[String]("metric") == "schema_registry_requests_total")
      .map(_.getAs[Long]("value")).sum
    assert(reqTotal == catalog("schema_registry_requests_total"))
    val reg = rows.filter(_.getAs[String]("metric") == "kafka_schema_registry_registered_count")
    assert(reg.length == 1 && reg.head.getAs[String]("status") == "ok" &&
      reg.head.getAs[Long]("value") == catalog("kafka_schema_registry_registered_count"))
    // sec_order carries the handler's section order: read in that
    // order, the sections appear as the handler writes them
    val sections = Seq("wire_counters", "schema_counts_by_type", "request", "schema",
      "compatibility", "storage", "cache", "auth", "rate_limit", "mcp", "per_principal")
    val bySec = rows.groupBy(_.getAs[Long]("sec_order"))
      .view.mapValues(_.map(_.getAs[String]("section")).distinct.toSeq).toMap
    assert(bySec.values.forall(_.length == 1), "one section per sec_order")
    assert(bySec.toSeq.sortBy(_._1).map(_._2.head) == sections.filter(bySec.values.flatten.toSet))
  }

  test("apdex: class counts partition the requests and score matches recomputation") {
    val vals = Tables.events(spark, sfDir)
      .select("event_type", "value").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Double]("value")))
      .groupBy(_._1)
    val rows = operators.Audit.apdex(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet == vals.keySet)
    rows.foreach { r =>
      val vs = vals(r.getAs[String]("event_type")).map(_._2)
      val (n, sat, tol, fru) = (r.getAs[Long]("n_requests"), r.getAs[Long]("n_satisfied"),
        r.getAs[Long]("n_tolerating"), r.getAs[Long]("n_frustrated"))
      assert(n == vs.length && sat + tol + fru == n)
      assert(sat == vs.count(_ <= 50.0) && fru == vs.count(_ > 200.0))
      val score = math.floor((sat + tol / 2.0) / n * 10000 + 0.5) / 10000.0
      assert(r.getAs[Double]("apdex") == score)
      assert(score >= 0.0 && score <= 1.0)
    }
  }

  test("burn rate: hourly tallies re-add to the event count; alert is the two-window AND") {
    val evts = Tables.events(spark, sfDir)
      .selectExpr("cast(ts AS long) div 3600 AS h1", "event_type").collect()
      .map(r => (r.getAs[Long]("h1"), r.getAs[String]("event_type")))
    val rows = operators.Audit.burnRate(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("tot_1h")).sum == evts.length)
    val byHour = evts.groupBy(_._1)
    val by6h = evts.groupBy(_._1 / 6)
    rows.foreach { r =>
      val h1 = r.getAs[Long]("hour_start_s") / 3600
      val hs = byHour(h1)
      val (tot, err) = (hs.length.toLong, hs.count(_._2 == "error").toLong)
      assert(r.getAs[Long]("tot_1h") == tot && r.getAs[Long]("err_1h") == err)
      assert(r.getAs[Double]("burn_1h") ==
        math.floor(err * 5 / tot.toDouble * 10000 + 0.5) / 10000.0)
      val sixes = by6h(h1 / 6)
      val (tot6, err6) = (sixes.length.toLong, sixes.count(_._2 == "error").toLong)
      assert(r.getAs[Double]("burn_6h") ==
        math.floor(err6 * 5 / tot6.toDouble * 10000 + 0.5) / 10000.0)
      assert(r.getAs[Boolean]("alert") == (err * 25 > tot * 6 && err6 * 25 > tot6 * 6))
    }
    assert(rows.exists(_.getAs[Boolean]("alert")) != rows.forall(_.getAs[Boolean]("alert")),
      "the synthetic error rate must discriminate: some hours alert, some do not")
  }
  test("daily top actors: brute-force daily leaderboard agrees") {
    import org.apache.spark.sql.functions._
    val counts = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id")).collect()
      .groupBy(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("user_id")))
      .view.mapValues(_.length.toLong).toMap
    val expected = counts.toSeq.map { case ((d, u), n) => (d, u, n) }
      .groupBy(_._1).flatMap { case (d, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
          .map { case ((_, u, n), i) => (d, i + 1, u, n) }
      }.toSet
    val got = operators.Audit.topActorsDaily(spark, sfDir).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[Int]("rank"),
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSet
    assert(got == expected)
  }
  test("metrics_query_probe: every matched line contains its pattern, comments included") {
    val rows = operators.Audit.queryProbe(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("line").contains(r.getAs[String]("pattern")))
      assert(r.getAs[Long]("n_lines") >= 1L)
    }
    // query_metric matches the FULL line: the '# HELP'/'# TYPE'
    // comment lines for requests_total must be in its match set
    val reqLines = rows.filter(_.getAs[String]("pattern") == "requests_total")
      .map(_.getAs[String]("line"))
    assert(reqLines.exists(_.startsWith("# HELP")), "comment lines must match")
    assert(reqLines.exists(_.startsWith("# TYPE")), "comment lines must match")
    // a name-prefix pattern stays scoped: go_ only matches the runtime metric
    rows.filter(_.getAs[String]("pattern") == "go_")
      .foreach(r => assert(r.getAs[String]("line").startsWith("go_goroutines ")))
  }
}
