package graft

import org.apache.spark.sql.functions._

/** Scale-path variants that the oracle can't check (sketches,
  * physical-layout choices) — verified against their exact
  * counterparts with tolerances, plus plan-shape assertions.
  */
class ScalePathSpec extends SparkSpec {

  /** The hash exchanges a query runs: AQE's final plan after one
    * execution, each exchange once however many readers reuse it. A
    * frame that several readers share through a reused exchange shows
    * that exchange once per reader in the initial plan string. */
  private def shufflesRun(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.count()
    nodes(df.queryExecution.executedPlan).collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if x.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => x
    }.distinct.size
  }

  test("approx_percentile tracks exact percentile within 5%") {
    val both = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.95)").as("exact"),
        expr("approx_percentile(value, 0.95, 1000)").as("approx"))
      .collect()
    both.foreach { r =>
      val e = r.getAs[Double]("exact")
      val a = r.getAs[Double]("approx")
      assert(math.abs(e - a) / e < 0.05, s"${r.get(0)}: exact=$e approx=$a")
    }
  }

  // The sketch's contract is a RANK guarantee (error <= 1/accuracy of
  // the rank, and it returns a member element), not a value guarantee
  // — exact percentile() interpolates, so comparing values directly
  // punishes small strata for discreteness. The executable form of
  // SURVEY §4's claim: the approx value's empirical rank must sit
  // within 5 points of the target quantile.
  private def rankOf(values: Seq[Double], a: Double): Double =
    values.count(_ <= a).toDouble / values.size

  test("metrics_latency_pctile: approx scale path holds the 5-point rank guarantee") {
    val groups = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).toSeq).toMap
    val approx = operators.Audit.latencyPctileApprox(spark, sfDir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val vs = groups(r.getAs[String]("event_type"))
      Seq(0.50 -> r.getAs[Double]("p50"), 0.95 -> r.getAs[Double]("p95"),
        0.99 -> r.getAs[Double]("p99")).foreach { case (q, a) =>
        val rk = rankOf(vs, a)
        assert(math.abs(rk - q) <= 0.05 + 1.0 / vs.size,
          s"${r.get(0)} q=$q: approx=$a has rank $rk")
      }
    }
  }

  test("corpus_stats: approx scale path holds the 5-point rank guarantee") {
    val groups = Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"), col("n_chars")).collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(2).toDouble).toSeq).toMap
    val approx = operators.Pipeline.corpusStatsApprox(spark, sfDir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val vs = groups((r.getAs[String]("source"), r.getAs[String]("lang")))
      Seq(0.50 -> r.getAs[Long]("p50_chars").toDouble,
        0.95 -> r.getAs[Long]("p95_chars").toDouble).foreach { case (q, a) =>
        val rk = rankOf(vs, a)
        assert(math.abs(rk - q) <= 0.05 + 1.0 / vs.size,
          s"${r.get(0)}/${r.get(1)} q=$q: approx=$a has rank $rk")
      }
    }
  }

  test("approx_count_distinct tracks exact distinct within 5%") {
    val r = Tables.events(spark, sfDir)
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id")).as("approx"))
      .head()
    val e = r.getAs[Long]("exact").toDouble
    assert(math.abs(e - r.getAs[Long]("approx")) / e < 0.05)
  }

  test("bucketed tables join without a shuffle exchange") {
    val ord = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      // force a non-broadcast join so bucketing is what saves the shuffle
      val plan = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        joined.queryExecution.executedPlan.toString
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      assert(plan.contains("SortMergeJoin"), "expected sort-merge join")
      // neither join input needs an exchange: bucket layout pre-partitions both
      val exchangesBeforeAgg = "Exchange hashpartitioning\\((?:l_orderkey|o_orderkey)".r
        .findAllIn(plan).size
      assert(exchangesBeforeAgg == 0,
        s"bucketed join should not shuffle on the join key:\n$plan")
      // and the result matches the unbucketed computation
      val a = joined.orderBy("o_orderpriority").collect().toSeq
      val b = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
        .orderBy("o_orderpriority").collect().toSeq
      assert(a == b)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("compat-family plans: bounded shuffles, no cartesians") {
    // Plan-shape regression guard for the field-model scan family:
    // every scan is one-or-two exchanges past the shared subject
    // window and must never degrade to a nested-loop/cartesian.
    val ops: Seq[(String, Int)] = Seq(
      "compat_scan" -> 2, "compat_forward_scan" -> 2, "compat_explain" -> 2,
      "compat_transitive" -> 2, "compat_proto_scan" -> 2,
      "compat_json_scan" -> 2, "compat_ftransitive" -> 3)
    ops.foreach { case (name, maxExchanges) =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$name: cartesian/BNL in plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= maxExchanges,
        s"$name: $exchanges hash exchanges, expected <= $maxExchanges:\n$plan")
    }
  }

  test("compat_gate is one fused window pass: no joins, one hash exchange, codegen on") {
    // r11: the gate computes all four verdict streams as packed-int
    // bit tests over ONE field-model build and one subject window —
    // no per-stream model rebuilds joined back on (subject, version).
    // Pins: (a) no join operator at all; (b) exactly one hash
    // exchange (the subject window shuffle; the trailing orderBy is a
    // range exchange); (c) the verdict projections stay inside
    // whole-stage codegen — the first fused cut blew the huge-method
    // limit and ran fully interpreted (cpu 47→447s), which this
    // assertion would have caught.
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("compat_gate")(spark, sfDir)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!plan.contains("Join"), s"fused gate must not join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one hash exchange in the fused gate plan:\n$plan")
    assert("\\*\\(\\d+\\)".r.findAllIn(plan).nonEmpty,
      s"expected whole-stage codegen in the fused gate plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("registry handler ops keep their broadcast/row-local shapes") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    // match_subjects: literal-pattern verdict stack — no join at
    // all (non-foldable RLike would recompile the regex per row);
    // the only hash exchange is the per-pattern rollup.
    val ms = plan("reg_match_subjects")
    assert(!ms.contains("Join"), s"pattern matching must not join:\n$ms")
    assert("Exchange hashpartitioning".r.findAllIn(ms).size <= 1, ms)
    // write_mode: broadcast mode-override dim, the fact side never
    // hash-shuffles (orderBy's range exchange is the only movement).
    val wm = plan("reg_write_mode")
    assert(wm.contains("BroadcastHashJoin"), wm)
    assert("Exchange hashpartitioning".r.findAllIn(wm).size == 0, wm)
    // schema_usage: hash-keyed rollup only (collect_set + distinct
    // count plan as a two-phase agg over the same key).
    val su = plan("reg_schema_usage")
    assert(!su.contains("CartesianProduct") && !su.contains("BroadcastNestedLoop"), su)
    assert("Exchange hashpartitioning".r.findAllIn(su).size <= 2, su)
    // text_repetition: row-local HOFs — no join, no hash exchange.
    val tr = plan("text_repetition")
    assert(!tr.contains("Join"), tr)
    assert("Exchange hashpartitioning".r.findAllIn(tr).size == 0, tr)
  }

  test("round-6 operators: plan shapes never degrade to cartesians; shuffles bounded") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def exchanges(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).size
    // DIAGNOSTIC printout (kept: makes a bound regression instantly readable)
    val newOps = Seq(
      "dedup_substring", "text_dup_coverage", "ann_pq_adc", "dedup_lsh_tuning",
      "corpus_ppl_buckets", "mm_batch_plan", "emb_pca_power", "text_char_classes",
      "tok_fertility", "reg_bloom_filter", "corpus_gopher_gate", "t_downsample",
      "dedup_cluster_stats", "an_field_cooccur", "t_resample_ffill", "metrics_heatmap",
      "metrics_apdex", "stream_latest_state", "compat_rule_freq", "an_enum_drift",
      "corpus_drift")
    val shapes = newOps.map(n => n -> plan(n)).toMap
    shapes.foreach { case (n, p) =>
      // 1-row broadcast crossJoins (codebook/total rows) plan as BNL with
      // a 1-row build side and are fine; a CartesianProduct never is.
      assert(!p.contains("CartesianProduct"), s"$n: CartesianProduct in plan")
      info(s"$n: ${exchanges(p)} hash exchanges")
    }
    // row-local scans: no hash exchange at all
    Seq("text_char_classes", "mm_batch_plan").foreach { n =>
      assert(exchanges(shapes(n)) <= 1, s"$n: ${exchanges(shapes(n))} exchanges")
    }
    // the pair-generating dedups must key their only pair shuffle(s)
    assert(exchanges(shapes("dedup_substring")) <= 5, shapes("dedup_substring"))
    // broadcast sides where the design demands them
    assert(shapes("ann_pq_adc").contains("Broadcast"), "pq codebook/probes must broadcast")
    assert(shapes("an_field_cooccur").contains("BroadcastHashJoin"),
      "df/total lookups must broadcast, not shuffle")
  }

  test("round-7 operators: plan shapes hold; dup-coverage single-evaluation sticks") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def exchanges(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).size
    val newOps = Seq("an_proto_fields", "metrics_summary", "reg_list_filtered", "reg_max_id")
    val shapes = newOps.map(n => n -> plan(n)).toMap
    shapes.foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n: CartesianProduct in plan")
      info(s"$n: ${exchanges(p)} hash exchanges")
    }
    // proto parse is row-local until the bounded slot rollup
    assert(exchanges(shapes("an_proto_fields")) <= 3, shapes("an_proto_fields"))
    // card composition: one series aggregation; spec joins broadcast
    assert(exchanges(shapes("metrics_summary")) <= 2, shapes("metrics_summary"))
    assert(shapes("metrics_summary").contains("Broadcast"),
      "card spec must broadcast against the series vocabulary")
    // listing: version window + per-request latest + pagination, nothing else
    assert(exchanges(shapes("reg_list_filtered")) <= 3, shapes("reg_list_filtered"))
    assert(exchanges(shapes("reg_max_id")) <= 1, shapes("reg_max_id"))
    // r7 rewrite: ONE window + ONE span aggregation — the r6 double
    // evaluation planned 8 exchanges; regression bound at 5
    val dup = plan("text_dup_coverage")
    assert(!dup.contains("CartesianProduct"))
    assert(exchanges(dup) <= 5, s"text_dup_coverage re-grew: ${exchanges(dup)} exchanges")
  }

  test("round-7 wave 2: LSH/LM/sampling scale paths hold their plan shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def exchanges(n: String): Int = shufflesRun(n)
    val newOps = Seq("dedup_embed_lsh", "text_bigram_lm", "sample_weighted",
      "mm_sig_dup", "t_interpolate")
    val shapes = newOps.map(n => n -> plan(n)).toMap
    shapes.foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n: CartesianProduct in plan")
      info(s"$n: ${exchanges(n)} hash exchanges")
    }
    // bucket self-join keys on (table, bucket) — a hash join, and the
    // vector lookups must broadcast, never drag vectors through pairs
    assert(shapes("dedup_embed_lsh").contains("BroadcastHashJoin"),
      "embed LSH vector lookups must broadcast")
    assert(exchanges("dedup_embed_lsh") <= 4, shapes("dedup_embed_lsh"))
    // bigram LM: doc-bigram collapse + (w1,w2) train/score join + final
    // per-doc agg; unigram/total lookups broadcast
    assert(shapes("text_bigram_lm").contains("BroadcastHashJoin"),
      "bigram LM unigram lookups must broadcast")
    assert(exchanges("text_bigram_lm") <= 5, shapes("text_bigram_lm"))
    // A-ES key is row-local; only the per-stratum top-k window shuffles
    assert(exchanges("sample_weighted") <= 2, shapes("sample_weighted"))
    // block postings: distinct + df cap + ONE md5-keyed pair join + totals
    assert(exchanges("mm_sig_dup") <= 6, shapes("mm_sig_dup"))
    // interpolation adds NO exchange over the resampler: both neighbor
    // windows share the (event_type) partitioning and minute sort
    assert(exchanges("t_interpolate") <= 3, shapes("t_interpolate"))
    assert(shapes("t_interpolate").split("Window").length - 1 <= 3,
      "neighbor scans must not multiply Window sorts")
  }

  test("round-7 wave 3: graph/containment/burn-rate scale paths hold their plan shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def exchanges(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).size
    val newOps = Seq("text_zipf", "text_ngram_novelty", "corpus_gini",
      "dedup_containment", "ann_nn_graph", "metrics_burn_rate", "stream_interval_join",
      "dedup_semantic_clusters")
    val shapes = newOps.map(n => n -> plan(n)).toMap
    shapes.foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n: CartesianProduct in plan")
      info(s"$n: ${exchanges(p)} hash exchanges")
    }
    // zipf/gini: one (source, word|doc) shuffle + source-partitioned
    // window/rollup — the corpus-sized explode never re-shuffles
    assert(exchanges(shapes("text_zipf")) <= 2, shapes("text_zipf"))
    assert(exchanges(shapes("corpus_gini")) <= 2, shapes("corpus_gini"))
    // novelty: gram-hash first-occurrence rollup + join-back + doc rollup
    assert(exchanges(shapes("text_ngram_novelty")) <= 4, shapes("text_ngram_novelty"))
    // containment rides the SAME banded candidate machinery as
    // ngram_jaccard: banding keys every pair-generating shuffle
    assert(exchanges(shapes("dedup_containment")) <= 7, shapes("dedup_containment"))
    // 6h burn must re-aggregate the 1h PARTIAL aggregate, not rescan
    // events: exactly one exchange out of the raw scan
    val burnScans = "Scan parquet".r.findAllIn(shapes("metrics_burn_rate")).size
    assert(burnScans <= 1, s"burn rate rescans events ($burnScans scans)")
    // interval join: one user_id exchange per side, range inside the join
    assert(exchanges(shapes("stream_interval_join")) <= 3, shapes("stream_interval_join"))
    // knn graph: pair generation ONLY via the (table, bucket) self-join
    assert(exchanges(shapes("ann_nn_graph")) <= 6, shapes("ann_nn_graph"))
  }
  test("round-7 wave 4: smoothing/overlap/gap-scan scale paths hold their plan shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def exchanges(n: String): Int = shufflesRun(n)
    val newOps = Seq("t_ewma", "text_readability", "corpus_source_overlap", "reg_id_gaps")
    val shapes = newOps.map(n => n -> plan(n)).toMap
    shapes.foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n: CartesianProduct in plan")
      info(s"$n: ${exchanges(n)} hash exchanges")
    }
    // ewma: one rollup exchange + one series re-partition; the 31 lag
    // terms must fuse into a single Window sort
    assert(exchanges("t_ewma") <= 2, shapes("t_ewma"))
    assert(shapes("t_ewma").split("Window").length - 1 <= 1, "ewma lags must share one Window")
    // readability is row-local with the scan: no hash exchange at all
    assert(exchanges("text_readability") == 0, shapes("text_readability"))
    // overlap: distinct + self-join + pair rollup + two broadcast totals
    assert(exchanges("corpus_source_overlap") <= 6, shapes("corpus_source_overlap"))
    assert(shapes("corpus_source_overlap").contains("BroadcastHashJoin"),
      "per-source totals must broadcast")
    // gap scan: the block window and the block rollup share the blk
    // exchange; the cross-block window runs on the metadata-sized
    // rollup; top-100 is a TakeOrdered, never a global sort
    assert(exchanges("reg_id_gaps") <= 2, shapes("reg_id_gaps"))
    assert(shapes("reg_id_gaps").contains("TakeOrderedAndProject"), shapes("reg_id_gaps"))
    // the cycle detector reuses the closure core whose shape is pinned
    // by the registry closure specs; just assert it never goes quadratic
    val cyc = plan("reg_ref_cycles")
    assert(!cyc.contains("CartesianProduct"))
  }
  test("round-7 wave 5: leaderboard/anomaly/rate scale paths hold their plan shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def exchanges(n: String): Int = shufflesRun(n)
    val shapes = Seq("audit_top_actors_daily", "t_anomaly_mad", "dedup_semantic_rate")
      .map(n => n -> plan(n)).toMap
    shapes.foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n: CartesianProduct in plan")
      info(s"$n: ${exchanges(n)} hash exchanges")
    }
    // daily leaderboard: one corpus rollup + the day-partitioned rank
    assert(exchanges("audit_top_actors_daily") <= 2, shapes("audit_top_actors_daily"))
    // MAD detector: the rollup's one exchange feeds per-series rank
    // windows; the two 1-row-per-series median frames broadcast back
    assert(exchanges("t_anomaly_mad") <= 3, shapes("t_anomaly_mad"))
    assert(shapes("t_anomaly_mad").contains("BroadcastHashJoin"),
      "median frames must broadcast")
    // semantic rate: pair explode is row-local; flag join on id;
    // bounded-source rollup
    assert(exchanges("dedup_semantic_rate") <= 5, shapes("dedup_semantic_rate"))
  }

  // --- ScaleNtile cutpoint branch (r10, VERDICT r9 #2) --------------
  // Force the approx_percentile cutpoint form at test scale and check
  // it against the rank-ntile oracle-parity branch: identical schema
  // and totals, ordered bucket ranges, near-equal bucket depths, and
  // NO rank window in the plan (the corpus-sized-sort the scale form
  // exists to remove).
  private def withScaleNtile[T](body: => T): T = {
    spark.conf.set("graft.ntile.maxPartition", "1")
    try body finally spark.conf.unset("graft.ntile.maxPartition")
  }

  private def hasNtileWindow(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.windowExpressions.exists(_.collectFirst {
          case _: org.apache.spark.sql.catalyst.expressions.NTile => () }.nonEmpty) => w
    }.nonEmpty

  test("corpus_ppl_buckets: cutpoint scale branch tracks the rank form") {
    val exact = operators.Pipeline.pplBuckets(spark, sfDir).collect()
    val (scaled, planHasNtile) = withScaleNtile {
      val df = operators.Pipeline.pplBuckets(spark, sfDir)
      (df.collect(), hasNtileWindow(df))
    }
    assert(!planHasNtile, "scale branch still builds a rank-ntile window")
    assert(scaled.map(_.schema.fieldNames.toSeq).distinct.toSeq ==
      exact.map(_.schema.fieldNames.toSeq).distinct.toSeq)
    def tot(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("n_docs")).sum
    assert(tot(scaled) == tot(exact), "cutpoint branch dropped documents")
    // per-(lang, bucket) depth: within sketch error + ties of exact
    val e = exact.map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Long]("n_docs")).toMap
    scaled.foreach { r =>
      val k = (r.getString(0), r.getInt(1))
      val n = e.getOrElse(k, 0L)
      assert(math.abs(r.getAs[Long]("n_docs") - n) <= math.max(3L, n / 5),
        s"$k: cutpoint depth ${r.getAs[Long]("n_docs")} vs rank $n")
    }
    // desc buckets: head's range sits above tail's, per language
    scaled.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byB = rs.sortBy(_.getInt(1))
      byB.sliding(2).foreach { p =>
        if (p.length == 2)
          assert(p(0).getAs[Double]("lo_logp") >= p(1).getAs[Double]("hi_logp") - 1e-9)
      }
    }
  }

  test("q_ntile_balance: cutpoint scale branch tracks the rank form") {
    val exact = operators.Analytics.ntileBalance(spark, sfDir).collect()
    val (scaled, planHasNtile) = withScaleNtile {
      val df = operators.Analytics.ntileBalance(spark, sfDir)
      (df.collect(), hasNtileWindow(df))
    }
    assert(!planHasNtile, "scale branch still builds a rank-ntile window")
    def tot(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("n_cust")).sum
    assert(tot(scaled) == tot(exact))
    // asc quartiles: ranges ordered low -> high per nation
    scaled.groupBy(r => String.valueOf(r.getAs[Any]("c_nationkey"))).foreach { case (_, rs) =>
      val byQ = rs.sortBy(_.getInt(1))
      byQ.sliding(2).foreach { p =>
        if (p.length == 2)
          assert(p(0).getAs[Double]("hi_bal") <= p(1).getAs[Double]("lo_bal") + 1e-9)
      }
    }
  }
}
