package graft

import graft.operators.Temporal
import org.apache.spark.sql.functions._

class TemporalSpec extends SparkSpec {

  test("asof join: every purchase appears exactly once, signup never after purchase") {
    val df = Temporal.asofJoin(spark, sfDir)
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == purchases)
    assert(df.filter(col("last_signup_ts") > col("purchase_ts")).count() == 0)
  }

  test("asof join matches a per-row brute-force lookup on a sample") {
    val ev = Tables.events(spark, sfDir).cache()
    val sample = Temporal.asofJoin(spark, sfDir).limit(20).collect()
    val signups = ev.filter(col("event_type") === "signup")
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    sample.foreach { r =>
      val uid = r.getAs[Long]("user_id")
      val pts = r.getAs[java.sql.Timestamp]("purchase_ts")
      val expected = signups.filter(s => s._1 == uid && !s._2.after(pts))
        .sortBy(s => (s._2.getTime, s._3)).lastOption
      assert(Option(r.getAs[java.sql.Timestamp]("last_signup_ts")) == expected.map(_._2),
        s"purchase ${r.getAs[Long]("purchase_id")}")
    }
    // a cached events frame left in the shared session would turn every
    // later spec's events scan into an in-memory scan
    ev.unpersist()
  }

  test("range join: deltas within [0, 600] and no missed in-window pair on a sample user") {
    val df = Temporal.rangeJoin(spark, sfDir).cache()
    assert(df.filter(col("delta_s") < 0 || col("delta_s") > 600).count() == 0)
    // brute-force one user
    val ev = Tables.events(spark, sfDir)
    val someUser = df.select("user_id").head().getLong(0)
    val clicks = ev.filter(col("event_type") === "click" && col("user_id") === someUser)
      .select("event_id", "ts").collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val buys = ev.filter(col("event_type") === "purchase" && col("user_id") === someUser)
      .select("event_id", "ts").collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val brute = for {
      (cid, cts) <- clicks
      (bid, bts) <- buys
      if !bts.before(cts) && (bts.getTime / 1000 - cts.getTime / 1000) <= 600
    } yield (cid, bid)
    val got = df.filter(col("user_id") === someUser)
      .select("click_id", "buy_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == brute.toSet)
    df.unpersist()
  }

  test("custom AsOfJoinExec plans as a physical merge and matches the window formulation") {
    val custom = Temporal.asofCustom(spark, sfDir)
    val plan = custom.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), "custom operator missing from physical plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "custom path must not fall back to join/window")
    val viaWindow = Temporal.asofJoin(spark, sfDir).collect().map(_.toSeq).sortBy(_.mkString(","))
    val viaCustom = custom.collect().map(_.toSeq).sortBy(_.mkString(","))
    assert(viaCustom.length == viaWindow.length)
    assert(viaCustom.zip(viaWindow).forall { case (a, b) => a == b })
  }

  test("AsOfJoin rejects mismatched key/time types at construction") {
    import graft.plans.AsOfJoin
    val ev = Tables.events(spark, sfDir)
    val l = ev.select(col("user_id").cast("int").as("k"), col("ts").as("t"))
      .queryExecution.analyzed
    val r = ev.select(col("user_id").cast("bigint").as("k"), col("ts").as("t"))
      .queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    val e = intercept[IllegalArgumentException] {
      AsOfJoin(l, r, a(l, "k"), a(r, "k"), a(l, "t"), a(r, "t"), Nil)
    }
    assert(e.getMessage.contains("key types must match"))
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoin(l, r, a(l, "k"), a(l, "k"), a(l, "t"),
        org.apache.spark.sql.catalyst.expressions.Cast(a(r, "t"),
          org.apache.spark.sql.types.LongType), Nil)
    }
    assert(e2.getMessage.contains("time types must match"))
  }

  test("resample grid spans every minute and fill-forward never invents history") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Temporal.resampleFfill(spark, sfDir).collect()
    val types = rows.map(_.getAs[String]("event_type")).distinct
    val perType = rows.groupBy(_.getAs[String]("event_type"))
    val gridSize = perType.values.map(_.length).toSet
    assert(gridSize.size == 1, "every series resamples onto the same [min, max] grid")
    assert(rows.map(_.getAs[Long]("n_obs")).sum == Tables.events(spark, sfDir).count())
    perType.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("minute").getTime)
      var lastSeen: Option[Double] = None
      sorted.foreach { r =>
        if (r.getAs[Boolean]("is_observed")) {
          assert(r.getAs[Long]("n_obs") > 0)
          lastSeen = Some(r.getAs[Double]("value_filled"))
        } else {
          assert(r.getAs[Long]("n_obs") == 0)
          // carried value equals the most recent observed mean; NULL before any
          (lastSeen, Option(r.get(r.fieldIndex("value_filled")))) match {
            case (Some(v), Some(f)) => assert(f == v, "gap must carry the last observed value")
            case (None, f) => assert(f.isEmpty, "history must not be invented before the first point")
            case (Some(_), None) => fail("carried value lost mid-series")
          }
        }
      }
    }
    assert(types.length >= 2)
  }

  test("downsample bars match a driver-side recomputation per (type, hour)") {
    import org.apache.spark.sql.functions._
    val raw = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value")).collect()
      .groupBy(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("hour")))
    val rows = graft.operators.Temporal.downsample(spark, sfDir).collect()
    assert(rows.length == raw.size)
    assert(rows.map(_.getAs[Long]("n_points")).sum == raw.values.map(_.length.toLong).sum)
    rows.foreach { r =>
      val grp = raw((r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("hour")))
        .sortBy(g => (g.getAs[java.sql.Timestamp]("ts").getTime, g.getAs[Long]("event_id")))
      val vals = grp.map(_.getAs[Double]("value"))
      assert(r.getAs[Long]("n_points") == grp.length)
      assert(r.getAs[Double]("open") == vals.head && r.getAs[Double]("close") == vals.last)
      assert(r.getAs[Double]("high") == vals.max && r.getAs[Double]("low") == vals.min)
      val m = r.getAs[Double]("mean_value")
      assert(m >= r.getAs[Double]("low") - 1e-4 && m <= r.getAs[Double]("high") + 1e-4)
    }
  }

  test("interpolation matches a driver-side linear recomputation per series") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Temporal.interpolate(spark, sfDir).collect()
    // observed minute means, rounded exactly as the operator rounds
    val obs = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("minute"))
      .agg((floor(avg(col("value")) * 10000 + 0.5) / lit(10000.0)).as("v"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("minute").getTime) -> r.getAs[Double]("v"))
      .toMap
    val perType = rows.groupBy(_.getAs[String]("event_type"))
    assert(perType.values.map(_.length).toSet.size == 1, "shared [min, max] grid")
    perType.foreach { case (et, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("minute").getTime)
      val ts = sorted.map(_.getAs[java.sql.Timestamp]("minute").getTime)
      val vs = sorted.map(r => obs.get((et, r.getAs[java.sql.Timestamp]("minute").getTime)))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val got = r.getAs[Double]("value_interp")
        val expected = vs(i) match {
          case Some(v) =>
            assert(r.getAs[Boolean]("is_observed")); v
          case None =>
            assert(!r.getAs[Boolean]("is_observed"))
            val pi = (i - 1 to 0 by -1).find(j => vs(j).isDefined)
            val ni = (i + 1 until vs.length).find(j => vs(j).isDefined)
            (pi, ni) match {
              case (Some(p), Some(n)) =>
                vs(p).get + (vs(n).get - vs(p).get) *
                  (((ts(i) - ts(p)) / 60000).toDouble / ((ts(n) - ts(p)) / 60000))
              case (Some(p), None) => vs(p).get
              case (None, Some(n)) => vs(n).get
              case _ => fail(s"$et: no observations at all")
            }
        }
        val exp = math.floor(expected * 10000 + 0.5) / 10000.0
        assert(math.abs(got - exp) < 1e-9, s"$et@${ts(i)}: $got vs $exp")
      }
    }
  }
  test("ewma: driver-side recomputation of the truncated half-life smoother") {
    import org.apache.spark.sql.functions._
    val rows = operators.Temporal.ewmaSmooth(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val bySeries = rows.groupBy(_.getAs[String]("event_type"))
    bySeries.foreach { case (et, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("minute").getTime)
      val vs = sorted.map(_.getAs[Double]("v_obs"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        var num = 0.0; var den = 0.0
        (0 until 16).foreach { k =>
          if (i - k >= 0) { val w = math.pow(2.0, -k); num += vs(i - k) * w; den += w }
        }
        val exp = math.floor(num / den * 10000 + 0.5) / 10000.0
        val got = r.getAs[Double]("ewma")
        assert(math.abs(got - exp) < 1e-9, s"$et row $i: $got vs $exp")
      }
    }
    // first observation of every series is its own smoothed value
    bySeries.values.foreach { rs =>
      val first = rs.minBy(_.getAs[java.sql.Timestamp]("minute").getTime)
      assert(math.abs(first.getAs[Double]("ewma") - first.getAs[Double]("v_obs")) < 1e-9)
    }
    // all 31 lag expressions share ONE window sort
    val plan = operators.Temporal.ewmaSmooth(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.split("Window").length - 1 <= 1, "lag terms must fuse into one Window node")
  }
  test("anomaly mad: rank-selected medians and flags recomputed driver-side") {
    import org.apache.spark.sql.functions._
    val obs = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("minute", col("ts")).as("minute"), col("value"))
      .groupBy(col("event_type"), col("minute"))
      .agg((floor(avg(col("value")) * 10000 + 0.5) / lit(10000.0)).as("v_obs"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("minute").getTime, r.getAs[Double]("v_obs")))
    def lowerMedian(xs: Seq[(Double, Long)]): Double = {
      val sorted = xs.sortBy(identity)
      sorted(((sorted.length + 1) / 2) - 1)._1
    }
    val expected = obs.groupBy(_._1).flatMap { case (et, rs) =>
      val med = lowerMedian(rs.map(r => (r._3, r._2)).toSeq)
      val devs = rs.map(r => (r._2, r._3, math.abs(r._3 - med)))
      val mad = lowerMedian(devs.map(d => (d._3, d._1)).toSeq)
      devs.filter(_._3 > mad * 3).map(d => (et, d._1, d._2)).toSeq
    }.toSet
    val got = operators.Temporal.anomalyMad(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("minute").getTime, r.getAs[Double]("v_obs"))).toSet
    assert(got == expected, s"${got.size} flagged vs ${expected.size} expected")
    assert(got.nonEmpty, "the detector should fire on the synthetic series")
  }
  test("span-split grid ops: identical rows to the span-wide forms, day-partitioned windows") {
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf).mkString("|")
    val ff = operators.Temporal.resampleFfillSpans(spark, sfDir)
    assert(ff.collect().map(key).toSeq.sorted ==
      operators.Temporal.resampleFfill(spark, sfDir).collect().map(key).toSeq.sorted)
    val ip = operators.Temporal.interpolateSpans(spark, sfDir)
    assert(ip.collect().map(key).toSeq.sorted ==
      operators.Temporal.interpolate(spark, sfDir).collect().map(key).toSeq.sorted)
    // the whole point of the split: the minute-fill windows partition
    // by (event_type, day), never by the series alone
    Seq(ff, ip).foreach { df =>
      val winSpecs = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
      assert(winSpecs.nonEmpty)
      val minuteWins = winSpecs.filter(_.exists(_.references.exists(_.name == "day")))
      assert(minuteWins.nonEmpty, "no day-partitioned window in the span plan")
    }
  }
}
