package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Evt, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowed counts over a MemoryStream with watermark match batch results") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val data = Seq(
      (1L, ts(5), "click", 1.0), (2L, ts(20), "click", 2.0),
      (3L, ts(65), "view", 3.0), (4L, ts(70), "click", 4.0),
      (5L, ts(130), "view", 5.0))
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val streamDf = stream.toDF().toDF("event_id", "ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
    val q = EventStream.windowedCounts(streamDf)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      stream.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("win_counts")
        .orderBy("hour", "event_type").collect()
      val batch = EventStream.windowedCounts(
        data.toDF("event_id", "ts", "event_type", "value"))
        .orderBy("hour", "event_type").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.length == 4) // (h0 click), (h1 click), (h1 view), (h2 view)
    } finally q.stop()
  }

  test("hopping windows stream with watermark and agree with the batch face") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val data = Seq(
      (1L, ts(2), "click", 1.0), (2L, ts(7), "click", 1.0),
      (3L, ts(12), "view", 1.0), (4L, ts(31), "click", 1.0))
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val streamDf = stream.toDF().toDF("event_id", "ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
    val q = EventStream.hoppingCounts(streamDf)
      .writeStream.format("memory").queryName("hop_counts")
      .outputMode("complete").start()
    try {
      stream.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("hop_counts")
        .orderBy("win_start", "event_type").collect()
      val batch = EventStream.hoppingCounts(
        data.toDF("event_id", "ts", "event_type", "value"))
        .orderBy("win_start", "event_type").collect()
      assert(streamed.toSeq == batch.toSeq)
      // each event lands in exactly two windows
      assert(streamed.map(_.getAs[Long]("n_events")).sum == 2 * data.length)
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases within 30 minutes across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val cDf = clicks.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "10 minutes")
    val pDf = purchases.toDF().toDF("user_id", "ts", "event_id").withWatermark("ts", "10 minutes")
    val q = EventStream.attributionJoin(cDf, pDf)
      .writeStream.format("memory").queryName("attr_join")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts(0), 100L), (2L, ts(5), 101L))
      purchases.addData((1L, ts(10), 200L))
      q.processAllAvailable()
      // second micro-batch: 201 lands 45 min after click 100 (outside
      // the 30-minute range), 202 lands 15 min after click 101 (inside)
      purchases.addData((1L, ts(45), 201L), (2L, ts(20), 202L))
      q.processAllAvailable()
      val rows = spark.table("attr_join").orderBy("click_id", "purchase_id").collect()
      assert(rows.map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSeq ==
        Seq((100L, 200L), (101L, 202L)))
      assert(rows.head.getAs[Long]("lag_us") == 600000000L)
      // the same declarative join gives identical pairs in batch
      val batch = EventStream.attributionJoin(
        Seq((1L, ts(0), 100L), (2L, ts(5), 101L)).toDF("user_id", "ts", "event_id"),
        Seq((1L, ts(10), 200L), (1L, ts(45), 201L), (2L, ts(20), 202L)).toDF("user_id", "ts", "event_id"))
        .orderBy("click_id", "purchase_id").collect()
      assert(rows.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("stateful sessionization splits on 30-minute gaps across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Evt]
    val q = EventStream.sessionizeStateful(stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // batch 1: two events 5 minutes apart (same session)
      stream.addData(Evt(1L, ts(0), "a"), Evt(1L, ts(5), "b"))
      q.processAllAvailable()
      // batch 2: 40-minute gap → closes session 1, opens session 2
      stream.addData(Evt(1L, ts(45), "c"))
      q.processAllAvailable()
      // batch 3: another user interleaved, then a gap for user 1
      stream.addData(Evt(2L, ts(50), "a"), Evt(1L, ts(100), "d"))
      q.processAllAvailable()
      val out = spark.table("sessions").as[SessionOut].collect()
      // closed sessions so far: user1 [0,5] (2 events) and user1 [45,45] (1 event)
      val u1 = out.filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(u1.length == 2)
      assert(u1(0).n_events == 2 && u1(0).session_start == ts(0) && u1(0).session_end == ts(5))
      assert(u1(1).n_events == 1 && u1(1).session_start == ts(45))
      assert(out.count(_.user_id == 2L) == 0) // user 2 session still open
    } finally q.stop()
  }

  test("incremental compat gate verdicts registrations across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStream.{CompatOut, RegEvt}
    val stream = MemoryStream[RegEvt]
    val q = EventStream.compatStateful(stream.toDS())
      .writeStream.format("memory").queryName("compat_gate_stream")
      .outputMode("append").start()
    try {
      // batch 1: v1 (k=1: name required, score int, status enum A,B,C
      // defaultless). First registration emits no verdict.
      stream.addData(RegEvt(7L, ts(0), 1L, Some(1L)))
      q.processAllAvailable()
      assert(spark.table("compat_gate_stream").count() == 0)
      // batch 2: k=11 — score widens int→bigint (promotion), status
      // disappears (removal never breaks BACKWARD), ref's [null,
      // string] union reads the writer's scalar string, token stays
      // fixed8 → v2 compatible. The writer fields come from STATE
      // carried across the batch boundary.
      stream.addData(RegEvt(7L, ts(10), 2L, Some(11L)))
      q.processAllAvailable()
      val afterV2 = spark.table("compat_gate_stream").as[CompatOut].collect()
      assert(afterV2.length == 1)
      assert(afterV2.head.version == 2 && afterV2.head.compatible)
      // batch 3: k=2 — name goes nullable (a nullable reader of a
      // required writer is fine), payload reads the writer's bytes
      // via the symmetric string<->bytes promotion, and ref WIDENS
      // [null,string] -> [bigint,null,string] (checkUnion: every
      // writer branch still readable) -> v3 compatible.
      stream.addData(RegEvt(7L, ts(20), 3L, Some(2L)))
      q.processAllAvailable()
      // batch 4: k=5 — name turns REQUIRED while v3's writer had it
      // nullable (required-reads-nullable), score narrows bigint->int
      // (only int->bigint is promotable), and ref narrows its union
      // [bigint,null,string] -> [null,string] (the bigint branch is
      // unreadable): three violations. token stays fixed8 throughout.
      stream.addData(RegEvt(7L, ts(30), 4L, Some(5L)))
      q.processAllAvailable()
      val out = spark.table("compat_gate_stream").as[CompatOut].collect().sortBy(_.version)
      assert(out.map(_.version).toSeq == Seq(2, 3, 4))
      assert(out(1).compatible, "v3: nullable-reader + string<->bytes + union widening are all legal")
      assert(!out(2).compatible && out(2).n_violations == 3L,
        "v4: required-reads-nullable + bigint->int narrowing + union narrowing must all fire")
    } finally q.stop()
  }

  test("ingest dedup collapses redelivered events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Timestamp, String)]
    val streamDf = stream.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "10 minutes")
    val q = EventStream.dedupedPerMinute(streamDf)
      .writeStream.format("memory").queryName("dedup_keys")
      .outputMode("append").start()
    try {
      // batch 1: an in-batch duplicate plus a second user
      stream.addData((1L, ts(5), "click"), (1L, ts(5), "click"), (2L, ts(6), "view"))
      q.processAllAvailable()
      // batch 2: at-least-once redelivery of batch 1's event + a genuinely new key
      stream.addData((1L, ts(5), "click"), (2L, ts(7), "view"))
      q.processAllAvailable()
      val out = spark.table("dedup_keys").collect()
      assert(out.length == 3) // (1,click,:05), (2,view,:06), (2,view,:07)
    } finally q.stop()
  }

  test("batch windowed counts agree with the audit daily rollup totals") {
    val hourly = operators.Streaming.windowCounts(spark, sfDir)
    val total = hourly.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sfDir).count())
  }

  test("stream-static enrichment joins the dimension on every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "Cust#1", 0L, 10.0, "BUILDING"), (3L, "Cust#3", 1L, 20.0, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val streamDf = stream.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStream.enriched(streamDf, dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      stream.addData((0L, ts(1), "click", 1.0), (2L, ts(2), "view", 2.0), (9L, ts(3), "click", 3.0))
      q.processAllAvailable()
      stream.addData((0L, ts(4), "purchase", 4.0))
      q.processAllAvailable()
      val out = spark.table("enriched").collect()
      // user 0 → cust 1 (BUILDING) twice, user 2 → cust 3 (MACHINERY);
      // user 9 has no dimension row and drops (inner join semantics)
      assert(out.length == 3)
      val segs = out.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("segment"))).toSet
      assert(segs == Set((0L, "BUILDING"), (2L, "MACHINERY")))
    } finally q.stop()
  }

  test("latest-state upsert view updates per key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStream.{LatestOut, VEvt}
    val stream = MemoryStream[VEvt]
    val q = EventStream.latestStateful(stream.toDS())
      .writeStream.format("memory").queryName("latest")
      .outputMode("update").start()
    try {
      stream.addData(VEvt(1L, ts(5), "click", 1.5, 10L), VEvt(1L, ts(3), "view", 2.0, 11L))
      q.processAllAvailable()
      stream.addData(VEvt(2L, ts(7), "view", 3.0, 12L))
      q.processAllAvailable()
      // late event for user 1: must NOT displace the ts(5) latest, but
      // must fold into count/total; same-ts tie broken by event_id
      stream.addData(VEvt(1L, ts(4), "view", 4.0, 13L), VEvt(2L, ts(7), "click", 5.0, 14L))
      q.processAllAvailable()
      // Update mode re-emits a key's row each batch it changes; the
      // upsert view is the LAST row per key
      val out = spark.table("latest").as[LatestOut].collect()
        .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n_events) }
      assert(out(1L).last_ts == ts(5) && out(1L).last_type == "click")
      assert(out(1L).n_events == 3L && math.abs(out(1L).total_raw - 7.5) < 1e-12)
      assert(out(2L).last_ts == ts(7) && out(2L).last_type == "click",
        "same-timestamp tie must resolve to the higher event_id")
      assert(out(2L).n_events == 2L)
    } finally q.stop()
  }

  test("batch latest-state face collapses to one row per user and covers all events") {
    val df = operators.Streaming.latestState(spark, sfDir)
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(df.count() == users)
    val total = df.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sfDir).count())
  }
}
