package graft

import graft.operators.Registry
import org.apache.spark.sql.functions._

class RegistrySpec extends SparkSpec {

  test("subject list is sorted distinct event types") {
    val subjects = Registry.subjectList(spark, sfDir).collect().map(_.getString(0)).sorted
    val eventTypes = Tables.events(spark, sfDir).select("event_type").collect().map(_.getString(0))
    assert(subjects.sameElements(eventTypes.distinct.sorted))
    assert(subjects.toSet.size == subjects.length)
  }

  test("latest version picks exactly one row per user") {
    val df = Registry.latestVersion(spark, sfDir)
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(df.count() == users)
  }

  test("versions are dense starting at 1 per user") {
    val df = Registry.versions(spark, sfDir)
    val bad = df.groupBy("user_id")
      .agg(min("version").as("mn"), max("version").as("mx"), count(lit(1)).as("n"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(bad.count() == 0)
  }

  test("config fallback covers every customer with a mode") {
    val df = Registry.configFallback(spark, sfDir)
    assert(df.filter(col("effective_mode").isNull).count() == 0)
    val modes = df.select("effective_mode").distinct().collect().map(_.getString(0)).toSet
    assert(modes.subsetOf(Set("FULL", "BACKWARD")))
  }

  test("lookup by hash: canonical id is the min doc per content hash") {
    val df = Registry.lookupByHash(spark, sfDir)
    assert(df.count() == df.select("content_hash").distinct().count())
  }

  test("import dedupe keeps one row per (user, type)") {
    val df = Registry.importDedupe(spark, sfDir)
    assert(df.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("refs closure: ancestor chain of a known doc matches hand computation") {
    val rows = Registry.refsClosure(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val byId = rows.map(r => r.getLong(0) -> r.getAs[Long]("n_ancestors")).toMap
    // doc 0 references nothing; doc 1 → {0}; doc 12 → 12/2=6,6/2=3,3/2=1,1/2=0 → {6,3,1,0}
    assert(byId(0L) == 0 && byId(1L) == 1 && byId(12L) == 4)
    // doc 10 has the extra /3 edge: {5,2,1,0} ∪ {3} = 5 ancestors
    assert(byId(10L) == 5)
  }

  test("dep depth: min-hop depths match hand computation and agree with the closure") {
    val rows = Registry.depDepth(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val byId = rows.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_ancestors"), r.getAs[Long]("depth"), r.getAs[Long]("n_within_2"))).toMap
    // doc 0: no refs. doc 12: chain 6,3,1,0 at depths 1..4, two within 2.
    assert(byId(0L) == ((0L, 0L, 0L)))
    assert(byId(12L) == ((4L, 4L, 2L)))
    // doc 10: /2 chain gives 5(d1),2(d2),1(d3),0(d4); the /3 edge to
    // 3(d1) shortens 1 to d2 and 0 to d3 — min over converging paths.
    // Final: {5:1, 3:1, 2:2, 1:2, 0:3} → 5 ancestors, depth 3, 4 within 2.
    assert(byId(10L) == ((5L, 3L, 4L)))
    // depth consistency with the depth-less closure
    val closure = Registry.refsClosure(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_ancestors")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_ancestors") == closure(r.getLong(0)))
      assert(r.getAs[Long]("n_within_2") <= r.getAs[Long]("n_ancestors"))
      assert((r.getAs[Long]("depth") == 0) == (r.getAs[Long]("n_ancestors") == 0))
    }
  }

  test("search: posting-list hits bounded by query size, subject-name face works") {
    val rows = Registry.search(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit")))
    assert(rows.nonEmpty)
    val termCounts = Map(1L -> 2, 2L -> 3, 3L -> 2, 4L -> 2)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= 20)
      assert(rs.forall(_._3 <= termCounts(q)))
    }
    // query 4 matches 'src3' via the source-name face: top docs hit both terms
    val q4 = rows.filter(_._1 == 4L)
    assert(q4.nonEmpty && q4.map(_._3).max == 2,
      "some src3 document containing 'stream' must score both terms")
    // no cartesian in the plan; the term probe must be a broadcast join
    val plan = Registry.search(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("name validation: each strategy accepts its shape and rejects the broken form") {
    val rows = Registry.nameValidate(spark, sfDir).collect()
      .map(r => (r.getAs[String]("subject_name"), r.getAs[String]("strategy"), r.getAs[Boolean]("is_valid")))
    val types = Tables.events(spark, sfDir).select("event_type").distinct().count()
    assert(rows.length == types * 3 * 3, "3 name variants x 3 strategies per subject type")
    rows.foreach { case (name, strat, valid) =>
      val expected = strat match {
        case "topic_name" => name.endsWith("-value")
        case "record_name" => !name.contains("-") && !name.head.isDigit
        case "topic_record_name" => name.endsWith("-value") // topic 'x', record 'value'
      }
      assert(valid == expected, s"$name under $strat: got $valid")
    }
  }

  test("registry statistics reconcile with the raw event stream") {
    val m = Registry.statistics(spark, sfDir).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    val ev = Tables.events(spark, sfDir)
    assert(m("total_versions") == ev.count())
    assert(m("total_subjects") == ev.select("user_id").distinct().count())
    assert(m("type_avro") + m("type_json") + m("type_protobuf") == m("total_subjects"),
      "every subject's latest version has exactly one schema type")
  }

  test("registry statistics follow the oracle on a NULL subject and on an empty stream") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    def ev(id: Long, ts: java.sql.Timestamp, user: java.lang.Long, k: Int) =
      Row(id, ts, user, "register", 1.0, s"""{"k": $k}""")
    def stats(rows: Seq[Row]): Map[String, Long] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-stats").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/events.parquet")
      Registry.statistics(spark, dir).collect()
        .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    }
    // subject 1: latest k=4 (JSON); subject 2: k=5 (PROTOBUF); the
    // NULL subject: latest k=6 (AVRO). count(DISTINCT subject) skips
    // NULL; PARTITION BY subject keeps it as one group.
    val withNull = stats(Seq(
      ev(1, t1, 1L, 3), ev(2, t2, 1L, 4), ev(3, t1, 2L, 5),
      ev(4, t1, null, 7), ev(5, t2, null, 6)))
    assert(withNull == Map("total_subjects" -> 2L, "total_versions" -> 5L,
      "type_avro" -> 1L, "type_json" -> 1L, "type_protobuf" -> 1L))
    val empty = stats(Seq.empty)
    assert(empty == Map("total_subjects" -> 0L, "total_versions" -> 0L,
      "type_avro" -> 0L, "type_json" -> 0L, "type_protobuf" -> 0L))
  }

  test("gc candidates: only tombstoned docs appear; live-depended docs retained") {
    val rows = Registry.gcCandidates(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 7 == 0))
    // doc 0 is an ancestor of nearly every live doc — never collectable
    val d0 = rows.find(_.getLong(0) == 0L).get
    assert(!d0.getAs[Boolean]("gc_ok") && d0.getAs[Long]("n_live_dependents") > 0)
  }

  test("dq checks: all six constraints hold and checked counts match table sizes") {
    val rows = Registry.dqChecks(spark, sfDir).collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getAs[Boolean]("pass")))
    assert(rows.forall(_.getAs[Long]("n_violations") == 0L))
    val byName = rows.map(r => r.getString(0) -> r.getAs[Long]("n_checked")).toMap
    assert(byName("fk_orders_customer") == Tables.orders(spark, sfDir).count())
    assert(byName("docs_nchars_consistent") == Tables.documents(spark, sfDir).count())
  }

  test("pagerank: root accumulates the most importance, mass is conserved") {
    val rows = Registry.pagerank(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val byId = rows.map(r => r.getLong(0) -> r.getAs[Long]("pr_units")).toMap
    // after 3 iterations mass has flowed to the near-root hubs: the
    // max importance sits on doc 0 or 1, far above the damping floor
    val top = byId.maxBy(_._2)._1
    assert(top == 0L || top == 1L)
    assert(byId(0L) > 5 * 9600L)
    // un-referenced leaves sit at the 0.15 damping floor (9600/64000)
    assert(byId.values.min == 9600L)
    // total importance ≈ N × 64000 minus dangling leakage: bounded above
    val total = byId.values.map(BigInt(_)).sum
    assert(total <= BigInt(rows.length) * 64000L)
  }

  test("resolve ref: aliases rewrite subjects, version specs parse per reference rules") {
    val rows = Registry.resolveRef(spark, sfDir).collect()
    val subjects = rows.map(_.getAs[String]("resolved_subject")).toSet
    assert(subjects.contains("click_v2") && subjects.contains("page_view"))
    assert(!subjects.contains("click") && !subjects.contains("view"))
    rows.foreach { r =>
      (r.getAs[String]("version_spec"), r.getAs[Int]("parsed_version")) match {
        case ("latest", p) => assert(p == -1)
        case ("-1", p)     => assert(p == -1)
        case ("v9", p)     => assert(p == 0 && !r.getAs[Boolean]("is_valid"))
        case (digits, p)   => assert(p == digits.toInt && r.getAs[Boolean]("is_valid"))
      }
    }
  }

  test("meta latest: returns the newest prod-stage version per subject") {
    import org.apache.spark.sql.functions._
    val rows = Registry.metaLatest(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // cross-check one subject against a brute-force recomputation
    val first = rows.minBy(_.getLong(0))
    val subject = first.getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val brute = Tables.events(spark, sfDir)
      .withColumn("version", row_number().over(w))
      .filter(col("user_id") === subject &&
        get_json_object(col("props"), "$.k").cast("bigint") % 3 === 0)
      .agg(max(col("version"))).head().getInt(0)
    assert(first.getAs[Int]("latest_matching") == brute)
  }

  test("match subjects: counts agree with direct filters, first_match matches its pattern") {
    val rows = Registry.matchSubjects(spark, sfDir).collect()
      .map(r => (r.getAs[String]("mode"), r.getAs[String]("pattern"),
        r.getAs[Long]("n_matches"), r.getAs[String]("first_match")))
    val part = Tables.part(spark, sfDir)
    rows.foreach { case (mode, pat, n, first) =>
      val expected = mode match {
        case "substr" => part.filter(col("p_name").contains(pat)).count()
        case "regex"  => part.filter(col("p_name").rlike(pat)).count()
      }
      assert(n == expected, s"$mode/$pat")
      assert(if (mode == "substr") first.contains(pat)
             else pat.r.findFirstIn(first).isDefined, s"first_match $first vs $pat")
    }
    assert(rows.exists { case (m, _, n, _) => m == "substr" && n > 0 })
    assert(rows.exists { case (m, _, n, _) => m == "regex" && n > 0 })
  }

  test("write mode: only READONLY modes block, every subject gets a verdict") {
    val rows = Registry.writeMode(spark, sfDir).collect()
    assert(rows.length == Tables.customer(spark, sfDir).count())
    rows.foreach { r =>
      val (mode, writable, blocking) = (r.getAs[String]("effective_mode"),
        r.getAs[Boolean]("writable"), r.getAs[String]("blocking_mode"))
      if (Set("READONLY", "READONLY_OVERRIDE")(mode)) {
        assert(!writable && blocking == mode)
      } else {
        assert(writable && blocking == "", s"$mode must not block (IMPORT/READWRITE write through)")
      }
    }
    val modes = rows.map(_.getAs[String]("effective_mode")).toSet
    assert(Set("READONLY", "READONLY_OVERRIDE", "IMPORT", "READWRITE").subsetOf(modes))
  }

  test("change advice: full level x change-type matrix with the reference's branch structure") {
    val rows = Registry.changeAdvice(spark, sfDir).collect()
    assert(rows.length == 16, "4 levels x 4 change types")
    val cells = rows.map(r => (r.getAs[String]("level"), r.getAs[String]("change_type")) ->
      (r.getAs[Long]("n_subjects"), r.getAs[Int]("n_advice"), r.getAs[String]("first_advice"))).toMap
    val nCust = Tables.customer(spark, sfDir).count()
    assert(cells.values.map(_._1).sum == 4 * nCust)
    // rename/change_type advice is level-independent (3 lines each)
    for (lvl <- Seq("BACKWARD", "FORWARD", "FULL", "NONE")) {
      assert(cells((lvl, "rename_field"))._2 == 3)
      assert(cells((lvl, "rename_field"))._3 == cells(("NONE", "rename_field"))._3)
      assert(cells((lvl, "change_type"))._2 == 3)
    }
    // NONE collapses add/remove to the single permissive line
    assert(cells(("NONE", "add_field"))._2 == 1)
    assert(cells(("NONE", "add_field"))._3.contains("any change is allowed"))
    assert(cells(("BACKWARD", "add_field"))._3.contains("MUST have a default value"))
    assert(cells(("FORWARD", "remove_field"))._3.contains("NOT forward-compatible"))
  }

  test("context norm: every branch fires; validation and parsing stay independent") {
    val rows = Registry.contextNorm(spark, sfDir).collect()
    val byRaw = rows.map(r => r.getAs[String]("raw") -> r).toMap
    // special literals map to the default context and render bare subjects
    for (special <- Seq(":.:", "")) {
      val r = byRaw(special)
      assert(r.getAs[String]("normalized") == "." && r.getAs[Boolean]("is_valid"))
      assert(r.getAs[String]("formatted") == "doc" && r.getAs[Boolean]("round_trip_ok"))
    }
    rows.foreach { r =>
      val n = r.getAs[String]("normalized")
      assert(n.startsWith("."), s"normalized must be display form: $n")
      // the parser is charset-agnostic: everything round-trips, valid or not
      assert(r.getAs[Boolean]("round_trip_ok"), s"round trip failed for $n")
      if (r.getAs[String]("raw").endsWith(" !"))
        assert(!r.getAs[Boolean]("is_valid"), s"charset breaker must be invalid: $n")
    }
    assert(rows.count(!_.getAs[Boolean]("is_valid")) > 0)
    assert(rows.count(_.getAs[Boolean]("is_valid")) > 2)
  }

  test("schema usage: version totals reconcile, subjects list length matches its count") {
    val rows = Registry.schemaUsage(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_versions")).sum == nDocs)
    rows.foreach { r =>
      val subjects = r.getAs[String]("subjects").split(",")
      assert(subjects.length == r.getAs[Long]("n_subjects"))
      assert(subjects.sameElements(subjects.sorted), "subjects list is canonical-sorted")
    }
  }

  test("resolve alias: aliased subjects map to their target, single-level (no chaining)") {
    val rows = operators.Registry.resolveAlias(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sub = r.getAs[String]("subject")
      val id = sub.stripPrefix("sub_").toLong
      val expected = if (id % 3 == 0) s"sub_${id + 3}" else sub
      assert(r.getAs[String]("resolved") == expected)
      assert(r.getAs[Boolean]("aliased") == (id % 3 == 0))
    }
    // single-level proof: a subject whose TARGET is itself aliased
    // (both id and id+3 are %3==0) still resolves to the direct
    // target, never the target's target
    val chained = rows.filter { r =>
      val id = r.getAs[String]("subject").stripPrefix("sub_").toLong
      id % 3 == 0
    }
    assert(chained.nonEmpty)
    chained.foreach { r =>
      val id = r.getAs[String]("subject").stripPrefix("sub_").toLong
      assert(r.getAs[String]("resolved") == s"sub_${id + 3}",
        "resolution must not chain through the target's own alias")
    }
  }

  test("reg_json_fp: every formatting variant collapses to one fingerprint") {
    val rows = operators.Registry.jsonFp(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_fps") == 1L,
        s"group ${r.mkString(",")} canonicalized to ${r.getAs[Long]("n_fps")} fingerprints")
      assert(r.getAs[Long]("n_texts") >= 1L)
      assert(r.getAs[String]("fp").length == 64) // sha-256 hex
    }
    // boolean root schemas present and distinct from every object schema
    val (boolRows, objRows) = rows.partition(_.getAs[Boolean]("bool_root"))
    assert(boolRows.length == 1 && objRows.nonEmpty)
    assert(!objRows.map(_.getAs[String]("fp")).contains(boolRows.head.getAs[String]("fp")))
  }

  test("filtered listing follows the store's program on every request") {
    import org.apache.spark.sql.Row
    // driver-side model of the memory store: version = arrival order
    // per subject over the FULL stream, deleted = id % 7 tombstone
    val evs = Tables.events(spark, sfDir)
      .select("event_type", "event_id", "ts").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts")))
    val versioned = evs.groupBy(_._1).toSeq.flatMap { case (subj, rs) =>
      rs.sortBy(r => (r._3.getTime, r._2)).zipWithIndex
        .map { case ((_, id, _), i) => (subj, id, i + 1L, id % 7 == 0) }.toSeq
    }
    def model(prefix: String, latestOnly: Boolean, incDel: Boolean,
              off: Long, lim: Long): Seq[(Long, String, Long, Boolean)] = {
      val inc = versioned.filter(v => v._1.startsWith(prefix) && (incDel || !v._4))
      val latest = inc.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
      val kept = if (latestOnly) inc.filter(v => v._3 == latest(v._1)) else inc
      kept.sortBy(_._2).slice(off.toInt, (off + lim).toInt)
        .map(v => (v._2, v._1, v._3, v._4))
    }
    val byReq = operators.Registry.listFiltered(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("req_id"))
    val params = Seq(
      (1L, "click", true, false, 0L, 100L),
      (2L, "", false, false, 10L, 20L),
      (3L, "view", true, true, 0L, 100L),
      (4L, "p", false, false, 0L, 15L))
    params.foreach { case (req, prefix, lo, del, off, lim) =>
      val exp = model(prefix, lo, del, off, lim)
      val got = byReq.getOrElse(req, Array.empty[Row]).sortBy(_.getAs[Long]("rn"))
        .map(r => (r.getAs[Long]("schema_id"), r.getAs[String]("subject"),
          r.getAs[Long]("version"), r.getAs[Boolean]("deleted"))).toSeq
      assert(got == exp, s"req $req: got ${got.size} rows, expected ${exp.size}")
      // rn is contiguous from offset+1 in schema_id order
      val rns = byReq.getOrElse(req, Array.empty[Row]).map(_.getAs[Long]("rn")).sorted.toSeq
      assert(rns == (off + 1 to off + got.size).toSeq)
    }
    // deleted rows surface ONLY on the include_deleted request
    assert(byReq.filter(_._1 != 3L).values.flatten.forall(!_.getAs[Boolean]("deleted")))
  }

  test("max schema id: highest allocated id per context, tombstones included") {
    val exp = Tables.documents(spark, sfDir)
      .select("source", "doc_id").collect()
      .groupBy(_.getAs[String]("source"))
      .view.mapValues(rs => (rs.map(_.getAs[Long]("doc_id")).max, rs.length.toLong)).toMap
    val rows = operators.Registry.maxSchemaId(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("context")).toSet == exp.keySet)
    rows.foreach { r =>
      val (mx, n) = exp(r.getAs[String]("context"))
      assert(r.getAs[Long]("max_id") == mx && r.getAs[Long]("n_allocated") == n)
    }
  }

  test("ref cycles: exactly the injected rings, each a 3-member SCC rooted at its base") {
    val docIds = Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expectedBases = docIds.filter(d => d % 25 == 0 && d >= 25)
      .filter(d => docIds(d + 1) && docIds(d + 2))
    val rows = operators.Registry.refCycles(spark, sfDir).collect()
    // partial rings (a missing member) break the cycle, so only full
    // rings may appear — and every full ring MUST appear
    val byCycle = rows.groupBy(_.getAs[Long]("cycle_id"))
    assert(byCycle.keySet == expectedBases,
      s"cycles ${byCycle.keySet} vs expected rings $expectedBases")
    byCycle.foreach { case (base, members) =>
      assert(members.map(_.getAs[Long]("doc_id")).toSet == Set(base, base + 1, base + 2))
      assert(members.forall(_.getAs[Long]("n_members") == 3L))
    }
    // the acyclic base DAG contributes no members: every doc outside a
    // ring is absent
    assert(rows.length == expectedBases.size * 3)
  }

  test("id gaps: brute-force gap scan agrees, including cross-block gaps and the flag") {
    val live = Tables.orders(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") =!= "F")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    val brute = live.sliding(2).collect {
      case Array(a, b) if b - a > 1 => (a, b, b - a - 1, a / 4096 != b / 4096)
    }.toSeq.sortBy { case (a, _, len, _) => (-len, a) }.take(100)
    val got = operators.Registry.idGaps(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("gap_after"), r.getAs[Long]("next_id"),
        r.getAs[Long]("gap_len"), r.getAs[Boolean]("spans_blocks"))).toSeq
    assert(got == brute, s"got ${got.take(5)}... vs ${brute.take(5)}...")
    assert(got.nonEmpty, "the deleted-status model must leave gaps")
  }

  test("bloom filter: zero false negatives, fp rate within the fill-factor bound") {
    val rows = operators.Registry.bloomFilter(spark, sfDir).collect()
      .map(r => r.getAs[String]("kind") -> r).toMap
    val member = rows("member"); val non = rows("nonmember")
    // the Bloom contract: EVERY registered hash must hit
    assert(member.getAs[Long]("n_hits") == member.getAs[Long]("n_probes"))
    assert(member.getAs[Double]("hit_rate") == 1.0)
    val bitsSet = member.getAs[Long]("n_bits_set")
    assert(bitsSet > 0 && bitsSet <= member.getAs[Long]("n_probes") * 4)
    // fp probability for a non-member is (fill)^4; allow generous slack
    val pFp = math.pow(bitsSet.toDouble / 65536.0, 4)
    val fpRate = non.getAs[Long]("n_hits").toDouble / non.getAs[Long]("n_probes")
    assert(fpRate <= pFp * 50 + 0.01, s"fp rate $fpRate vs theoretical $pFp")
  }
  test("count cards recount against their underlying streams") {
    // count_versions: per-subject totals partition the event stream
    val cv = operators.Registry.countVersions(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    assert(cv.map(_.getAs[Long]("n_versions")).sum == total)
    // and each card row equals the subject's max dense version number
    val vmax = operators.Registry.versions(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("user_id")).view.mapValues(_.map(_.getAs[Int]("version")).max).toMap
    cv.foreach { r =>
      assert(r.getAs[Long]("n_versions") == vmax(r.getAs[Long]("subject")).toLong)
    }
    // count_subjects: the one-row card equals the subject listing size
    val ns = operators.Registry.countSubjects(spark, sfDir).collect()(0).getAs[Long]("n_subjects")
    assert(ns == operators.Registry.subjectList(spark, sfDir).count())
  }
}
