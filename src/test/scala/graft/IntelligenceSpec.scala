package graft

import graft.operators.Intelligence
import org.apache.spark.sql.functions._

class IntelligenceSpec extends SparkSpec {

  // The 10-dimension field model makes identical latest schemas rare:
  // at sf0.001's 50 subjects no two collide, so the similarity specs
  // run against sf0.01 (still subjects-sized work).
  private val similarDir = "/root/testdata/sf0.01"

  test("similar schemas: pairs are symmetric-deduped with exact-match jaccard") {
    val rows = Intelligence.similarSchemas(spark, similarDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("sub_a") < r.getAs[Long]("sub_b"), "pair not canonical-ordered")
      assert(r.getAs[Double]("jaccard") == 1.0, "threshold 1.0 admits only identical sets")
      assert(r.getAs[Long]("n_shared") >= 3, "field sets always contain id/name/score")
    }
  }

  test("similar-schema relation is transitive at threshold 1.0") {
    // identical-set similarity is an equivalence relation: a~b and
    // b~c must imply a~c (catches a broken pair-count denominator)
    val pairs = Intelligence.similarSchemas(spark, similarDir)
      .select("sub_a", "sub_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val related = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for {
      (a, bs) <- related
      b <- bs
      c <- related.getOrElse(b, Set.empty[Long]) if c != a
    } assert(pairs.contains((math.min(a, c), math.max(a, c))), s"$a~$b~$c but not $a~$c")
  }

  test("df-cap guard: capped signatures leave pair generation, report accounts for them") {
    val base = Intelligence.similarSchemas(spark, similarDir).count()
    assert(base > 0)
    val baseReport = Intelligence.similarDropReport(spark, similarDir).head()
    assert(baseReport.getAs[Long]("n_dropped_signatures") == 0,
      "default cap must not bite on the test corpus")
    // cap 1: every signature shared by 2+ subjects is excluded, and
    // threshold-1.0 pairs need ALL signatures shared — none survive
    assert(Intelligence.similarSchemasAt(spark, similarDir, 1).count() == 0)
    val r = Intelligence.similarDropReportAt(spark, similarDir, 1).head()
    assert(r.getAs[Long]("n_dropped_signatures") > 0)
    assert(r.getAs[Long]("n_dropped_postings") > r.getAs[Long]("n_dropped_signatures"))
    assert(Intelligence.similarSchemas(spark, similarDir).count() == base)
  }

  test("find-by-type: every subject's latest has bigint id; only id/score/ratio qualify") {
    val rows = Intelligence.findByType(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("fname")).toSet.subsetOf(Set("id", "score", "ratio")))
    val idSubjects = rows.filter(_.getAs[String]("fname") == "id").map(_.getAs[Long]("subject"))
    val allSubjects = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(idSubjects.length == allSubjects, "id is bigint in every latest version")
    assert(idSubjects.distinct.length == idSubjects.length)
  }

  test("evolution suggestions: rules fire data-driven, each on its own field class") {
    val rows = Intelligence.evolutionSuggest(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("subject"), r.getAs[String]("rule"), r.getAs[String]("fname")))
    assert(rows.nonEmpty)
    val byRule = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
    assert(byRule.keySet.subsetOf(Set(
      "add_default_or_nullable", "widen_int_to_long", "add_enum_default", "deprecate_before_remove")))
    // id is always required+defaultless → the rule fires for every subject
    assert(byRule("add_default_or_nullable").contains("id"))
    // score and ratio both walk through int with bigint peers corpus-wide
    assert(byRule("widen_int_to_long") == Set("score", "ratio"))
    // only status is an enum
    assert(byRule("add_enum_default") == Set("status"))
    // some latest step dropped a presence-varying field (or renamed
    // the alias slot - a name-level removal)
    assert(byRule.get("deprecate_before_remove").exists(
      _.subsetOf(Set("email", "status", "nick", "nickname"))))
    assert(byRule("deprecate_before_remove").nonEmpty)
  }

  test("field consistency flags the k-dependent fields and only those") {
    val rows = Intelligence.fieldConsistency(spark, sfDir).collect()
      .map(r => r.getAs[String]("fname") ->
        (r.getAs[Boolean]("type_conflict"), r.getAs[Boolean]("null_conflict"))).toMap
    // id is constant; score flips type with k; name flips nullability
    assert(rows("id") == (false, false))
    assert(rows("score")._1, "score int/bigint split must conflict")
    assert(!rows("email")._2, "email is always nullable")
  }

  test("complexity is consistent with its component counts") {
    val rows = Intelligence.schemaComplexity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nf = r.getAs[Long]("n_fields"); val nr = r.getAs[Long]("n_required")
      val nt = r.getAs[Long]("n_types")
      assert(nf >= 8 && nf <= 10)
      assert(nr <= nf && nt <= nf)
      val expected = math.floor((nf + 0.5 * nt + 0.25 * nr) * 100 + 0.5) / 100.0
      assert(math.abs(r.getAs[Double]("complexity") - expected) < 1e-9)
    }
  }

  test("version diffs only ever touch the k-dependent fields") {
    val rows = Intelligence.diffFields(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // email and status appear/disappear; score/ratio/payload/ref
      // change type; only name changes nullability — adds/removes
      // bounded by 2 (both presence-varying fields in one step)
      assert(r.getAs[Long]("n_added") <= 3 && r.getAs[Long]("n_removed") <= 3)
      assert(r.getAs[Long]("n_type_changed") <= 5 && r.getAs[Long]("n_null_changed") <= 1)
      assert(r.getAs[Int]("version") > 1)
    }
    // diffs exist in both directions somewhere in the corpus
    assert(rows.exists(_.getAs[Long]("n_added") == 1))
    assert(rows.exists(_.getAs[Long]("n_removed") == 1))
    assert(rows.exists(_.getAs[Long]("n_type_changed") == 1))
  }

  test("migration path agrees with the underlying compat scan") {
    val scan = operators.Compat.compatScan(spark, sfDir).collect()
    val bySubject = scan.groupBy(_.getAs[Long]("subject"))
    val rows = Intelligence.migrationPath(spark, sfDir).collect()
    assert(rows.length == bySubject.size)
    rows.foreach { r =>
      val steps = bySubject(r.getAs[Long]("subject"))
      assert(r.getAs[Long]("n_steps") == steps.length)
      val breaking = steps.filter(!_.getAs[Boolean]("compatible"))
      assert(r.getAs[Long]("n_breaking") == breaking.length)
      assert(r.getAs[Boolean]("safe_direct") == breaking.isEmpty)
      if (breaking.nonEmpty)
        assert(r.getAs[Int]("first_breaking") == breaking.map(_.getAs[Int]("version")).min)
    }
  }

  test("find-by-field returns exactly the email-bearing subjects") {
    val rows = Intelligence.findByField(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("fnull")), "email is always nullable in the model")
    assert(rows.map(_.getAs[Long]("subject")).distinct.length == rows.length)
    // cross-check against the consistency rollup's count for email
    val emailCount = Intelligence.fieldConsistency(spark, sfDir)
      .filter(col("fname") === "email").head().getAs[Long]("n_subjects")
    assert(rows.length == emailCount)
  }

  test("pattern summary internally consistent") {
    val m = Intelligence.detectPatterns(spark, sfDir).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(m.keySet == Set("n_subjects", "total_versions", "multi_version_subjects", "ubiquitous_fields"))
    assert(m("multi_version_subjects") <= m("n_subjects"))
    assert(m("total_versions") >= m("n_subjects"))
    // id/name/score/ratio/payload/ref/token are always present;
    // email/status only sometimes; the alias slot's two NAMES each
    // cover only part of the subjects
    assert(m("ubiquitous_fields") == 7)
    assert(m("total_versions") == Tables.events(spark, sfDir).count())
  }

  test("compare-subjects: neighbor pairing covers the corpus, tallies reconcile") {
    val rows = Intelligence.compareSubjects(spark, sfDir).collect()
    val nSubjects = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(rows.length == nSubjects - 1, "every adjacent subject pair, once")
    rows.foreach { r =>
      val (fa, fb) = (r.getAs[Long]("fields_a"), r.getAs[Long]("fields_b"))
      val common = r.getAs[Long]("n_common")
      assert(r.getAs[Long]("subject_a") < r.getAs[Long]("subject_b"), "successor pairing is ordered")
      // set algebra must reconcile exactly (computeFieldDiffs partitions the union)
      assert(common + r.getAs[Long]("n_added") == fb, "common + added = fields_b")
      assert(common + r.getAs[Long]("n_removed") == fa, "common + removed = fields_a")
      assert(r.getAs[Long]("n_modified") <= common, "modified fields are common by name")
      assert(common >= 3, "id/name/score are in every latest version")
    }
    // score flips int↔bigint with k: type drift must be observed somewhere
    assert(rows.exists(_.getAs[Long]("n_modified") > 0), "expected some modified field on the corpus")
  }

  test("field co-occurrence: counts bounded by dfs and lift algebra verified") {
    val rows = operators.Intelligence.fieldCooccur(spark, sfDir).collect()
    assert(rows.nonEmpty, "universal fields (id/name) must co-occur")
    val nSubjects = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    rows.foreach { r =>
      val (both, d1, d2) = (r.getAs[Long]("n_both"), r.getAs[Long]("df1"), r.getAs[Long]("df2"))
      assert(r.getAs[String]("f1") < r.getAs[String]("f2"))
      assert(both >= 2 && both <= math.min(d1, d2), "co-occurrence cannot exceed either df")
      assert(d1 <= nSubjects && d2 <= nSubjects)
      val lift = math.floor(both.toDouble * nSubjects / (d1 * d2) * 10000 + 0.5) / 10000.0
      assert(r.getAs[Double]("lift") == lift)
    }
    // id and name are in EVERY latest schema: their pair must show lift exactly 1
    val universal = rows.find(r => r.getAs[String]("f1") == "id" && r.getAs[String]("f2") == "name")
    assert(universal.isDefined && universal.get.getAs[Double]("lift") == 1.0,
      "universal fields co-occur at exactly independent rate")
  }
}
