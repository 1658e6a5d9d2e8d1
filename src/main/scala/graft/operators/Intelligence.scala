package graft.operators

import graft.compat.AvroFields
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Schema-intelligence queries over the version corpus — the Spark
  * re-expression of the reference's corpus-wide "intelligence" tools
  * (internal/mcp/tools_intelligence.go, tools_comparison.go): find
  * similar schemas, check cross-subject field consistency, score
  * complexity, and diff consecutive versions. All four build on the
  * shared field model in [[Compat.fieldArrays]].
  */
object Intelligence {

  /** Latest-version field rows per subject (GetLatestSchema
    * semantics): one window max over the already-partitioned
    * version stream, then a row-local explode. (subject, fname,
    * ftype, fnull).
    */
  private def latestFields(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("subject"))
    // the lag window (w_all) is never built: the latest-version tools
    // diff nothing
    Compat.fieldArrays(s, dir, Seq("fname", "ftype", "fnull", "fdefault", "fsyms"),
        withLag = false)
      .withColumn("maxv", max(col("version")).over(w))
      .filter(col("version") === col("maxv"))
      .select(col("subject"), explode(col("flds")).as("f"))
      .select(col("subject"), col("f.fname").as("fname"),
        col("f.ftype").as("ftype"), col("f.fnull").as("fnull"),
        col("f.fdefault").as("fdefault"), col("f.fsyms").as("fsyms"))
  }

  /** FindSimilarSchemas (tools_intelligence.go:251): subjects whose
    * latest typed field sets are Jaccard-identical. At threshold 1.0
    * "similar" means set-identical, so the pair join is keyed on ONE
    * whole-set signature per subject — md5 of the sorted typed-field
    * list. Work is ∝ subjects + output pairs: no per-field posting
    * lists, so a ubiquitous field shared by every subject (id here)
    * costs nothing. The r3 posting-list formulation was Σ df² over
    * per-field signatures, which quadratics on exactly those
    * ubiquitous fields — measured 14× super-linear at the sf1 bench;
    * this shape removed it while producing identical output (c =
    * |set| and jaccard = 1.0 exactly for identical sets).
    *
    * Identity-class cap: pair enumeration inside one identity class
    * is class², so classes larger than [[DfCap]] are
    * excluded from pair generation (a degenerate corpus where
    * thousands of subjects share one schema stays output-bounded);
    * [[similarDropReport]] is the no-silent-cap accounting query.
    */
  def similarSchemas(s: SparkSession, dir: String): DataFrame = similarSchemasAt(s, dir, DfCap)

  /** The largest identity class [[similarSchemas]] pairs within. */
  private val DfCap = 100000

  /** [[similarSchemas]] under identity-class cap `cap`. */
  private[graft] def similarSchemasAt(s: SparkSession, dir: String, cap: Int): DataFrame = {
    val sigs = schemaSigs(s, dir)
    val capped = sigs.join(
      broadcast(sigs.groupBy(col("sig")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("sig"))),
      Seq("sig"), "left_semi")
    capped.select(col("sig"), col("subject").as("sub_a"), col("n"))
      .join(capped.select(col("sig"), col("subject").as("sub_b")), "sig")
      .filter(col("sub_a") < col("sub_b"))
      .select(col("sub_a"), col("sub_b"), col("n").as("n_shared"),
        lit(1.0).as("jaccard"))
  }

  /** The accounting face of [[similarSchemas]]' identity-class cap
    * (the no-silent-cap rule): how many whole-schema identity classes
    * exceeded the cap and were excluded from pair enumeration, and
    * how many subjects they held. One subjects-sized aggregate —
    * cost negligible next to the pair join it guards. Subjects with a
    * NULL signature form no class: they pair with no one either way.
    */
  def similarDropReport(s: SparkSession, dir: String): DataFrame =
    similarDropReportAt(s, dir, DfCap)

  /** [[similarDropReport]] under identity-class cap `cap`. */
  private[graft] def similarDropReportAt(s: SparkSession, dir: String, cap: Int): DataFrame =
    schemaSigs(s, dir).where(col("sig").isNotNull)
      .groupBy(col("sig")).agg(count(lit(1)).as("df"))
      .agg(sum(when(col("df") > cap, 1L).otherwise(0L)).as("n_dropped_signatures"),
        sum(when(col("df") > cap, col("df")).otherwise(0L)).as("n_dropped_postings"),
        count(lit(1)).as("n_signatures"))

  /** (subject, n, sig): the latest field count and the whole-set
    * signature, md5 of the sorted `fname:ftype:fnull` list. The sig is
    * NULL when a field has a NULL part (a NULL `k` leaves `fnull`
    * unknown): the oracle's equality join never matches that field,
    * so the subject can pair with no one. `concat_ws` would skip the
    * NULL and let two such subjects collide.
    */
  private def schemaSigs(s: SparkSession, dir: String): DataFrame =
    latestFields(s, dir)
      .groupBy(col("subject"))
      .agg(count(lit(1)).as("n"),
        count(when(col("fname").isNull || col("ftype").isNull || col("fnull").isNull, 1)).as("n_unknown"),
        md5(concat_ws("|", sort_array(collect_list(
          concat_ws(":", col("fname"), col("ftype"), col("fnull").cast("string")))))).as("sig0"))
      .select(col("subject"), col("n"), when(col("n_unknown") === 0, col("sig0")).as("sig"))

  /** CheckFieldConsistency (tools_intelligence.go:370): for every
    * field name, does the corpus agree on its type and nullability
    * across subjects' latest versions? One partial-aggregated groupBy
    * on fname (output rows = field-name vocabulary).
    */
  def fieldConsistency(s: SparkSession, dir: String): DataFrame =
    latestFields(s, dir)
      .groupBy(col("fname"))
      .agg(count(lit(1)).as("n_subjects"),
        countDistinct(col("ftype")).as("n_types"),
        (countDistinct(col("ftype")) > 1).as("type_conflict"),
        (countDistinct(col("fnull")) > 1).as("null_conflict"))

  /** GetSchemaComplexity (tools_intelligence.go:419): per-subject
    * weighted complexity over the latest version — field count +
    * 0.5·type diversity + 0.25·required fields (the reference's
    * weighted-dimension scoring re-expressed over the flat model).
    * Row count = subjects; single partial-aggregated groupBy.
    */
  def schemaComplexity(s: SparkSession, dir: String): DataFrame =
    latestFields(s, dir)
      .groupBy(col("subject"))
      .agg(count(lit(1)).as("n_fields"),
        sum(when(!col("fnull"), 1).otherwise(0)).as("n_required"),
        countDistinct(col("ftype")).as("n_types"))
      .select(col("subject"), col("n_fields"), col("n_required"), col("n_types"),
        (floor((col("n_fields") + lit(0.5) * col("n_types") + lit(0.25) * col("n_required")) * 100 + 0.5)
          / lit(100.0)).as("complexity"))

  /** DiffSchemas / computeFieldDiffs (tools_comparison.go:123,152):
    * added/removed/type-changed/nullability-changed field counts for
    * every consecutive version pair. Entirely row-local after the one
    * window shuffle — and, on the positional nSlots-wide model, entirely
    * HOF-free: each tally is an integer sum of per-slot presence/
    * type/nullability comparisons between getItems of the two
    * arrays, emitted one row per (subject, version) with no second
    * aggregation shuffle. (The r4 form probed the width-audit-heavy
    * struct arrays with exists() per field — interpreted, and 1.5×
    * slower per extra model dimension.)
    */
  def diffFields(s: SparkSession, dir: String): DataFrame = {
    def r(i: Int) = col("flds_all")(i)
    def wf(i: Int) = col("w_all")(i)
    def cnt(cond: Int => org.apache.spark.sql.Column) =
      (0 until AvroFields.nSlots).map(i => when(cond(i), 1L).otherwise(0L)).reduce(_ + _)
    // The diff is NAME-based (computeFieldDiffs has no alias
    // resolution): a renamed slot counts as one removal + one
    // addition, so presence comparisons also require name equality.
    def sameName(i: Int) = r(i)("fname") === wf(i)("fname")
    // the diff reads name/type/null/present per slot; the struct's
    // other members would be built and lagged for nothing
    Compat.fieldArrays(s, dir, Seq("fname", "ftype", "fnull"))
      .filter(col("version") > 1)
      .select(col("subject"), col("version"),
        cnt(i => r(i)("present") && !(wf(i)("present") && sameName(i))).as("n_added"),
        cnt(i => wf(i)("present") && !(r(i)("present") && sameName(i))).as("n_removed"),
        cnt(i => r(i)("present") && wf(i)("present") && sameName(i) &&
          r(i)("ftype") =!= wf(i)("ftype")).as("n_type_changed"),
        cnt(i => r(i)("present") && wf(i)("present") && sameName(i) &&
          r(i)("fnull") =!= wf(i)("fnull")).as("n_null_changed"))
  }

  /** PlanMigrationPath (tools_intelligence.go:729): can a consumer
    * jump straight from version 1 to latest, or does the chain
    * contain breaking steps? Per-subject rollup of [[Compat
    * .compatScan]]'s step verdicts — n_steps, breaking count, the
    * first breaking version (min over a conditional), and the safe-
    * direct-upgrade flag. Composition, not recomputation: one extra
    * partial-aggregated groupBy on top of the scan's single shuffle.
    */
  def migrationPath(s: SparkSession, dir: String): DataFrame =
    Compat.compatScan(s, dir)
      .groupBy(col("subject"))
      .agg(count(lit(1)).as("n_steps"),
        sum(when(!col("compatible"), 1).otherwise(0)).as("n_breaking"),
        min(when(!col("compatible"), col("version"))).as("first_breaking"),
        (sum(when(!col("compatible"), 1).otherwise(0)) === 0).as("safe_direct"))

  /** FindSchemasByField (tools_intelligence.go:87): which subjects'
    * latest schemas carry a given field (here: the PII-ish `email`),
    * with its type and nullability. Pushed-predicate scan over the
    * latest-fields view — output rows = matching subjects.
    */
  def findByField(s: SparkSession, dir: String): DataFrame =
    latestFields(s, dir)
      .filter(col("fname") === "email")
      .select(col("subject"), col("ftype"), col("fnull"))

  /** FindSchemasByType (tools_intelligence.go:177): the sibling of
    * [[findByField]] — which subjects' latest schemas carry a field
    * of a given TYPE (here: `bigint`, the id/widened-score type).
    * Same pushed-predicate scan over the latest-fields view, filtered
    * on ftype instead of fname.
    */
  def findByType(s: SparkSession, dir: String): DataFrame =
    latestFields(s, dir)
      .filter(col("ftype") === "bigint")
      .select(col("subject"), col("fname"), col("fnull"))

  /** SuggestSchemaEvolution (tools_intelligence.go:590-728,
    * suggestAddField :622 / suggestDeprecateField :658 /
    * suggestAddEnumSymbol :690): a rule engine over each subject's
    * latest version emitting (subject, rule, fname) suggestions.
    * Every rule is data-driven:
    *  - add_default_or_nullable: required non-enum field without a
    *    default — the next consumer-breaking addition candidate.
    *  - widen_int_to_long: an int field whose name is typed bigint in
    *    some other subject's latest version (cross-subject drift,
    *    detected by a window over the field name).
    *  - add_enum_default: enum field without a default — symbol
    *    evolution is unsafe until one exists (checker.go:182).
    *  - deprecate_before_remove: a field the latest version just
    *    dropped (present in maxv-1, gone in maxv) — flag for formal
    *    deprecation. Uses the lag array already on the latest row:
    *    row-local, no extra shuffle.
    * The latest view has ONE reader: its current and dropped fields
    * explode into one row stream, the bigint-name test is a window
    * over the field name, and every rule is a CASE over that row, so
    * the events window scan runs once.
    */
  def evolutionSuggest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("subject"))
    val latest = Compat.fieldArrays(s, dir, Seq("fname", "ftype", "fnull", "fdefault"))
      .withColumn("w_flds", filter(col("w_all"), fld => fld("present")))
      .withColumn("maxv", max(col("version")).over(w))
      .filter(col("version") === col("maxv"))
    // current fields, then the fields the latest version dropped
    // (none on a first version, whose w_flds is NULL)
    val fields = latest.select(col("subject"), explode(expr(
      """concat(
        |  transform(flds, f -> named_struct('fname', f.fname, 'ftype', f.ftype,
        |    'fnull', f.fnull, 'fdefault', f.fdefault, 'gone', false)),
        |  transform(coalesce(filter(w_flds, w -> !exists(flds, f -> f.fname = w.fname)), array()),
        |    w -> named_struct('fname', w.fname, 'ftype', CAST(NULL AS STRING),
        |      'fnull', CAST(NULL AS BOOLEAN), 'fdefault', CAST(NULL AS STRING), 'gone', true)))""".stripMargin)).as("f"))
      .select(col("subject"), col("f.*"))
      .withColumn("bigint_name", max(when(!col("gone") && col("ftype") === "bigint", true))
        .over(Window.partitionBy(col("fname"))))
    val cur = !col("gone")
    fields.select(col("subject"), explode(filter(array(
        when(cur && !col("fnull") && col("fdefault").isNull && col("ftype") =!= "enum",
          "add_default_or_nullable"),
        when(cur && col("ftype") === "int" && col("bigint_name"), "widen_int_to_long"),
        when(cur && col("ftype") === "enum" && col("fdefault").isNull, "add_enum_default"),
        when(col("gone"), "deprecate_before_remove")),
      _.isNotNull)).as("rule"), col("fname"))
  }

  /** DetectSchemaPatterns (tools_intelligence.go:485): the corpus-
    * shape summary the reference computes by iterating every subject
    * — subject count, total/multi-version stats, and how many fields
    * are ubiquitous (present in every subject's latest version) —
    * expressed as two partial-aggregated rollups + 1-row broadcasts,
    * stack'd to (metric, value) rows.
    */
  def detectPatterns(s: SparkSession, dir: String): DataFrame = {
    val vs = Compat.fieldArrays(s, dir, withLag = false)
      .groupBy(col("subject")).agg(max(col("version")).as("nv"))
    val a = vs.agg(count(lit(1)).as("n_subjects"),
      sum(col("nv")).as("total_versions"),
      sum(when(col("nv") > 1, 1).otherwise(0)).as("multi_version_subjects"))
    val nsub = latestFields(s, dir)
      .groupBy(col("fname")).agg(countDistinct(col("subject")).as("nsub"))
    // the 1-row `a` has ONE reader: the ubiquity count rolls up over
    // its outer join with every field's subject count (r12, guide §2.4
    // duplicated subtrees: two readers re-ran the field-model build)
    a.join(broadcast(nsub), lit(true), "left_outer")
      .groupBy(col("n_subjects"), col("total_versions"), col("multi_version_subjects"))
      .agg(count(when(col("nsub") === col("n_subjects"), 1)).as("ubiquitous_fields"))
      .selectExpr(
        """stack(4, 'n_subjects', n_subjects, 'total_versions', total_versions,
          |  'multi_version_subjects', multi_version_subjects,
          |  'ubiquitous_fields', ubiquitous_fields) AS (metric, value)""".stripMargin)
  }

  /** GetLatestSchema's REAL semantics under soft-delete (registry.go
    * :495 skips deleted versions; version numbers are never reused):
    * per subject, the max version among non-deleted registrations
    * (deletion derives from the payload: k % 5 == 0), plus deletion
    * accounting. One partial-aggregated groupBy over the shared
    * version stream — max/sum/count all combine map-side.
    */
  def activeLatest(s: SparkSession, dir: String): DataFrame =
    Compat.fieldArrays(s, dir, withLag = false)
      .groupBy(col("subject"))
      .agg(max(when(col("k") % 5 =!= 0, col("version"))).as("latest_active"),
        sum(when(col("k") % 5 === 0, 1).otherwise(0)).as("n_deleted"),
        count(lit(1)).as("n_versions"))

  /** compare_subjects (tools_comparison.go:206
    * handleCompareSubjects): latest-vs-latest field comparison of two
    * subjects — field counts, common-field count, and
    * computeFieldDiffs' added/removed/modified (:172 — modified =
    * same path, different type) tallies. The reference compares one
    * chosen pair; the whole-workload face here pairs every subject
    * with its successor in subject order, so each comparison the
    * reference could be asked for between neighbors is one row.
    *
    * Shape: the latest field ARRAY per subject (the one existing
    * window shuffle), then a lead() over the subjects-sized series
    * hands each row its neighbor's array, and every diff tally is a
    * row-local array HOF — intersect/except for membership,
    * exists-probe for type drift. The global lead window runs over
    * SUBJECTS (the dimension, like reg_subject_list's distinct
    * listing), never the version stream — the documented tiny-series
    * exception.
    */
  def compareSubjects(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("subject"))
    val latestArr = Compat.fieldArrays(s, dir, Seq("fname", "ftype"), withLag = false)
      .withColumn("maxv", max(col("version")).over(w))
      .filter(col("version") === col("maxv"))
      .select(col("subject"), col("flds"))
    val byName = Window.orderBy(col("subject"))
    val namesA = transform(col("flds"), x => x("fname"))
    val namesB = transform(col("flds_b"), x => x("fname"))
    latestArr
      .withColumn("subject_b", lead(col("subject"), 1).over(byName))
      .withColumn("flds_b", lead(col("flds"), 1).over(byName))
      .filter(col("subject_b").isNotNull)
      .select(col("subject").as("subject_a"), col("subject_b"),
        size(col("flds")).cast("long").as("fields_a"),
        size(col("flds_b")).cast("long").as("fields_b"),
        size(array_intersect(namesA, namesB)).cast("long").as("n_common"),
        size(array_except(namesB, namesA)).cast("long").as("n_added"),
        size(array_except(namesA, namesB)).cast("long").as("n_removed"),
        size(filter(col("flds"), x => exists(col("flds_b"),
          y => y("fname") === x("fname") && y("ftype") =!= x("ftype"))))
          .cast("long").as("n_modified"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "an_field_cooccur" -> fieldCooccur,
    "reg_compare_subjects" -> compareSubjects,
    "reg_active_latest" -> activeLatest,
    "an_find_field" -> findByField,
    "an_find_type" -> findByType,
    "reg_evolution_suggest" -> evolutionSuggest,
    "an_patterns" -> detectPatterns,
    "reg_similar" -> similarSchemas,
    "an_consistency" -> fieldConsistency,
    "an_complexity" -> schemaComplexity,
    "reg_migration" -> migrationPath,
    "reg_diff_fields" -> diffFields)

  /** Field co-occurrence mining over the latest schemas — the
    * "fields that travel together" intelligence behind evolution
    * suggestions and contract templates: for every field-name pair
    * appearing in ≥ 2 subjects' latest versions, the subject counts
    * and the lift n_both·N / (df1·df2) (lift > 1 = the pair
    * co-occurs more than independent adoption would predict).
    *
    * Scale: field names are unique within a subject, so the pair
    * fan-out is bounded by (fields per schema)² per subject — never
    * corpus²; document-frequency and the 1-row subject count are
    * vocabulary-sized broadcasts; lift is one double division of
    * exact integer products (no accumulation-order risk).
    */
  def fieldCooccur(s: SparkSession, dir: String): DataFrame = {
    // The latest-fields view (events scan + version window + field
    // model build) feeds the self-join and the 1-row subject count
    // (r6 re-derived it four times). The document frequency is a
    // window over the field name, and all three readers read its
    // output, so they share the window's fname exchange: the subject
    // count names dfx (always >= 1, so the count is unchanged) to keep
    // column pruning from cutting the window, and the view, away.
    val lf = latestFields(s, dir).select(col("subject"), col("fname"))
    val lfx = lf.withColumn("dfx", count(lit(1)).over(Window.partitionBy(col("fname"))))
    val n = lfx.agg(countDistinct(when(col("dfx") > 0, col("subject"))).as("n_subjects"))
    lfx.as("a").join(lfx.as("b"),
        col("a.subject") === col("b.subject") && col("a.fname") < col("b.fname"))
      .groupBy(col("a.fname").as("f1"), col("b.fname").as("f2"))
      .agg(count(lit(1)).as("n_both"), max(col("a.dfx")).as("df1"), max(col("b.dfx")).as("df2"))
      .filter(col("n_both") >= 2)
      .crossJoin(broadcast(n))
      .select(col("f1"), col("f2"), col("n_both"), col("df1"), col("df2"),
        (floor(col("n_both") * col("n_subjects") / (col("df1") * col("df2")).cast("double") * 10000 + 0.5)
          / lit(10000.0)).as("lift"))
  }

  private val latestCte: String =
    """latest AS (SELECT subject, max(version) AS v FROM versioned GROUP BY subject),
      |lf AS (SELECT f.subject, f.fname, f.ftype, f.fnull, f.fdefault, f.fsyms
      |       FROM fields f JOIN latest l ON f.subject = l.subject AND f.version = l.v)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "an_field_cooccur" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte,
        |lfp AS (SELECT subject, fname FROM lf),
        |d AS (SELECT fname, count(*) AS dfx FROM lfp GROUP BY 1),
        |nn AS (SELECT count(DISTINCT subject) AS n_subjects FROM lfp),
        |p AS (
        |  SELECT a.fname AS f1, b.fname AS f2, count(*) AS n_both
        |  FROM lfp a JOIN lfp b ON a.subject = b.subject AND a.fname < b.fname
        |  GROUP BY 1, 2)
        |SELECT f1, f2, n_both, d1.dfx AS df1, d2.dfx AS df2,
        |  floor(n_both * n_subjects / CAST(d1.dfx * d2.dfx AS DOUBLE) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS lift
        |FROM p JOIN d d1 ON p.f1 = d1.fname JOIN d d2 ON p.f2 = d2.fname, nn
        |WHERE n_both >= 2 ORDER BY f1, f2""".stripMargin,
    "reg_compare_subjects" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte,
        |subs AS (SELECT DISTINCT subject FROM fields),
        |pairs AS (SELECT subject AS sa, lead(subject) OVER (ORDER BY subject) AS sb FROM subs),
        |pp AS (SELECT sa, sb FROM pairs WHERE sb IS NOT NULL),
        |m AS (
        |  SELECT p.sa, p.sb, f.fname,
        |    max(CASE WHEN f.subject = p.sa THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN f.subject = p.sb THEN 1 ELSE 0 END) AS in_b,
        |    max(CASE WHEN f.subject = p.sa THEN f.ftype END) AS ta,
        |    max(CASE WHEN f.subject = p.sb THEN f.ftype END) AS tb
        |  FROM pp p JOIN lf f ON f.subject = p.sa OR f.subject = p.sb
        |  GROUP BY p.sa, p.sb, f.fname)
        |SELECT sa AS subject_a, sb AS subject_b,
        |  CAST(sum(in_a) AS BIGINT) AS fields_a,
        |  CAST(sum(in_b) AS BIGINT) AS fields_b,
        |  CAST(sum(in_a * in_b) AS BIGINT) AS n_common,
        |  CAST(sum(CASE WHEN in_b = 1 AND in_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 AND ta <> tb THEN 1 ELSE 0 END) AS BIGINT) AS n_modified
        |FROM m GROUP BY sa, sb ORDER BY sa""".stripMargin,
    "reg_active_latest" ->
      s"""WITH ${Compat.fieldModelCte}
        |SELECT subject,
        |  max(CASE WHEN k % 5 <> 0 THEN version END) AS latest_active,
        |  CAST(sum(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  count(*) AS n_versions
        |FROM versioned GROUP BY subject ORDER BY subject""".stripMargin,
    "an_find_field" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte
        |SELECT subject, ftype, fnull FROM lf WHERE fname = 'email'
        |ORDER BY subject""".stripMargin,
    "an_find_type" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte
        |SELECT subject, fname, fnull FROM lf WHERE ftype = 'bigint'
        |ORDER BY subject, fname""".stripMargin,
    "reg_evolution_suggest" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte,
        |removed AS (
        |  SELECT p.subject, p.fname
        |  FROM fields p JOIN latest l ON p.subject = l.subject AND p.version = l.v - 1
        |  WHERE NOT EXISTS (SELECT 1 FROM fields c
        |                    WHERE c.subject = p.subject AND c.version = l.v AND c.fname = p.fname)),
        |bigs AS (SELECT DISTINCT fname FROM lf WHERE ftype = 'bigint')
        |SELECT subject, rule, fname FROM (
        |  SELECT subject, 'add_default_or_nullable' AS rule, fname FROM lf
        |    WHERE NOT fnull AND fdefault IS NULL AND ftype <> 'enum'
        |  UNION ALL SELECT subject, 'widen_int_to_long', fname FROM lf
        |    WHERE ftype = 'int' AND fname IN (SELECT fname FROM bigs)
        |  UNION ALL SELECT subject, 'add_enum_default', fname FROM lf
        |    WHERE ftype = 'enum' AND fdefault IS NULL
        |  UNION ALL SELECT subject, 'deprecate_before_remove', fname FROM removed) t
        |ORDER BY subject, rule, fname""".stripMargin,
    "an_patterns" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte,
        |vs AS (SELECT subject, max(version) AS nv FROM versioned GROUP BY subject),
        |a AS (SELECT count(*) AS n_subjects, CAST(sum(nv) AS BIGINT) AS total_versions,
        |        CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS multi_version FROM vs),
        |u AS (SELECT count(*) AS ubiquitous FROM (
        |        SELECT fname FROM lf GROUP BY fname
        |        HAVING count(DISTINCT subject) = (SELECT n_subjects FROM a)) t)
        |SELECT metric, value FROM (
        |  SELECT 'n_subjects' AS metric, n_subjects AS value FROM a
        |  UNION ALL SELECT 'total_versions', total_versions FROM a
        |  UNION ALL SELECT 'multi_version_subjects', multi_version FROM a
        |  UNION ALL SELECT 'ubiquitous_fields', ubiquitous FROM u) t
        |ORDER BY metric""".stripMargin,
    "reg_migration" ->
      s"""WITH scan AS (${Compat.oracleSql("compat_scan")})
        |SELECT subject, count(*) AS n_steps,
        |  CAST(sum(CASE WHEN NOT compatible THEN 1 ELSE 0 END) AS BIGINT) AS n_breaking,
        |  min(CASE WHEN NOT compatible THEN version END) AS first_breaking,
        |  sum(CASE WHEN NOT compatible THEN 1 ELSE 0 END) = 0 AS safe_direct
        |FROM scan GROUP BY subject ORDER BY subject""".stripMargin,
    "reg_similar" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte,
        |sizes AS (SELECT subject, count(*) AS n FROM lf GROUP BY subject),
        |pairs AS (
        |  SELECT a.subject AS sub_a, b.subject AS sub_b, count(*) AS c
        |  FROM lf a JOIN lf b
        |    ON a.fname = b.fname AND a.ftype = b.ftype AND a.fnull = b.fnull
        |   AND a.subject < b.subject
        |  GROUP BY 1, 2)
        |SELECT sub_a, sub_b, c AS n_shared,
        |  floor(c / CAST(sa.n + sb.n - c AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS jaccard
        |FROM pairs JOIN sizes sa ON sub_a = sa.subject JOIN sizes sb ON sub_b = sb.subject
        |WHERE c / CAST(sa.n + sb.n - c AS DOUBLE) >= 1.0
        |ORDER BY sub_a, sub_b""".stripMargin,
    "an_consistency" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte
        |SELECT fname, count(*) AS n_subjects,
        |  count(DISTINCT ftype) AS n_types,
        |  count(DISTINCT ftype) > 1 AS type_conflict,
        |  count(DISTINCT fnull) > 1 AS null_conflict
        |FROM lf GROUP BY fname ORDER BY fname""".stripMargin,
    "an_complexity" ->
      s"""WITH ${Compat.fieldModelCte},
        |$latestCte
        |SELECT subject, count(*) AS n_fields,
        |  CAST(sum(CASE WHEN NOT fnull THEN 1 ELSE 0 END) AS BIGINT) AS n_required,
        |  count(DISTINCT ftype) AS n_types,
        |  floor((count(*) + 0.5 * count(DISTINCT ftype)
        |         + 0.25 * sum(CASE WHEN NOT fnull THEN 1 ELSE 0 END)) * 100 + 0.5)
        |    / CAST(100 AS DOUBLE) AS complexity
        |FROM lf GROUP BY subject ORDER BY subject""".stripMargin,
    "reg_diff_fields" ->
      s"""WITH ${Compat.fieldModelCte},
        |steps AS (SELECT subject, version FROM versioned WHERE version > 1),
        |r AS (SELECT f.* FROM fields f JOIN steps s ON f.subject = s.subject AND f.version = s.version),
        |w AS (SELECT f.subject, f.version + 1 AS version, f.fname, f.ftype, f.fnull
        |      FROM fields f JOIN steps s ON f.subject = s.subject AND f.version + 1 = s.version),
        |j AS (SELECT coalesce(r.subject, w.subject) AS subject, coalesce(r.version, w.version) AS version,
        |        r.fname AS rf, w.fname AS wf, r.ftype AS rt, w.ftype AS wt, r.fnull AS rn, w.fnull AS wn
        |      FROM r FULL JOIN w ON r.subject = w.subject AND r.version = w.version AND r.fname = w.fname)
        |SELECT subject, version,
        |  CAST(sum(CASE WHEN wf IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN rf IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN rf IS NOT NULL AND wf IS NOT NULL AND rt <> wt THEN 1 ELSE 0 END) AS BIGINT) AS n_type_changed,
        |  CAST(sum(CASE WHEN rf IS NOT NULL AND wf IS NOT NULL AND rn <> wn THEN 1 ELSE 0 END) AS BIGINT) AS n_null_changed
        |FROM j GROUP BY subject, version ORDER BY subject, version""".stripMargin)
}
