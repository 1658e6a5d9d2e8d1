package graft.operators

import graft.Tables
import graft.compat.{AvroFields, SchemaCompat}
import graft.compat.AvroFields._
import graft.compat.SchemaCompat._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compatibility checking as queries: a battery of schema-evolution
  * cases run through [[SchemaCompat]] (oracle: the hand-traced verdict
  * table), and corpus-wide scans over the registry's version history.
  * The scans read the one Avro field model, [[AvroFields]], through its
  * kernels `graft_avro_slots(k)` ([[fieldArrays]]) and
  * `graft_avro_profile(k)` ([[slotProfiles]]), so every compat query
  * shares one compiled model; the per-query rules stay declarative.
  */
object Compat {

  /** Branch-set normalization (the union's branches, or the scalar
    * type as a singleton) lets ONE predicate cover checkUnion
    * (avro/checker.go:224), checkReaderUnion (:247), checkWriterUnion
    * (:263) and plain scalar resolution (:54 + :297): in every case
    * the rule is "every writer branch must be readable by some reader
    * branch". The branch sets live as BITMASKS ([[AvroFields
    * .typeBits]]): array higher-order functions are interpreted per
    * element and fall out of whole-stage codegen, while a mask makes
    * the whole resolution algebra integer ops. The oracles spell the
    * same algebra over real branch lists ([[sqlBranches]]/
    * [[sqlAccepts]]/[[sqlTypeBreak]]); parity proves the two equal.
    */
  private val acceptTable: Array[Int] = Array.tabulate(64)(AvroFields.accepts)

  /** [[AvroFields.accepts]] on a mask column: only bits 0-5 promote. */
  private[graft] def acceptsOf(mask: Column): Column =
    mask.bitwiseOR(element_at(typedLit(acceptTable), mask.bitwiseAND(lit(63)) + 1))

  /** DuckDB spellings of the mask algebra over real branch lists
    * (the oracle side; the Spark side uses the model's fmask ints +
    * [[acceptsOf]] — "some writer branch is unreadable by every
    * reader branch" spelled NOT-free as (w AND acc) ≠ w).
    */
  private[operators] def sqlBranches(t: String, u: String): String =
    s"coalesce(string_split($u, ','), [$t])"
  private[operators] def sqlAccepts(t: String, u: String): String =
    s"""flatten(list_transform(${sqlBranches(t, u)}, b ->
       |    CASE b WHEN 'bigint' THEN ['bigint','int']
       |           WHEN 'float' THEN ['float','bigint','int']
       |           WHEN 'double' THEN ['double','float','bigint','int']
       |           WHEN 'string' THEN ['string','bytes']
       |           WHEN 'bytes' THEN ['bytes','string']
       |           ELSE [b] END))""".stripMargin
  private[operators] def sqlTypeBreak(rt: String, ru: String,
                                      wt: String, wu: String): String =
    s"NOT list_has_all(${sqlAccepts(rt, ru)}, ${sqlBranches(wt, wu)})"

  private def st(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })

  /** Field with the Avro metadata dimensions ([[SchemaCompat
    * .hasDefault]] / [[SchemaCompat.enumSymbols]] /
    * [[SchemaCompat.unionBranches]]).
    */
  private def mf(name: String, dt: DataType, nullable: Boolean,
                 default: Option[String] = None, syms: Seq[String] = Nil,
                 union: Seq[String] = Nil, alias: Seq[String] = Nil,
                 named: Option[(String, String, Seq[String])] = None): StructField = {
    val b = new MetadataBuilder()
    default.foreach(b.putString("default", _))
    if (syms.nonEmpty) b.putStringArray("enumSymbols", syms.toArray)
    if (union.nonEmpty) b.putStringArray("unionBranches", union.toArray)
    if (alias.nonEmpty) b.putStringArray("aliases", alias.toArray)
    named.foreach { case (kind, tname, taliases) =>
      b.putString("typeKind", kind)
      b.putString("typeName", tname)
      if (taliases.nonEmpty) b.putStringArray("typeAliases", taliases.toArray)
    }
    StructField(name, dt, nullable, b.build())
  }

  private val v1 = st(("id", LongType, false), ("name", StringType, true))

  /** (case_id, description, mode, new schema, history oldest→newest) */
  private val cases: Seq[(Int, String, Mode, StructType, Seq[StructType])] = Seq(
    (1, "add nullable field", Backward,
      st(("id", LongType, false), ("name", StringType, true), ("email", StringType, true)), Seq(v1)),
    (2, "add required field", Backward,
      st(("id", LongType, false), ("name", StringType, true), ("email", StringType, false)), Seq(v1)),
    (3, "remove field", Backward,
      st(("id", LongType, false)), Seq(v1)),
    (4, "remove field read by old required reader", Forward,
      st(("name", StringType, true)), Seq(v1)),
    (5, "widen int to long", Backward,
      st(("id", LongType, false), ("name", StringType, true)),
      Seq(st(("id", IntegerType, false), ("name", StringType, true)))),
    (6, "narrow long to int", Backward,
      st(("id", IntegerType, false), ("name", StringType, true)), Seq(v1)),
    (7, "string/binary interchange", Full,
      st(("id", LongType, false), ("name", BinaryType, true)), Seq(v1)),
    (8, "nested struct type break", Backward,
      st(("id", LongType, false), ("meta", st(("score", FloatType, true)), true)),
      Seq(st(("id", LongType, false), ("meta", st(("score", DoubleType, true)), true)))),
    (9, "transitive catches old break", BackwardTransitive,
      st(("id", LongType, false), ("name", StringType, false)),
      Seq(st(("id", LongType, false)), v1)),
    (10, "NONE ignores breaking change", None_,
      st(("totally", StringType, false)), Seq(v1)),
    (11, "add required field with default", Backward,
      StructType(v1.fields :+ mf("email", StringType, nullable = false, default = Some(""))), Seq(v1)),
    (12, "enum symbol removed without default", Backward,
      StructType(Seq(mf("status", StringType, nullable = false, syms = Seq("A", "B")))),
      Seq(StructType(Seq(mf("status", StringType, nullable = false, syms = Seq("A", "B", "C")))))),
    (13, "enum symbol removed with reader default", Backward,
      StructType(Seq(mf("status", StringType, nullable = false, default = Some("A"), syms = Seq("A", "B")))),
      Seq(StructType(Seq(mf("status", StringType, nullable = false, syms = Seq("A", "B", "C")))))),
    (14, "evolve T to nullable union [null,T]", Backward,
      StructType(Seq(mf("ref", StringType, nullable = true, union = Seq("null", "string")))),
      Seq(st(("ref", StringType, true)))),
    (15, "union to scalar drops null branch", Backward,
      st(("ref", StringType, true)),
      Seq(StructType(Seq(mf("ref", StringType, nullable = true, union = Seq("null", "string")))))),
    (16, "union branch removed", Backward,
      StructType(Seq(mf("ref", StringType, nullable = true, union = Seq("null", "string")))),
      Seq(StructType(Seq(mf("ref", StringType, nullable = true, union = Seq("bigint", "null", "string")))))),
    (17, "union branch added", Backward,
      StructType(Seq(mf("ref", StringType, nullable = true, union = Seq("bigint", "null", "string")))),
      Seq(StructType(Seq(mf("ref", StringType, nullable = true, union = Seq("null", "string")))))),
    (18, "writer int promotes into reader union long branch", Backward,
      StructType(Seq(mf("ref", StringType, nullable = true, union = Seq("bigint", "null", "string")))),
      Seq(st(("ref", IntegerType, true)))),
    (19, "numeric promotion int to double", Backward,
      st(("ratio", DoubleType, true)), Seq(st(("ratio", IntegerType, true)))),
    (20, "numeric narrowing double to float", Backward,
      st(("ratio", FloatType, true)), Seq(st(("ratio", DoubleType, true)))),
    (21, "fixed size mismatch", Backward,
      StructType(Seq(mf("token", BinaryType, nullable = true, union = Seq("fixed8")))),
      Seq(StructType(Seq(mf("token", BinaryType, nullable = true, union = Seq("fixed16")))))),
    (22, "fixed same size", Backward,
      StructType(Seq(mf("token", BinaryType, nullable = true, union = Seq("fixed16")))),
      Seq(StructType(Seq(mf("token", BinaryType, nullable = true, union = Seq("fixed16")))))),
    (23, "rename rescued by reader alias", Backward,
      StructType(Seq(mf("nickname", StringType, nullable = false, alias = Seq("nick")))),
      Seq(st(("nick", StringType, false)))),
    (24, "rename without alias breaks", Backward,
      StructType(Seq(StructField("nickname", StringType, nullable = false))),
      Seq(st(("nick", StringType, false)))),
    // Named-type NAME rules (avro/checker.go:105-:110 record via
    // recordNamesMatch :145-:165; enum :186-:189 strict; fixed
    // :284-:287 strict) — the type-level half of the alias spec.
    (25, "record type-name mismatch breaks without aliases", Backward,
      StructType(Seq(mf("meta", st(("score", DoubleType, true)), nullable = true,
        named = Some(("record", "com.ex.MetaV2", Nil))))),
      Seq(StructType(Seq(mf("meta", st(("score", DoubleType, true)), nullable = true,
        named = Some(("record", "com.ex.Meta", Nil))))))),
    (26, "record type-name rescued by reader alias", Backward,
      StructType(Seq(mf("meta", st(("score", DoubleType, true)), nullable = true,
        named = Some(("record", "com.ex.MetaV2", Seq("com.ex.Meta")))))),
      Seq(StructType(Seq(mf("meta", st(("score", DoubleType, true)), nullable = true,
        named = Some(("record", "com.ex.Meta", Nil))))))),
    (27, "record type-name rescued by writer alias", Backward,
      StructType(Seq(mf("meta", st(("score", DoubleType, true)), nullable = true,
        named = Some(("record", "com.ex.MetaV2", Nil))))),
      Seq(StructType(Seq(mf("meta", st(("score", DoubleType, true)), nullable = true,
        named = Some(("record", "com.ex.Meta", Seq("com.ex.MetaV2")))))))),
    (28, "record name mismatch does not descend into fields", Backward,
      StructType(Seq(mf("meta", st(("score", FloatType, false)), nullable = true,
        named = Some(("record", "com.ex.MetaV2", Nil))))),
      // the narrowing double->float inside would add a second message
      // if the checker descended; the reference stops at the name
      Seq(StructType(Seq(mf("meta", st(("score", DoubleType, true)), nullable = true,
        named = Some(("record", "com.ex.Meta", Nil))))))),
    (29, "enum type-name mismatch breaks even with aliases", Backward,
      StructType(Seq(mf("status", StringType, nullable = false, syms = Seq("A", "B"),
        named = Some(("enum", "com.ex.State", Seq("com.ex.Status")))))),
      Seq(StructType(Seq(mf("status", StringType, nullable = false, syms = Seq("A", "B"),
        named = Some(("enum", "com.ex.Status", Nil))))))),
    (30, "fixed type-name mismatch breaks at equal size", Backward,
      StructType(Seq(mf("token", BinaryType, nullable = true, union = Seq("fixed8"),
        named = Some(("fixed", "com.ex.Digest8", Nil))))),
      Seq(StructType(Seq(mf("token", BinaryType, nullable = true, union = Seq("fixed8"),
        named = Some(("fixed", "com.ex.Hash8", Nil))))))),
    (31, "matching named types pass all three kinds", Backward,
      StructType(Seq(
        mf("meta", st(("score", DoubleType, true)), nullable = true,
          named = Some(("record", "com.ex.Meta", Nil))),
        mf("status", StringType, nullable = false, syms = Seq("A", "B", "C"),
          named = Some(("enum", "com.ex.Status", Nil))),
        mf("token", BinaryType, nullable = true, union = Seq("fixed8"),
          named = Some(("fixed", "com.ex.Hash8", Nil))))),
      Seq(StructType(Seq(
        mf("meta", st(("score", DoubleType, true)), nullable = true,
          named = Some(("record", "com.ex.Meta", Nil))),
        mf("status", StringType, nullable = false, syms = Seq("A", "B"),
          named = Some(("enum", "com.ex.Status", Nil))),
        mf("token", BinaryType, nullable = true, union = Seq("fixed8"),
          named = Some(("fixed", "com.ex.Hash8", Nil))))))))

  def checkBattery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cases.map { case (id, desc, mode, newSchema, history) =>
      val r = SchemaCompat.check(mode, newSchema, history)
      (id, desc, mode.name, r.isCompatible, r.messages.length.toLong)
    }.toDF("case_id", "description", "mode", "compatible", "n_messages")
  }

  /** A registration's payload `k` as `props` carries it (NULL when it
    * lacks one) — the one input every synthetic schema model derives
    * from; [[versions]] casts it to bigint.
    */
  private[operators] val payloadK: Column = get_json_object(col("props"), "$.k")

  /** The version order of a subject's registrations: (ts, event_id).
    * The one version window: every model's `version`, lag and
    * running history shares its sort, that of the row_number window
    * that defines `version` in [[versions]].
    */
  private[operators] val versionOrder =
    Window.partitionBy(col("subject")).orderBy(col("ts"), col("event_id"))

  /** (subject, ts, event_id, k, version): every events row is a
    * registration for its subject (user_id), in version order. The
    * one registration stream: every schema model (Avro, nested paths,
    * named types, Protobuf) and the registry's version cards read it.
    */
  private[operators] def versions(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    // spread on the window key: on a single-row-group events file
    // the JSON parse serialized on the one scan task
    // (stage profile: a multi-second 1-task stage under every consumer
    // of this model). Keyed by `subject`, the fan-out exchange IS the
    // version window's exchange — same exchange count, parse moved to
    // the parallel side, at the price of `props` (not only `k`)
    // crossing that shuffle.
    Tables.spread(
      Tables.events(s, dir).select(
        col("user_id").as("subject"), col("ts"), col("event_id"), col("props")),
      col("subject"))
      .select(col("subject"), col("ts"), col("event_id"), payloadK.cast("bigint").as("k"))
      .withColumn("version", row_number().over(versionOrder))
  }

  /** [[versions]] plus `flds_all`, the ten positional slot structs
    * of [[AvroFields.slots]], `flds` (the present ones) and, with
    * `withLag`, the previous version's `w_all` (NULL for version 1).
    * ONE shuffle, the subject window. The scans pair the positional
    * arrays through [[slotPairs]]; the set view serves the latest-
    * version tools. Non-empty `members` builds only those struct
    * members and `present`.
    */
  private[graft] def fieldArrays(s: SparkSession, dir: String, members: Seq[String] = Nil,
                                 withLag: Boolean = true): DataFrame = {
    val cut = if (members.isEmpty) "" else (members :+ "present").distinct.map(m => s", '$m'").mkString
    val base = versions(s, dir)
      .withColumn("flds_all", expr(s"graft_avro_slots(k$cut)"))
      .withColumn("flds", filter(col("flds_all"), fld => fld("present")))
    if (!withLag) base
    else base.withColumn("w_all", lag(col("flds_all"), 1).over(versionOrder))
  }

  /** DuckDB mirror of [[fieldArrays]]' relational (subject, version,
    * fname, ftype, fnull, fdefault, fsyms) view — prepend inside
    * WITH (...).
    */
  private[operators] val fieldModelCte: String =
    """ev AS (
      |  SELECT user_id AS subject, ts, event_id,
      |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |versioned AS (
      |  SELECT subject, k,
      |         row_number() OVER (PARTITION BY subject ORDER BY ts, event_id) AS version
      |  FROM ev),
      |fields0 AS (
      |  SELECT subject, version, 'id' AS fname, 'bigint' AS ftype, false AS fnull,
      |         CAST(NULL AS VARCHAR) AS fdefault, CAST(NULL AS VARCHAR) AS fsyms,
      |         CAST(NULL AS VARCHAR) AS funion, CAST(NULL AS VARCHAR) AS falias FROM versioned
      |  UNION ALL SELECT subject, version, 'name', 'string', k % 2 = 0, NULL, NULL, NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'email', 'string', true, NULL, NULL, NULL, NULL FROM versioned WHERE k % 3 = 0
      |  UNION ALL SELECT subject, version, 'score',
      |    CASE WHEN k % 4 < 2 THEN 'int' ELSE 'bigint' END, false, NULL, NULL, NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'status', 'enum', false,
      |    CASE WHEN k % 5 < 3 THEN 'A' END,
      |    CASE WHEN k % 2 = 0 THEN 'A,B' ELSE 'A,B,C' END, NULL, NULL FROM versioned WHERE k % 3 < 2
      |  UNION ALL SELECT subject, version, 'ratio',
      |    CASE WHEN k % 9 < 2 THEN 'int' WHEN k % 9 < 4 THEN 'bigint'
      |         WHEN k % 9 < 6 THEN 'float' ELSE 'double' END,
      |    true, NULL, NULL, NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'payload',
      |    CASE WHEN k % 13 < 7 THEN 'string' ELSE 'bytes' END,
      |    true, NULL, NULL, NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'ref',
      |    CASE WHEN k % 6 = 0 THEN 'int' WHEN k % 6 = 1 THEN 'string' ELSE 'union' END,
      |    true, NULL, NULL,
      |    CASE WHEN k % 6 IN (4, 5) THEN 'null,string'
      |         WHEN k % 6 = 2 THEN 'bigint,null,string'
      |         WHEN k % 6 = 3 THEN 'bigint,string' END, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'token',
      |    CASE WHEN k % 23 < 12 THEN 'fixed8' ELSE 'fixed16' END,
      |    true, NULL, NULL, NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version,
      |    CASE WHEN k % 29 < 15 THEN 'nick' ELSE 'nickname' END,
      |    'string', false, NULL, NULL, NULL,
      |    CASE WHEN k % 31 < 16 THEN
      |      CASE WHEN k % 29 < 15 THEN 'nickname' ELSE 'nick' END END FROM versioned),
      |fields AS (
      |  SELECT *, CASE WHEN fname IN ('nick', 'nickname') THEN 'nick' ELSE fname END AS fid
      |  FROM fields0)""".stripMargin

  /** Version N's slots paired positionally with version N-1's, for
    * every schema model: one (subject, version, `carry`..., pos, rf,
    * wf) row per slot of the `reader` array (`rf`) with the same slot
    * of the `writer` array (`wf`), for version > 1. A model's two
    * arrays share one fixed layout, so the reader↔writer match is
    * element_at by the posexploded index (codegen'd), not a
    * filter-by-key HOF probe. `carry` names per-version columns the
    * caller's verdict still reads. The callers keep their own row
    * filter (which slots count); BACKWARD pairs (current, lagged),
    * FORWARD swaps the roles.
    */
  private[operators] def slotPairs(model: DataFrame, reader: String, writer: String,
                                   carry: String*): DataFrame =
    model.filter(col("version") > 1)
      .select((Seq(col("subject"), col("version")) ++ carry.map(col) :+ col(writer) :+
        posexplode(col(reader)).as(Seq("pos", "rf"))): _*)
      .withColumn("wf", element_at(col(writer), col("pos") + 1))
      .drop(writer)

  /** The Avro scans' pairs: the reader's present slots. */
  private def avroPairs(s: SparkSession, dir: String, reader: String, writer: String): DataFrame =
    slotPairs(fieldArrays(s, dir), reader, writer).where(col("rf.present"))

  /** The avro/checker.go rules on one (reader, writer) slot pair, each
    * as a flag named by its violation class: (:129) a reader field
    * missing from the writer breaks ONLY when required AND defaultless
    * — a default rescues it; type resolution is the branch-mask
    * membership test — the union rules (:224/:247/:263) and the full
    * promotion matrix (:304) as one test — split into `type_narrowed`
    * (the REVERSE direction would resolve: pure narrowing, the author
    * should have widened) and `type_change` (a genuine rewrite); a
    * required reader breaks on a nullable writer; (:182) an enum writer
    * symbol unknown to the reader breaks unless the reader declares an
    * enum default. The promotion direction follows the roles, so
    * FORWARD is this function with the pair swapped.
    */
  private def pairRules(r: Column, w: Column): Seq[(String, Column)] = {
    // alias-aware resolution (avro/checker.go:112-:125): the slot pair
    // matches when the names agree OR either side's alias covers the
    // other's name (eqNullSafe — a NULL alias is "no alias", not
    // unknown). For every fixed-name slot this reduces to presence.
    val matched = w("present") &&
      (w("fname") === r("fname") ||
        r("falias") <=> w("fname") || w("falias") <=> r("fname"))
    val typeBreak = matched &&
      w("fmask").bitwiseAND(acceptsOf(r("fmask"))) =!= w("fmask")
    val narrowing = r("fmask").bitwiseAND(acceptsOf(w("fmask"))) === r("fmask")
    Seq(
      "missing_default" -> (!matched && !r("fnull") && r("fdefault").isNull),
      "type_narrowed" -> (typeBreak && narrowing),
      "type_change" -> (typeBreak && !narrowing),
      "required_reads_nullable" -> (matched && !r("fnull") && w("fnull")),
      "enum_symbols" -> (r("ftype") === "enum" && matched && w("ftype") === "enum" &&
        r("fdefault").isNull &&
        size(array_except(split(w("fsyms"), ","), split(r("fsyms"), ","))) > 0))
  }

  /** One (subject, version) verdict over [[slotPairs]]: the pair
    * count and how many pairs break (`violation`).
    */
  private def stepVerdict(pairs: DataFrame, violation: Column,
                          nName: String, okName: String): DataFrame =
    pairs.groupBy(col("subject"), col("version"))
      .agg(count(lit(1)).as(nName),
        sum(when(violation, 1L).otherwise(0L)).as("n_violations"))
      .withColumn(okName, col("n_violations") === 0)

  /** Some rule of [[pairRules]] fires on the (rf, wf) pair. */
  private val avroViolation: Column = pairRules(col("rf"), col("wf")).map(_._2).reduce(_ || _)

  /** Data-driven BACKWARD compatibility over the whole corpus
    * (checker.go:39 Check iterates a subject's version history): every
    * registration (events row) is a schema version for its subject
    * (user_id), and version N is checked against version N-1 by
    * [[pairRules]] over [[slotPairs]]. No UDF and no self-join: the
    * writer arrives via lag() over the one subject window — the shape
    * that survives 100 TB, since version chains are contiguous in their
    * subject partition.
    */
  def compatScan(s: SparkSession, dir: String): DataFrame =
    stepVerdict(avroPairs(s, dir, "flds_all", "w_all"), avroViolation, "n_fields", "compatible")

  /** One (subject, version, fname, violation) row per fired rule —
    * the classification stated ONCE and shared by [[compatExplain]]
    * and [[ruleFreq]] (the SQL side shares `explainOracle` the same
    * way), so a new violation class cannot silently diverge between
    * the listing and its frequency rollup.
    */
  private def violationHits(s: SparkSession, dir: String): DataFrame = {
    // Flags first, in a codegen'd projection: the `filter` HOF below is
    // interpreted, and with the rules inlined into it compat_explain
    // took about twice the task CPU at sf0.1.
    val rules = pairRules(col("rf"), col("wf"))
    avroPairs(s, dir, "flds_all", "w_all")
      .select(Seq(col("subject"), col("version"), col("rf.fname").as("fname")) ++
        rules.map { case (name, fired) => fired.as(name) }: _*)
      .select(col("subject"), col("version"), col("fname"),
        explode(filter(array(rules.map { case (name, _) => when(col(name), name) }: _*),
          x => x.isNotNull)).as("violation"))
  }

  /** explain_compatibility_failure + suggest_compatible_change
    * (tools_comparison.go:371 handleExplainCompatibilityFailure,
    * :422 explainMessage): for every violated rule on every breaking
    * version step, one diagnosis row (subject, version, fname,
    * violation class, suggestion) — the corpus-wide face of the
    * reference's per-message explanation loop, re-expressed as a
    * class → suggestion mapping over [[pairRules]]' named flags.
    * Entirely row-local past the shared single window shuffle; a field
    * violating two rules yields two rows, as the reference yields two
    * messages.
    */
  def compatExplain(s: SparkSession, dir: String): DataFrame =
    // ONE pass over the shared checks (a 4-way union of filtered
    // selects re-ran the window scan per class — 6s vs 1.9s for the
    // sibling aggregate at sf0.1): the live classes explode from a
    // row-local array, then a when-chain attaches the suggestion.
    // Type breaks carry the promotion-aware split: `type_narrowed`
    // (reverse direction WOULD promote — the pure-narrowing mistakes
    // like double→float, bigint→int, union branch removal) vs
    // `type_change` (a genuine rewrite no promotion order fixes).
    violationHits(s, dir)
      .withColumn("suggestion",
        when(col("violation") === "missing_default",
          "Add a default value to the new field so old data can be read with the new schema.")
          .when(col("violation") === "type_narrowed",
            "This reverses a legal promotion; keep the wider type (or widen the union) instead of narrowing.")
          .when(col("violation") === "type_change",
            "Use type promotion (e.g., int to long) or add a new field with the desired type.")
          .when(col("violation") === "required_reads_nullable",
            "Keep the field nullable or add a default before tightening it.")
          .otherwise("Only add new enum symbols; do not remove or rename existing ones."))

  /** Enum-vocabulary drift timeline — the descriptive history view
    * next to the compat verdicts: for every enum field transition
    * that changed its symbol set, which symbols were added, removed
    * and kept. Compat answers "does this break"; this answers "how
    * is the vocabulary actually evolving" (the input to deprecation
    * planning and to spotting churn-prone enums). Same positional
    * slot pairing and single window as the compat family — no new
    * shuffle shape.
    */
  def enumDrift(s: SparkSession, dir: String): DataFrame = {
    val r = col("rf")
    val wf = col("wf")
    avroPairs(s, dir, "flds_all", "w_all")
      .where(r("ftype") === "enum" && wf("present") && wf("ftype") === "enum" &&
        wf("fname") === r("fname"))
      .select(col("subject"), col("version"), r("fname").as("fname"),
        size(array_except(split(r("fsyms"), ","), split(wf("fsyms"), ","))).as("n_added"),
        size(array_except(split(wf("fsyms"), ","), split(r("fsyms"), ","))).as("n_removed"),
        size(array_intersect(split(r("fsyms"), ","), split(wf("fsyms"), ","))).as("n_kept"))
      .where(col("n_added") > 0 || col("n_removed") > 0)
  }

  /** Violation-class frequency card — "which compatibility rules
    * actually fire in THIS registry": per violation class, how many
    * field hits, failing transitions, and distinct subjects it
    * touches, with each class's share of all hits. The ops view a
    * registry owner reads before deciding which rule to promote from
    * warn to block (a rule that never fires is free to enforce; one
    * touching half the subjects needs a migration plan first).
    * Composes [[compatExplain]]'s shared single-window scan; the
    * rollup is one bounded-vocabulary aggregate.
    */
  def ruleFreq(s: SparkSession, dir: String): DataFrame = {
    // n_total from the rollup itself (r12): every hit carries exactly
    // one violation class, so the class counts partition the hit set
    // and a global window-sum over the ≤5-row aggregate equals the
    // former hits.agg(count) — whose crossJoin subplan re-ran the
    // whole violationHits window scan a second time (guide §2.4:
    // duplicated subtrees; measured ~2x the query).
    violationHits(s, dir).groupBy(col("violation"))
      .agg(count(lit(1)).as("n_field_hits"),
        countDistinct(col("subject"), col("version")).as("n_transitions"),
        countDistinct(col("subject")).as("n_subjects"))
      .withColumn("n_total",
        sum(col("n_field_hits")).over(org.apache.spark.sql.expressions.Window
          .partitionBy().rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("violation"), col("n_field_hits"), col("n_transitions"), col("n_subjects"),
        (floor(col("n_field_hits") / col("n_total").cast("double") * 10000 + 0.5) / lit(10000.0))
          .as("share"))
  }

  /** FORWARD mode over the corpus (modes.go: old readers must cope
    * with data written by the NEW version). Same single-window scan
    * as [[compatScan]] with the roles swapped: the N-1 fields are
    * the reader (exploded), probed against the current version's
    * writer array. Promotion direction flips accordingly (writer
    * int → reader bigint stays legal).
    */
  def compatForwardScan(s: SparkSession, dir: String): DataFrame =
    stepVerdict(avroPairs(s, dir, "w_all", "flds_all"), avroViolation, "n_reader_fields", "forward_ok")

  // ---------------------------------------------------------------
  // The two transitive scans and [[compatGate]] read the packed slot
  // profile ([[AvroFields.profile]]: one int per slot, the branch and
  // accept masks plus one bit per model fact), and their rule sets
  // compile to a TEST-MASK algebra over it, evaluated per slot over ONE
  // subject window on int arrays:
  //   hb : the bits this version contributes to the running history
  //        (branch mask + existence [[fact]] bits; one marks ABSENCE), and
  //   tm : the bits of accumulated history that would break THIS
  //        version (reader role for BACKWARD_TRANSITIVE, writer role
  //        for FORWARD_TRANSITIVE).
  // Violation classes live on disjoint bits, so "some earlier
  // version breaks this one under some rule" is exactly
  //   (bit_or(hb) over earlier versions) & tm ≠ 0.
  // Stated over the slot STRUCTS instead (string compares per member,
  // ten slots inlined in one projection), the same algebra made a
  // generated method HotSpot could not compile (C2 "out of nodes
  // during split") and ran interpreted: 9.6–10.6 task CPU-s per scan
  // at sf0.1 on 4 cores, against 0.84–0.99 on the packed profile.
  // Exploded per slot it needed a second (subject, pos) shuffle that
  // AQE coalesced to one task (7.5→15.5 s).
  // ---------------------------------------------------------------
  private def bitIf(c: Column, bit: Int): Column =
    when(c, lit(bit)).otherwise(lit(0))

  private def ppBit(p: Column, bit: Int): Column =
    p.bitwiseAND(lit(bit)) =!= 0

  private def ppMask(p: Column): Column = p.bitwiseAND(lit(allTypeBits))

  private def ppAccepts(p: Column): Column =
    shiftright(p, typeWidth).bitwiseAND(lit(allTypeBits))

  /** The hb/tm existence-fact bits, above the type bits. */
  private def fact(i: Int): Int = (allTypeBits + 1) << i

  /** (subject, version, ts, event_id, pp): each version's packed slot
    * profiles, `graft_avro_profile(k)`.
    */
  private def slotProfiles(s: SparkSession, dir: String): DataFrame =
    versions(s, dir)
      .select(col("subject"), col("version"), col("ts"), col("event_id"),
        expr("graft_avro_profile(k)").as("pp"))

  /** Per slot, the bit_or of `hb` over every EARLIER version (0 for
    * version 1). `version` is strictly increasing within the subject,
    * so this ROWS frame equals RANGE(unboundedPreceding, -1) — a plain
    * running accumulator.
    */
  private def history(hb: Column => Column): Column = {
    val earlier = versionOrder.rowsBetween(Window.unboundedPreceding, -1)
    array((0 until nSlots).map(i =>
      coalesce(bit_or(hb(col("pp")(i))).over(earlier), lit(0))): _*)
  }

  /** Slot i breaks: its accumulated `hist` meets this version's `tm`. */
  private def slotBreaks(hist: String, tm: Column => Column)(i: Int): Column =
    col(hist)(i).bitwiseAND(tm(col("pp")(i))) =!= 0

  /** BACKWARD_TRANSITIVE hb: this version as the WRITER of later
    * readers — branch bits plus the was-nullable (fact 0), wide-
    * vocabulary (1) and other-name-alias-less (3/4) existence bits; an
    * ABSENT slot contributes only the absence bit (5: "some earlier
    * version lacked the slot").
    */
  private def ppBtHb(p: Column): Column =
    when(ppBit(p, Pres),
      ppMask(p)
        .bitwiseOR(bitIf(ppBit(p, Nul), fact(0)))
        .bitwiseOR(bitIf(ppBit(p, Wide), fact(1)))
        .bitwiseOR(bitIf(ppBit(p, Nick) && !ppBit(p, Alias), fact(3)))
        .bitwiseOR(bitIf(ppBit(p, Nickname) && !ppBit(p, Alias), fact(4))))
      .otherwise(lit(fact(5)))

  /** BACKWARD_TRANSITIVE tm, READER role: which history bits break
    * this version's slot.
    *  - some earlier branch outside my promotion closure (the
    *    complement of my accept mask within the type-bit space);
    *  - required: an earlier nullable occurrence (fact 0) — and if
    *    also defaultless, an earlier absence (5);
    *  - defaultless narrow enum: an earlier wide vocabulary (1) —
    *    vocabularies are nested, so "an earlier writer carries a
    *    symbol this reader lacks" is "reader narrow, history wide";
    *  - required+defaultless+alias-less: an earlier alias-less
    *    occurrence of the OTHER name (3/4 crossed) — under the
    *    two-name model the only unreachable history (checker.go:112).
    */
  private def ppBtTm(p: Column): Column = {
    val reqNoDef = ppBit(p, Req) && !ppBit(p, Def)
    when(ppBit(p, Pres),
      (lit(allTypeBits) - ppAccepts(p))
        .bitwiseOR(bitIf(ppBit(p, Req), fact(0)))
        .bitwiseOR(bitIf(ppBit(p, IsEnum) && !ppBit(p, Def) &&
          ppBit(p, Narrow), fact(1)))
        .bitwiseOR(bitIf(reqNoDef, fact(5)))
        .bitwiseOR(bitIf(ppBit(p, Nick) && !ppBit(p, Alias) && reqNoDef, fact(4)))
        .bitwiseOR(bitIf(ppBit(p, Nickname) && !ppBit(p, Alias) && reqNoDef, fact(3))))
      .otherwise(lit(0))
  }

  /** FORWARD_TRANSITIVE hb, READER role (earlier versions READ what
    * version N writes): the type bits this reader CANNOT decode; then
    * a required defaultless reader (fact 0), a required reader (1), a
    * narrow defaultless enum reader (2), an alias-less required
    * defaultless reader under either name (3/4). Slots never present contribute nothing, so no
    * per-subject field vocabulary is needed.
    */
  private def ppFtHb(p: Column): Column = {
    val reqNoDef = ppBit(p, Req) && !ppBit(p, Def)
    when(ppBit(p, Pres),
      (lit(allTypeBits) - ppAccepts(p))
        .bitwiseOR(bitIf(reqNoDef, fact(0)))
        .bitwiseOR(bitIf(ppBit(p, Req), fact(1)))
        .bitwiseOR(bitIf(ppBit(p, Narrow) && !ppBit(p, Def), fact(2)))
        .bitwiseOR(bitIf(ppBit(p, Nick) && !ppBit(p, Alias) && reqNoDef, fact(3)))
        .bitwiseOR(bitIf(ppBit(p, Nickname) && !ppBit(p, Alias) && reqNoDef, fact(4))))
      .otherwise(lit(0))
  }

  /** FORWARD_TRANSITIVE tm, WRITER role: version N's slot breaks some
    * earlier reader iff its branch bits hit a type some reader can't
    * decode, it went nullable under a required reader (fact 1), its
    * vocabulary widened past a narrow defaultless reader (2), it is
    * alias-less under a rename that strands the other name's required
    * defaultless reader (crossed 3/4) — or the slot is ABSENT from N
    * while some required defaultless reader still expects it (0).
    */
  private def ppFtTm(p: Column): Column =
    when(ppBit(p, Pres),
      ppMask(p)
        .bitwiseOR(bitIf(ppBit(p, Nul), fact(1)))
        .bitwiseOR(bitIf(ppBit(p, Wide), fact(2)))
        .bitwiseOR(bitIf(ppBit(p, Nick) && !ppBit(p, Alias), fact(4)))
        .bitwiseOR(bitIf(ppBit(p, Nickname) && !ppBit(p, Alias), fact(3))))
      .otherwise(lit(fact(0)))

  /** The two transitive scans: the per-slot history over the packed
    * profile, then the row-local (hist & tm) ≠ 0 test summed into
    * (n_fields, n_bad_fields, ok). No groupBy — a row is already one
    * (subject, version). The oracles state the same semantics pairwise
    * (readers × earlier writers) — parity proves the rewrite.
    */
  private def transitiveVerdict(s: SparkSession, dir: String,
                                hb: Column => Column, tm: Column => Column,
                                okName: String): DataFrame = {
    def slotCount(slot: Int => Column): Column =
      (0 until nSlots).map(i => when(slot(i), 1L).otherwise(0L)).reduce(_ + _)
    slotProfiles(s, dir)
      .withColumn("hist", history(hb))
      .filter(col("version") > 1)
      .select(col("subject"), col("version"),
        slotCount(i => ppBit(col("pp")(i), Pres)).as("n_fields"),
        slotCount(slotBreaks("hist", tm)).as("n_bad_fields"))
      .withColumn(okName, col("n_bad_fields") === 0)
  }

  /** BACKWARD_TRANSITIVE over the corpus (modes.go; checker.go:39
    * iterates ALL earlier versions, not just N-1). The pairwise
    * formulation is O(V²) readers×writers per subject, the shape that
    * dies on long histories; the bit_or history is O(V).
    */
  def compatTransitive(s: SparkSession, dir: String): DataFrame =
    transitiveVerdict(s, dir, ppBtHb, ppBtTm, "transitive_ok")

  /** FORWARD_TRANSITIVE over the corpus (modes.go:23 — ALL earlier
    * versions must be able to read data written by version N). The
    * breaking condition can involve a slot ABSENT from the writer
    * version (an earlier reader requires it, defaultless —
    * avro/checker.go:129 with roles swapped): [[ppFtTm]]'s absence bit.
    */
  def compatFTransitive(s: SparkSession, dir: String): DataFrame =
    transitiveVerdict(s, dir, ppFtHb, ppFtTm, "ftransitive_ok")

  /** One slot's backward violation verdict, reader profile array `rp`
    * vs writer profile array `wp` — the forward check is the same
    * algebra with the arrays swapped, as [[pairRules]] is.
    */
  private def ppBackViol(i: Int, rp: Column, wp: Column): Column = {
    val r = rp(i)
    val w = wp(i)
    val nameMatch =
      if (i == nickSlot)
        (r.bitwiseXOR(w).bitwiseAND(lit(Nick | Nickname)) === 0) ||
          ppBit(r, Alias) || ppBit(w, Alias)
      else lit(true)
    val wPres = ppBit(w, Pres) && nameMatch
    val wMask = ppMask(w)
    ppBit(r, Pres) && (
      (!wPres && ppBit(r, Req) && !ppBit(r, Def)) ||
        (wPres && wMask.bitwiseAND(ppAccepts(r)) =!= wMask) ||
        (wPres && ppBit(r, Req) && ppBit(w, Nul)) ||
        (ppBit(r, IsEnum) && wPres && ppBit(w, IsEnum) && !ppBit(r, Def) &&
          ppBit(w, Wide) && !ppBit(r, Wide)))
  }

  /** The RegisterSchema admission gate (registry.go CheckCompatibility
    * + modes.go): each subject's configured compatibility mode is
    * resolved (GetConfig fallback — here the mode derives
    * deterministically from the subject id so all seven modes occur
    * in the corpus), then the modes.go decision matrix
    * (RequiresBackward :54, RequiresForward :64, IsTransitive :44,
    * NONE disabling checks :9) picks which of the four verdicts —
    * those of [[compatScan]], [[compatForwardScan]],
    * [[compatTransitive]] and [[compatFTransitive]] — gate version N's
    * registration. One fused pass computes all four.
    */
  def compatGate(s: SparkSession, dir: String): DataFrame = {
    val modes = Seq("NONE", "BACKWARD", "FORWARD", "FULL",
      "BACKWARD_TRANSITIVE", "FORWARD_TRANSITIVE", "FULL_TRANSITIVE")
    val modeCol = element_at(
      array(modes.map(lit): _*), (col("subject") % 7 + 1).cast("int"))
    // FUSED verdict pass: the four verdicts are row-aligned by
    // construction — every one is a per-(subject, version) verdict
    // over the SAME field model — so composing them as separate scans
    // joined on (subject, version) paid 4 model builds, 4 window
    // sorts and 3 joins for what ONE window pass computes row-locally
    // (guide §2.4 "two operations keyed the same way can share one
    // exchange"). A first fused cut lagged the full struct array and
    // stated the N-vs-N-1 checks on strings per slot: the merged
    // Project blew HotSpot's huge-method limit and the WHOLE plan ran
    // interpreted (0 codegen spans, cpu 47→447s). This form therefore
    // states the one-step checks on the packed profile too
    // ([[ppBackViol]]): the profile array is lagged as ints, and every
    // verdict is a bit test — each stage's generated method stays
    // small.
    //
    // Equivalences with the struct-form scans (the gate spec
    // reconciles every mode; the gate's oracle is the four scan
    // oracles composed pairwise):
    //  - b_ok/f_ok: "n_violations == 0" over the posexploded present
    //    slots is exactly "no slot fires"; every version carries ≥8
    //    always-present slots, so the aggregated streams had a row
    //    per (subject, version) and the inner joins dropped nothing.
    //  - enum vocabulary: {A,B} ⊂ {A,B,C} are nested, so "writer
    //    symbol unknown to reader" ⟺ writer wide ∧ reader narrow.
    //  - alias rescue: names range over {nick, nickname} and an alias
    //    is always the other name, so "names equal ∨ either alias
    //    covers the other" ⟺ "names equal ∨ either side has an
    //    alias" — nickSlot only; every other slot's name is a per-
    //    slot constant (match always true).
    val b_ok = !(0 until nSlots).map(i => ppBackViol(i, col("pp"), col("wpp"))).reduce(_ || _)
    val f_ok = !(0 until nSlots).map(i => ppBackViol(i, col("wpp"), col("pp"))).reduce(_ || _)
    slotProfiles(s, dir)
      .withColumn("wpp", lag(col("pp"), 1).over(versionOrder))
      .withColumn("bhist", history(ppBtHb))
      .withColumn("fhist", history(ppFtHb))
      .filter(col("version") > 1)
      .withColumn("b_ok", b_ok)
      .withColumn("f_ok", f_ok)
      .withColumn("bt_ok", !(0 until nSlots).map(slotBreaks("bhist", ppBtTm)).reduce(_ || _))
      .withColumn("ft_ok", !(0 until nSlots).map(slotBreaks("fhist", ppFtTm)).reduce(_ || _))
      .withColumn("mode", modeCol)
      .withColumn("req_backward",
        col("mode").isin("BACKWARD", "BACKWARD_TRANSITIVE", "FULL", "FULL_TRANSITIVE"))
      .withColumn("req_forward",
        col("mode").isin("FORWARD", "FORWARD_TRANSITIVE", "FULL", "FULL_TRANSITIVE"))
      .withColumn("transitive", col("mode").endsWith("TRANSITIVE"))
      .withColumn("allowed",
        when(col("mode") === "NONE", lit(true))
          .otherwise(
            (!col("req_backward") ||
              when(col("transitive"), col("bt_ok")).otherwise(col("b_ok"))) &&
              (!col("req_forward") ||
                when(col("transitive"), col("ft_ok")).otherwise(col("f_ok")))))
      .select(col("subject"), col("version"), col("mode"),
        col("req_backward"), col("req_forward"), col("transitive"), col("allowed"))
  }

  /** check_compatibility_multi (tools_comparison.go:70
    * handleCheckCompatibilityMulti): ONE candidate schema checked
    * BACKWARD against the latest version of EVERY subject, with the
    * reference's per-subject is_compatible verdicts plus the
    * `all_compatible` rollup. The candidate is a fixed reader schema
    * chosen so every Avro rule fires both ways in real data:
    * required defaultless `status` absent from k%3=2 writers
    * (missing_default) and narrower-symboled than odd-k writers
    * (enum_symbols), required `email` whose default rescues it when
    * the writer lacks it but which still breaks against k%3=0
    * writers' nullable email (required_reads_nullable), `score`
    * exercising int→bigint promotion, nullable `name` never breaking.
    *
    * Shape: the latest writer version per subject is one window max
    * over the already-subject-partitioned version stream; each
    * candidate field then probes the writer's field array ROW-LOCALLY
    * (no explode, no per-field shuffle), and the per-subject +
    * all_compatible levels come from a single ROLLUP partial agg over
    * subject-sized data. The reference's N-subject loop is the whole
    * workload here — every subject in one pass.
    */
  def compatMulti(s: SparkSession, dir: String): DataFrame = {
    val byS = Window.partitionBy(col("subject"))
    val latest = fieldArrays(s, dir)
      .withColumn("maxv", max(col("version")).over(byS))
      .filter(col("version") === col("maxv"))
      .select(col("subject"), col("flds"))
    // One candidate reader field vs the writer array: the same four
    // avro/checker.go rules as [[pairRules]], as a scalar —
    // type resolution via the shared mask algebra (promotion matrix
    // + union branch sets).
    def viol(fname: String, ftype: String, fnull: Boolean,
             fdefault: Option[String], fsyms: Option[String],
             funion: Option[String] = None): Column = {
      val w = get(filter(col("flds"), x => x("fname") === lit(fname)), lit(0))
      val noDefault = lit(fdefault.isEmpty)
      // the candidate's accept mask is a compile-time constant
      val candAccepts = lit(accepts(maskInt(ftype, funion)))
      val enumBreak = fsyms match {
        case Some(syms) =>
          lit(ftype == "enum") && w("ftype") === "enum" && noDefault &&
            size(array_except(split(w("fsyms"), ","), split(lit(syms), ","))) > 0
        case None => lit(false)
      }
      (w("ftype").isNull && lit(!fnull) && noDefault) ||
        (w("ftype").isNotNull &&
          w("fmask").bitwiseAND(candAccepts) =!= w("fmask")) ||
        (w("ftype").isNotNull && lit(!fnull) && w("fnull")) ||
        enumBreak
    }
    // Candidate verdicts vary with the data: the per-subject branches
    // and the all_compatible rollup are both exercised for real. The
    // `ref` candidate reads writers whose ref is scalar string or
    // ["null","string"] but breaks on bigint-branched unions and the
    // scalar-int form — the reader-union rule live on the corpus.
    val nViolations =
      Seq(
        viol("id", "bigint", fnull = false, None, None),
        viol("name", "string", fnull = true, None, None),
        viol("email", "string", fnull = false, Some("none"), None),
        viol("score", "bigint", fnull = false, None, None),
        viol("status", "enum", fnull = false, None, Some("A,B")),
        viol("ref", "union", fnull = true, None, None, Some("null,string")))
        .map(v => when(v, 1L).otherwise(0L)).reduce(_ + _)
    latest
      .select(col("subject"), nViolations.as("nv"))
      .rollup(col("subject"))
      .agg(sum(col("nv")).as("n_violations"),
        sum(when(col("nv") > 0, 1L).otherwise(0L)).as("n_incompatible"))
      .select(coalesce(col("subject"), lit(-1)).as("subject"),
        col("n_violations"), col("n_incompatible"),
        (col("n_incompatible") === 0).as("compatible"))
  }

  /** The union dimension's focused face: every consecutive-version
    * transition of the `ref` field classified by shape
    * (scalar/union → scalar/union) with its branch-resolution
    * verdict — the corpus-wide view of checkUnion/checkReaderUnion/
    * checkWriterUnion (avro/checker.go:224/:247/:263). `ref` lives at
    * a fixed slot of the positional model array, so the whole report
    * is two getItems and integer mask ops per version step on top of
    * the shared window shuffle — no explode at all.
    */
  def unionScan(s: SparkSession, dir: String): DataFrame = {
    val v = fieldArrays(s, dir).filter(col("version") > 1)
    val r = col("flds_all")(refSlot)
    val wf = col("w_all")(refSlot)
    v.select(col("subject"), col("version"),
      coalesce(wf("funion"), wf("ftype")).as("w_set"),
      coalesce(r("funion"), r("ftype")).as("r_set"),
      concat(when(wf("funion").isNotNull, "union").otherwise("scalar"),
        lit("_to_"),
        when(r("funion").isNotNull, "union").otherwise("scalar")).as("transition"),
      (wf("fmask").bitwiseAND(acceptsOf(r("fmask"))) === wf("fmask"))
        .as("union_ok"))
  }

  // -------------------------------------------------------------------
  // Nested-path compatibility (checkRecord recursion, checkArray,
  // checkMap — avro/checker.go:54/:102/:215/:220)
  // -------------------------------------------------------------------

  /** Synthetic NESTED schema model: each registration carries a path
    * tree — `meta` (record) with scalar children, an optional nested
    * record `meta.geo`, an array item path `tags[]`, and a map value
    * path `attrs{}` (the reference's appendPath spellings,
    * checker.go:216/:221). Flattened to (path, type) rows exactly as
    * checkSchemas recurses: record fields by name, array/map by their
    * single item/value child. Derived from k so every nested rule
    * fires both ways:
    *  - meta.score walks int→bigint (promotion one way, narrowing the
    *    other) — a break INVISIBLE to the flat scans, which only see
    *    top-level fields;
    *  - meta.rank is required and defaultless but only sometimes
    *    present — the checker.go:129 missing rule at depth;
    *  - meta.geo.lat walks float↔double under an optional parent
    *    (child paths vanish with it — recursion stops at an absent
    *    subtree);
    *  - tags[] flips string↔bytes (symmetric promotion — never
    *    breaks, proving item-level promotion);
    *  - attrs{} flips int↔string (breaks BOTH directions).
    */
  private[operators] def pathArrays(s: SparkSession, dir: String): DataFrame = {
    // never NULL: a NULL k leaves a conditional path ABSENT, as the
    // oracle's `WHERE` drops it (see fieldArrays)
    def p(path: String, ptype: Column, pnull: Column, present: Column,
          pmask: Column): Column =
      struct(lit(path).as("path"), ptype.as("ptype"), pnull.as("pnull"),
        pmask.as("pmask"), coalesce(present, lit(false)).as("present"))
    val geoPresent = col("k") % lit(5) < 3
    versions(s, dir)
      .withColumn("paths_all", array(
        p("meta", lit("record"), lit(false), lit(true), lit(2048)),
        p("meta.score", when(col("k") % lit(4) < 2, "int").otherwise("bigint"),
          lit(false), lit(true), when(col("k") % lit(4) < 2, 1).otherwise(2)),
        p("meta.rank", lit("int"), lit(false), col("k") % lit(11) < 6, lit(1)),
        p("meta.geo", lit("record"), lit(true), geoPresent, lit(2048)),
        p("meta.geo.lat", when(col("k") % lit(7) < 4, "float").otherwise("double"),
          lit(true), geoPresent, when(col("k") % lit(7) < 4, 4).otherwise(8)),
        p("tags[]", when(col("k") % lit(8) < 5, "string").otherwise("bytes"),
          lit(true), lit(true), when(col("k") % lit(8) < 5, 16).otherwise(32)),
        p("attrs{}", when(col("k") % lit(6) < 3, "int").otherwise("string"),
          lit(true), lit(true), when(col("k") % lit(6) < 3, 1).otherwise(16))))
      .withColumn("w_paths", lag(col("paths_all"), 1).over(versionOrder))
  }

  /** DuckDB mirror of [[pathArrays]]' relational (subject, version,
    * path, ptype, pnull) view.
    */
  private[operators] val pathModelCte: String =
    """ev AS (
      |  SELECT user_id AS subject, ts, event_id,
      |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |versioned AS (
      |  SELECT subject, k,
      |         row_number() OVER (PARTITION BY subject ORDER BY ts, event_id) AS version
      |  FROM ev),
      |paths AS (
      |  SELECT subject, version, 'meta' AS path, 'record' AS ptype, false AS pnull FROM versioned
      |  UNION ALL SELECT subject, version, 'meta.score',
      |    CASE WHEN k % 4 < 2 THEN 'int' ELSE 'bigint' END, false FROM versioned
      |  UNION ALL SELECT subject, version, 'meta.rank', 'int', false FROM versioned WHERE k % 11 < 6
      |  UNION ALL SELECT subject, version, 'meta.geo', 'record', true FROM versioned WHERE k % 5 < 3
      |  UNION ALL SELECT subject, version, 'meta.geo.lat',
      |    CASE WHEN k % 7 < 4 THEN 'float' ELSE 'double' END, true FROM versioned WHERE k % 5 < 3
      |  UNION ALL SELECT subject, version, 'tags[]',
      |    CASE WHEN k % 8 < 5 THEN 'string' ELSE 'bytes' END, true FROM versioned
      |  UNION ALL SELECT subject, version, 'attrs{}',
      |    CASE WHEN k % 6 < 3 THEN 'int' ELSE 'string' END, true FROM versioned)""".stripMargin

  /** Nested-path BACKWARD scan: version N vs N-1 compared PER PATH
    * with the same reader/writer rules the flat scan applies per
    * field — the relational re-expression of checkSchemas' recursion
    * (each recursive call IS a path row; array items and map values
    * are the `[]`/`{}` child paths). The reader's present paths, paired
    * by [[slotPairs]] and judged by [[stepVerdict]], as the flat scan.
    */
  def nestedScan(s: SparkSession, dir: String): DataFrame = {
    val r = col("rf")
    val wp = col("wf")
    val violation =
      (!wp("present") && !r("pnull")) ||
        (wp("present") &&
          wp("pmask").bitwiseAND(acceptsOf(r("pmask"))) =!= wp("pmask")) ||
        (wp("present") && !r("pnull") && wp("pnull"))
    stepVerdict(slotPairs(pathArrays(s, dir), "paths_all", "w_paths").where(r("present")),
      violation, "n_paths", "nested_ok")
  }

  /** Named-type NAME scan over the corpus: each version carries three
    * named types whose FULL NAMES evolve with the payload, checked
    * reader (version N) vs writer (N-1) under the per-kind rules
    * (avro/checker.go):
    *  - `profile` RECORD: name Profile↔ProfileV2 with k%21, and each
    *    side declares the other name as a TYPE-level alias when
    *    k%37<19 — a rename is rescued iff either side does
    *    (recordNamesMatch :145-:165, both directions).
    *  - `status` ENUM: name Status↔State with k%15 — strict equality,
    *    no alias rescue (:186-:189).
    *  - `token` FIXED: name Hash8↔Digest8 with k%27 — strict (:284).
    * All three names and the rescue predicate are functions of (k,
    * lag k): one subject window, zero joins, verdict row-local.
    * n_rescued counts record renames the alias spec saved — proof the
    * rescue path executes on data, not just in the battery.
    */
  def namedScan(s: SparkSession, dir: String): DataFrame = {
    val k = col("k")
    val wk = col("w_k")
    def b(c: Column): Column = when(c, 1L).otherwise(0L)
    val recRenamed = (k % 21 < 11) =!= (wk % 21 < 11)
    val rescued = (k % 37 < 19) || (wk % 37 < 19)
    versions(s, dir)
      .withColumn("w_k", lag(col("k"), 1).over(versionOrder))
      .filter(col("version") > 1)
      .select(col("subject"), col("version"),
        (b(recRenamed && !rescued) +
          b((k % 15 < 8) =!= (wk % 15 < 8)) +
          b((k % 27 < 14) =!= (wk % 27 < 14))).as("n_name_break"),
        b(recRenamed && rescued).as("n_rescued"))
      .withColumn("named_ok", col("n_name_break") === 0)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compat_named" -> namedScan,
    "compat_union" -> unionScan,
    "compat_nested" -> nestedScan,
    "compat_check" -> checkBattery,
    "compat_scan" -> compatScan,
    "compat_explain" -> compatExplain,
    "compat_rule_freq" -> ruleFreq,
    "an_enum_drift" -> enumDrift,
    "compat_forward_scan" -> compatForwardScan,
    "compat_transitive" -> compatTransitive,
    "compat_ftransitive" -> compatFTransitive,
    "compat_gate" -> compatGate,
    "compat_multi" -> compatMulti)

  /** Expected verdicts, hand-traced through the reference rules:
    * case 4: old reader requires `id` (non-nullable) which the new
    * writer no longer produces → FORWARD fails; case 9: vs v1
    * `name` is required in reader but v1-writer may write null →
    * fails, and vs the first version `name` is missing entirely.
    */
  /** The four backward rules as one DuckDB predicate over a joined
    * reader/writer field row — shared by the scan/explain/transitive
    * oracles so the rule set is stated once.
    */
  private def backViolation(rt: String = "ftype", ru: String = "funion",
                            rn: String = "fnull", rd: String = "fdefault",
                            rs: String = "fsyms", wt: String = "w_ftype",
                            wn: String = "w_fnull", ws: String = "w_fsyms",
                            wu: String = "w_funion", m: String = "TRUE"): String =
    s"""(($wt IS NULL OR NOT $m) AND NOT $rn AND $rd IS NULL)
       |      OR ($wt IS NOT NULL AND $m AND ${sqlTypeBreak(rt, ru, wt, wu)})
       |      OR ($wt IS NOT NULL AND $m AND NOT $rn AND $wn)
       |      OR ($rt = 'enum' AND $wt = 'enum' AND $m AND $rd IS NULL
       |          AND NOT list_has_all(string_split($rs, ','), string_split($ws, ',')))""".stripMargin

  /** Forward = the same rules with the N-1 version's columns playing
    * the reader role (the column aliases the forward oracle uses).
    */
  private def fwdViolation(): String =
    backViolation(rt = "rtype", ru = "r_union", rn = "rnull", rd = "r_default",
      rs = "r_syms", wt = "w_type", wn = "w_null", ws = "w_syms", wu = "w_union",
      m = "matched")

  /** Alias-aware pair resolution for the oracles (checker.go:112): a
    * reader/writer pair joined on fid matches iff names agree or
    * either alias covers the other's name.
    */
  private def sqlMatched(rn: String, ra: String, wn: String, wa: String): String =
    s"($rn = $wn OR coalesce($ra = $wn, false) OR coalesce($wa = $rn, false))"

  /** The per-violation explain listing as one SQL text — used as the
    * compat_explain oracle and wrapped as a subquery by the
    * compat_rule_freq rollup oracle, so the rule set is stated once.
    */
  private lazy val explainOracle: String =
      s"""WITH $fieldModelCte,
        |joined AS (
        |  SELECT r.subject, r.version, r.fname, r.ftype, r.fnull, r.fdefault, r.fsyms, r.funion,
        |         w.ftype AS w_ftype, w.fnull AS w_fnull, w.fsyms AS w_fsyms,
        |         w.funion AS w_funion,
        |         ${sqlMatched("r.fname", "r.falias", "w.fname", "w.falias")} AS matched
        |  FROM fields r LEFT JOIN fields w
        |    ON r.subject = w.subject AND w.version = r.version - 1 AND r.fid = w.fid
        |  WHERE r.version > 1)
        |SELECT subject, version, fname, violation, suggestion FROM (
        |  SELECT subject, version, fname, 'missing_default' AS violation,
        |    'Add a default value to the new field so old data can be read with the new schema.' AS suggestion
        |  FROM joined WHERE (w_ftype IS NULL OR NOT matched) AND NOT fnull AND fdefault IS NULL
        |  UNION ALL
        |  SELECT subject, version, fname, 'type_narrowed',
        |    'This reverses a legal promotion; keep the wider type (or widen the union) instead of narrowing.'
        |  FROM joined WHERE w_ftype IS NOT NULL AND matched
        |    AND ${sqlTypeBreak("ftype", "funion", "w_ftype", "w_funion")}
        |    AND NOT ${sqlTypeBreak("w_ftype", "w_funion", "ftype", "funion")}
        |  UNION ALL
        |  SELECT subject, version, fname, 'type_change',
        |    'Use type promotion (e.g., int to long) or add a new field with the desired type.'
        |  FROM joined WHERE w_ftype IS NOT NULL AND matched
        |    AND ${sqlTypeBreak("ftype", "funion", "w_ftype", "w_funion")}
        |    AND ${sqlTypeBreak("w_ftype", "w_funion", "ftype", "funion")}
        |  UNION ALL
        |  SELECT subject, version, fname, 'required_reads_nullable',
        |    'Keep the field nullable or add a default before tightening it.'
        |  FROM joined WHERE w_ftype IS NOT NULL AND matched AND NOT fnull AND w_fnull
        |  UNION ALL
        |  SELECT subject, version, fname, 'enum_symbols',
        |    'Only add new enum symbols; do not remove or rename existing ones.'
        |  FROM joined WHERE ftype = 'enum' AND w_ftype = 'enum' AND matched AND fdefault IS NULL
        |    AND NOT list_has_all(string_split(fsyms, ','), string_split(w_fsyms, ','))
        |) t ORDER BY subject, version, fname, violation""".stripMargin

  private val baseOracleSql: Map[String, String] = Map(
    "compat_named" ->
      """WITH ev AS (
        |  SELECT user_id AS subject, ts, event_id,
        |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |versioned AS (
        |  SELECT subject, k,
        |         row_number() OVER (PARTITION BY subject ORDER BY ts, event_id) AS version,
        |         lag(k) OVER (PARTITION BY subject ORDER BY ts, event_id) AS wk
        |  FROM ev)
        |SELECT subject, version,
        |  CAST((CASE WHEN (k % 21 < 11) <> (wk % 21 < 11)
        |          AND NOT (k % 37 < 19 OR wk % 37 < 19) THEN 1 ELSE 0 END)
        |     + (CASE WHEN (k % 15 < 8) <> (wk % 15 < 8) THEN 1 ELSE 0 END)
        |     + (CASE WHEN (k % 27 < 14) <> (wk % 27 < 14) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_name_break,
        |  CAST(CASE WHEN (k % 21 < 11) <> (wk % 21 < 11)
        |        AND (k % 37 < 19 OR wk % 37 < 19) THEN 1 ELSE 0 END AS BIGINT) AS n_rescued,
        |  ((CASE WHEN (k % 21 < 11) <> (wk % 21 < 11)
        |      AND NOT (k % 37 < 19 OR wk % 37 < 19) THEN 1 ELSE 0 END)
        |   + (CASE WHEN (k % 15 < 8) <> (wk % 15 < 8) THEN 1 ELSE 0 END)
        |   + (CASE WHEN (k % 27 < 14) <> (wk % 27 < 14) THEN 1 ELSE 0 END)) = 0 AS named_ok
        |FROM versioned WHERE version > 1
        |ORDER BY subject, version""".stripMargin,
    "compat_union" ->
      s"""WITH $fieldModelCte,
        |r AS (SELECT subject, version, ftype, funion FROM fields WHERE fname = 'ref')
        |SELECT r.subject, r.version,
        |  coalesce(w.funion, w.ftype) AS w_set,
        |  coalesce(r.funion, r.ftype) AS r_set,
        |  (CASE WHEN w.funion IS NOT NULL THEN 'union' ELSE 'scalar' END) || '_to_' ||
        |  (CASE WHEN r.funion IS NOT NULL THEN 'union' ELSE 'scalar' END) AS transition,
        |  NOT (${sqlTypeBreak("r.ftype", "r.funion", "w.ftype", "w.funion")}) AS union_ok
        |FROM r JOIN r w ON w.subject = r.subject AND w.version = r.version - 1
        |ORDER BY r.subject, r.version""".stripMargin,
    "compat_nested" ->
      s"""WITH $pathModelCte,
        |joined AS (
        |  SELECT r.subject, r.version, r.ptype, r.pnull,
        |         w.ptype AS w_ptype, w.pnull AS w_pnull
        |  FROM paths r LEFT JOIN paths w
        |    ON r.subject = w.subject AND w.version = r.version - 1 AND r.path = w.path
        |  WHERE r.version > 1)
        |SELECT subject, version, n_paths, n_violations, n_violations = 0 AS nested_ok
        |FROM (
        |  SELECT subject, version, count(*) AS n_paths,
        |    CAST(sum(CASE WHEN (w_ptype IS NULL AND NOT pnull)
        |      OR (w_ptype IS NOT NULL AND ${sqlTypeBreak("ptype",
               "CAST(NULL AS VARCHAR)", "w_ptype", "CAST(NULL AS VARCHAR)")})
        |      OR (w_ptype IS NOT NULL AND NOT pnull AND w_pnull)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |  FROM joined GROUP BY subject, version)
        |ORDER BY subject, version""".stripMargin,
    "compat_check" ->
      """SELECT * FROM (VALUES
        |  (1, 'add nullable field', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (2, 'add required field', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (3, 'remove field', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (4, 'remove field read by old required reader', 'FORWARD', false, CAST(1 AS BIGINT)),
        |  (5, 'widen int to long', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (6, 'narrow long to int', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (7, 'string/binary interchange', 'FULL', true, CAST(0 AS BIGINT)),
        |  (8, 'nested struct type break', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (9, 'transitive catches old break', 'BACKWARD_TRANSITIVE', false, CAST(2 AS BIGINT)),
        |  (10, 'NONE ignores breaking change', 'NONE', true, CAST(0 AS BIGINT)),
        |  (11, 'add required field with default', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (12, 'enum symbol removed without default', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (13, 'enum symbol removed with reader default', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (14, 'evolve T to nullable union [null,T]', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (15, 'union to scalar drops null branch', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (16, 'union branch removed', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (17, 'union branch added', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (18, 'writer int promotes into reader union long branch', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (19, 'numeric promotion int to double', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (20, 'numeric narrowing double to float', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (21, 'fixed size mismatch', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (22, 'fixed same size', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (23, 'rename rescued by reader alias', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (24, 'rename without alias breaks', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (25, 'record type-name mismatch breaks without aliases', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (26, 'record type-name rescued by reader alias', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (27, 'record type-name rescued by writer alias', 'BACKWARD', true, CAST(0 AS BIGINT)),
        |  (28, 'record name mismatch does not descend into fields', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (29, 'enum type-name mismatch breaks even with aliases', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (30, 'fixed type-name mismatch breaks at equal size', 'BACKWARD', false, CAST(1 AS BIGINT)),
        |  (31, 'matching named types pass all three kinds', 'BACKWARD', true, CAST(0 AS BIGINT))
        |) AS t(case_id, description, mode, compatible, n_messages)
        |ORDER BY case_id""".stripMargin,
    "compat_scan" ->
      s"""WITH $fieldModelCte,
        |joined AS (
        |  SELECT r.subject, r.version, r.ftype, r.fnull, r.fdefault, r.fsyms, r.funion,
        |         w.ftype AS w_ftype, w.fnull AS w_fnull, w.fsyms AS w_fsyms,
        |         w.funion AS w_funion,
        |         ${sqlMatched("r.fname", "r.falias", "w.fname", "w.falias")} AS matched
        |  FROM fields r LEFT JOIN fields w
        |    ON r.subject = w.subject AND w.version = r.version - 1 AND r.fid = w.fid
        |  WHERE r.version > 1)
        |SELECT subject, version, n_fields, n_violations, n_violations = 0 AS compatible
        |FROM (
        |  SELECT subject, version, count(*) AS n_fields,
        |    CAST(sum(CASE WHEN ${backViolation(m = "matched")}
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |  FROM joined GROUP BY subject, version)
        |ORDER BY subject, version""".stripMargin,
    "compat_explain" -> explainOracle,
    "an_enum_drift" ->
      s"""WITH $fieldModelCte,
        |j AS (
        |  SELECT r.subject, r.version, r.fname,
        |    list_distinct(string_split(r.fsyms, ',')) AS rs,
        |    list_distinct(string_split(w.fsyms, ',')) AS ws
        |  FROM fields r JOIN fields w
        |    ON r.subject = w.subject AND w.version = r.version - 1 AND r.fid = w.fid
        |  WHERE r.version > 1 AND r.ftype = 'enum' AND w.ftype = 'enum'
        |    AND r.fname = w.fname)
        |SELECT subject, version, fname,
        |  len(list_filter(rs, s -> NOT list_contains(ws, s))) AS n_added,
        |  len(list_filter(ws, s -> NOT list_contains(rs, s))) AS n_removed,
        |  len(list_intersect(rs, ws)) AS n_kept
        |FROM j
        |WHERE len(list_filter(rs, s -> NOT list_contains(ws, s))) > 0
        |   OR len(list_filter(ws, s -> NOT list_contains(rs, s))) > 0
        |ORDER BY subject, version, fname""".stripMargin,
    "compat_rule_freq" ->
      s"""WITH e AS ($explainOracle)
        |SELECT violation, count(*) AS n_field_hits,
        |  count(DISTINCT (subject, version)) AS n_transitions,
        |  count(DISTINCT subject) AS n_subjects,
        |  floor(count(*) / CAST((SELECT count(*) FROM e) AS DOUBLE) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS share
        |FROM e GROUP BY violation ORDER BY violation""".stripMargin,
    "compat_forward_scan" ->
      s"""WITH $fieldModelCte,
        |maxv AS (SELECT subject, max(version) AS mv FROM fields GROUP BY subject),
        |joined AS (
        |  SELECT r.subject, r.version + 1 AS version, r.ftype AS rtype, r.fnull AS rnull,
        |         r.fdefault AS r_default, r.fsyms AS r_syms, r.funion AS r_union,
        |         w.ftype AS w_type, w.fnull AS w_null, w.fsyms AS w_syms,
        |         w.funion AS w_union,
        |         ${sqlMatched("r.fname", "r.falias", "w.fname", "w.falias")} AS matched
        |  FROM fields r
        |  JOIN maxv ON maxv.subject = r.subject AND r.version < maxv.mv
        |  LEFT JOIN fields w ON w.subject = r.subject
        |    AND w.version = r.version + 1 AND w.fid = r.fid)
        |SELECT subject, version, count(*) AS n_reader_fields,
        |  CAST(sum(CASE WHEN ${fwdViolation()}
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  sum(CASE WHEN ${fwdViolation()}
        |    THEN 1 ELSE 0 END) = 0 AS forward_ok
        |FROM joined GROUP BY subject, version ORDER BY subject, version""".stripMargin,
    "compat_transitive" ->
      s"""WITH $fieldModelCte,
        |versions AS (SELECT DISTINCT subject, version FROM fields),
        |pairs AS (
        |  SELECT rf.subject, rf.version AS rv, rf.fname, rf.ftype, rf.fnull,
        |         rf.fdefault, rf.fsyms, rf.funion,
        |         wf.ftype AS w_ftype, wf.fnull AS w_fnull, wf.fsyms AS w_fsyms,
        |         wf.funion AS w_funion,
        |         ${sqlMatched("rf.fname", "rf.falias", "wf.fname", "wf.falias")} AS matched
        |  FROM fields rf
        |  JOIN versions wv ON wv.subject = rf.subject AND wv.version < rf.version
        |  LEFT JOIN fields wf ON wf.subject = rf.subject
        |    AND wf.version = wv.version AND wf.fid = rf.fid),
        |badf AS (
        |  SELECT subject, rv AS version, fname,
        |    max(CASE WHEN ${backViolation(m = "matched")}
        |      THEN 1 ELSE 0 END) AS bad
        |  FROM pairs GROUP BY subject, rv, fname)
        |SELECT subject, version, count(*) AS n_fields,
        |  CAST(sum(bad) AS BIGINT) AS n_bad_fields, sum(bad) = 0 AS transitive_ok
        |FROM badf GROUP BY subject, version ORDER BY subject, version""".stripMargin,
    "compat_ftransitive" ->
      s"""WITH $fieldModelCte,
        |versions AS (SELECT DISTINCT subject, version FROM fields),
        |vocabv AS (SELECT DISTINCT subject, fid FROM fields),
        |grid AS (
        |  SELECT v.subject, v.version, vc.fid
        |  FROM versions v JOIN vocabv vc ON vc.subject = v.subject
        |  WHERE v.version > 1),
        |wf AS (
        |  SELECT g.subject, g.version, g.fid, w.fname, w.falias,
        |         w.ftype, w.fnull, w.fdefault, w.fsyms, w.funion
        |  FROM grid g LEFT JOIN fields w ON w.subject = g.subject
        |    AND w.version = g.version AND w.fid = g.fid),
        |pairs AS (
        |  SELECT wf.subject, wf.version, wf.fid,
        |         wf.ftype AS w_ftype, wf.fnull AS w_fnull, wf.fsyms AS w_fsyms,
        |         wf.funion AS w_funion,
        |         r.ftype AS r_ftype, r.fnull AS r_fnull,
        |         r.fdefault AS r_fdefault, r.fsyms AS r_fsyms, r.funion AS r_funion,
        |         ${sqlMatched("r.fname", "r.falias", "wf.fname", "wf.falias")} AS matched
        |  FROM wf LEFT JOIN fields r ON r.subject = wf.subject
        |    AND r.fid = wf.fid AND r.version < wf.version),
        |badf AS (
        |  SELECT subject, version, fid,
        |    max(CASE WHEN w_ftype IS NOT NULL THEN 1 ELSE 0 END) AS wpresent,
        |    max(CASE WHEN r_ftype IS NOT NULL AND (
        |        ${backViolation(rt = "r_ftype", ru = "r_funion", rn = "r_fnull",
                   rd = "r_fdefault", rs = "r_fsyms", m = "matched")})
        |      THEN 1 ELSE 0 END) AS bad
        |  FROM pairs GROUP BY subject, version, fid)
        |SELECT subject, version,
        |  CAST(sum(wpresent) AS BIGINT) AS n_fields,
        |  CAST(sum(bad) AS BIGINT) AS n_bad_fields,
        |  sum(bad) = 0 AS ftransitive_ok
        |FROM badf GROUP BY subject, version ORDER BY subject, version""".stripMargin,
    "compat_multi" ->
      s"""WITH $fieldModelCte,
        |maxv AS (SELECT subject, max(version) AS mv FROM fields GROUP BY subject),
        |lf AS (SELECT f.* FROM fields f JOIN maxv ON maxv.subject = f.subject AND f.version = maxv.mv),
        |cand AS (
        |  SELECT * FROM (VALUES
        |    ('id', 'bigint', false, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |    ('name', 'string', true, NULL, NULL, NULL),
        |    ('email', 'string', false, 'none', NULL, NULL),
        |    ('score', 'bigint', false, NULL, NULL, NULL),
        |    ('status', 'enum', false, NULL, 'A,B', NULL),
        |    ('ref', 'union', true, NULL, NULL, 'null,string')
        |  ) AS t(fname, ftype, fnull, fdefault, fsyms, funion)),
        |subs AS (SELECT DISTINCT subject FROM fields),
        |checks AS (
        |  SELECT s.subject,
        |    CASE WHEN ${backViolation(rt = "c.ftype", ru = "c.funion",
               rn = "c.fnull", rd = "c.fdefault", rs = "c.fsyms",
               wt = "w.ftype", wn = "w.fnull", ws = "w.fsyms", wu = "w.funion")}
        |    THEN 1 ELSE 0 END AS v
        |  FROM subs s CROSS JOIN cand c
        |  LEFT JOIN lf w ON w.subject = s.subject AND w.fname = c.fname),
        |per AS (SELECT subject, CAST(sum(v) AS BIGINT) AS n_violations FROM checks GROUP BY subject)
        |SELECT coalesce(subject, -1) AS subject,
        |  CAST(sum(n_violations) AS BIGINT) AS n_violations,
        |  CAST(sum(CASE WHEN n_violations > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_incompatible,
        |  sum(CASE WHEN n_violations > 0 THEN 1 ELSE 0 END) = 0 AS compatible
        |FROM per GROUP BY ROLLUP(subject) ORDER BY subject""".stripMargin)

  /** compat_gate's oracle composes the four scan oracles as CTEs (the
    * same nesting reg_migration uses over compat_scan) plus the
    * modes.go matrix as a VALUES dimension keyed subject % 7.
    */
  private val gateOracle: String =
    s"""WITH b AS (${baseOracleSql("compat_scan")}),
      |f AS (${baseOracleSql("compat_forward_scan")}),
      |bt AS (${baseOracleSql("compat_transitive")}),
      |ft AS (${baseOracleSql("compat_ftransitive")}),
      |modes AS (SELECT * FROM (VALUES
      |  (0, 'NONE'), (1, 'BACKWARD'), (2, 'FORWARD'), (3, 'FULL'),
      |  (4, 'BACKWARD_TRANSITIVE'), (5, 'FORWARD_TRANSITIVE'),
      |  (6, 'FULL_TRANSITIVE')) AS t(idx, mode))
      |SELECT b.subject, b.version, m.mode,
      |  m.mode IN ('BACKWARD', 'BACKWARD_TRANSITIVE', 'FULL', 'FULL_TRANSITIVE') AS req_backward,
      |  m.mode IN ('FORWARD', 'FORWARD_TRANSITIVE', 'FULL', 'FULL_TRANSITIVE') AS req_forward,
      |  m.mode LIKE '%TRANSITIVE' AS transitive,
      |  (m.mode NOT IN ('BACKWARD', 'BACKWARD_TRANSITIVE', 'FULL', 'FULL_TRANSITIVE')
      |     OR CASE WHEN m.mode LIKE '%TRANSITIVE' THEN bt.transitive_ok ELSE b.compatible END)
      |  AND (m.mode NOT IN ('FORWARD', 'FORWARD_TRANSITIVE', 'FULL', 'FULL_TRANSITIVE')
      |     OR CASE WHEN m.mode LIKE '%TRANSITIVE' THEN ft.ftransitive_ok ELSE f.forward_ok END)
      |  AS allowed
      |FROM b
      |JOIN f ON f.subject = b.subject AND f.version = b.version
      |JOIN bt ON bt.subject = b.subject AND bt.version = b.version
      |JOIN ft ON ft.subject = b.subject AND ft.version = b.version
      |JOIN modes m ON m.idx = b.subject % 7
      |ORDER BY b.subject, b.version""".stripMargin

  val oracleSql: Map[String, String] =
    baseOracleSql + ("compat_gate" -> gateOracle)
}
