package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Registry metadata query semantics re-expressed over the test
  * tables: `events` plays the registry changelog (user_id ≈ subject
  * owner, event_type ≈ operation), `documents` play schema payloads
  * (content hashing / contexts), the TPC-H tables model config
  * hierarchies and reference graphs.
  *
  * Reference behaviors covered (cited file:line in each method):
  * subject listing, latest-version resolution, version numbering,
  * counts by type, config fallback (subject → global default),
  * content-hash lookup, referenced-by graphs, soft-delete filtering,
  * idempotent-register dedupe, context listing.
  *
  * Scale notes: every window partitions by a key (never global);
  * hash lookup groups on md5 so the shuffle key is uniform even when
  * payloads are skewed; fallback resolution is a broadcast join
  * against the (tiny) override dimension.
  */
object Registry {

  /** ListSubjects (reference internal/registry/registry.go:505):
    * distinct listing; the reference's sort is the caller's, at the
    * edge (SURVEY §5).
    */
  def subjectList(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type").as("subject"))
      .distinct()

  /** count_versions (mcp/tools_validation.go:471): the handler
    * returns `len(GetVersions(subject))` for one subject; the card
    * computes that count for EVERY subject in one bounded groupBy —
    * map-side combined on the subject key, scan-bound at any scale.
    */
  def countVersions(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id").as("subject"))
      .agg(count(lit(1)).as("n_versions"))

  /** count_subjects (mcp/tools_validation.go:488):
    * `len(ListSubjects)` — one global card row. count(DISTINCT) is a
    * two-stage aggregate (partial distinct per partition, then one
    * 1-row exchange), so the card costs a scan at any corpus size.
    */
  def countSubjects(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(countDistinct(col("event_type")).as("n_subjects"))

  /** GetLatestSchema (registry.go:495): latest row per key via a
    * partitioned row_number window — one pass, no self-join.
    */
  def latestVersion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("latest_event_id"),
        col("ts").as("latest_ts"), col("event_type").as("latest_type"))
  }

  /** GetVersions (registry.go:538): dense version numbering per
    * subject in registration order — the shared version stream,
    * [[Compat.versions]], with `subject` named back to `user_id`.
    */
  def versions(s: SparkSession, dir: String): DataFrame =
    Compat.versions(s, dir)
      .select(col("subject").as("user_id"), col("event_id"), col("version"))

  /** SchemaCountsByType (registry.go:521): groupBy counts over the
    * payload corpus, keyed by declared type (lang stands in).
    */
  def countsByType(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang").as("schema_type"))
      .agg(count(lit(1)).as("n_schemas"),
        sum(col("n_chars")).as("total_bytes"))

  /** GetMode / config fallback (registry.go:892): per-subject
    * override resolved against a global default via left join +
    * coalesce. The override dimension is derived deterministically
    * (every third nation pins FULL) and broadcast.
    */
  def configFallback(s: SparkSession, dir: String): DataFrame = {
    val overrides = Tables.nation(s, dir)
      .filter(col("n_nationkey") % 3 === 0)
      .select(col("n_nationkey").as("ov_nationkey"),
        lit("FULL").as("override_mode"))
    Tables.customer(s, dir)
      .join(broadcast(overrides), col("c_nationkey") === col("ov_nationkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("override_mode"), lit("BACKWARD")).as("effective_mode"))
  }

  /** ResolveAlias (registry_helpers.go:28 via GetSubjectConfigFull):
    * a subject whose per-subject config carries an alias resolves to
    * the alias TARGET; everything else resolves to itself.
    * Resolution is SINGLE-LEVEL by spec — even when the target has
    * an alias of its own, the resolver does NOT chain (the model's
    * alias targets are `subject+3`, so a %3==0 subject's target is
    * itself aliased — the output proves no chaining happened).
    * Row-local over the distinct-subjects dimension: one partial-agg
    * distinct, zero joins (the alias config derives from the key).
    */
  def resolveAlias(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id").as("subject_id")).distinct()
      .select(
        concat(lit("sub_"), col("subject_id")).as("subject"),
        when(col("subject_id") % 3 === 0,
          concat(lit("sub_"), col("subject_id") + 3))
          .otherwise(concat(lit("sub_"), col("subject_id"))).as("resolved"),
        (col("subject_id") % 3 === 0).as("aliased"))

  /** LookupSchema by content (registry.go:553): canonical id per
    * content hash — md5 groupBy, min id wins (first registration).
    * The payload is canonicalized BEFORE hashing (internal/schema/
    * canonicalization; registry.go hashes canonical form): runs of
    * whitespace collapse to one space FIRST, then ends are trimmed —
    * this order also strips leading/trailing tabs/newlines (trim()
    * alone only removes spaces), so formatting variants of the same
    * schema collapse to one hash.
    */
  /** Avro Parsing Canonical Form fingerprinting (schema/avro/
    * parser.go:141 canonicalize, :93 Fingerprint; the real semantics
    * behind normalize_schema and schema identity, where
    * [[lookupByHash]] models only the whitespace-collapse face).
    * A synthetic Avro-schema corpus derives from each registration's
    * payload k: 3 namespaces × 5 record names × primitive-vs-nested
    * field type × with/without field default, each rendered in FOUR
    * formatting variants (compact inline-qualified name; spaced with
    * separate namespace key; doc + scrambled key order; aliases +
    * field doc/order noise). The REAL canonicalizer
    * (`graft_avro_pcf`, a codegen Catalyst expression mirroring the
    * reference recursion) collapses every formatting variant of one
    * primitive schema to ONE fingerprint, while keeping
    * default-bearing schemas distinct (parser.go:288). Nested groups
    * keep TWO fingerprints: the reference does not let an
    * inline-dotted parent name establish a namespace for nested
    * types (parser.go:163), so explicit-namespace variants qualify
    * `Inner` and inline-dotted variants do not — the oracle encodes
    * that exact behavior.
    *
    * Shape: the corpus text + canonicalization are one row-local
    * codegen projection over the registration stream; the rollup is
    * one partial-agg groupBy on the small logical-schema dimension.
    */
  def canonicalFp(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val ev = Tables.events(s, dir).select(
      get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .filter(col("k").isNotNull)
    val ns = concat(lit("com.ex"), (col("k") % 3).cast("string"))
    val rec = concat(lit("Rec"), (col("k") % 5).cast("string"))
    val prim = col("k") % 2 === 0
    val d = prim && col("k") % 7 < 3
    val innerCompact =
      """{"type":"record","name":"Inner","fields":[{"name":"g","type":"int"}]}"""
    val innerSpaced =
      """{ "type" : "record" , "name" : "Inner" , "fields" : [ { "name" : "g" , "type" : "int" } ] }"""
    val fCompact = when(prim,
      concat(lit("""{"name":"f1","type":"long""""),
        when(d, ""","default":7""").otherwise(""), lit("}")))
      .otherwise(lit(s"""{"name":"f1","type":$innerCompact}"""))
    val fSpaced = when(prim,
      concat(lit("""{ "name" : "f1" , "type" : "long""""),
        when(d, """ , "default" : 7""").otherwise(""), lit(" }")))
      .otherwise(lit(s"""{ "name" : "f1" , "type" : $innerSpaced }"""))
    val fExtra = when(prim,
      concat(lit("""{"name":"f1","doc":"fd","order":"ascending","type":"long""""),
        when(d, ""","default":7""").otherwise(""), lit("}")))
      .otherwise(lit(s"""{"name":"f1","doc":"fd","order":"ascending","type":$innerCompact}"""))
    val text = when(col("k") % 4 === 0,
      concat(lit("""{"type":"record","name":""""), ns, lit("."), rec,
        lit("""","fields":["""), fCompact, lit("]}")))
      .when(col("k") % 4 === 1,
        concat(lit("""{ "type" : "record" , "namespace" : """"), ns,
          lit("""" , "name" : """"), rec, lit("""" , "fields" : [ """),
          fSpaced, lit(" ] }")))
      .when(col("k") % 4 === 2,
        concat(lit("""{"doc":"generated","namespace":""""), ns,
          lit("""","fields":["""), fCompact, lit("""],"name":""""), rec,
          lit("""","type":"record"}""")))
      .otherwise(
        concat(lit("""{"type":"record","name":""""), ns, lit("."), rec,
          lit("""","aliases":["Old"],"fields":["""), fExtra, lit("]}")))
    // Dedupe BEFORE canonicalizing: fp is a pure function of text, so
    // distinct() first (map-side partial dedupe — the shuffle carries
    // only the logical-schema dimension, ~hundreds of rows at any
    // corpus size) and graft_avro_pcf's Jackson parse+rebuild runs
    // once per DISTINCT text instead of once per registration. At sf1
    // this is 6M parses → ~240; at 100 TB it's the difference between
    // the canonicalizer being a scan cost and being free. After
    // distinct, each text appears once per group, so n_texts is a
    // plain count.
    ev.select(ns.as("namespace"), rec.as("rec_name"),
      prim.as("is_primitive"), d.as("with_default"), text.as("text"))
      .distinct()
      .withColumn("fp", md5(expr("graft_avro_pcf(text)")))
      .groupBy(col("namespace"), col("rec_name"),
        col("is_primitive"), col("with_default"))
      .agg(count(lit(1)).as("n_texts"),
        countDistinct(col("fp")).as("n_fps"),
        min(col("fp")).as("fp"))
  }

  /** JSON Schema canonical fingerprint (internal/schema/jsonschema/
    * parser.go:112 CanonicalString / :121 Fingerprint / :177
    * canonicalize) — the JSON sibling of [[canonicalFp]]. The corpus
    * synthesizes each logical JSON Schema in four formatting variants
    * (key orders, whitespace, and a float-typed `5.0` spelling of an
    * integral bound), plus raw boolean root schemas in two whitespace
    * spellings; `graft_json_canon` (sorted keys, compact separators,
    * Go number rendering, boolean-root passthrough) must collapse
    * each group to ONE sha-256 fingerprint. The oracle constructs the
    * expected canonical string directly from the generation
    * parameters, so hash parity proves the canonicalizer byte-exact.
    *
    * Shape: text synthesis + canonicalization are row-local;
    * distinct() before canonicalizing bounds the Jackson work by the
    * logical-schema dimension exactly as [[canonicalFp]]; one
    * partial-agg groupBy on the parameter key.
    */
  def jsonFp(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val ev = Tables.events(s, dir).select(
      get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .filter(col("k").isNotNull)
    val boolRoot = col("k") % 13 === 0
    val title = concat(lit("S"), (col("k") % 5).cast("string"))
    val hasB = col("k") % 3 === 0
    val minv = (col("k") % 7).cast("string")
    val hasMult = col("k") % 11 < 4
    // Property bodies in the three textual spellings the variants use.
    val aCompact = lit("""{"type":"string","maxLength":5}""")
    val aSpaced = lit("""{ "type" : "string" , "maxLength" : 5 }""")
    val aFloat = lit("""{"maxLength":5.0,"type":"string"}""")
    val bCompact = when(hasB, concat(lit(""","b":{"type":"integer","minimum":"""), minv,
      when(hasMult, lit(""","multipleOf":0.5""")).otherwise(lit("")), lit("}"))).otherwise(lit(""))
    val bSpaced = when(hasB, concat(lit(""" , "b" : { "type" : "integer" , "minimum" : """), minv,
      when(hasMult, lit(""" , "multipleOf" : 0.5""")).otherwise(lit("")), lit(" }"))).otherwise(lit(""))
    val bSorted = when(hasB, concat(lit(""","b":{"minimum":"""), minv,
      when(hasMult, lit(""","multipleOf":0.5""")).otherwise(lit("")),
      lit(""","type":"integer"}"""))).otherwise(lit(""))
    val text = when(boolRoot, when(col("k") % 2 === 0, lit("true")).otherwise(lit("  true ")))
      .when(col("k") % 4 === 0,
        concat(lit("""{"type":"object","title":""""), title,
          lit("""","properties":{"a":"""), aCompact, bCompact,
          lit("""},"required":["a"],"additionalProperties":false}""")))
      .when(col("k") % 4 === 1,
        concat(lit("""{ "type" : "object" , "title" : """"), title,
          lit("""" , "properties" : { "a" : """), aSpaced, bSpaced,
          lit(""" } , "required" : [ "a" ] , "additionalProperties" : false }""")))
      .when(col("k") % 4 === 2,
        concat(lit("""{"additionalProperties":false,"properties":{"a":"""), aFloat, bSorted,
          lit("""},"required":["a"],"title":""""), title, lit("""","type":"object"}""")))
      .otherwise(
        concat(lit("""{"required":["a"],"type":"object","properties":{"a":"""), aCompact, bCompact,
          lit("""},"title":""""), title, lit("""","additionalProperties":false}""")))
    ev.select(boolRoot.as("bool_root"),
        when(boolRoot, lit(null).cast("string")).otherwise(title).as("title"),
        when(boolRoot, lit(null).cast("boolean")).otherwise(hasB).as("has_b"),
        when(boolRoot || !hasB, lit(null).cast("string")).otherwise(minv).as("minv"),
        when(boolRoot || !hasB, lit(null).cast("boolean")).otherwise(hasMult).as("has_mult"),
        text.as("text"))
      .distinct()
      .withColumn("fp", sha2(expr("graft_json_canon(text)"), 256))
      .groupBy(col("bool_root"), col("title"), col("has_b"), col("minv"), col("has_mult"))
      .agg(count(lit(1)).as("n_texts"),
        countDistinct(col("fp")).as("n_fps"),
        min(col("fp")).as("fp"))
  }

  def lookupByHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("content_hash"),
        col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Broadcastable Bloom existence filter over the registered content
    * hashes ([[lookupByHash]]'s key space) — the pre-filter a
    * 1000-executor lookup-by-hash deployment ships to every scan task
    * so the fact table is probed for membership WITHOUT a join: 64 KiB
    * of bits answers "definitely absent" locally and only possible
    * members shuffle (the same role as Spark's own runtime bloom
    * pushdown, here as an explicit, engine-portable operator).
    * m = 65536 bits as 2048 32-bit slots (kept in the positive range
    * of an int64 — neither engine shifts into the sign bit), k = 4
    * index functions taken
    * from disjoint 4-hex-digit windows of the md5 (exact integers —
    * no engine-specific hashing). The report card proves both Bloom
    * contracts on real probes: member probes (every registered hash)
    * must ALL hit — no false negatives — and synthesized non-member
    * probes measure the false-positive rate against the filter's
    * fill factor.
    *
    * Scale: build is one groupBy on ≤2048 slot keys with map-side
    * bit_or combine; the filter result is ≤2048 rows (broadcast); each
    * probe tests 4 slots via that broadcast — no corpus-sized shuffle
    * anywhere.
    */
  def bloomFilter(s: SparkSession, dir: String): DataFrame = {
    def positions(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("h", "explode(sequence(0, 3)) AS i")
      .selectExpr("h", "i",
        "cast(conv(substring(h, i * 4 + 1, 4), 16, 10) AS bigint) AS pos")
      .selectExpr("h", "i", "pos div 32 AS slot", "cast(pos % 32 AS int) AS bit")
    // NOT pinned (r12): items/slots are multi-consumer, but the whole
    // subtree is a 1-task scan of a tiny projection — an r12
    // experiment that pinned both measured 15x the cpu and ~2x the
    // wall (interleaved A/B): the checkpoint leaves defeat size
    // estimation, replacing two cheap fused rebuilds with wide
    // SMJ-planned stages. Duplicated CHEAP subtrees are the right
    // trade; see OPTIMIZATION_r12.md.
    val items = Tables.documents(s, dir)
      .select(md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("h"))
      .distinct()
    val slots = positions(items)
      .groupBy(col("slot"))
      .agg(expr("bit_or(shiftleft(cast(1 AS bigint), bit))").as("bits"))
    val probes = items.selectExpr("h", "'member' AS kind")
      .unionAll(Tables.documents(s, dir)
        .selectExpr("md5(concat('probe:', cast(doc_id AS string))) AS h", "'nonmember' AS kind")
        .distinct())
    val tested = positions(probes.select(col("h")))
      .join(probes, "h")
      .join(broadcast(slots), Seq("slot"), "left")
      .selectExpr("h", "kind",
        "CASE WHEN bits IS NOT NULL AND (bits & shiftleft(cast(1 AS bigint), bit)) != 0 THEN 1 ELSE 0 END AS bit_hit")
      .groupBy(col("h"), col("kind"))
      .agg(min(col("bit_hit")).as("hit"))
    val fill = slots.agg(sum(expr("bit_count(bits)")).as("n_bits_set"))
    tested.groupBy(col("kind"))
      .agg(count(lit(1)).as("n_probes"), sum(col("hit")).as("n_hits"))
      .crossJoin(broadcast(fill))
      .selectExpr("kind", "n_probes", "n_hits", "n_bits_set",
        "floor(n_hits / cast(n_probes AS double) * 10000 + 0.5) / cast(10000 AS double) AS hit_rate")
  }

  /** GetReferencedBy (registry.go:1039): reverse reference counts —
    * orders referenced by their lineitems, heavily-referenced only.
    */
  def referencedBy(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_refs"))
      .filter(col("n_refs") >= 5)

  /** Soft-delete semantics (registry.go:591 DeleteSubject soft vs
    * permanent): per-group counts with and without "deleted" rows;
    * o_orderstatus 'F' plays the tombstone.
    */
  def softDelete(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("o_orderstatus") =!= "F", 1).otherwise(0)).as("n_active"))

  /** RegisterSchema idempotency (registry.go:63 — re-registering an
    * identical payload returns the original record): first event per
    * (subject, operation), i.e. dedupe to the earliest registration.
    */
  def importDedupe(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))
  }

  /** Context-qualified subject resolution (context.go:47
    * ResolveSubject): `:.ctx:subject` → (".ctx", "subject"); anything
    * else — plain names, `:.` with no second colon, `:.:x` (empty
    * context) — resolves to the default context "." with the raw
    * name as subject. Qualified names are synthesized from the
    * corpus in four shapes (qualified, plain, empty-subject,
    * malformed-no-colon) so every branch of the parser is exercised
    * data-driven. Pure row-local string parsing.
    */
  def resolveSubject(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("qualified",
        when(col("doc_id") % lit(4) === 0,
          concat(lit(":."), col("source"), lit(":doc_"), col("doc_id").cast("string")))
          .when(col("doc_id") % lit(4) === 1,
            concat(lit("doc_"), col("doc_id").cast("string")))
          .when(col("doc_id") % lit(4) === 2, concat(lit(":."), col("source"), lit(":")))
          .otherwise(concat(lit(":."), col("source"))))
      .withColumn("rest", expr("substring(qualified, 3)"))
      .withColumn("idx", instr(col("rest"), ":"))
      // Go: strings.Index(rest, ":") > 0 — the colon must exist and not
      // be rest's first char (context name non-empty) → 1-based idx > 1.
      .withColumn("is_q", col("qualified").startsWith(":.") && col("idx") > 1)
      .select(col("doc_id"), col("qualified"),
        when(col("is_q"), concat(lit("."), expr("substring(rest, 1, idx - 1)")))
          .otherwise(".").as("resolved_context"),
        when(col("is_q"), expr("substring(rest, idx + 1)"))
          .otherwise(col("qualified")).as("resolved_subject"))

  /** Rule-set validation (rules/validator.go:51 ValidateRuleSet,
    * :74 validateRule): name required, kind ∈ {CONDITION, TRANSFORM},
    * mode checked against the per-category whitelist (migrationRules
    * take UPGRADE/DOWNGRADE/UPDOWN; domain/encoding take WRITE/READ/
    * WRITEREAD), and onSuccess actions must each be NONE/DLQ/ERROR
    * (comma-separated dual-mode allowed, validator.go:35). Validation
    * is sequential in the reference (first error wins), so each rule
    * is attributed to exactly one error class. Rule rows derive
    * deterministically from the corpus; the check itself is a
    * row-local CASE chain + a split/forall over the action list.
    */
  def rulesValidate(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("bigint")
    val badAction = exists(split(col("on_success"), ","),
      p => !trim(p).isin("", "NONE", "DLQ", "ERROR"))
    val modeOk =
      (col("category") === "migrationRules" &&
        col("mode").isin("UPGRADE", "DOWNGRADE", "UPDOWN")) ||
        (col("category") =!= "migrationRules" &&
          col("mode").isin("WRITE", "READ", "WRITEREAD"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), k.as("k"))
      .withColumn("category",
        when(col("user_id") % lit(3) === 0, "domainRules")
          .when(col("user_id") % lit(3) === 1, "migrationRules")
          .otherwise("encodingRules"))
      .withColumn("rname",
        when(col("k") % lit(7) === 0, "")
          .otherwise(concat(lit("rule_"), col("event_id").cast("string"))))
      .withColumn("kind",
        when(col("k") % lit(5) < 2, "CONDITION")
          .when(col("k") % lit(5) < 4, "TRANSFORM")
          .otherwise("VALIDATE"))
      .withColumn("mode",
        when(col("k") % lit(6) === 0, "WRITE")
          .when(col("k") % lit(6) === 1, "READ")
          .when(col("k") % lit(6) === 2, "WRITEREAD")
          .when(col("k") % lit(6) === 3, "UPGRADE")
          .when(col("k") % lit(6) === 4, "DOWNGRADE")
          .otherwise("UPDOWN"))
      .withColumn("on_success",
        when(col("user_id") % lit(5) === 0, "NONE")
          .when(col("user_id") % lit(5) === 1, "DLQ")
          .when(col("user_id") % lit(5) === 2, "ERROR,NONE")
          .when(col("user_id") % lit(5) === 3, "")
          .otherwise("PANIC"))
      .withColumn("error_class",
        when(trim(col("rname")) === "", "name")
          .when(!col("kind").isin("CONDITION", "TRANSFORM"), "kind")
          .when(!modeOk, "mode")
          .when(badAction, "action")
          .otherwise("valid"))
      .groupBy(col("category"), col("error_class"))
      .agg(count(lit(1)).as("n_rules"))
  }

  /** Exporter subject/schema-type filters (exporter.go:274
    * matchesFilters): an event matches an exporter iff the exporter's
    * subjects list is empty or contains the subject, AND its
    * schema-types list is empty or contains the type. Exporter
    * configs are a 3-row dimension joined as data (broadcast NLJ over
    * 3 rows — the filter fan-out shape, not a cartesian risk).
    */
  def exportFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exporters = Seq(
      ("exp_all", Seq.empty[String], Seq.empty[String]),
      ("exp_avro_error", Seq("error"), Seq("AVRO")),
      ("exp_clickview", Seq("click", "view"), Seq.empty[String]))
      .toDF("exporter", "subjects", "schema_types")
    val ev = Tables.events(s, dir).select(
      col("event_type").as("subject"),
      when(col("user_id") % lit(3) === 0, "AVRO")
        .when(col("user_id") % lit(3) === 1, "JSON")
        .otherwise("PROTOBUF").as("schema_type"))
    ev.join(broadcast(exporters),
      (size(col("subjects")) === 0 || array_contains(col("subjects"), col("subject"))) &&
        (size(col("schema_types")) === 0 || array_contains(col("schema_types"), col("schema_type"))))
      .groupBy(col("exporter"))
      .agg(count(lit(1)).as("n_exported"))
  }

  /** The composed filtered listing (handleListSchemas,
    * mcp/tools_schema.go:296 + storage/memory/store.go ListSchemas):
    * subjectPrefix + deleted + latestOnly + offset/limit resolved in
    * ONE pass over the versions stream. Faithful to the store's
    * program: version numbers are assigned over the FULL changelog
    * (soft-delete never renumbers), the deleted filter applies before
    * latest resolution (latestVersions only considers included
    * versions — a subject whose versions are all tombstoned vanishes
    * from a latestOnly listing), results sort by schema id, and
    * offset/limit slice that order. A 4-row request dimension
    * exercises every parameter (prefix hit/miss, latestOnly on/off,
    * deleted on/off, offset>0, small limit) batched in one query.
    *
    * Scale: one version window + one (req, subject) max window (both
    * keyed, never global), the request fan-out is a broadcast NLJ
    * over 4 rows, and pagination is a per-request row_number whose
    * kept prefix is ≤ offset+limit ≤ 1100 by the handler's own cap —
    * a cluster would plan the same thing as per-partition top-K +
    * merge, which AQE's small final exchange approximates here.
    */
  def listFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = Seq(
      (1L, "click", true, false, 0L, 100L),
      (2L, "", false, false, 10L, 20L),
      (3L, "view", true, true, 0L, 100L),
      (4L, "p", false, false, 0L, 15L))
      .toDF("req_id", "prefix", "latest_only", "include_deleted", "off", "lim")
    val vw = Window.partitionBy(col("subject")).orderBy(col("ts"), col("schema_id"))
    val recs = Tables.events(s, dir)
      .select(col("event_type").as("subject"), col("event_id").as("schema_id"), col("ts"))
      .withColumn("version", row_number().over(vw).cast("bigint"))
      .withColumn("deleted", col("schema_id") % 7 === 0)
    val matched = recs.join(broadcast(params), col("subject").startsWith(col("prefix")))
      .filter(col("include_deleted") || !col("deleted"))
    val lw = Window.partitionBy(col("req_id"), col("subject"))
    val pw = Window.partitionBy(col("req_id")).orderBy(col("schema_id"))
    matched
      .withColumn("maxv", max(col("version")).over(lw))
      .filter(!col("latest_only") || col("version") === col("maxv"))
      .withColumn("rn", row_number().over(pw).cast("bigint"))
      .filter(col("rn") > col("off") && col("rn") <= col("off") + col("lim"))
      .select(col("req_id"), col("rn"), col("schema_id"), col("subject"),
        col("version"), col("deleted"))
  }

  /** GetMaxSchemaID (tools_schema.go:329 / memory/store.go — the
    * highest allocated id per registry context, tombstones included:
    * the store answers nextID-1 without consulting deletion flags).
    * Batched across contexts as one bounded groupBy; `source` plays
    * the context namespace as in [[contexts]].
    */
  def maxSchemaId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source").as("context"))
      .agg(max(col("doc_id")).as("max_id"), count(lit(1)).as("n_allocated"))

  /** ListContexts (registry.go:1141): sorted distinct namespaces. */
  def contexts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source").as("context"))
      .distinct()

  /** ValidateSchema (registry.go:1053): payload validity check —
    * each props document must parse as JSON and carry the required
    * key. Pure row-local projection; invalid rows are reported, not
    * dropped (the registry returns structured validation results).
    */
  def validatePayloads(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").isNotNull.as("is_valid"))
      .groupBy(col("is_valid"))
      .agg(count(lit(1)).as("n"))

  /** FormatSchema / export (registry.go:453, exporter.go): render
    * records to a canonical JSON changelog line — the exporter's
    * output format, produced engine-side.
    */
  def exportJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_id") < 100)
      .select(col("event_id"),
        concat(lit("{\"id\":"), col("event_id"),
          lit(",\"type\":\""), col("event_type"),
          lit("\",\"user\":"), col("user_id"), lit("}")).as("json_line"))

  /** validate_subject_name (tools_validation.go:118,
    * subjectNamePatterns :126): every subject-name candidate checked
    * against every naming strategy's regex. Candidates derive from
    * the subject vocabulary row-locally (the plain name, a
    * topic-style `-value` form, and a deliberately-broken
    * digit-prefixed dotted form), so all three strategies produce
    * both verdicts on real data. One distinct + explode, regexes are
    * codegen rlike — no shuffle beyond the tiny distinct.
    */
  def nameValidate(s: SparkSession, dir: String): DataFrame = {
    val strategies = Seq(
      ("topic_name", "^[a-zA-Z0-9._-]+-(key|value)$"),
      ("record_name", "^[a-zA-Z_][a-zA-Z0-9_.]*$"),
      ("topic_record_name", "^[a-zA-Z0-9._-]+-[a-zA-Z_][a-zA-Z0-9_.]*$"))
    val names = Tables.events(s, dir)
      .select(col("event_type")).distinct()
      .select(explode(array(
        col("event_type"),
        concat(col("event_type"), lit("-value")),
        concat(lit("9"), col("event_type"), lit(".x")))).as("subject_name"))
    strategies.map { case (strat, pattern) =>
      names.select(col("subject_name"), lit(strat).as("strategy"),
        col("subject_name").rlike(pattern).as("is_valid"))
    }.reduce(_ unionByName _)
  }

  /** get_registry_statistics (tools_validation.go:413): the reference
    * walks every subject summing versions and tallying the latest
    * version's schema type — re-expressed as one pass over the
    * version stream + one latest-per-subject window, stack'd to
    * (metric, value) rows. Schema type derives from the latest
    * payload (k % 3 → AVRO/JSON/PROTOBUF), matching the synthetic
    * model's other payload-derived dimensions. KEK/exporter counts
    * are serving-state, out of scope per SURVEY §6.
    */
  def statistics(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id").as("subject"), col("ts"), col("event_id"),
      get_json_object(col("props"), "$.k").cast("bigint").as("k"))
    // ONE pass (r12, guide §2.4): the former totals aggregate and the
    // latest-per-subject window each re-scanned (and re-parsed) the
    // event stream. A per-subject rollup carries both the version
    // count and the latest k (max_by over (ts, event_id) — exactly
    // the row the row_number window picked), and one 1-row aggregate
    // over it yields all five metrics; NULL k still lands in the
    // PROTOBUF bucket via the null-condition otherwise, as before.
    // Oracle NULL/empty semantics: total_subjects is count(DISTINCT
    // subject), so the NULL-subject group is not a subject, while the
    // type buckets (PARTITION BY subject) still count it; on an empty
    // stream every metric is 0, not a NULL sum.
    def total(c: Column) = coalesce(sum(c), lit(0L))
    ev.groupBy(col("subject"))
      .agg(count(lit(1)).as("nv"),
        expr("max_by(k, struct(ts, event_id))").as("lk"))
      .agg(count(col("subject")).as("total_subjects"),
        total(col("nv")).as("total_versions"),
        total(when(col("lk") % 3 === 0, 1L).otherwise(0L)).as("avro"),
        total(when(col("lk") % 3 === 1, 1L).otherwise(0L)).as("json"),
        total(when(col("lk") % 3 === 0 || col("lk") % 3 === 1, 0L).otherwise(1L)).as("protobuf"))
      .selectExpr(
        """stack(5, 'total_subjects', total_subjects, 'total_versions', total_versions,
          |  'type_avro', avro, 'type_json', json,
          |  'type_protobuf', protobuf) AS (metric, value)""".stripMargin)
  }

  /** Reference edges of the schema-dependency DAG, synthesized
    * deterministically from the corpus: every document references
    * doc_id/2 (its "import parent"), and every fifth one additionally
    * references doc_id/3 — parents are strictly smaller, so the graph
    * is acyclic with multiple converging paths (the shape of real
    * schema-reference graphs, registry.go:1039 references). Shared by
    * the closure and GC operators below.
    */
  private[graft] def refEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    docs.filter(col("doc_id") >= 1)
      .select(col("doc_id").as("child"),
        floor(col("doc_id") / 2).cast("bigint").as("parent"))
      .union(docs.filter(col("doc_id") >= 3 && col("doc_id") % 5 === 0)
        .select(col("doc_id").as("child"),
          floor(col("doc_id") / 3).cast("bigint").as("parent")))
  }

  /** The (doc_id, transitive ancestor `anc`[, min hop count `d`])
    * pairs of every document of `docs` over the (child, parent)
    * `edges` — the one closure entry of [[refsClosure]], [[depDepth]],
    * [[gcCandidates]] and [[refCycles]]: the
    * [[graft.plans.TransitiveClosure]] operator, which takes its size
    * gate at execution. The edges' parquet footer bound, read at zero
    * jobs ([[Tables.footerRowBound]]), is its plan-time bound.
    * Construction launches no job. The closure converges on cyclic
    * graphs and gives a source its own id as an ancestor only through
    * a cycle.
    */
  private[graft] def closure(docs: DataFrame, edges: DataFrame, withDepth: Boolean): DataFrame = {
    val e = edges.select(col("child"), col("parent"))
    graft.plans.TransitiveClosure.of(docs.select(col("doc_id")), e, withDepth,
      Tables.footerRowBound(e), Tables.BcastRows)
  }

  /** Transitive reference closure per document (the resolution set a
    * registry materializes to answer "what does this schema pull in"
    * and "who transitively depends on it", registry.go:1039 +
    * deletion guard registry.go:591). Output: ancestor count and the
    * largest (nearest-numbered) ancestor per doc; docs without
    * references report 0/NULL via the left join.
    */
  def refsClosure(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .join(closure(Tables.documents(s, dir), refEdges(s, dir), withDepth = false),
        Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("anc")).as("n_ancestors"), max(col("anc")).as("max_anc"))

  /** Per-document dependency-tree report (buildDependencyTree,
    * tools_validation.go:295 walks references to maxDepth): ancestor
    * count, tree depth (max min-hop distance), and how many ancestors
    * sit within maxDepth=2 — the truncation the reference applies when
    * rendering the tree. The min-hop distance is the BFS layer of
    * [[closure]]. Docs without references report 0/0/0 via the left
    * join. Oracle: recursive CTE carrying depth, min() per (doc, anc).
    */
  def depDepth(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .join(closure(Tables.documents(s, dir), refEdges(s, dir), withDepth = true),
        Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("anc")).as("n_ancestors"),
        coalesce(max(col("d")), lit(0L)).as("depth"),
        coalesce(sum(when(col("d") <= 2, 1L).otherwise(0L)), lit(0L)).as("n_within_2"))

  /** Cyclic-reference detector — the pathology the reference's
    * resolver defends against with its seen-map (resolveReferences,
    * registry.go:1545: "prevents cycles") and that an import/migration
    * audit must surface BEFORE resolution silently truncates them.
    * The healthy import DAG ([[refEdges]]) is augmented with
    * deterministic 3-rings (every 25th document, both endpoints
    * existence-checked) so the detector provably fires; output is
    * every strongly-connected component of size ≥ 1 that contains a
    * cycle: (cycle_id = min member, member, component size).
    *
    * Scale: reachability via [[closure]], which converges on cyclic
    * graphs; a node is its own ancestor exactly when it lies on a
    * cycle. SCC membership is one self-join of the closure with its
    * transpose (mutual reach), then a min-label rollup. The two closure
    * instances read one edge computation: exchange reuse shares their
    * edge broadcast (or their edge exchange, without a footer bound).
    */
  def refCycles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val rb = docs.filter(col("doc_id") % 25 === 0 && col("doc_id") >= 25)
      .select(col("doc_id").as("base"))
    val ring = rb.select(col("base").as("child"), (col("base") + 1).as("parent"))
      .union(rb.select((col("base") + 1).as("child"), (col("base") + 2).as("parent")))
      .union(rb.select((col("base") + 2).as("child"), col("base").as("parent")))
      .join(docs.select(col("doc_id").as("child")), Seq("child"), "left_semi")
      .join(docs.select(col("doc_id").as("parent")), Seq("parent"), "left_semi")
      .select(col("child"), col("parent"))
    val reach = closure(docs, refEdges(s, dir).union(ring), withDepth = false)
    val mutual = reach
      .join(reach.select(col("anc").as("doc_id"), col("doc_id").as("anc")),
        Seq("doc_id", "anc"))
    val scc = mutual.groupBy(col("doc_id")).agg(min(col("anc")).as("cycle_id"))
    // component size via a window over cycle_id, not a groupBy+join:
    // the join's build side would re-run the whole mutual-reach join
    // + rollup a second time (r12, guide §2.4 duplicated subtrees).
    // One exchange, identical rows.
    scc.withColumn("n_members", count(lit(1)).over(
        Window.partitionBy(col("cycle_id"))))
      .select(col("cycle_id"), col("doc_id"), col("n_members"))
  }

  /** Id-space gap audit: the maximal runs of missing ids in the live
    * (non-deleted) id sequence — the post-incident forensics face of
    * the id allocator ([[maxSchemaId]] is its max face): failed
    * imports and hard deletes leave holes, and a gap card is how an
    * operator distinguishes "allocator skipped" from "records lost".
    * Live ids model on the orders changelog with the established
    * soft-delete convention (status 'F' = deleted). Top-100 widest
    * gaps, deterministically tie-broken.
    *
    * Scale: a single global lag-window would funnel 100 TB of ids
    * through one task. Instead ids hash into fixed-width blocks:
    * within-block gaps come from a lag window PARTITIONED by block
    * (distributed), and cross-block gaps from the per-block (min,
    * max) rollup — a metadata-sized frame (one row per non-empty
    * block) whose single-partition lag window is trivially cheap.
    * Every consecutive live pair appears in exactly one of the two
    * passes, so the union is the complete gap set.
    */
  def idGaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blockW = 4096L
    val live = Tables.orders(s, dir).filter(col("o_orderstatus") =!= "F")
      .select(col("o_orderkey").as("id"),
        expr(s"o_orderkey div $blockW").as("blk"))
    val win = Window.partitionBy(col("blk")).orderBy(col("id"))
    val inner = live.withColumn("prev", lag(col("id"), 1).over(win))
      .where(col("id") - col("prev") > 1)
      .select(col("prev").as("gap_after"), col("id").as("next_id"))
    val blocks = live.groupBy(col("blk"))
      .agg(min(col("id")).as("bmin"), max(col("id")).as("bmax"))
    val bwin = Window.orderBy(col("blk"))
    val boundary = blocks.withColumn("prev_max", lag(col("bmax"), 1).over(bwin))
      .where(col("bmin") - col("prev_max") > 1)
      .select(col("prev_max").as("gap_after"), col("bmin").as("next_id"))
    inner.union(boundary)
      .select(col("gap_after"), col("next_id"),
        (col("next_id") - col("gap_after") - 1).as("gap_len"),
        (expr(s"gap_after div $blockW") =!= expr(s"next_id div $blockW")).as("spans_blocks"))
      .orderBy(col("gap_len").desc, col("gap_after"))
      .limit(100)
  }

  /** Free-text schema search (handleSearchSchemas,
    * tools_validation.go:176: match a query string against subject
    * names AND schema content corpus-wide). Re-expressed as the
    * inverted-posting-list shape: the corpus tokenizes row-locally
    * (content + source name in one pass), postings join the BROADCAST
    * query-term table — so only matching postings ever shuffle — and
    * candidates score relationally (distinct query terms hit), top-20
    * per query by (score, doc_id). No full-corpus scan per query, no
    * cartesian: the term join is the index probe, batched across the
    * whole query workload in one pass.
    */
  def search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = broadcast(Seq(
      (1L, "window"), (1L, "merge"),
      (2L, "vector"), (2L, "hash"), (2L, "join"),
      (3L, "spark"), (3L, "registry"),
      (4L, "src3"), (4L, "stream"))
      .toDF("query_id", "term"))
    val postings = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(lower(concat(col("text"), lit(" "), col("source"))), "[^a-z0-9]+")).as("tok"))
    val hits = postings.join(terms, col("tok") === col("term"))
      .select(col("query_id"), col("doc_id"), col("tok")).distinct()
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_hit").desc, col("doc_id"))
    hits.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select(col("query_id"), col("doc_id"), col("n_hit"))
  }

  /** Garbage-collection candidates: a soft-deleted schema (doc_id %
    * 7 tombstones) is permanently deletable iff NO live schema
    * transitively depends on it — the reference refuses deletion
    * while referenced (registry.go:591 / ErrReferencedBy); cascades
    * of deleted-only dependents are collectable. The closure runs
    * from the live documents only (its BFS sources), then one
    * partial-agg count per ancestor, joined back to the tombstone set.
    */
  def gcCandidates(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val live = docs.filter(col("doc_id") % 7 =!= 0)
    val deleted = docs.filter(col("doc_id") % 7 === 0)
    val depCounts = closure(live, refEdges(s, dir), withDepth = false)
      .groupBy(col("anc")).agg(count(lit(1)).as("dep_n"))
    deleted.join(depCounts, col("doc_id") === col("anc"), "left")
      .select(col("doc_id"),
        coalesce(col("dep_n"), lit(0L)).as("n_live_dependents"),
        (coalesce(col("dep_n"), lit(0L)) === 0).as("gc_ok"))
  }

  /** Schema importance over the reference graph — PageRank with 3
    * fixed power iterations (damping 0.85, no dangling
    * redistribution; deterministic, so the oracle can unroll the
    * same three steps as chained CTEs). Each iteration is one
    * contribution join (edges ⋈ ranks on the out-node, shuffle on
    * doc_id) + one partial-agg sum — the canonical iterative-numeric
    * Spark shape, complementing the set-based closure above.
    * Output is N-normalized importance in exact 1/64000 units —
    * see the grid note at the end of the method.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("n")))
    val edges = refEdges(s, dir)
    val outdeg = edges.groupBy(col("child")).agg(count(lit(1)).cast("double").as("od"))
    val e = edges.join(outdeg, "child")
    var r = docs.crossJoin(nRow).select(col("doc_id"), (lit(1.0) / col("n")).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = e.join(r.withColumnRenamed("doc_id", "child"), "child")
        .groupBy(col("parent").as("doc_id"))
        .agg(sum(col("pr") / col("od")).as("cs"))
      r = docs.join(contrib, Seq("doc_id"), "left").crossJoin(nRow)
        .select(col("doc_id"),
          (lit(0.15) / col("n") + lit(0.85) * coalesce(col("cs"), lit(0.0))).as("pr"))
    }
    // Exact-grid output: with od ∈ {1,2} and damping 17/20, pr·N has
    // denominator dividing 40³ = 64000, so pr·N·64000 is an integer in
    // exact arithmetic; round-to-integer is then stable across engines
    // (float error ~1e-9 of a unit) where any decimal rounding of the
    // terminating-decimal values would sit exactly on .5 boundaries.
    r.crossJoin(nRow)
      .select(col("doc_id"),
        round(col("pr") * col("n") * lit(64000), 0).cast("bigint").as("pr_units"))
  }

  /** Metadata-filtered latest-version lookup (tools_metadata.go:269
    * handleGetSubjectMetadata: with a metadata filter, walk versions
    * newest-first and return the first whose properties match ALL
    * filter entries). Re-expressed corpus-wide: the shared version
    * stream ([[Compat.versions]]), the filter over it, and the newest
    * match via max/max_by — one shuffle, no per-subject walk.
    * Subjects with no matching version drop out (the reference
    * errors there). Metadata properties derive deterministically
    * from the payload (`stage` cycles dev/staging/prod with k).
    */
  def metaLatest(s: SparkSession, dir: String): DataFrame = {
    val m = col("k") % 3
    Compat.versions(s, dir)
      .withColumn("stage",
        when(m === 0, "prod").when(m === 1, "staging").otherwise("dev"))
      .filter(col("stage") === "prod")
      .groupBy(col("subject"))
      .agg(max(col("version")).as("latest_matching"),
        expr("max_by(event_id, version)").as("event_id"))
  }

  /** Catalog health report — the data-quality constraint scan a
    * registry-backed catalog runs nightly (the relational face of
    * ValidateSchema registry.go:1053 plus referential guarantees the
    * serving registry enforces transactionally): FK integrity via
    * anti joins (shuffle on the key, dimension sides broadcast),
    * key uniqueness via a partial-agg groupBy, payload validity and
    * derived-column consistency as pushed row-local filters. Each
    * check reports (checked, violations, pass) — a healthy corpus
    * yields zeros, and the count columns prove the checks ran.
    */
  def dqChecks(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val li = Tables.lineitem(s, dir)
    val ev = Tables.events(s, dir)
    val docs = Tables.documents(s, dir)
    val part = Tables.part(s, dir)
    def report(name: String, checked: DataFrame, viol: DataFrame): DataFrame =
      checked.agg(count(lit(1)).as("n_checked"))
        .crossJoin(viol.agg(count(lit(1)).as("n_violations")))
        .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    report("fk_orders_customer", ord,
        ord.join(broadcast(cust.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti"))
      .unionByName(report("fk_lineitem_orders", li,
        li.join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")))
      .unionByName(report("fk_lineitem_part", li,
        li.join(broadcast(part.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_anti")))
      .unionByName(report("uniq_customer_key", cust,
        cust.groupBy(col("c_custkey")).agg(count(lit(1)).as("c")).filter(col("c") > 1)))
      .unionByName(report("json_props_valid", ev,
        ev.filter(get_json_object(col("props"), "$.k").isNull)))
      .unionByName(report("docs_nchars_consistent", docs,
        docs.filter(col("n_chars") =!= length(col("text")))))
  }

  /** Subject-alias + version-spec resolution (registry_helpers.go:28
    * ResolveAlias — single-level, no chaining; :41 ParseVersion —
    * "latest"/"-1" → -1 sentinel, else positive integers only).
    * The alias table is config (a broadcast dimension); specs are
    * synthesized from the corpus to cover every parser branch.
    * Invalid specs report parsed_version 0 + is_valid false (the
    * reference returns an error value there).
    */
  def resolveRef(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aliases = Seq(("click", "click_v2"), ("view", "page_view"))
      .toDF("alias_subject", "alias_target")
    val spec = when(col("user_id") % 4 === 0, lit("latest"))
      .when(col("user_id") % 4 === 1, lit("-1"))
      .when(col("user_id") % 4 === 2, (col("user_id") % 3 + 1).cast("string"))
      .otherwise(lit("v9"))
    val parsed = when(col("version_spec").isin("latest", "-1"), lit(-1))
      .when(col("version_spec").rlike("^[0-9]+$") &&
        col("version_spec").cast("int") >= 1, col("version_spec").cast("int"))
      .otherwise(lit(0))
    Tables.events(s, dir)
      .select(col("event_type").as("subject"), spec.as("version_spec"))
      .join(broadcast(aliases), col("subject") === col("alias_subject"), "left")
      .select(coalesce(col("alias_target"), col("subject")).as("resolved_subject"),
        col("version_spec"))
      .withColumn("parsed_version", parsed)
      .withColumn("is_valid", col("parsed_version") =!= 0)
      .groupBy(col("resolved_subject"), col("version_spec"),
        col("parsed_version"), col("is_valid"))
      .agg(count(lit(1)).as("n_refs"))
  }

  /** match_subjects (tools_comparison.go:334 handleMatchSubjects):
    * substring OR regex pattern matching over the subject name
    * vocabulary — one scan, a row-local per-pattern verdict stack,
    * and a per-pattern rollup as the only shuffle, so the shape
    * holds when the vocabulary is billions of names. `p_name` plays
    * the subject vocabulary — the corpus with realistic multi-word
    * names.
    */
  def matchSubjects(s: SparkSession, dir: String): DataFrame = {
    val patterns = Seq(
      ("substr", "old"), ("substr", "ring"),
      ("regex", "^bl"), ("regex", "r(od|ing)$"))
    // Patterns are LITERALS in the plan (one row-local explode of a
    // per-pattern verdict array), not a joined column: RLike with a
    // non-foldable pattern recompiles the regex per row — a scale
    // footgun — while literal patterns compile once per task under
    // codegen. One scan regardless of pattern count.
    val verdicts = array(patterns.map { case (mode, pat) =>
      val m = if (mode == "substr") col("p_name").contains(pat)
              else col("p_name").rlike(pat)
      struct(lit(mode).as("mode"), lit(pat).as("pattern"), m.as("matched"))
    }: _*)
    Tables.part(s, dir)
      .select(col("p_name"), explode(verdicts).as("v"))
      .filter(col("v.matched"))
      .groupBy(col("v.mode").as("mode"), col("v.pattern").as("pattern"))
      .agg(count(lit(1)).as("n_matches"), min(col("p_name")).as("first_match"))
  }

  /** CheckModeForWrite (registry_helpers.go:14, surfaced by
    * tools_metadata.go:180 handleCheckWriteMode): the per-subject
    * mode override falls back to the global READWRITE default; only
    * READONLY and READONLY_OVERRIDE block writes (IMPORT does not —
    * the reference returns blocking for exactly those two). Same
    * broadcast-override shape as [[configFallback]]: the mode
    * dimension is tiny config state, the subject stream never
    * shuffles.
    */
  def writeMode(s: SparkSession, dir: String): DataFrame = {
    val modeOverrides = Tables.nation(s, dir)
      .select(col("n_nationkey").as("ov_nationkey"),
        when(col("n_nationkey") % 5 === 0, "READONLY")
          .when(col("n_nationkey") % 5 === 1, "READONLY_OVERRIDE")
          .when(col("n_nationkey") % 5 === 2, "IMPORT").as("mode_override"))
      .filter(col("mode_override").isNotNull)
    Tables.customer(s, dir)
      .join(broadcast(modeOverrides), col("c_nationkey") === col("ov_nationkey"), "left")
      .select(col("c_custkey").as("subject_key"),
        coalesce(col("mode_override"), lit("READWRITE")).as("effective_mode"))
      .withColumn("writable",
        !col("effective_mode").isin("READONLY", "READONLY_OVERRIDE"))
      .withColumn("blocking_mode",
        when(!col("writable"), col("effective_mode")).otherwise(lit("")))
  }

  /** suggest_compatible_change (tools_comparison.go:259 +
    * compatibilityAdvice :276): the advice matrix keyed on
    * (effective compatibility level, change type). The level comes
    * from per-subject config with the reference's BACKWARD fallback
    * (GetConfig error → "BACKWARD", :261); rename/change_type advice
    * is level-independent, add/remove branch on the level exactly as
    * the Go switch does. Rolled up to (level, change_type) — the
    * matrix the tool serves — with the subject count per cell, so
    * the output is O(levels × types) regardless of corpus size.
    */
  def changeAdvice(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val levelDim = Tables.nation(s, dir)
      .select(col("n_nationkey").as("lv_nationkey"),
        when(col("n_nationkey") % 4 === 0, "BACKWARD")
          .when(col("n_nationkey") % 4 === 1, "FORWARD")
          .when(col("n_nationkey") % 4 === 2, "FULL")
          .otherwise("NONE").as("level"))
    val changeTypes = Seq("add_field", "remove_field", "rename_field", "change_type")
      .toDF("change_type")
    val nAdvice = when(col("change_type").isin("rename_field", "change_type"), 3)
      .when(col("level") === "NONE", 1)
      .otherwise(2)
    val firstAdvice = when(col("change_type") === "rename_field",
      "Field renames are NOT directly compatible in any mode.")
      .when(col("change_type") === "change_type",
        "Type changes are generally incompatible.")
      .when(col("level") === "NONE",
        "With NONE compatibility, any change is allowed.")
      .when(col("change_type") === "add_field",
        when(col("level") === "FORWARD",
          "New fields can be added freely in forward-compatible mode.")
          .when(col("level") === "FULL",
            "New fields MUST have a default value for full compatibility.")
          .otherwise("New fields MUST have a default value for backward compatibility."))
      .otherwise(
        when(col("level") === "FORWARD",
          "Removing fields is NOT forward-compatible. Old consumers still expect the field.")
          .when(col("level") === "FULL",
            "Removing fields is only safe if the field had a default value.")
          .otherwise("Removing fields is allowed in backward-compatible mode if the field had a default value."))
    Tables.customer(s, dir)
      .join(broadcast(levelDim), col("c_nationkey") === col("lv_nationkey"), "left")
      .select(col("c_custkey"), coalesce(col("level"), lit("BACKWARD")).as("level"))
      .crossJoin(broadcast(changeTypes))
      .groupBy(col("level"), col("change_type"))
      .agg(count(lit(1)).as("n_subjects"))
      .withColumn("n_advice", nAdvice.cast("int"))
      .withColumn("first_advice", firstAdvice)
  }

  /** GetSubjectsBySchemaID / GetVersionsBySchemaID
    * (tools_schema.go:218, :235): the reverse index from a schema's
    * content identity to every subject and version that registered
    * it — the "where is this schema used" query. Content identity is
    * the same whitespace-collapsed hash as [[lookupByHash]]; `source`
    * plays the subject axis. One groupBy on the (uniform) hash key:
    * n_versions counts all registrations, n_subjects/subjects the
    * distinct owners — collect_set is bounded by the subject
    * vocabulary, not the corpus.
    */
  def schemaUsage(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("content_hash"),
        col("doc_id"), col("source"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_versions"),
        countDistinct(col("source")).as("n_subjects"),
        concat_ws(",", sort_array(collect_set(col("source")))).as("subjects"))

  /** Context-name normalization + validation + round-trip
    * (context.go:97 NormalizeContextName — ":.:" and "" map to the
    * default ".", undotted names get the leading dot; :77
    * IsValidContextName — alphanumeric/dash/underscore/dot charset,
    * ≤255 chars, "." always valid; :65 FormatSubject — default
    * context renders the bare subject, others ":ctx:subject").
    * Candidates derive from the distinct source vocabulary in four
    * shapes (plain, pre-dotted, charset-breaking, plus the ":.:" and
    * "" literals) so every branch fires. round_trip_ok re-parses the
    * formatted name with [[resolveSubject]]'s parser — data shows
    * the parser is charset-agnostic (invalid names still round-trip,
    * as in the reference, where validation is a separate gate).
    * Entirely row-local over a vocabulary-sized frame.
    */
  def contextNorm(s: SparkSession, dir: String): DataFrame = {
    val candidates = Tables.documents(s, dir)
      .select(col("source")).distinct()
      .select(explode(array(
        col("source"),
        concat(lit("."), col("source")),
        concat(col("source"), lit(" !")))).as("raw"))
      .unionByName(s.range(1).select(lit(":.:").as("raw")))
      .unionByName(s.range(1).select(lit("").as("raw")))
    val normalized = when(col("raw").isin(":.:", ""), lit("."))
      .when(col("raw").startsWith("."), col("raw"))
      .otherwise(concat(lit("."), col("raw")))
    val isValid = col("normalized") === "." ||
      (length(col("normalized")) <= 255 &&
        col("normalized").rlike("^[A-Za-z0-9._-]+$"))
    val formatted = when(col("normalized") === ".", lit("doc"))
      .otherwise(concat(lit(":"), col("normalized"), lit(":doc")))
    // re-parse with the ResolveSubject rules (context.go:47)
    val rest = expr("substring(formatted, 3)")
    val idx = instr(rest, ":")
    val isQ = col("formatted").startsWith(":.") && idx > 1
    val parsedCtx = when(isQ, concat(lit("."), expr(
      "substring(substring(formatted, 3), 1, instr(substring(formatted, 3), ':') - 1)")))
      .otherwise(lit("."))
    val parsedSubj = when(isQ,
      expr("substring(substring(formatted, 3), instr(substring(formatted, 3), ':') + 1)"))
      .otherwise(col("formatted"))
    candidates
      .withColumn("normalized", normalized)
      .withColumn("is_valid", isValid)
      .withColumn("formatted", formatted)
      .withColumn("round_trip_ok",
        parsedCtx === col("normalized") && parsedSubj === "doc")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "reg_context_norm" -> contextNorm,
    "reg_match_subjects" -> matchSubjects,
    "reg_write_mode" -> writeMode,
    "reg_change_advice" -> changeAdvice,
    "reg_schema_usage" -> schemaUsage,
    "reg_meta_latest" -> metaLatest,
    "dq_checks" -> dqChecks,
    "reg_pagerank" -> pagerank,
    "reg_refs_closure" -> refsClosure,
    "reg_dep_depth" -> depDepth,
    "reg_search" -> search,
    "reg_name_validate" -> nameValidate,
    "reg_statistics" -> statistics,
    "reg_gc_candidates" -> gcCandidates,
    "reg_resolve_ref" -> resolveRef,
    "reg_validate" -> validatePayloads,
    "reg_export_json" -> exportJson,
    "reg_subject_list" -> subjectList,
    "reg_latest_version" -> latestVersion,
    "reg_versions" -> versions,
    "reg_counts_by_type" -> countsByType,
    "reg_config_fallback" -> configFallback,
    "reg_bloom_filter" -> bloomFilter,
    "reg_lookup_by_hash" -> lookupByHash,
    "reg_canonical_fp" -> canonicalFp,
    "reg_json_fp" -> jsonFp,
    "reg_referenced_by" -> referencedBy,
    "reg_soft_delete" -> softDelete,
    "reg_import_dedupe" -> importDedupe,
    "reg_contexts" -> contexts,
    "reg_resolve_subject" -> resolveSubject,
    "reg_resolve_alias" -> resolveAlias,
    "reg_rules_validate" -> rulesValidate,
    "reg_export_filtered" -> exportFiltered,
    "reg_list_filtered" -> listFiltered,
    "reg_max_id" -> maxSchemaId,
    "reg_ref_cycles" -> refCycles,
    "reg_id_gaps" -> idGaps,
    "reg_count_versions" -> countVersions,
    "reg_count_subjects" -> countSubjects)

  val oracleSql: Map[String, String] = Map(
    "reg_bloom_filter" ->
      """WITH items AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS h FROM documents),
        |ipos AS (
        |  SELECT h, i, ('0x' || substr(h, i * 4 + 1, 4))::BIGINT AS pos
        |  FROM items, (SELECT unnest(range(0, 4)) AS i)),
        |slots AS (
        |  SELECT pos // 32 AS slot, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
        |  FROM ipos GROUP BY 1),
        |probes AS (
        |  SELECT h, 'member' AS kind FROM items
        |  UNION ALL
        |  SELECT DISTINCT md5('probe:' || CAST(doc_id AS VARCHAR)) AS h, 'nonmember' AS kind FROM documents),
        |ppos AS (
        |  SELECT p.h, p.kind, ('0x' || substr(p.h, i * 4 + 1, 4))::BIGINT AS pos
        |  FROM probes p, (SELECT unnest(range(0, 4)) AS i)),
        |tested AS (
        |  SELECT h, kind, min(CASE WHEN bits IS NOT NULL
        |      AND (bits & (1::BIGINT << CAST(pos % 32 AS INT))) != 0 THEN 1 ELSE 0 END) AS hit
        |  FROM ppos LEFT JOIN slots ON pos // 32 = slot
        |  GROUP BY 1, 2),
        |fill AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS n_bits_set FROM slots)
        |SELECT kind, count(*) AS n_probes, CAST(sum(hit) AS BIGINT) AS n_hits, n_bits_set,
        |  floor(sum(hit) / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS hit_rate
        |FROM tested, fill GROUP BY kind, n_bits_set ORDER BY kind""".stripMargin,
    "reg_resolve_alias" ->
      """WITH subs AS (SELECT DISTINCT user_id AS subject_id FROM events)
        |SELECT 'sub_' || subject_id AS subject,
        |  CASE WHEN subject_id % 3 = 0 THEN 'sub_' || (subject_id + 3)
        |       ELSE 'sub_' || subject_id END AS resolved,
        |  subject_id % 3 = 0 AS aliased
        |FROM subs ORDER BY subject""".stripMargin,
    "reg_context_norm" ->
      """WITH src AS (SELECT DISTINCT source FROM documents),
        |cand AS (
        |  SELECT unnest([source, '.' || source, source || ' !']) AS raw FROM src
        |  UNION ALL SELECT ':.:' UNION ALL SELECT ''),
        |n AS (
        |  SELECT raw,
        |    CASE WHEN raw IN (':.:', '') THEN '.'
        |         WHEN raw LIKE '.%' THEN raw
        |         ELSE '.' || raw END AS normalized
        |  FROM cand),
        |f AS (
        |  SELECT raw, normalized,
        |    normalized = '.' OR (length(normalized) <= 255
        |      AND regexp_matches(normalized, '^[A-Za-z0-9._-]+$')) AS is_valid,
        |    CASE WHEN normalized = '.' THEN 'doc'
        |         ELSE ':' || normalized || ':doc' END AS formatted
        |  FROM n)
        |SELECT raw, normalized, is_valid, formatted,
        |  (CASE WHEN formatted LIKE ':.%' AND position(':' IN substring(formatted, 3)) > 1
        |        THEN '.' || substring(substring(formatted, 3), 1,
        |                              position(':' IN substring(formatted, 3)) - 1)
        |        ELSE '.' END) = normalized
        |  AND (CASE WHEN formatted LIKE ':.%' AND position(':' IN substring(formatted, 3)) > 1
        |        THEN substring(substring(formatted, 3),
        |                       position(':' IN substring(formatted, 3)) + 1)
        |        ELSE formatted END) = 'doc' AS round_trip_ok
        |FROM f ORDER BY raw""".stripMargin,
    "reg_match_subjects" ->
      """WITH pat(mode, pattern) AS (VALUES
        |  ('substr', 'old'), ('substr', 'ring'),
        |  ('regex', '^bl'), ('regex', 'r(od|ing)$'))
        |SELECT mode, pattern, count(*) AS n_matches, min(p_name) AS first_match
        |FROM part CROSS JOIN pat
        |WHERE CASE WHEN mode = 'substr' THEN contains(p_name, pattern)
        |           ELSE regexp_matches(p_name, pattern) END
        |GROUP BY mode, pattern
        |ORDER BY mode, pattern""".stripMargin,
    "reg_write_mode" ->
      """WITH ov AS (
        |  SELECT n_nationkey AS ov_nationkey,
        |         CASE WHEN n_nationkey % 5 = 0 THEN 'READONLY'
        |              WHEN n_nationkey % 5 = 1 THEN 'READONLY_OVERRIDE'
        |              WHEN n_nationkey % 5 = 2 THEN 'IMPORT' END AS mode_override
        |  FROM nation
        |  WHERE n_nationkey % 5 IN (0, 1, 2))
        |SELECT c_custkey AS subject_key,
        |  coalesce(mode_override, 'READWRITE') AS effective_mode,
        |  coalesce(mode_override, 'READWRITE') NOT IN ('READONLY', 'READONLY_OVERRIDE') AS writable,
        |  CASE WHEN coalesce(mode_override, 'READWRITE') IN ('READONLY', 'READONLY_OVERRIDE')
        |       THEN coalesce(mode_override, 'READWRITE') ELSE '' END AS blocking_mode
        |FROM customer LEFT JOIN ov ON c_nationkey = ov_nationkey
        |ORDER BY subject_key""".stripMargin,
    "reg_change_advice" ->
      """WITH lv AS (
        |  SELECT n_nationkey AS lv_nationkey,
        |         CASE WHEN n_nationkey % 4 = 0 THEN 'BACKWARD'
        |              WHEN n_nationkey % 4 = 1 THEN 'FORWARD'
        |              WHEN n_nationkey % 4 = 2 THEN 'FULL'
        |              ELSE 'NONE' END AS level
        |  FROM nation),
        |ct(change_type) AS (VALUES
        |  ('add_field'), ('remove_field'), ('rename_field'), ('change_type')),
        |subj AS (
        |  SELECT coalesce(level, 'BACKWARD') AS level
        |  FROM customer LEFT JOIN lv ON c_nationkey = lv_nationkey)
        |SELECT level, change_type, count(*) AS n_subjects,
        |  CAST(CASE WHEN change_type IN ('rename_field', 'change_type') THEN 3
        |            WHEN level = 'NONE' THEN 1 ELSE 2 END AS INT) AS n_advice,
        |  CASE WHEN change_type = 'rename_field'
        |         THEN 'Field renames are NOT directly compatible in any mode.'
        |       WHEN change_type = 'change_type'
        |         THEN 'Type changes are generally incompatible.'
        |       WHEN level = 'NONE'
        |         THEN 'With NONE compatibility, any change is allowed.'
        |       WHEN change_type = 'add_field' THEN
        |         CASE WHEN level = 'FORWARD'
        |                THEN 'New fields can be added freely in forward-compatible mode.'
        |              WHEN level = 'FULL'
        |                THEN 'New fields MUST have a default value for full compatibility.'
        |              ELSE 'New fields MUST have a default value for backward compatibility.' END
        |       ELSE
        |         CASE WHEN level = 'FORWARD'
        |                THEN 'Removing fields is NOT forward-compatible. Old consumers still expect the field.'
        |              WHEN level = 'FULL'
        |                THEN 'Removing fields is only safe if the field had a default value.'
        |              ELSE 'Removing fields is allowed in backward-compatible mode if the field had a default value.' END
        |  END AS first_advice
        |FROM subj CROSS JOIN ct
        |GROUP BY level, change_type
        |ORDER BY level, change_type""".stripMargin,
    "reg_schema_usage" ->
      """WITH hashed AS (
        |  SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
        |         doc_id, source
        |  FROM documents),
        |pairs AS (SELECT DISTINCT content_hash, source FROM hashed),
        |subj AS (
        |  SELECT content_hash, count(*) AS n_subjects,
        |         string_agg(source, ',' ORDER BY source) AS subjects
        |  FROM pairs GROUP BY content_hash)
        |SELECT h.content_hash, min(h.doc_id) AS canonical_id,
        |       count(*) AS n_versions,
        |       any_value(s.n_subjects) AS n_subjects,
        |       any_value(s.subjects) AS subjects
        |FROM hashed h JOIN subj s ON h.content_hash = s.content_hash
        |GROUP BY h.content_hash
        |ORDER BY canonical_id""".stripMargin,
    "reg_json_fp" ->
      """WITH ev AS (
        |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events),
        |base AS (
        |  SELECT k, k % 13 = 0 AS broot, 'S' || (k % 5) AS gt, k % 3 = 0 AS gb,
        |         CAST(k % 7 AS VARCHAR) AS gm, k % 11 < 4 AS gx, k % 4 AS v
        |  FROM ev WHERE k IS NOT NULL),
        |parts AS (
        |  SELECT *,
        |    CASE WHEN gb THEN ',"b":{"type":"integer","minimum":' || gm ||
        |        CASE WHEN gx THEN ',"multipleOf":0.5' ELSE '' END || '}' ELSE '' END AS bc,
        |    CASE WHEN gb THEN ' , "b" : { "type" : "integer" , "minimum" : ' || gm ||
        |        CASE WHEN gx THEN ' , "multipleOf" : 0.5' ELSE '' END || ' }' ELSE '' END AS bs,
        |    CASE WHEN gb THEN ',"b":{"minimum":' || gm ||
        |        CASE WHEN gx THEN ',"multipleOf":0.5' ELSE '' END || ',"type":"integer"}' ELSE '' END AS bo
        |  FROM base),
        |txt AS (
        |  SELECT broot AS bool_root,
        |    CASE WHEN broot THEN NULL ELSE gt END AS title,
        |    CASE WHEN broot THEN NULL ELSE gb END AS has_b,
        |    CASE WHEN broot OR NOT gb THEN NULL ELSE gm END AS minv,
        |    CASE WHEN broot OR NOT gb THEN NULL ELSE gx END AS has_mult,
        |    CASE WHEN broot THEN (CASE WHEN k % 2 = 0 THEN 'true' ELSE '  true ' END)
        |      WHEN v = 0 THEN '{"type":"object","title":"' || gt
        |        || '","properties":{"a":{"type":"string","maxLength":5}' || bc
        |        || '},"required":["a"],"additionalProperties":false}'
        |      WHEN v = 1 THEN '{ "type" : "object" , "title" : "' || gt
        |        || '" , "properties" : { "a" : { "type" : "string" , "maxLength" : 5 }' || bs
        |        || ' } , "required" : [ "a" ] , "additionalProperties" : false }'
        |      WHEN v = 2 THEN '{"additionalProperties":false,"properties":{"a":{"maxLength":5.0,"type":"string"}' || bo
        |        || '},"required":["a"],"title":"' || gt || '","type":"object"}'
        |      ELSE '{"required":["a"],"type":"object","properties":{"a":{"type":"string","maxLength":5}' || bc
        |        || '},"title":"' || gt || '","additionalProperties":false}'
        |    END AS text,
        |    CASE WHEN broot THEN 'true' ELSE
        |      '{"additionalProperties":false,"properties":{"a":{"maxLength":5,"type":"string"}'
        |      || CASE WHEN gb THEN ',"b":{"minimum":' || gm ||
        |           CASE WHEN gx THEN ',"multipleOf":0.5' ELSE '' END || ',"type":"integer"}' ELSE '' END
        |      || '},"required":["a"],"title":"' || gt || '","type":"object"}'
        |    END AS canon
        |  FROM parts),
        |d AS (SELECT DISTINCT bool_root, title, has_b, minv, has_mult, text, canon FROM txt)
        |SELECT bool_root, title, has_b, minv, has_mult,
        |  count(*) AS n_texts, count(DISTINCT sha256(canon)) AS n_fps, min(sha256(canon)) AS fp
        |FROM d GROUP BY 1, 2, 3, 4, 5
        |ORDER BY bool_root, title NULLS FIRST, has_b NULLS FIRST, minv NULLS FIRST, has_mult NULLS FIRST""".stripMargin,
    "reg_canonical_fp" ->
      """WITH ev AS (
        |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events),
        |base AS (
        |  SELECT k, 'com.ex' || (k % 3) AS ns, 'Rec' || (k % 5) AS rec,
        |         k % 2 = 0 AS prim, (k % 2 = 0 AND k % 7 < 3) AS d, k % 4 AS v
        |  FROM ev WHERE k IS NOT NULL),
        |flds AS (
        |  SELECT *,
        |    CASE WHEN prim THEN '{"name":"f1","type":"long"'
        |        || CASE WHEN d THEN ',"default":7' ELSE '' END || '}'
        |      ELSE '{"name":"f1","type":{"type":"record","name":"Inner","fields":[{"name":"g","type":"int"}]}}'
        |    END AS fc,
        |    CASE WHEN prim THEN '{ "name" : "f1" , "type" : "long"'
        |        || CASE WHEN d THEN ' , "default" : 7' ELSE '' END || ' }'
        |      ELSE '{ "name" : "f1" , "type" : { "type" : "record" , "name" : "Inner" , "fields" : [ { "name" : "g" , "type" : "int" } ] } }'
        |    END AS fs,
        |    CASE WHEN prim THEN '{"name":"f1","doc":"fd","order":"ascending","type":"long"'
        |        || CASE WHEN d THEN ',"default":7' ELSE '' END || '}'
        |      ELSE '{"name":"f1","doc":"fd","order":"ascending","type":{"type":"record","name":"Inner","fields":[{"name":"g","type":"int"}]}}'
        |    END AS fe
        |  FROM base),
        |txt AS (
        |  SELECT ns AS namespace, rec AS rec_name, prim AS is_primitive, d AS with_default,
        |    CASE v
        |      WHEN 0 THEN '{"type":"record","name":"' || ns || '.' || rec || '","fields":[' || fc || ']}'
        |      WHEN 1 THEN '{ "type" : "record" , "namespace" : "' || ns || '" , "name" : "' || rec || '" , "fields" : [ ' || fs || ' ] }'
        |      WHEN 2 THEN '{"doc":"generated","namespace":"' || ns || '","fields":[' || fc || '],"name":"' || rec || '","type":"record"}'
        |      ELSE '{"type":"record","name":"' || ns || '.' || rec || '","aliases":["Old"],"fields":[' || fe || ']}'
        |    END AS text,
        |    '{"name":"' || ns || '.' || rec || '","type":"record","fields":[{"name":"f1","type":'
        |      || CASE WHEN prim THEN '"long"'
        |           WHEN v IN (1, 2) THEN '{"name":"' || ns || '.Inner","type":"record","fields":[{"name":"g","type":"int"}]}'
        |           ELSE '{"name":"Inner","type":"record","fields":[{"name":"g","type":"int"}]}' END
        |      || CASE WHEN d THEN ',"default":7' ELSE '' END || '}]}' AS canon
        |  FROM flds)
        |SELECT namespace, rec_name, is_primitive, with_default,
        |  count(DISTINCT text) AS n_texts,
        |  count(DISTINCT md5(canon)) AS n_fps,
        |  min(md5(canon)) AS fp
        |FROM txt GROUP BY namespace, rec_name, is_primitive, with_default
        |ORDER BY namespace, rec_name, is_primitive, with_default""".stripMargin,
    "reg_meta_latest" ->
      """WITH v AS (
        |  SELECT user_id AS subject, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 AS m
        |  FROM events)
        |SELECT subject, max(version) AS latest_matching,
        |  arg_max(event_id, version) AS event_id
        |FROM v WHERE m = 0
        |GROUP BY subject ORDER BY subject""".stripMargin,
    "dq_checks" ->
      """SELECT check_name, n_checked, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'fk_orders_customer' AS check_name,
        |    (SELECT count(*) FROM orders) AS n_checked,
        |    (SELECT count(*) FROM orders
        |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_violations
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |  UNION ALL
        |  SELECT 'fk_lineitem_part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |  UNION ALL
        |  SELECT 'uniq_customer_key',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM (
        |       SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1) d)
        |  UNION ALL
        |  SELECT 'json_props_valid',
        |    (SELECT count(*) FROM events),
        |    (SELECT count(*) FROM events
        |     WHERE json_extract_string(props, '$.k') IS NULL)
        |  UNION ALL
        |  SELECT 'docs_nchars_consistent',
        |    (SELECT count(*) FROM documents),
        |    (SELECT count(*) FROM documents WHERE n_chars <> length(text))) t
        |ORDER BY check_name""".stripMargin,
    "reg_pagerank" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs),
        |edges AS (
        |  SELECT doc_id AS child, CAST(floor(doc_id / 2) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT doc_id AS child, CAST(floor(doc_id / 3) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 3 AND doc_id % 5 = 0),
        |outdeg AS (SELECT child, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY child),
        |r0 AS (SELECT doc_id, 1.0 / (SELECT n FROM nn) AS pr FROM docs),
        |c1 AS (SELECT e.parent AS doc_id, sum(r.pr / o.od) AS cs
        |       FROM edges e JOIN outdeg o ON o.child = e.child
        |       JOIN r0 r ON r.doc_id = e.child GROUP BY e.parent),
        |r1 AS (SELECT d.doc_id, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.cs, 0) AS pr
        |       FROM docs d LEFT JOIN c1 c USING (doc_id)),
        |c2 AS (SELECT e.parent AS doc_id, sum(r.pr / o.od) AS cs
        |       FROM edges e JOIN outdeg o ON o.child = e.child
        |       JOIN r1 r ON r.doc_id = e.child GROUP BY e.parent),
        |r2 AS (SELECT d.doc_id, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.cs, 0) AS pr
        |       FROM docs d LEFT JOIN c2 c USING (doc_id)),
        |c3 AS (SELECT e.parent AS doc_id, sum(r.pr / o.od) AS cs
        |       FROM edges e JOIN outdeg o ON o.child = e.child
        |       JOIN r2 r ON r.doc_id = e.child GROUP BY e.parent),
        |r3 AS (SELECT d.doc_id, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.cs, 0) AS pr
        |       FROM docs d LEFT JOIN c3 c USING (doc_id))
        |SELECT doc_id, CAST(round(pr * (SELECT n FROM nn) * 64000, 0) AS BIGINT) AS pr_units
        |FROM r3 ORDER BY doc_id""".stripMargin,
    "reg_refs_closure" ->
      """WITH RECURSIVE edges AS (
        |  SELECT doc_id AS child, CAST(floor(doc_id / 2) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT doc_id AS child, CAST(floor(doc_id / 3) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 3 AND doc_id % 5 = 0),
        |anc AS (
        |  SELECT child AS doc_id, parent AS anc FROM edges
        |  UNION
        |  SELECT a.doc_id, e.parent AS anc FROM anc a JOIN edges e ON e.child = a.anc)
        |SELECT d.doc_id, count(a.anc) AS n_ancestors, max(a.anc) AS max_anc
        |FROM documents d LEFT JOIN anc a ON a.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "reg_dep_depth" ->
      """WITH RECURSIVE edges AS (
        |  SELECT doc_id AS child, CAST(floor(doc_id / 2) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT doc_id AS child, CAST(floor(doc_id / 3) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 3 AND doc_id % 5 = 0),
        |paths AS (
        |  SELECT child AS doc_id, parent AS anc, 1 AS d FROM edges
        |  UNION
        |  SELECT p.doc_id, e.parent AS anc, p.d + 1 AS d
        |  FROM paths p JOIN edges e ON e.child = p.anc),
        |mind AS (SELECT doc_id, anc, min(d) AS d FROM paths GROUP BY doc_id, anc)
        |SELECT doc.doc_id, count(m.anc) AS n_ancestors,
        |  CAST(coalesce(max(m.d), 0) AS BIGINT) AS depth,
        |  CAST(coalesce(sum(CASE WHEN m.d <= 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_within_2
        |FROM documents doc LEFT JOIN mind m ON m.doc_id = doc.doc_id
        |GROUP BY doc.doc_id ORDER BY doc.doc_id""".stripMargin,
    "reg_search" ->
      """WITH q(query_id, term) AS (VALUES
        |  (CAST(1 AS BIGINT), 'window'), (1, 'merge'),
        |  (2, 'vector'), (2, 'hash'), (2, 'join'),
        |  (3, 'spark'), (3, 'registry'),
        |  (4, 'src3'), (4, 'stream')),
        |toks AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(lower(text || ' ' || source), '[^a-z0-9]+')) AS tok
        |  FROM documents),
        |hits AS (
        |  SELECT q.query_id, t.doc_id, count(*) AS n_hit
        |  FROM toks t JOIN q ON t.tok = q.term
        |  GROUP BY q.query_id, t.doc_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY n_hit DESC, doc_id) AS rk
        |  FROM hits)
        |SELECT query_id, doc_id, n_hit FROM ranked WHERE rk <= 20
        |ORDER BY query_id, n_hit DESC, doc_id""".stripMargin,
    "reg_name_validate" ->
      """WITH names AS (
        |  SELECT unnest([event_type, event_type || '-value', '9' || event_type || '.x']) AS subject_name
        |  FROM (SELECT DISTINCT event_type FROM events) t),
        |strat(strategy, pattern) AS (VALUES
        |  ('topic_name', '^[a-zA-Z0-9._-]+-(key|value)$'),
        |  ('record_name', '^[a-zA-Z_][a-zA-Z0-9_.]*$'),
        |  ('topic_record_name', '^[a-zA-Z0-9._-]+-[a-zA-Z_][a-zA-Z0-9_.]*$'))
        |SELECT subject_name, strategy, regexp_matches(subject_name, pattern) AS is_valid
        |FROM names CROSS JOIN strat
        |ORDER BY subject_name, strategy""".stripMargin,
    "reg_statistics" ->
      """WITH ev AS (
        |  SELECT user_id AS subject, ts, event_id,
        |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |latest AS (
        |  SELECT subject, k FROM (
        |    SELECT subject, k, row_number() OVER (PARTITION BY subject ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) t WHERE rn = 1),
        |types AS (
        |  SELECT CASE WHEN k % 3 = 0 THEN 'AVRO' WHEN k % 3 = 1 THEN 'JSON' ELSE 'PROTOBUF' END AS st
        |  FROM latest)
        |SELECT metric, value FROM (
        |  SELECT 'total_subjects' AS metric, count(DISTINCT subject) AS value FROM ev
        |  UNION ALL SELECT 'total_versions', count(*) FROM ev
        |  UNION ALL SELECT 'type_avro', count(*) FILTER (WHERE st = 'AVRO') FROM types
        |  UNION ALL SELECT 'type_json', count(*) FILTER (WHERE st = 'JSON') FROM types
        |  UNION ALL SELECT 'type_protobuf', count(*) FILTER (WHERE st = 'PROTOBUF') FROM types) t
        |ORDER BY metric""".stripMargin,
    "reg_gc_candidates" ->
      """WITH RECURSIVE edges AS (
        |  SELECT doc_id AS child, CAST(floor(doc_id / 2) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT doc_id AS child, CAST(floor(doc_id / 3) AS BIGINT) AS parent
        |  FROM documents WHERE doc_id >= 3 AND doc_id % 5 = 0),
        |anc AS (
        |  SELECT child AS doc_id, parent AS anc FROM edges
        |  UNION
        |  SELECT a.doc_id, e.parent AS anc FROM anc a JOIN edges e ON e.child = a.anc),
        |dep AS (
        |  SELECT a.anc, count(*) AS dep_n FROM anc a
        |  JOIN documents d ON d.doc_id = a.doc_id AND d.doc_id % 7 <> 0
        |  GROUP BY a.anc)
        |SELECT d.doc_id,
        |  CAST(coalesce(dep.dep_n, 0) AS BIGINT) AS n_live_dependents,
        |  coalesce(dep.dep_n, 0) = 0 AS gc_ok
        |FROM documents d LEFT JOIN dep ON dep.anc = d.doc_id
        |WHERE d.doc_id % 7 = 0 ORDER BY d.doc_id""".stripMargin,
    "reg_resolve_ref" ->
      """WITH refs AS (
        |  SELECT event_type AS subject,
        |    CASE WHEN user_id % 4 = 0 THEN 'latest'
        |         WHEN user_id % 4 = 1 THEN '-1'
        |         WHEN user_id % 4 = 2 THEN CAST(user_id % 3 + 1 AS VARCHAR)
        |         ELSE 'v9' END AS version_spec
        |  FROM events),
        |res AS (
        |  SELECT coalesce(a.alias_target, r.subject) AS resolved_subject, r.version_spec,
        |    CASE WHEN r.version_spec IN ('latest', '-1') THEN -1
        |         WHEN regexp_matches(r.version_spec, '^[0-9]+$')
        |              AND TRY_CAST(r.version_spec AS INT) >= 1 THEN TRY_CAST(r.version_spec AS INT)
        |         ELSE 0 END AS parsed_version
        |  FROM refs r LEFT JOIN (VALUES ('click', 'click_v2'), ('view', 'page_view'))
        |    AS a(alias_subject, alias_target) ON r.subject = a.alias_subject)
        |SELECT resolved_subject, version_spec, parsed_version,
        |  parsed_version <> 0 AS is_valid, count(*) AS n_refs
        |FROM res GROUP BY 1, 2, 3, 4
        |ORDER BY resolved_subject, version_spec""".stripMargin,
    "reg_validate" ->
      """SELECT json_extract_string(props, '$.k') IS NOT NULL AS is_valid, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY is_valid""".stripMargin,
    "reg_export_json" ->
      """SELECT event_id,
        |  '{"id":' || event_id || ',"type":"' || event_type || '","user":' || user_id || '}' AS json_line
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,
    "reg_subject_list" ->
      "SELECT DISTINCT event_type AS subject FROM events ORDER BY subject",
    "reg_count_versions" ->
      "SELECT user_id AS subject, count(*) AS n_versions FROM events GROUP BY user_id ORDER BY subject",
    "reg_count_subjects" ->
      "SELECT count(DISTINCT event_type) AS n_subjects FROM events",
    "reg_latest_version" ->
      """SELECT user_id, event_id AS latest_event_id, ts AS latest_ts, event_type AS latest_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "reg_versions" ->
      """SELECT user_id, event_id, version FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        |  FROM events) t
        |ORDER BY user_id, version""".stripMargin,
    "reg_counts_by_type" ->
      """SELECT lang AS schema_type, count(*) AS n_schemas, CAST(sum(n_chars) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY lang ORDER BY schema_type""".stripMargin,
    "reg_config_fallback" ->
      """SELECT c_custkey,
        |  coalesce(ov.override_mode, 'BACKWARD') AS effective_mode
        |FROM customer
        |LEFT JOIN (SELECT n_nationkey AS ov_nationkey, 'FULL' AS override_mode
        |           FROM nation WHERE n_nationkey % 3 = 0) ov
        |  ON c_nationkey = ov_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "reg_lookup_by_hash" ->
      """SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "reg_referenced_by" ->
      """SELECT l_orderkey AS o_orderkey, count(*) AS n_refs
        |FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 5
        |ORDER BY o_orderkey""".stripMargin,
    "reg_soft_delete" ->
      """SELECT o_orderpriority, count(*) AS n_total,
        |  CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_active
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "reg_import_dedupe" ->
      """SELECT user_id, event_type, event_id AS first_event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "reg_contexts" ->
      "SELECT DISTINCT source AS context FROM documents ORDER BY context",
    // Version numbers over the FULL changelog, deleted filter BEFORE
    // latest resolution, sort-by-id pagination — the memory store's
    // exact program (see listFiltered Scaladoc).
    "reg_list_filtered" ->
      """WITH recs AS (
        |  SELECT event_type AS subject, event_id AS schema_id,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS BIGINT) AS version,
        |    event_id % 7 = 0 AS deleted
        |  FROM events),
        |params(req_id, prefix, latest_only, include_deleted, off, lim) AS (VALUES
        |  (1, 'click', true, false, 0, 100),
        |  (2, '', false, false, 10, 20),
        |  (3, 'view', true, true, 0, 100),
        |  (4, 'p', false, false, 0, 15)),
        |matched AS (
        |  SELECT p.req_id, r.subject, r.schema_id, r.version, r.deleted,
        |    p.latest_only, p.off, p.lim
        |  FROM recs r JOIN params p ON starts_with(r.subject, p.prefix)
        |  WHERE p.include_deleted OR NOT r.deleted),
        |latest AS (
        |  SELECT *, max(version) OVER (PARTITION BY req_id, subject) AS maxv
        |  FROM matched),
        |kept AS (
        |  SELECT req_id, schema_id, subject, version, deleted, off, lim,
        |    CAST(row_number() OVER (PARTITION BY req_id ORDER BY schema_id) AS BIGINT) AS rn
        |  FROM latest WHERE NOT latest_only OR version = maxv)
        |SELECT CAST(req_id AS BIGINT) AS req_id, rn, schema_id, subject, version, deleted
        |FROM kept WHERE rn > off AND rn <= off + lim
        |ORDER BY req_id, rn""".stripMargin,
    "reg_max_id" ->
      """SELECT source AS context, max(doc_id) AS max_id, count(*) AS n_allocated
        |FROM documents GROUP BY source ORDER BY context""".stripMargin,
    "reg_ref_cycles" ->
      """WITH RECURSIVE docs AS (SELECT doc_id FROM documents),
        |base AS (
        |  SELECT doc_id AS child, doc_id // 2 AS parent FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT doc_id, doc_id // 3 FROM documents WHERE doc_id >= 3 AND doc_id % 5 = 0),
        |rb AS (SELECT doc_id AS base FROM documents WHERE doc_id % 25 = 0 AND doc_id >= 25),
        |ring0 AS (
        |  SELECT base AS child, base + 1 AS parent FROM rb
        |  UNION ALL SELECT base + 1, base + 2 FROM rb
        |  UNION ALL SELECT base + 2, base FROM rb),
        |ring AS (
        |  SELECT r.child, r.parent FROM ring0 r
        |  JOIN docs c ON r.child = c.doc_id JOIN docs p ON r.parent = p.doc_id),
        |edges AS (SELECT * FROM base UNION ALL SELECT * FROM ring),
        |reach(src, dst) AS (
        |  SELECT DISTINCT child, parent FROM edges
        |  UNION
        |  SELECT r.src, e.parent FROM reach r JOIN edges e ON r.dst = e.child),
        |mutual AS (
        |  SELECT a.src AS doc_id, a.dst AS m
        |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
        |scc AS (SELECT doc_id, min(m) AS cycle_id FROM mutual GROUP BY doc_id),
        |sz AS (SELECT cycle_id, count(*) AS n_members FROM scc GROUP BY cycle_id)
        |SELECT cycle_id, doc_id, n_members FROM scc JOIN sz USING (cycle_id)
        |ORDER BY cycle_id, doc_id""".stripMargin,
    "reg_id_gaps" ->
      """WITH live AS (
        |  SELECT o_orderkey AS id FROM orders WHERE o_orderstatus <> 'F'),
        |p AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM live)
        |SELECT prev AS gap_after, id AS next_id, id - prev - 1 AS gap_len,
        |  (prev // 4096) <> (id // 4096) AS spans_blocks
        |FROM p WHERE id - prev > 1
        |ORDER BY gap_len DESC, gap_after LIMIT 100""".stripMargin,
    "reg_resolve_subject" ->
      """WITH named AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN ':.' || source || ':doc_' || doc_id
        |      WHEN 1 THEN 'doc_' || doc_id
        |      WHEN 2 THEN ':.' || source || ':'
        |      ELSE ':.' || source END AS qualified
        |  FROM documents),
        |parsed AS (
        |  SELECT doc_id, qualified,
        |    substring(qualified, 3) AS rest,
        |    strpos(substring(qualified, 3), ':') AS idx,
        |    qualified LIKE ':.%' AND strpos(substring(qualified, 3), ':') > 1 AS is_q
        |  FROM named)
        |SELECT doc_id, qualified,
        |  CASE WHEN is_q THEN '.' || substring(rest, 1, idx - 1) ELSE '.' END AS resolved_context,
        |  CASE WHEN is_q THEN substring(rest, idx + 1) ELSE qualified END AS resolved_subject
        |FROM parsed ORDER BY doc_id""".stripMargin,
    "reg_rules_validate" ->
      """WITH rules AS (
        |  SELECT event_id, user_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |derived AS (
        |  SELECT
        |    CASE user_id % 3 WHEN 0 THEN 'domainRules' WHEN 1 THEN 'migrationRules'
        |         ELSE 'encodingRules' END AS category,
        |    CASE WHEN k % 7 = 0 THEN '' ELSE 'rule_' || event_id END AS rname,
        |    CASE WHEN k % 5 < 2 THEN 'CONDITION' WHEN k % 5 < 4 THEN 'TRANSFORM'
        |         ELSE 'VALIDATE' END AS kind,
        |    CASE k % 6 WHEN 0 THEN 'WRITE' WHEN 1 THEN 'READ' WHEN 2 THEN 'WRITEREAD'
        |         WHEN 3 THEN 'UPGRADE' WHEN 4 THEN 'DOWNGRADE' ELSE 'UPDOWN' END AS mode,
        |    CASE user_id % 5 WHEN 0 THEN 'NONE' WHEN 1 THEN 'DLQ' WHEN 2 THEN 'ERROR,NONE'
        |         WHEN 3 THEN '' ELSE 'PANIC' END AS on_success
        |  FROM rules)
        |SELECT category,
        |  CASE WHEN trim(rname) = '' THEN 'name'
        |       WHEN kind NOT IN ('CONDITION', 'TRANSFORM') THEN 'kind'
        |       WHEN NOT ((category = 'migrationRules' AND mode IN ('UPGRADE', 'DOWNGRADE', 'UPDOWN'))
        |              OR (category <> 'migrationRules' AND mode IN ('WRITE', 'READ', 'WRITEREAD'))) THEN 'mode'
        |       WHEN len(list_filter(string_split(on_success, ','),
        |                            p -> trim(p) NOT IN ('', 'NONE', 'DLQ', 'ERROR'))) > 0 THEN 'action'
        |       ELSE 'valid' END AS error_class,
        |  count(*) AS n_rules
        |FROM derived GROUP BY 1, 2 ORDER BY category, error_class""".stripMargin,
    "reg_export_filtered" ->
      """WITH ev AS (
        |  SELECT event_type AS subject,
        |    CASE user_id % 3 WHEN 0 THEN 'AVRO' WHEN 1 THEN 'JSON'
        |         ELSE 'PROTOBUF' END AS schema_type
        |  FROM events)
        |SELECT exporter, n_exported FROM (
        |  SELECT 'exp_all' AS exporter, count(*) AS n_exported FROM ev
        |  UNION ALL SELECT 'exp_avro_error', count(*) FROM ev
        |    WHERE subject = 'error' AND schema_type = 'AVRO'
        |  UNION ALL SELECT 'exp_clickview', count(*) FROM ev
        |    WHERE subject IN ('click', 'view')
        |) ORDER BY exporter""".stripMargin)
}
