package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-format compatibility semantics — the rules that make Protobuf
  * and JSON Schema genuinely different formalisms from the
  * name-keyed Avro model in [[Compat]]:
  *
  *  - Protobuf (internal/compatibility/protobuf/checker.go) matches
  *    fields by NUMBER, not name — renames are wire-compatible — and
  *    judges type changes by wire-format group (varint / 64-bit /
  *    length-delimited), cardinality transitions, and oneof
  *    membership.
  *  - JSON Schema (internal/compatibility/jsonschema/checker.go)
  *    judges against the OPEN vs CLOSED content model
  *    (additionalProperties): property removal is fine under an open
  *    reader but breaking under a closed one, and adding even an
  *    optional property breaks against an open WRITER (the old
  *    producer may have used that name with any type).
  *
  * Both models version their registrations on [[Compat.versionOrder]]
  * and both scans pair version N with N-1 through [[Compat.slotPairs]],
  * as [[Compat.compatScan]] does. The Protobuf model reads the shared
  * registration stream, [[Compat.versions]] (one subject-keyed
  * shuffle; everything past the lag() is row-local array probing);
  * the JSON Schema model runs its external-$ref as-of pass first, on
  * its own two-sided source (see [[jsFieldArrays]]).
  */
object FormatCompat {

  // -------------------------------------------------------------------
  // Protobuf
  // -------------------------------------------------------------------

  /** Synthetic Protobuf message model per registration, keyed by the
    * wire identity — the field NUMBER (checker.go:159 builds the
    * old-field map by number), extended to a composite "number path"
    * for the nested surface: `6.street` is field `street` inside the
    * nested message at number 6, `7.key`/`7.value` are the map
    * entry's synthetic fields (protobuf represents map<k,v> as a
    * repeated nested MapEntry message with fields 1/2 —
    * checker.go:481), `6.status` a nested enum (checkNestedEnums
    * :504). This flattening IS areMessagesStructurallyCompatible
    * (:423): nested fields matched by number within their parent,
    * judged by wire group, with absent-in-new wire-safe; the visited
    * map's cycle guard is unnecessary on a finite path model.
    * Dimensions per field: fkey, fname, kind, cardinality, containing
    * oneof. Derived from payload k so every rule fires both ways:
    *  - key 2 renames name↔title with k's parity and flips
    *    string↔bytes inside the length-delimited wire group — both
    *    compatible (renames tallied, not flagged).
    *  - key 3 walks int32→int64→fixed64 with k%7 (varint→varint is
    *    compatible promotion, →fixed64 crosses wire groups) and flips
    *    optional↔repeated on a scalar kind (breaking both directions,
    *    checker.go:290/:305).
    *  - key 4 (email) is sometimes absent and sometimes required —
    *    exercising REQUIRED added (checker.go:179), required removed
    *    (:251), and optional→required (:301).
    *  - key 5 (status, enum — wire-compatible with varint) moves in
    *    and out of oneof `contact` (out = breaking, :327; in = fine,
    *    :332) and its removal while in the oneof breaks (:255).
    *  - key 6 (address, nested message) comes and goes whole —
    *    optional-message removal is wire-safe, children vanish with
    *    it; `6.street` flips string↔bytes (same len group, fine),
    *    `6.zip` flips int32↔fixed64 (crosses varint/64bit — breaks
    *    BOTH directions at depth), `6.status` is a nested enum that
    *    appears and disappears inside the subtree.
    *  - key 7 (labels, map field): `7.key` stays string; `7.value`
    *    walks int32→int64→string (varint→varint fine; →string
    *    crosses into len — the map VALUE kind change the flat model
    *    could never see).
    */
  private[graft] def pbFieldArrays(s: SparkSession, dir: String): DataFrame = {
    val noOneof = lit(null).cast("string")
    def f(fkey: String, fname: Column, kind: Column, card: Column,
          oneof: Column, present: Column): Column =
      struct(lit(fkey).as("fkey"), fname.as("fname"), kind.as("kind"),
        card.as("card"), oneof.as("oneof"), present.as("present"))
    val addrPresent = col("k") % 4 < 3
    Compat.versions(s, dir)
      .withColumn("pb_all", array(
        f("1", lit("id"), lit("int64"), lit("optional"), noOneof, lit(true)),
        f("2", when(col("k") % 2 === 0, "name").otherwise("title"),
          when(col("k") % 9 < 6, "string").otherwise("bytes"),
          lit("optional"), noOneof, lit(true)),
        f("3", lit("score"),
          when(col("k") % 7 < 3, "int32").when(col("k") % 7 < 5, "int64")
            .otherwise("fixed64"),
          when(col("k") % 11 < 8, "optional").otherwise("repeated"),
          noOneof, lit(true)),
        f("4", lit("email"), lit("string"),
          when(col("k") % 5 === 0, "required").otherwise("optional"),
          noOneof, col("k") % 3 =!= 2),
        f("5", lit("status"), lit("enum"), lit("optional"),
          when(col("k") % 2 === 1, "contact"), col("k") % 3 < 2),
        f("6", lit("address"), lit("message"), lit("optional"), noOneof, addrPresent),
        f("6.street", lit("street"),
          when(col("k") % 9 < 6, "string").otherwise("bytes"),
          lit("optional"), noOneof, addrPresent),
        f("6.zip", lit("zip"),
          when(col("k") % 10 < 5, "int32").otherwise("fixed64"),
          lit("optional"), noOneof, addrPresent),
        f("6.status", lit("status"), lit("enum"), lit("optional"), noOneof,
          addrPresent && col("k") % 9 < 6),
        f("7", lit("labels"), lit("message"), lit("repeated"), noOneof, lit(true)),
        f("7.key", lit("key"), lit("string"), lit("optional"), noOneof, lit(true)),
        f("7.value", lit("value"),
          when(col("k") % 8 < 3, "int32").when(col("k") % 8 < 6, "int64")
            .otherwise("string"),
          lit("optional"), noOneof, lit(true))
      ))
      .withColumn("w_all", lag(col("pb_all"), 1).over(Compat.versionOrder))
      // writer payload for the FILE-level surface ([[topSurface]]):
      // message/enum/service presence and method signatures derive
      // row-locally from k, so the previous version's whole surface
      // is one extra lag on the SAME window — no second shuffle.
      .withColumn("w_k", lag(col("k"), 1).over(Compat.versionOrder))
      // present-only views for set-shaped consumers (specs); the scan
      // itself pairs slots positionally on the unfiltered arrays
      .withColumn("pb", filter(col("pb_all"), fld => fld("present")))
      .withColumn("w_pb", filter(col("w_all"), fld => fld("present")))
  }

  /** FILE-level Protobuf surface (one .proto = many top-level
    * entities — protobuf/checker.go checkMessages :126-:154,
    * checkEnums :526-:546 / checkEnumCompatibility :549-:576,
    * checkServices :578-:600 / checkServiceCompatibility :602-:640),
    * derived deterministically from the payload `k` so every rule
    * fires both ways between consecutive versions:
    *  - messages `User` (always), `Order` (k%6<4), `Audit` (k%17<9):
    *    removal is flagged (:151), addition is fine (:144).
    *  - enum `Color` (k%5<4) with values RED (always) and BLUE/AZUL
    *    (k%3<2, name by k's parity): enum REMOVAL, VALUE removal, and
    *    value RENAME at the same number are all wire-compatible and
    *    deliberately NOT violations (:545, :563, :573 — enums ride
    *    varint; Confluent allows value removal). Tallied in
    *    `n_enum_relaxed` so the leniency is observable data, not an
    *    untested branch.
    *  - service `Api` (k%7<6) with methods `Get` (k%11<9; input
    *    GetReq/GetReqV2 by k%13, output GetResp/GetRespV2 by k%19,
    *    server-streaming by k%23) and `Put` (k%29<20;
    *    client-streaming by k%31): service removal (:598), method
    *    removal (:638), input/output type change (:612/:616), and
    *    streaming-mode change (:620/:624) each break; every change is
    *    one message in the reference, so each is counted separately.
    * All tallies are row-local expressions of (k, w_k) — the file
    * surface adds zero shuffles and zero joins to the scan.
    */
  private def topSurface(k: Column, wk: Column): Map[String, Column] = {
    def b(c: Column): Column = when(c, 1L).otherwise(0L)
    def order(c: Column) = c % 6 < 4
    def audit(c: Column) = c % 17 < 9
    def enumC(c: Column) = c % 5 < 4
    def blue(c: Column) = enumC(c) && c % 3 < 2
    def svc(c: Column) = c % 7 < 6
    def mGet(c: Column) = svc(c) && c % 11 < 9
    def mPut(c: Column) = svc(c) && c % 29 < 20
    val bothSvc = svc(k) && svc(wk)
    val bothGet = mGet(k) && mGet(wk)
    val bothPut = mPut(k) && mPut(wk)
    Map(
      "n_msg_removed" -> (b(order(wk) && !order(k)) + b(audit(wk) && !audit(k))),
      "n_svc_removed" -> b(svc(wk) && !svc(k)),
      "n_method_removed" ->
        (b(bothSvc && mGet(wk) && !mGet(k)) + b(bothSvc && mPut(wk) && !mPut(k))),
      "n_method_changed" ->
        (b(bothGet && (k % 13 < 7) =!= (wk % 13 < 7)) +   // input type
          b(bothGet && (k % 19 < 10) =!= (wk % 19 < 10)) + // output type
          b(bothGet && (k % 23 < 12) =!= (wk % 23 < 12)) + // server streaming
          b(bothPut && (k % 31 < 16) =!= (wk % 31 < 16))), // client streaming
      "n_enum_relaxed" ->
        (b(enumC(wk) && !enumC(k)) +                        // enum type removed
          b(enumC(k) && enumC(wk) && blue(wk) && !blue(k)) + // value removed
          b(blue(k) && blue(wk) && (k % 2) =!= (wk % 2))))   // value renamed
  }


  /** Wire-format group per kind (checker.go:361 compatibleGroups;
    * enum rides varint per :393). Model kinds only.
    */
  private def wireGroup(kind: Column): Column =
    when(kind.isin("int32", "int64", "enum"), "varint")
      .when(kind === "fixed64", "64bit")
      // embedded messages (and map entries) are length-delimited
      .when(kind.isin("string", "bytes", "message"), "len")

  /** DuckDB mirror of [[pbFieldArrays]]' relational (subject, version,
    * fnum, fname, kind, card, oneof) view — prepend inside WITH (...).
    */
  private val pbModelCte: String =
    """ev AS (
      |  SELECT user_id AS subject, ts, event_id,
      |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |versioned AS (
      |  SELECT subject, k,
      |         row_number() OVER (PARTITION BY subject ORDER BY ts, event_id) AS version
      |  FROM ev),
      |pbf AS (
      |  SELECT subject, version, '1' AS fkey, 'id' AS fname, 'int64' AS kind,
      |         'optional' AS card, CAST(NULL AS VARCHAR) AS oneof FROM versioned
      |  UNION ALL SELECT subject, version, '2',
      |    CASE WHEN k % 2 = 0 THEN 'name' ELSE 'title' END,
      |    CASE WHEN k % 9 < 6 THEN 'string' ELSE 'bytes' END,
      |    'optional', NULL FROM versioned
      |  UNION ALL SELECT subject, version, '3', 'score',
      |    CASE WHEN k % 7 < 3 THEN 'int32' WHEN k % 7 < 5 THEN 'int64' ELSE 'fixed64' END,
      |    CASE WHEN k % 11 < 8 THEN 'optional' ELSE 'repeated' END,
      |    NULL FROM versioned
      |  UNION ALL SELECT subject, version, '4', 'email', 'string',
      |    CASE WHEN k % 5 = 0 THEN 'required' ELSE 'optional' END,
      |    NULL FROM versioned WHERE k % 3 <> 2
      |  UNION ALL SELECT subject, version, '5', 'status', 'enum', 'optional',
      |    CASE WHEN k % 2 = 1 THEN 'contact' END FROM versioned WHERE k % 3 < 2
      |  UNION ALL SELECT subject, version, '6', 'address', 'message', 'optional',
      |    NULL FROM versioned WHERE k % 4 < 3
      |  UNION ALL SELECT subject, version, '6.street', 'street',
      |    CASE WHEN k % 9 < 6 THEN 'string' ELSE 'bytes' END,
      |    'optional', NULL FROM versioned WHERE k % 4 < 3
      |  UNION ALL SELECT subject, version, '6.zip', 'zip',
      |    CASE WHEN k % 10 < 5 THEN 'int32' ELSE 'fixed64' END,
      |    'optional', NULL FROM versioned WHERE k % 4 < 3
      |  UNION ALL SELECT subject, version, '6.status', 'status', 'enum',
      |    'optional', NULL FROM versioned WHERE k % 4 < 3 AND k % 9 < 6
      |  UNION ALL SELECT subject, version, '7', 'labels', 'message', 'repeated',
      |    NULL FROM versioned
      |  UNION ALL SELECT subject, version, '7.key', 'key', 'string', 'optional',
      |    NULL FROM versioned
      |  UNION ALL SELECT subject, version, '7.value', 'value',
      |    CASE WHEN k % 8 < 3 THEN 'int32' WHEN k % 8 < 6 THEN 'int64' ELSE 'string' END,
      |    'optional', NULL FROM versioned),
      |wiregrp AS (
      |  SELECT * FROM (VALUES ('int32', 'varint'), ('int64', 'varint'),
      |    ('enum', 'varint'), ('fixed64', '64bit'), ('string', 'len'),
      |    ('bytes', 'len'), ('message', 'len')) AS t(kind, grp))""".stripMargin

  /** Protobuf BACKWARD scan over the corpus: version N (reader) vs
    * N-1 (writer), fields matched by NUMBER. Violations
    * (protobuf/checker.go):
    *  - required field added (:179) / required field removed (:251) /
    *    field removed from a oneof (:255)
    *  - wire-group type change (:361 — same-group changes like
    *    int32→int64 or string↔bytes are compatible; enum↔varint is
    *    compatible per :393)
    *  - optional→required (:301); optional↔repeated on a non-(string|
    *    bytes|message) kind (:290 judges by the OLD kind, :305 by the
    *    NEW)
    *  - field moved OUT of a real oneof (:327; moving in is fine :332)
    * Renames at the same number are wire-compatible (:270) and
    * reported as `n_renames` — the tally that PROVES number-keyed
    * matching, since the name-keyed Avro model would flag them.
    * Row-local past the one lag() window: each step pairs its two
    * versions' field slots ([[Compat.slotPairs]]) and keeps the keys
    * present on either side.
    *
    * The scan also carries the FILE-level verdict ([[topSurface]]):
    * message removal, service/method removal, method signature and
    * streaming-mode changes each break (n_msg_removed, n_svc_removed,
    * n_method_removed, n_method_changed join the verdict), while enum
    * type/value removal and value renames are tallied in
    * n_enum_relaxed but never break — the reference's deliberate
    * wire-format leniency (checker.go:545/:563/:573).
    */
  def protoScan(s: SparkSession, dir: String): DataFrame = {
    val tops = topSurface(col("k"), col("w_k"))
    val topNames = tops.keys.toSeq.sorted
    // every key present on either side counts: absence is the slot's
    // present flag, surfaced as NULL kind (what the rules' IS NULL
    // arms already consume)
    val perKey = Compat.slotPairs(pbFieldArrays(s, dir).withColumns(tops), "pb_all", "w_all",
        topNames: _*)
      .where(col("rf.present") || col("wf.present"))
    def side(f: Column): Seq[Column] = Seq(
      when(f("present"), f("fname")), when(f("present"), f("kind")),
      when(f("present"), f("card")), when(f("present"), f("oneof")))
    val Seq(rn, rk, rc, ro) = side(col("rf"))
    val Seq(wn, wk, wc, wo) = side(col("wf"))
    val probed = perKey.select((Seq(
      col("subject"), col("version"),
      rn.as("r_name"), rk.as("r_kind"), rc.as("r_card"), ro.as("r_oneof"),
      wn.as("w_name"), wk.as("w_kind"), wc.as("w_card"), wo.as("w_oneof")) ++
      topNames.map(col)): _*)
    val bothPresent = col("r_kind").isNotNull && col("w_kind").isNotNull
    val scalarKind = (k: Column) => !k.isin("string", "bytes", "message")
    val violation =
      // added required (checker.go:179)
      (col("w_kind").isNull && col("r_card") === "required") ||
        // removed required / removed from oneof (:251, :255)
        (col("r_kind").isNull &&
          (col("w_card") === "required" || col("w_oneof").isNotNull)) ||
        (bothPresent && (
          // wire-group change (:361)
          wireGroup(col("r_kind")) =!= wireGroup(col("w_kind")) ||
            // optional→required (:301)
            (col("r_card") === "required" && col("w_card") =!= "required") ||
            // optional→repeated on a scalar kind (:290, old kind)
            (col("w_card") === "optional" && col("r_card") === "repeated" &&
              scalarKind(col("w_kind"))) ||
            // repeated→singular on a scalar kind (:305, new kind)
            (col("w_card") === "repeated" && col("r_card") =!= "repeated" &&
              scalarKind(col("r_kind"))) ||
            // moved out of a real oneof (:327)
            (col("w_oneof").isNotNull && col("r_oneof").isNull)))
    probed
      .groupBy(col("subject"), col("version"))
      .agg(sum(when(col("r_kind").isNotNull, 1L).otherwise(0L)).as("n_fields"),
        (Seq(sum(when(bothPresent && col("r_name") =!= col("w_name"), 1L)
          .otherwise(0L)).as("n_renames"),
          sum(when(violation, 1L).otherwise(0L)).as("n_violations")) ++
          // file-level tallies are constant per (subject, version) —
          // max() just re-surfaces them through the aggregate
          topNames.map(n => max(col(n)).as(n))): _*)
      .withColumn("proto_ok", col("n_violations") + col("n_msg_removed") +
        col("n_svc_removed") + col("n_method_removed") +
        col("n_method_changed") === 0)
  }

  // -------------------------------------------------------------------
  // JSON Schema
  // -------------------------------------------------------------------

  /** Synthetic JSON Schema object model per registration: an OPEN or
    * CLOSED content model (additionalProperties — k's parity) plus a
    * property set with (name, type, required, enum values). Derived
    * from k so every jsonschema/checker.go rule fires both ways:
    * `name` flips optional↔required with k%3, `tags` flips
    * array↔string and comes and goes with k%5, `level` carries an
    * enum whose value set narrows and widens with k%3 and turns
    * required when k%11&lt;3 — so its reappearance sometimes adds a
    * REQUIRED property (checker.go:342).
    */
  private[graft] def jsFieldArrays(s: SparkSession, dir: String): DataFrame = {
    // EXTERNAL $ref resolution (checker.go:133-:155
    // buildExternalRefMap): a property may reference another
    // SUBJECT's registered definition via the references table — the
    // registry resolves it against that subject's registry state at
    // registration time. Subjects pair by xor(subject, 1); each
    // registration resolves its partner's latest exported `addr`
    // definition as of its own ts. Stated as ONE as-of pass: the
    // definition stream (keyed by its own subject) unions with the
    // lookup stream (keyed by the PARTNER subject), a running
    // last-non-null over (ts, side, event_id) — defs sort before
    // lookups at equal ts — carries the partner definition forward,
    // and the lookup rows exit with their `xaddr` attached. No
    // self-join, no per-pair shuffle: one exchange keyed by the
    // referenced subject, the shape that survives a registry of any
    // size.
    //
    // Unlike the other models this one does not read [[Compat
    // .versions]]: the as-of pass is keyed by the partner subject, so
    // behind the subject-keyed stream it would add an exchange and
    // lose the subject partitioning the scan's aggregate reads. It
    // runs first instead, `k` is parsed behind its keyed spread, in
    // parallel, and the version window (Compat.versionOrder) follows.
    val ev0 = Tables.events(s, dir).select(
      col("user_id").as("subject"), col("ts"), col("event_id"), col("props"))
    val ev = {
      val defsSide = ev0.select(col("subject").as("xkey"), col("ts"),
        col("event_id"), lit("d").as("side"), col("props"),
        lit(null).cast("bigint").as("rsubject"))
      val lookupSide = ev0.select(col("subject").bitwiseXOR(lit(1)).as("xkey"),
        col("ts"), col("event_id"), lit("q").as("side"), col("props"),
        col("subject").as("rsubject"))
      val wx = Window.partitionBy(col("xkey"))
        .orderBy(col("ts"), col("side"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val xdef = when(col("side") === "d",
        when(col("k") % 25 < 13, "string").otherwise("object"))
      Tables.spread(defsSide.unionByName(lookupSide), col("xkey"))
        .select(col("xkey"), col("ts"), col("event_id"), col("side"), col("rsubject"),
          Compat.payloadK.cast("bigint").as("k"))
        .withColumn("xaddr", last(xdef, ignoreNulls = true).over(wx))
        .where(col("side") === "q")
        .select(col("rsubject").as("subject"), col("ts"), col("event_id"),
          col("k"), col("xaddr"))
    }
    val w = Compat.versionOrder
    val noEnum = lit(null).cast("string")
    val noBound = lit(null).cast("int")
    val noStr = lit(null).cast("string")
    def p(pname: String, ptype: Column, preq: Column, penum: Column,
          present: Column, pmin: Column = lit(null).cast("int"),
          pmax: Column = lit(null).cast("int"),
          palts: Column = lit(null).cast("string"),
          pdep: Column = lit(null).cast("string"),
          ptuple: Column = lit(null).cast("string"),
          pall: Column = lit(null).cast("string"),
          ppat: Column = lit(null).cast("string"),
          pmul: Column = lit(null).cast("int"),
          pminit: Column = lit(null).cast("int"),
          pmaxit: Column = lit(null).cast("int"),
          puniq: Column = lit(false),
          pconst: Column = lit(null).cast("string"),
          pdsch: Column = lit(null).cast("string"),
          pitems: Column = lit(null).cast("string")): Column =
      struct(lit(pname).as("pname"), ptype.as("ptype"), preq.as("preq"),
        penum.as("penum"), pmin.as("pmin"), pmax.as("pmax"),
        palts.as("palts"), pdep.as("pdep"), ptuple.as("ptuple"),
        pall.as("pall"), ppat.as("ppat"), pmul.as("pmul"),
        pminit.as("pminit"), pmaxit.as("pmaxit"), puniq.as("puniq"),
        pconst.as("pconst"), pdsch.as("pdsch"), pitems.as("pitems"),
        present.as("present"))
    ev
      .withColumn("version", row_number().over(w))
      .withColumn("open", col("k") % 2 === 0)
      // schema-level object-size constraints (checker.go:934
      // checkObjectSizeConstraints): minProperties rising (or
      // appearing) and maxProperties falling (or appearing) reject
      // instances the old schema admitted.
      .withColumn("minp",
        when(col("k") % 43 < 15, noBound).when(col("k") % 43 < 30, 1).otherwise(3))
      .withColumn("maxp",
        when(col("k") % 47 < 16, noBound).when(col("k") % 47 < 32, 20).otherwise(10))
      // the $defs/addr definition this schema version declares —
      // referenced properties resolve against it
      .withColumn("defaddr", when(col("k") % 25 < 13, "string").otherwise("object"))
      // root-level `not` constraint (checker.go:944 checkNotSchema):
      // encoded as <type-char><key-count> — s1 = {"type":"string"},
      // s2 = the same plus one more keyword, i1 = {"type":"integer"}.
      // Adding `not` breaks; a not-TYPE change breaks; same type but
      // FEWER keys (a broader not-schema rejects more) breaks;
      // dropping or narrowing only relaxes.
      .withColumn("jnot",
        when(col("k") % 41 < 14, lit(null).cast("string"))
          .when(col("k") % 41 < 24, "s1")
          .when(col("k") % 41 < 33, "s2").otherwise("i1"))
      .withColumn("props_all", array(
        p("id", lit("integer"), lit(true), noEnum, lit(true)),
        // name carries the string PATTERN constraint (checker.go:885
        // checkStringConstraints): adding a pattern, or changing one,
        // rejects strings the old schema admitted; dropping it only
        // relaxes.
        p("name", lit("string"), col("k") % 3 === 0, noEnum, lit(true),
          ppat = when(col("k") % 23 < 8, noStr)
            .when(col("k") % 23 < 16, "^[a-z]+$").otherwise("^[a-zA-Z ]+$")),
        // tags carries the ARRAY constraints (checker.go:427
        // minItems/maxItems tightening; :117/:279 uniqueItems
        // false→true): each rejects arrays the old schema admitted.
        p("tags", when(col("k") % 4 < 2, "array").otherwise("string"),
          lit(false), noEnum, col("k") % 5 < 3,
          pminit = when(col("k") % 29 < 9, noBound)
            .when(col("k") % 29 < 19, 1).otherwise(3),
          pmaxit = when(col("k") % 31 < 10, noBound)
            .when(col("k") % 31 < 20, 10).otherwise(5),
          puniq = col("k") % 37 >= 18),
        // level carries the NUMERIC BOUNDS dimension: minimum/maximum
        // appear, move, and vanish with k — tightening (min up, max
        // down, or a bound appearing) breaks, relaxing never does
        // (jsonschema/checker.go:901 checkNumericConstraints).
        p("level", lit("integer"), col("k") % 11 < 3,
          when(col("k") % 3 === 1, "1,2,3").otherwise("1,2,3,4"),
          col("k") % 7 < 4,
          pmin = when(col("k") % 13 < 4, 1).when(col("k") % 13 < 9, 3).otherwise(noBound),
          pmax = when(col("k") % 17 < 6, 50).when(col("k") % 17 < 12, 100).otherwise(noBound),
          // multipleOf (checker.go:912): the reader's divisor must
          // divide the writer's — every multiple of 4 is a multiple
          // of 2, so 4→2 relaxes while 2→4 (or 4→3, or adding one)
          // rejects previously valid instances.
          pmul = when(col("k") % 27 < 7, noBound)
            .when(col("k") % 27 < 15, 2).when(col("k") % 27 < 22, 4).otherwise(3)),
        // contact is the SUM TYPE (oneOf/anyOf) property: its
        // alternative-type set walks string / integer / both — the
        // reader must keep accepting every alternative the writer
        // declared (checker.go:676 checkSumTypeCompatibility).
        p("contact", lit("sum"), lit(false), noEnum, lit(true),
          palts = when(col("k") % 10 < 4, "integer,string")
            .when(col("k") % 10 < 7, "string").otherwise("integer"),
          // dependentRequired (checker.go:1043, Draft-2020): the set
          // of properties contact's presence requires — adding the
          // keyword or changing its name set breaks (old instances
          // may lack the newly-required names); dropping the keyword
          // wholesale relaxes and never breaks.
          pdep = when(col("k") % 19 < 6, lit(null).cast("string"))
            .when(col("k") % 19 < 12, "name").otherwise("level,name"),
          // dependentSchemas (checker.go:987), the schema-valued
          // sibling of dependentRequired: contact's presence imposes
          // a SCHEMA on another property. Adding the keyword or
          // changing the imposed schema breaks (old instances
          // validated against nothing / the old schema); dropping it
          // wholesale relaxes.
          pdsch = when(col("k") % 39 < 13, lit(null).cast("string"))
            .when(col("k") % 39 < 26, "level:integer").otherwise("level:string")),
        // coords carries the TUPLE ITEMS dimension (checker.go:433,
        // prefixItems): per-position types; a common-position type
        // change breaks, EXTENDING the tuple constrains a previously
        // free position (breaks, no additionalItems schema here),
        // shortening relaxes.
        p("coords", lit("array"), lit(false), noEnum, lit(true),
          ptuple = when(col("k") % 21 < 7, "integer,integer")
            .when(col("k") % 21 < 14, "integer,integer,integer")
            .otherwise("number,integer"),
          // items CONTENT MODEL beyond prefixItems (checker.go:1172
          // checkAdditionalItems, :1193 checkItemsBoolean): open
          // (items:true/absent), a schema ('int'/'str'), or closed
          // (items:false). Closing an open-or-schema model breaks;
          // schema→different-schema recurses into a type break;
          // opening or dropping only relaxes.
          pitems = when(col("k") % 53 < 18, "open")
            .when(col("k") % 53 < 30, "int")
            .when(col("k") % 53 < 41, "str").otherwise("closed")),
        // badge carries the ALLOF (product type) dimension
        // (checker.go:752 checkAllOfCompatibility): its allOf
        // constraint-tag set grows and shrinks — a reader introducing
        // a tag the writer lacked adds a constraint old instances may
        // violate (breaking); dropping allOf only relaxes.
        p("badge", lit("string"), lit(false), noEnum, lit(true),
          pall = when(col("k") % 14 < 5, lit(null).cast("string"))
            .when(col("k") % 14 < 10, "minL5").otherwise("minL5,patA"),
          // const (checker.go:575): pinning a value (or changing the
          // pin) rejects every other previously valid value; removing
          // the pin relaxes.
          pconst = when(col("k") % 33 < 13, noStr)
            .when(col("k") % 33 < 23, "gold").otherwise("silver")),
        // home exercises $REF RESOLUTION (checker.go:155-:224
        // resolveAllRefs): its type is either inline or a $ref to the
        // addr definition — the scan compares RESOLVED types, so a
        // ref⇄inline swap with the same resolved shape is invisible
        // while a definition change under an unchanged $ref breaks.
        p("home", when(col("k") % 15 < 5, "string").otherwise("ref:addr"),
          lit(false), noEnum, lit(true)),
        // org exercises the EXTERNAL $ref (checker.go:133-:155): its
        // type is either inline or a reference to the PARTNER
        // subject's registered `addr` definition (the `xaddr`
        // resolution above) — the scan compares RESOLVED types, so a
        // partner definition change under an unchanged ref breaks
        // while an equal ref⇄inline swap stays invisible.
        p("org", when(col("k") % 35 < 12, "string").otherwise("xref:org"),
          lit(false), noEnum, lit(true))
      ))
      .withColumn("w_open", lag(col("open"), 1).over(w))
      .withColumn("w_defaddr", lag(col("defaddr"), 1).over(w))
      .withColumn("w_xaddr", lag(col("xaddr"), 1).over(w))
      .withColumn("w_minp", lag(col("minp"), 1).over(w))
      .withColumn("w_maxp", lag(col("maxp"), 1).over(w))
      .withColumn("w_jnot", lag(col("jnot"), 1).over(w))
      .withColumn("w_all", lag(col("props_all"), 1).over(w))
      // present-only views for set-shaped consumers (specs)
      .withColumn("props_arr", filter(col("props_all"), fld => fld("present")))
      .withColumn("w_props", filter(col("w_all"), fld => fld("present")))
  }


  /** DuckDB mirror of [[jsFieldArrays]] — (subject, version, open)
    * schema rows + (subject, version, pname, ptype, preq, penum)
    * property rows.
    */
  private val jsModelCte: String =
    """ev AS (
      |  SELECT user_id AS subject, ts, event_id,
      |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |versioned AS (
      |  SELECT subject, ts, event_id, k,
      |         row_number() OVER (PARTITION BY subject ORDER BY ts, event_id) AS version
      |  FROM ev),
      |schemas AS (SELECT v.subject, v.version, v.k % 2 = 0 AS open,
      |  CASE WHEN v.k % 25 < 13 THEN 'string' ELSE 'object' END AS defaddr,
      |  CASE WHEN v.k % 41 < 14 THEN NULL WHEN v.k % 41 < 24 THEN 's1'
      |       WHEN v.k % 41 < 33 THEN 's2' ELSE 'i1' END AS jnot,
      |  CASE WHEN v.k % 43 < 15 THEN NULL WHEN v.k % 43 < 30 THEN 1 ELSE 3 END AS minp,
      |  CASE WHEN v.k % 47 < 16 THEN NULL WHEN v.k % 47 < 32 THEN 20 ELSE 10 END AS maxp,
      |  (SELECT CASE WHEN d.k % 25 < 13 THEN 'string' ELSE 'object' END
      |   FROM versioned d
      |   WHERE d.subject = xor(v.subject, CAST(1 AS BIGINT)) AND d.ts <= v.ts
      |   ORDER BY d.ts DESC, d.event_id DESC LIMIT 1) AS xaddr
      |  FROM versioned v),
      |jsp AS (
      |  SELECT subject, version, 'id' AS pname, 'integer' AS ptype,
      |         true AS preq, CAST(NULL AS VARCHAR) AS penum,
      |         CAST(NULL AS INT) AS pmin, CAST(NULL AS INT) AS pmax,
      |         CAST(NULL AS VARCHAR) AS palts, CAST(NULL AS VARCHAR) AS pdep,
      |         CAST(NULL AS VARCHAR) AS ptuple, CAST(NULL AS VARCHAR) AS pall,
      |         CAST(NULL AS VARCHAR) AS ppat, CAST(NULL AS INT) AS pmul,
      |         CAST(NULL AS INT) AS pminit, CAST(NULL AS INT) AS pmaxit,
      |         false AS puniq, CAST(NULL AS VARCHAR) AS pconst,
      |         CAST(NULL AS VARCHAR) AS pdsch,
      |         CAST(NULL AS VARCHAR) AS pitems FROM versioned
      |  UNION ALL SELECT subject, version, 'name', 'string', k % 3 = 0, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
      |    CASE WHEN k % 23 < 8 THEN NULL WHEN k % 23 < 16 THEN '^[a-z]+$' ELSE '^[a-zA-Z ]+$' END,
      |    NULL, NULL, NULL, false, NULL, NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'tags',
      |    CASE WHEN k % 4 < 2 THEN 'array' ELSE 'string' END, false, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
      |    NULL, NULL,
      |    CASE WHEN k % 29 < 9 THEN NULL WHEN k % 29 < 19 THEN 1 ELSE 3 END,
      |    CASE WHEN k % 31 < 10 THEN NULL WHEN k % 31 < 20 THEN 10 ELSE 5 END,
      |    k % 37 >= 18, NULL, NULL, NULL
      |    FROM versioned WHERE k % 5 < 3
      |  UNION ALL SELECT subject, version, 'level', 'integer', k % 11 < 3,
      |    CASE WHEN k % 3 = 1 THEN '1,2,3' ELSE '1,2,3,4' END,
      |    CASE WHEN k % 13 < 4 THEN 1 WHEN k % 13 < 9 THEN 3 END,
      |    CASE WHEN k % 17 < 6 THEN 50 WHEN k % 17 < 12 THEN 100 END,
      |    NULL, NULL, NULL, NULL, NULL,
      |    CASE WHEN k % 27 < 7 THEN NULL WHEN k % 27 < 15 THEN 2 WHEN k % 27 < 22 THEN 4 ELSE 3 END,
      |    NULL, NULL, false, NULL, NULL, NULL FROM versioned WHERE k % 7 < 4
      |  UNION ALL SELECT subject, version, 'contact', 'sum', false, NULL, NULL, NULL,
      |    CASE WHEN k % 10 < 4 THEN 'integer,string'
      |         WHEN k % 10 < 7 THEN 'string' ELSE 'integer' END,
      |    CASE WHEN k % 19 < 6 THEN NULL WHEN k % 19 < 12 THEN 'name' ELSE 'level,name' END,
      |    NULL, NULL, NULL, NULL, NULL, NULL, false, NULL,
      |    CASE WHEN k % 39 < 13 THEN NULL WHEN k % 39 < 26 THEN 'level:integer' ELSE 'level:string' END,
      |    NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'coords', 'array', false, NULL, NULL, NULL, NULL, NULL,
      |    CASE WHEN k % 21 < 7 THEN 'integer,integer'
      |         WHEN k % 21 < 14 THEN 'integer,integer,integer'
      |         ELSE 'number,integer' END, NULL,
      |    NULL, NULL, NULL, NULL, false, NULL, NULL,
      |    CASE WHEN k % 53 < 18 THEN 'open' WHEN k % 53 < 30 THEN 'int'
      |         WHEN k % 53 < 41 THEN 'str' ELSE 'closed' END FROM versioned
      |  UNION ALL SELECT subject, version, 'badge', 'string', false, NULL, NULL, NULL, NULL, NULL, NULL,
      |    CASE WHEN k % 14 < 5 THEN NULL WHEN k % 14 < 10 THEN 'minL5' ELSE 'minL5,patA' END,
      |    NULL, NULL, NULL, NULL, false,
      |    CASE WHEN k % 33 < 13 THEN NULL WHEN k % 33 < 23 THEN 'gold' ELSE 'silver' END,
      |    NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'home',
      |    CASE WHEN k % 15 < 5 THEN 'string' ELSE 'ref:addr' END,
      |    false, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
      |    NULL, NULL, NULL, NULL, false, NULL, NULL, NULL FROM versioned
      |  UNION ALL SELECT subject, version, 'org',
      |    CASE WHEN k % 35 < 12 THEN 'string' ELSE 'xref:org' END,
      |    false, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
      |    NULL, NULL, NULL, NULL, false, NULL, NULL, NULL FROM versioned)""".stripMargin

  /** JSON Schema BACKWARD scan: version N (reader) vs N-1 (writer)
    * under the open/closed content model (jsonschema/checker.go).
    * Per-class violation counts:
    *  - v_type: property type changed (:70)
    *  - v_removed: property removed while the READER is closed (:323;
    *    an open reader absorbs removals)
    *  - v_req_added: new required property (:342)
    *  - v_open_added: new OPTIONAL property against an open WRITER
    *    (:346 — the old producer may have used that name freely)
    *  - v_opt_req: optional→required (:362)
    *  - v_enum: enum constraint added (:538) or a writer enum value
    *    dropped by the reader (:564)
    *  - v_bounds/v_sum/v_dep/v_tuple/v_all: numeric bounds (:901),
    *    sum types (:676), dependentRequired (:1043), tuple items
    *    (:433), allOf (:752)
    *  - v_pattern/v_multiple/v_items/v_unique/v_const/v_dsch: string
    *    pattern (:885), multipleOf (:912), minItems/maxItems (:427),
    *    uniqueItems (:117/:279), const (:575), dependentSchemas
    *    (:987)
    *  - v_itemsb: the items content model beyond prefixItems closing
    *    (items:true/absent/schema → false, :1172 checkAdditionalItems
    *    / :1193 checkItemsBoolean) or a schema-valued items changing
    *    type (recursed type break); opening or dropping relaxes
    *  - v_ap: additionalProperties flipped allowed→forbidden (:611);
    *    v_propcount: min/maxProperties tightened (:934); v_not: root
    *    `not` constraint added, type-changed, or broadened (:944
    *    checkNotSchema — dropping or narrowing relaxes) — all
    *    schema-level, counted once per step
    * Same one-window shape as every other scan; all checks are
    * row-local array probes, and the external-$ref resolution is the
    * one extra as-of pass described at [[jsFieldArrays]].
    */
  def jsonScan(s: SparkSession, dir: String): DataFrame = {
    val schemaLevel = Seq("open", "w_open", "defaddr", "w_defaddr", "xaddr", "w_xaddr",
      "minp", "maxp", "w_minp", "w_maxp", "jnot", "w_jnot")
    // every property present on either side counts
    val perProp = Compat.slotPairs(jsFieldArrays(s, dir), "props_all", "w_all", schemaLevel: _*)
      .where(col("rf.present") || col("wf.present"))
    def side(f: Column): Seq[Column] = Seq(
      when(f("present"), f("ptype")), when(f("present"), f("preq")),
      when(f("present"), f("penum")), when(f("present"), f("pmin")),
      when(f("present"), f("pmax")), when(f("present"), f("palts")),
      when(f("present"), f("pdep")), when(f("present"), f("ptuple")),
      when(f("present"), f("pall")), when(f("present"), f("ppat")),
      when(f("present"), f("pmul")), when(f("present"), f("pminit")),
      when(f("present"), f("pmaxit")), when(f("present"), f("puniq")),
      when(f("present"), f("pconst")), when(f("present"), f("pdsch")),
      when(f("present"), f("pitems")))
    val Seq(rt, rq, re, rmin, rmax, ra, rd, rtu, ral,
      rpat, rmul, rmi, rma, run, rco, rds, rit) = side(col("rf"))
    val Seq(wt, wq, we, wmin, wmax, wa, wd, wtu, wal,
      wpat, wmul, wmi, wma, wun, wco, wds, wit) = side(col("wf"))
    val probed = perProp.select((Seq(col("subject"), col("version")) ++
      schemaLevel.map(col) ++ Seq(
      rt.as("r_type"), rq.as("r_req"), re.as("r_enum"),
      rmin.as("r_min"), rmax.as("r_max"), ra.as("r_alts"),
      rd.as("r_dep"), rtu.as("r_tuple"), ral.as("r_all"),
      rpat.as("r_pat"), rmul.as("r_mul"), rmi.as("r_minit"),
      rma.as("r_maxit"), run.as("r_uniq"), rco.as("r_const"), rds.as("r_dsch"),
      rit.as("r_items"),
      wt.as("w_type"), wq.as("w_req"), we.as("w_enum"),
      wmin.as("w_min"), wmax.as("w_max"), wa.as("w_alts"),
      wd.as("w_dep"), wtu.as("w_tuple"), wal.as("w_all"),
      wpat.as("w_pat"), wmul.as("w_mul"), wmi.as("w_minit"),
      wma.as("w_maxit"), wun.as("w_uniq"), wco.as("w_const"), wds.as("w_dsch"),
      wit.as("w_items"))): _*)
    val both = col("r_type").isNotNull && col("w_type").isNotNull
    def cnt(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))
    // $ref resolution (checker.go:155 resolveAllRefs): replace a
    // reference with its definition's content before comparing —
    // same-document $defs (ref:addr) and cross-subject references
    // (xref:org, resolved through the references table as-of each
    // version's registration; a ref whose target subject has no
    // registration yet resolves to a distinguished 'unresolved').
    def resolved(t: Column, defaddr: Column, xaddr: Column): Column =
      when(t === "ref:addr", defaddr)
        .when(t === "xref:org", coalesce(xaddr, lit("unresolved")))
        .otherwise(t)
    val rResolved = resolved(col("r_type"), col("defaddr"), col("xaddr"))
    val wResolved = resolved(col("w_type"), col("w_defaddr"), col("w_xaddr"))
    val enumNarrowed = col("r_enum").isNotNull && col("w_enum").isNotNull &&
      size(array_except(split(col("w_enum"), ","), split(col("r_enum"), ","))) > 0
    // bounds TIGHTENED (checker.go:878/:901): a reader minimum above
    // the writer's (or newly appearing) rejects instances the old
    // schema admitted; symmetrically for maximum. Relaxing or
    // dropping a bound never breaks.
    val boundsTightened =
      (col("r_min").isNotNull && (col("w_min").isNull || col("r_min") > col("w_min"))) ||
        (col("r_max").isNotNull && (col("w_max").isNull || col("r_max") < col("w_max")))
    // sum type narrowed (checker.go:676 checkSumTypeCompatibility):
    // the reader must accept every alternative the writer declared.
    val sumNarrowed = col("r_alts").isNotNull && col("w_alts").isNotNull &&
      size(array_except(split(col("w_alts"), ","), split(col("r_alts"), ","))) > 0
    // dependentRequired (checker.go:1043): keyword added, or the
    // entry's name set changed (either direction of the set diff is
    // "changed") — only dropping the keyword wholesale is relaxing.
    val depBroken =
      (col("r_dep").isNotNull && col("w_dep").isNull) ||
        (col("r_dep").isNotNull && col("w_dep").isNotNull && col("r_dep") =!= col("w_dep"))
    // tuple items (checker.go:433): a common-position type change, or
    // the tuple EXTENDING (a previously unconstrained position is now
    // constrained; no additionalItems schema in the model) — a
    // shorter reader tuple only relaxes.
    val rTup = split(col("r_tuple"), ",")
    val wTup = split(col("w_tuple"), ",")
    val commonPosChanged = exists(
      zip_with(rTup, wTup, (a, b) => a.isNotNull && b.isNotNull && a =!= b),
      x => x)
    val tupleBroken = col("r_tuple").isNotNull && col("w_tuple").isNotNull &&
      (commonPosChanged || size(rTup) > size(wTup))
    // allOf product type (checker.go:752): a reader allOf tag the
    // writer lacked is a NEW constraint old instances may violate;
    // dropping allOf (or tags) only relaxes.
    val allBroken = col("r_all").isNotNull &&
      (col("w_all").isNull ||
        size(array_except(split(col("r_all"), ","), split(col("w_all"), ","))) > 0)
    // pattern (checker.go:885): added or changed rejects previously
    // valid strings; dropped relaxes.
    val patBroken = col("r_pat").isNotNull &&
      (col("w_pat").isNull || col("r_pat") =!= col("w_pat"))
    // multipleOf (checker.go:912): compatible iff the reader divisor
    // divides the writer's (every multiple of w stays a multiple of
    // r); added, coarsened, or incommensurate breaks.
    val mulBroken = col("r_mul").isNotNull &&
      (col("w_mul").isNull || col("w_mul") % col("r_mul") =!= 0)
    // minItems/maxItems (checker.go:427): tightening either bound
    // rejects previously valid arrays.
    val itemsBroken =
      (col("r_minit").isNotNull &&
        (col("w_minit").isNull || col("r_minit") > col("w_minit"))) ||
        (col("r_maxit").isNotNull &&
          (col("w_maxit").isNull || col("r_maxit") < col("w_maxit")))
    // uniqueItems (checker.go:117/:279): false→true rejects arrays
    // with duplicates the old schema admitted.
    val uniqBroken = col("r_uniq") && !col("w_uniq")
    // const (checker.go:575): pinned or re-pinned value.
    val constBroken = col("r_const").isNotNull &&
      (col("w_const").isNull || col("r_const") =!= col("w_const"))
    // dependentSchemas (checker.go:987): keyword added or the imposed
    // schema changed; dropping it relaxes.
    val dschBroken = col("r_dsch").isNotNull &&
      (col("w_dsch").isNull || col("r_dsch") =!= col("w_dsch"))
    // items content model beyond prefixItems (checker.go:1172/:1193):
    // closing an open-or-schema model breaks; a schema changing to a
    // DIFFERENT schema recurses into a type break; opening/dropping
    // relaxes.
    val itemsModelBroken =
      (col("r_items") === "closed" && col("w_items") =!= "closed") ||
        (col("r_items").isin("int", "str") && col("w_items").isin("int", "str") &&
          col("r_items") =!= col("w_items"))
    // `not` (checker.go:944, root level): added breaks; type change
    // breaks (:968 — no promotions between the model's string and
    // integer not-types); same type but fewer keywords = a BROADER
    // negated schema, which rejects more (:977); dropped relaxes.
    val notBroken = col("jnot").isNotNull &&
      (col("w_jnot").isNull ||
        substring(col("jnot"), 1, 1) =!= substring(col("w_jnot"), 1, 1) ||
        substring(col("jnot"), 2, 1) < substring(col("w_jnot"), 2, 1))
    // min/maxProperties (checker.go:934, schema level): tightening
    // either object-size bound.
    val propCountBroken =
      (col("minp").isNotNull && (col("w_minp").isNull || col("minp") > col("w_minp"))) ||
        (col("maxp").isNotNull && (col("w_maxp").isNull || col("maxp") < col("w_maxp")))
    probed
      .groupBy(col("subject"), col("version"))
      .agg(sum(when(col("r_type").isNotNull, 1L).otherwise(0L)).as("n_props"),
        cnt(both && rResolved =!= wResolved).as("v_type"),
        cnt(col("r_type").isNull && !col("open")).as("v_removed"),
        cnt(col("w_type").isNull && col("r_req")).as("v_req_added"),
        cnt(col("w_type").isNull && !col("r_req") && col("w_open")).as("v_open_added"),
        cnt(both && !col("w_req") && col("r_req")).as("v_opt_req"),
        cnt(both && ((col("w_enum").isNull && col("r_enum").isNotNull) || enumNarrowed))
          .as("v_enum"),
        cnt(both && boundsTightened).as("v_bounds"),
        cnt(both && sumNarrowed).as("v_sum"),
        cnt(both && depBroken).as("v_dep"),
        cnt(both && tupleBroken).as("v_tuple"),
        cnt(both && allBroken).as("v_all"),
        cnt(both && patBroken).as("v_pattern"),
        cnt(both && mulBroken).as("v_multiple"),
        cnt(both && itemsBroken).as("v_items"),
        cnt(both && uniqBroken).as("v_unique"),
        cnt(both && constBroken).as("v_const"),
        cnt(both && dschBroken).as("v_dsch"),
        cnt(both && itemsModelBroken).as("v_itemsb"),
        // schema-level: one per step, counted once via max()
        max(when(col("w_open") && !col("open"), 1L).otherwise(0L)).as("v_ap"),
        max(when(propCountBroken, 1L).otherwise(0L)).as("v_propcount"),
        max(when(notBroken, 1L).otherwise(0L)).as("v_not"))
      .withColumn("n_violations",
        col("v_type") + col("v_removed") + col("v_req_added") +
          col("v_open_added") + col("v_opt_req") + col("v_enum") +
          col("v_bounds") + col("v_sum") + col("v_dep") + col("v_tuple") +
          col("v_all") + col("v_pattern") + col("v_multiple") + col("v_items") +
          col("v_unique") + col("v_const") + col("v_dsch") + col("v_itemsb") +
          col("v_ap") + col("v_propcount") + col("v_not"))
      .withColumn("json_ok", col("n_violations") === 0)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compat_proto_scan" -> protoScan,
    "compat_json_scan" -> jsonScan)

  val oracleSql: Map[String, String] = Map(
    "compat_proto_scan" ->
      s"""WITH $pbModelCte,
        |vers AS (SELECT DISTINCT subject, version FROM pbf WHERE version > 1),
        |keys AS (
        |  SELECT DISTINCT v.subject, v.version, f.fkey
        |  FROM vers v JOIN pbf f ON f.subject = v.subject
        |    AND f.version IN (v.version, v.version - 1)),
        |probed AS (
        |  SELECT n.subject, n.version,
        |    r.fname AS r_name, r.kind AS r_kind, r.card AS r_card, r.oneof AS r_oneof,
        |    w.fname AS w_name, w.kind AS w_kind, w.card AS w_card, w.oneof AS w_oneof,
        |    rg.grp AS r_grp, wg.grp AS w_grp
        |  FROM keys n
        |  LEFT JOIN pbf r ON r.subject = n.subject AND r.version = n.version AND r.fkey = n.fkey
        |  LEFT JOIN pbf w ON w.subject = n.subject AND w.version = n.version - 1 AND w.fkey = n.fkey
        |  LEFT JOIN wiregrp rg ON rg.kind = r.kind
        |  LEFT JOIN wiregrp wg ON wg.kind = w.kind),
        |agg AS (
        |  SELECT subject, version,
        |    CAST(sum(CASE WHEN r_kind IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fields,
        |    CAST(sum(CASE WHEN r_kind IS NOT NULL AND w_kind IS NOT NULL
        |      AND r_name <> w_name THEN 1 ELSE 0 END) AS BIGINT) AS n_renames,
        |    CAST(sum(CASE WHEN
        |      (w_kind IS NULL AND r_card = 'required')
        |      OR (r_kind IS NULL AND (w_card = 'required' OR w_oneof IS NOT NULL))
        |      OR (r_kind IS NOT NULL AND w_kind IS NOT NULL AND (
        |        r_grp <> w_grp
        |        OR (r_card = 'required' AND w_card <> 'required')
        |        OR (w_card = 'optional' AND r_card = 'repeated' AND w_kind NOT IN ('string', 'bytes'))
        |        OR (w_card = 'repeated' AND r_card <> 'repeated' AND r_kind NOT IN ('string', 'bytes'))
        |        OR (w_oneof IS NOT NULL AND r_oneof IS NULL)))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |  FROM probed GROUP BY subject, version),
        |topw AS (
        |  SELECT subject, version, k,
        |         lag(k) OVER (PARTITION BY subject ORDER BY version) AS wk
        |  FROM versioned),
        |topt AS (
        |  SELECT subject, version,
        |    CAST((CASE WHEN wk % 6 < 4 AND k % 6 >= 4 THEN 1 ELSE 0 END)
        |       + (CASE WHEN wk % 17 < 9 AND k % 17 >= 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_msg_removed,
        |    CAST(CASE WHEN wk % 7 < 6 AND k % 7 >= 6 THEN 1 ELSE 0 END AS BIGINT) AS n_svc_removed,
        |    CAST((CASE WHEN k % 7 < 6 AND wk % 7 < 6 AND wk % 11 < 9 AND k % 11 >= 9 THEN 1 ELSE 0 END)
        |       + (CASE WHEN k % 7 < 6 AND wk % 7 < 6 AND wk % 29 < 20 AND k % 29 >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_method_removed,
        |    CAST((CASE WHEN k % 7 < 6 AND wk % 7 < 6 AND k % 11 < 9 AND wk % 11 < 9
        |            AND (k % 13 < 7) <> (wk % 13 < 7) THEN 1 ELSE 0 END)
        |       + (CASE WHEN k % 7 < 6 AND wk % 7 < 6 AND k % 11 < 9 AND wk % 11 < 9
        |            AND (k % 19 < 10) <> (wk % 19 < 10) THEN 1 ELSE 0 END)
        |       + (CASE WHEN k % 7 < 6 AND wk % 7 < 6 AND k % 11 < 9 AND wk % 11 < 9
        |            AND (k % 23 < 12) <> (wk % 23 < 12) THEN 1 ELSE 0 END)
        |       + (CASE WHEN k % 7 < 6 AND wk % 7 < 6 AND k % 29 < 20 AND wk % 29 < 20
        |            AND (k % 31 < 16) <> (wk % 31 < 16) THEN 1 ELSE 0 END) AS BIGINT) AS n_method_changed,
        |    CAST((CASE WHEN wk % 5 < 4 AND k % 5 >= 4 THEN 1 ELSE 0 END)
        |       + (CASE WHEN k % 5 < 4 AND wk % 5 < 4 AND wk % 3 < 2 AND k % 3 >= 2 THEN 1 ELSE 0 END)
        |       + (CASE WHEN k % 5 < 4 AND k % 3 < 2 AND wk % 5 < 4 AND wk % 3 < 2
        |            AND (k % 2) <> (wk % 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_enum_relaxed
        |  FROM topw WHERE version > 1)
        |SELECT a.subject, a.version, a.n_fields, a.n_renames, a.n_violations,
        |  t.n_enum_relaxed, t.n_method_changed, t.n_method_removed,
        |  t.n_msg_removed, t.n_svc_removed,
        |  a.n_violations + t.n_msg_removed + t.n_svc_removed
        |    + t.n_method_removed + t.n_method_changed = 0 AS proto_ok
        |FROM agg a JOIN topt t ON t.subject = a.subject AND t.version = a.version
        |ORDER BY a.subject, a.version""".stripMargin,
    "compat_json_scan" ->
      s"""WITH $jsModelCte,
        |vers AS (SELECT s.subject, s.version, s.open, ws.open AS w_open,
        |    s.defaddr, ws.defaddr AS w_defaddr, s.xaddr, ws.xaddr AS w_xaddr,
        |    s.minp, s.maxp, ws.minp AS w_minp, ws.maxp AS w_maxp,
        |    s.jnot, ws.jnot AS w_jnot
        |  FROM schemas s JOIN schemas ws
        |    ON ws.subject = s.subject AND ws.version = s.version - 1),
        |names AS (
        |  SELECT DISTINCT v.subject, v.version, f.pname
        |  FROM vers v JOIN jsp f ON f.subject = v.subject
        |    AND f.version IN (v.version, v.version - 1)),
        |probed AS (
        |  SELECT n.subject, n.version, v.open, v.w_open, v.defaddr, v.w_defaddr,
        |    v.xaddr, v.w_xaddr, v.minp, v.maxp, v.w_minp, v.w_maxp,
        |    v.jnot, v.w_jnot,
        |    r.ptype AS r_type, r.preq AS r_req, r.penum AS r_enum,
        |    r.pmin AS r_min, r.pmax AS r_max, r.palts AS r_alts,
        |    r.pdep AS r_dep, r.ptuple AS r_tuple, r.pall AS r_all,
        |    r.ppat AS r_pat, r.pmul AS r_mul, r.pminit AS r_minit,
        |    r.pmaxit AS r_maxit, r.puniq AS r_uniq, r.pconst AS r_const,
        |    r.pdsch AS r_dsch, r.pitems AS r_items,
        |    w.ptype AS w_type, w.preq AS w_req, w.penum AS w_enum,
        |    w.pmin AS w_min, w.pmax AS w_max, w.palts AS w_alts,
        |    w.pdep AS w_dep, w.ptuple AS w_tuple, w.pall AS w_all,
        |    w.ppat AS w_pat, w.pmul AS w_mul, w.pminit AS w_minit,
        |    w.pmaxit AS w_maxit, w.puniq AS w_uniq, w.pconst AS w_const,
        |    w.pdsch AS w_dsch, w.pitems AS w_items
        |  FROM names n
        |  JOIN vers v ON v.subject = n.subject AND v.version = n.version
        |  LEFT JOIN jsp r ON r.subject = n.subject AND r.version = n.version AND r.pname = n.pname
        |  LEFT JOIN jsp w ON w.subject = n.subject AND w.version = n.version - 1 AND w.pname = n.pname),
        |agg AS (
        |  SELECT subject, version,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_props,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND (CASE WHEN r_type = 'ref:addr' THEN defaddr
        |           WHEN r_type = 'xref:org' THEN coalesce(xaddr, 'unresolved')
        |           ELSE r_type END)
        |       <> (CASE WHEN w_type = 'ref:addr' THEN w_defaddr
        |           WHEN w_type = 'xref:org' THEN coalesce(w_xaddr, 'unresolved')
        |           ELSE w_type END)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
        |    CAST(sum(CASE WHEN r_type IS NULL AND NOT open THEN 1 ELSE 0 END) AS BIGINT) AS v_removed,
        |    CAST(sum(CASE WHEN w_type IS NULL AND r_req THEN 1 ELSE 0 END) AS BIGINT) AS v_req_added,
        |    CAST(sum(CASE WHEN w_type IS NULL AND NOT r_req AND w_open THEN 1 ELSE 0 END) AS BIGINT) AS v_open_added,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND NOT w_req AND r_req THEN 1 ELSE 0 END) AS BIGINT) AS v_opt_req,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND ((w_enum IS NULL AND r_enum IS NOT NULL)
        |        OR (w_enum IS NOT NULL AND r_enum IS NOT NULL
        |            AND NOT list_has_all(string_split(r_enum, ','), string_split(w_enum, ','))))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_enum,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL AND (
        |        (r_min IS NOT NULL AND (w_min IS NULL OR r_min > w_min))
        |        OR (r_max IS NOT NULL AND (w_max IS NULL OR r_max < w_max)))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_bounds,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_alts IS NOT NULL AND w_alts IS NOT NULL
        |      AND NOT list_has_all(string_split(r_alts, ','), string_split(w_alts, ','))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_sum,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL AND (
        |        (r_dep IS NOT NULL AND w_dep IS NULL)
        |        OR (r_dep IS NOT NULL AND w_dep IS NOT NULL AND r_dep <> w_dep))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_dep,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_tuple IS NOT NULL AND w_tuple IS NOT NULL AND (
        |        string_split(r_tuple, ',')[1] <> string_split(w_tuple, ',')[1]
        |        OR string_split(r_tuple, ',')[2] <> string_split(w_tuple, ',')[2]
        |        OR string_split(r_tuple, ',')[3] <> string_split(w_tuple, ',')[3]
        |        OR len(string_split(r_tuple, ',')) > len(string_split(w_tuple, ',')))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_tuple,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_all IS NOT NULL AND (w_all IS NULL
        |        OR NOT list_has_all(string_split(w_all, ','), string_split(r_all, ',')))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_all,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_pat IS NOT NULL AND (w_pat IS NULL OR r_pat <> w_pat)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_pattern,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_mul IS NOT NULL AND (w_mul IS NULL OR w_mul % r_mul <> 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_multiple,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL AND (
        |        (r_minit IS NOT NULL AND (w_minit IS NULL OR r_minit > w_minit))
        |        OR (r_maxit IS NOT NULL AND (w_maxit IS NULL OR r_maxit < w_maxit)))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_items,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_uniq AND NOT w_uniq THEN 1 ELSE 0 END) AS BIGINT) AS v_unique,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_const IS NOT NULL AND (w_const IS NULL OR r_const <> w_const)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_const,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL
        |      AND r_dsch IS NOT NULL AND (w_dsch IS NULL OR r_dsch <> w_dsch)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_dsch,
        |    CAST(sum(CASE WHEN r_type IS NOT NULL AND w_type IS NOT NULL AND (
        |        (r_items = 'closed' AND w_items <> 'closed')
        |        OR (r_items IN ('int', 'str') AND w_items IN ('int', 'str')
        |            AND r_items <> w_items))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_itemsb,
        |    CAST(max(CASE WHEN w_open AND NOT open THEN 1 ELSE 0 END) AS BIGINT) AS v_ap,
        |    CAST(max(CASE WHEN
        |        (minp IS NOT NULL AND (w_minp IS NULL OR minp > w_minp))
        |        OR (maxp IS NOT NULL AND (w_maxp IS NULL OR maxp < w_maxp))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_propcount,
        |    CAST(max(CASE WHEN jnot IS NOT NULL AND (w_jnot IS NULL
        |        OR substr(jnot, 1, 1) <> substr(w_jnot, 1, 1)
        |        OR substr(jnot, 2, 1) < substr(w_jnot, 2, 1))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_not
        |  FROM probed GROUP BY subject, version)
        |SELECT subject, version, n_props, v_type, v_removed, v_req_added, v_open_added,
        |  v_opt_req, v_enum, v_bounds, v_sum, v_dep, v_tuple, v_all,
        |  v_pattern, v_multiple, v_items, v_unique, v_const, v_dsch, v_itemsb,
        |  v_ap, v_propcount, v_not,
        |  v_type + v_removed + v_req_added + v_open_added + v_opt_req
        |    + v_enum + v_bounds + v_sum + v_dep + v_tuple + v_all
        |    + v_pattern + v_multiple + v_items + v_unique + v_const + v_dsch
        |    + v_itemsb + v_ap + v_propcount + v_not AS n_violations,
        |  v_type + v_removed + v_req_added + v_open_added + v_opt_req
        |    + v_enum + v_bounds + v_sum + v_dep + v_tuple + v_all
        |    + v_pattern + v_multiple + v_items + v_unique + v_const + v_dsch
        |    + v_itemsb + v_ap + v_propcount + v_not = 0 AS json_ok
        |FROM agg ORDER BY subject, version""".stripMargin)
}
