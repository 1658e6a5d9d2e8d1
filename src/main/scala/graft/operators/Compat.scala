package graft.operators

import graft.Tables
import graft.compat.SchemaCompat
import graft.compat.SchemaCompat._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compatibility checking exposed as a query: a fixed battery of
  * schema-evolution cases run through [[SchemaCompat]] (the Spark
  * StructType re-expression of internal/compatibility/). The oracle
  * is the expected verdict table — semantics derived from the
  * reference's checker rules, hand-traced per case.
  */
object Compat {

  // -------------------------------------------------------------------
  // Avro type-resolution core: promotion matrix + union branch sets
  // -------------------------------------------------------------------

  /** Branch-set normalization (the union's branches, or the scalar
    * type as a singleton) lets ONE predicate cover checkUnion
    * (avro/checker.go:224), checkReaderUnion (:247), checkWriterUnion
    * (:263) and plain scalar resolution (:54 + :297): in every case
    * the rule is "every writer branch must be readable by some reader
    * branch". The branch sets live as BITMASKS: array higher-order
    * functions are interpreted per element and fall out of
    * whole-stage codegen; on the full-corpus scans that cost ~3×
    * (sf0.1 compat_gate 29.9s array-HOF vs 9-10s masked). With one
    * bit per primitive type the whole resolution algebra is integer
    * ops: set membership = AND, set union across versions = a single
    * bit_or window aggregate. The oracles spell the same algebra over
    * real branch lists ([[sqlBranches]]/[[sqlAccepts]]/
    * [[sqlTypeBreak]]) — parity proves the two formulations equal.
    */
  private val typeBits: Seq[(String, Int)] = Seq(
    "int" -> 1, "bigint" -> 2, "float" -> 4, "double" -> 8,
    "string" -> 16, "bytes" -> 32, "enum" -> 64, "null" -> 128,
    // Avro fixed, one bit PER SIZE (checkFixed avro/checker.go:280:
    // size mismatch breaks, symmetrically, no promotion) — distinct
    // type bits make the size rule fall out of the mask algebra with
    // no extra code. The model's name is constant, so the :280 name
    // rule has no data to fire on (cited, not modeled).
    "fixed8" -> 256, "fixed16" -> 512)

  /** OR of every type bit — the complement space for the transitive
    * scans' cannot-decode accounting.
    */
  private val allTypeBits: Int = typeBits.map(_._2).reduce(_ | _)

  /** Scala-side twins of the mask algebra, for candidate schemas
    * whose branch sets are compile-time constants.
    */
  private[graft] def maskInt(ftype: String, funion: Option[String]): Int = {
    val bits = typeBits.toMap
    funion.map(_.split(',').map(bits).sum).getOrElse(bits(ftype))
  }
  private[graft] def acceptsMaskInt(m: Int): Int = {
    var a = m
    if ((m & 2) != 0) a |= 1
    if ((m & 4) != 0) a |= 3
    if ((m & 8) != 0) a |= 7
    if ((m & 16) != 0) a |= 32
    if ((m & 32) != 0) a |= 16
    a
  }

  /** Reader-side promotion closure (avro/checker.go:304 canPromote)
    * over a branch mask: int→long/float/double, long→float/double,
    * float→double, string↔bytes (`bigint` is the model's spelling of
    * Avro long). Each reader branch contributes the writer types it
    * can decode. Branch-free closed form: the numeric ladder
    * int<long<float<double occupies bits 0-3 in promotion order, so
    * "every type below my highest branch" is the right-shift smear
    * n|n>>1|n>>2|n>>3; string(16)↔bytes(32) promote symmetrically, so
    * either bit turns both on. Branchless matters: the transitive
    * scans inline this per slot, and CASE WHEN chains there pushed
    * the generated method past HotSpot's 8000-byte JIT ceiling —
    * the whole stage ran as interpreted bytecode (measured 5x).
    */
  private[graft] def acceptsMaskOf(mask: Column): Column = {
    val num = mask.bitwiseAND(lit(15))
    val st = mask.bitwiseAND(lit(48))
    mask
      .bitwiseOR(shiftright(num, 1)).bitwiseOR(shiftright(num, 2))
      .bitwiseOR(shiftright(num, 3))
      .bitwiseOR(shiftleft(st, 1).bitwiseOR(shiftright(st, 1)).bitwiseAND(lit(48)))
  }

  /** DuckDB spellings of the mask algebra over real branch lists
    * (the oracle side; the Spark side uses model-baked fmask ints +
    * [[acceptsMaskOf]] — "some writer branch is unreadable by every
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

  /** Data-driven compatibility checking over the whole corpus
    * (checker.go:39 Check iterates a subject's version history;
    * avro/checker.go:102 record rule, :304 promotions): every
    * registration (events row) is a schema version for its subject
    * (user_id), version N is BACKWARD-checked against version N-1,
    * and the record rule is evaluated RELATIONALLY — reader fields
    * left-join writer fields on (subject, version, field) and each
    * row tests the three violation conditions (missing+required,
    * non-promotable type change, required-reads-nullable). No UDF:
    * the checker itself is the join + conditional aggregation.
    *
    * The per-version field set derives deterministically from the
    * payload (`k`), so both engines reconstruct identical histories:
    * `id` bigint required; `name` string, nullability flips with k;
    * `email` string optional, present iff k%3=0; `score` int/bigint
    * by k%4 (exercising the int→bigint promotion in one direction
    * and the narrowing violation in the other).
    *
    * Scale shape: ONE shuffle (the subject window). Each version
    * carries its field set as an array column; the writer (previous
    * version) arrives via lag() over the same window, and the
    * reader↔writer field match is a row-local higher-order `filter`
    * over a ≤4-element array — no self-join, no second scan, no
    * (subject, version, fname) shuffle. History lookup as a window
    * function instead of a join is the shape that survives 100 TB:
    * version chains are contiguous in their subject partition.
    */
  /** Shared synthetic schema-version field model: every events row is
    * a registration for its subject (user_id); the field set derives
    * deterministically from the payload `k` (see [[compatScan]]).
    * Output: (subject, version, flds array, w_flds = previous
    * version's array via lag — NULL for version 1). ONE shuffle (the
    * subject window); everything downstream of it is row-local.
    * Consumed by compat_scan, reg_diff_fields, and the latest-version
    * intelligence operators.
    *
    * Each field carries the full Avro-checker dimension set
    * (avro/checker.go): name, type, nullability, default value
    * (fdefault — NULL = no default, checker.go:129's rescue
    * condition), for enums the symbol list (fsyms, comma-joined —
    * checker.go:182's symbol-compat input), and for unions the
    * branch set (funion, comma-joined — checker.go:224/:247/:263's
    * input; NULL = scalar). `status` is the enum field: required,
    * present for 2/3 of registrations, default 'A' for k%5<3, symbol
    * vocabulary flipping between {A,B} and {A,B,C} with k's parity.
    * `ratio` walks the full numeric promotion matrix
    * (int→bigint→float→double with k%9 — legal promotions and
    * illegal narrowings both occur between versions); `payload`
    * flips string↔bytes (promotable BOTH ways — never a violation,
    * the matrix's symmetric case); `ref` walks union shapes — scalar
    * string, scalar int, ["null","string"], ["bigint","null",
    * "string"], ["bigint","string"] — so the T→["null",T] evolution,
    * its breaking reverse, union widening/narrowing, and
    * promotion-into-a-union-branch (int writer vs bigint branch) all
    * fire both ways in real data.
    */
  private[graft] val allMembers: Seq[String] = Seq(
    "fname", "ftype", "fnull", "fdefault", "fsyms", "funion", "fmask",
    "falias", "present")

  private[graft] def fieldArrays(s: SparkSession, dir: String): DataFrame =
    fieldArrays(s, dir, allMembers, withLag = true)

  /** `slim = true` builds the SAME field model but projects only the
    * struct members the latest-version intelligence consumers read
    * (fname/ftype/fnull/fdefault/fsyms/present) and skips the lag
    * window entirely — no w_all/w_flds.
    */
  private[graft] def fieldArrays(s: SparkSession, dir: String, slim: Boolean): DataFrame =
    if (slim)
      fieldArrays(s, dir,
        Seq("fname", "ftype", "fnull", "fdefault", "fsyms", "present"),
        withLag = false)
    else fieldArrays(s, dir)

  /** Member-pruned model build: only the listed struct members are
    * constructed, and the lag window (w_all/w_flds) is built only
    * when asked for. Catalyst prunes unused TOP-LEVEL columns, but
    * members of an array-of-struct built behind a higher-order
    * filter + explode are constructed whether read or not, so the
    * pruning has to happen at model build. `present` is always
    * included (the set views filter on it). The positional scans use
    * the full model — their test-mask algebra reads every member.
    */
  private[graft] def fieldArrays(s: SparkSession, dir: String,
                                 members: Seq[String], withLag: Boolean): DataFrame = {
    val keep = members.toSet + "present"
    // spreadByIfNarrow on the window key: on the driver's single-row-
    // group events file the JSON parse serialized on the one scan task
    // (stage profile: a multi-second 1-task stage under every consumer
    // of this model). Keyed by `subject`, the fan-out exchange IS the
    // version window's exchange — same exchange count, parse moved to
    // the parallel side. On real many-split tables this is the
    // identity and only `k` crosses the window shuffle, as before.
    val ev = Tables.spreadByIfNarrow(
      Tables.events(s, dir).select(
        col("user_id").as("subject"), col("ts"), col("event_id"), col("props")),
      col("subject"))
      .select(col("subject"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
    val w = Window.partitionBy(col("subject")).orderBy(col("ts"), col("event_id"))
    val nullStr = lit(null).cast("string")
    // fmask: the field's branch-set bitmask ([[typeBits]]), baked in
    // as an integer when-chain at model-build time — every residue's
    // branch set is statically known, so the scans' type algebra
    // never touches an array or a string at probe time.
    def f(name: String, ftype: Column, fnull: Column, present: Column,
          fmask: Column, fdefault: Column = nullStr, fsyms: Column = nullStr,
          funion: Column = nullStr, fname: Column = null,
          falias: Column = nullStr): Column = {
      val all: Seq[(String, Column)] = Seq(
        "fname" -> Option(fname).getOrElse(lit(name)),
        "ftype" -> ftype, "fnull" -> fnull, "fdefault" -> fdefault,
        "fsyms" -> fsyms, "funion" -> funion, "fmask" -> fmask,
        "falias" -> falias, "present" -> present)
      struct(all.collect { case (n, c) if keep(n) => c.as(n) }: _*)
    }
    val base = ev
      .withColumn("version", row_number().over(w))
      .withColumn("flds_all", array(
        f("id", lit("bigint"), lit(false), lit(true), lit(2)),
        f("name", lit("string"), col("k") % lit(2) === 0, lit(true), lit(16)),
        f("email", lit("string"), lit(true), col("k") % lit(3) === 0, lit(16)),
        f("score", when(col("k") % lit(4) < 2, "int").otherwise("bigint"), lit(false), lit(true),
          when(col("k") % lit(4) < 2, 1).otherwise(2)),
        f("status", lit("enum"), lit(false), col("k") % lit(3) < 2, lit(64),
          when(col("k") % lit(5) < 3, "A"),
          when(col("k") % lit(2) === 0, "A,B").otherwise("A,B,C")),
        f("ratio",
          when(col("k") % lit(9) < 2, "int").when(col("k") % lit(9) < 4, "bigint")
            .when(col("k") % lit(9) < 6, "float").otherwise("double"),
          lit(true), lit(true),
          when(col("k") % lit(9) < 2, 1).when(col("k") % lit(9) < 4, 2)
            .when(col("k") % lit(9) < 6, 4).otherwise(8)),
        f("payload", when(col("k") % lit(13) < 7, "string").otherwise("bytes"),
          lit(true), lit(true),
          when(col("k") % lit(13) < 7, 16).otherwise(32)),
        f("ref",
          when(col("k") % lit(6) === 0, "int")
            .when(col("k") % lit(6) === 1, "string").otherwise("union"),
          lit(true), lit(true),
          when(col("k") % lit(6) === 0, 1).when(col("k") % lit(6) === 1, 16)
            .when(col("k") % lit(6) === 2, 146).when(col("k") % lit(6) === 3, 18)
            .otherwise(144),
          nullStr, nullStr,
          when(col("k") % lit(6) === 4 || col("k") % lit(6) === 5, "null,string")
            .when(col("k") % lit(6) === 2, "bigint,null,string")
            .when(col("k") % lit(6) === 3, "bigint,string")),
        f("token", when(col("k") % lit(23) < 12, "fixed8").otherwise("fixed16"),
          lit(true), lit(true),
          when(col("k") % lit(23) < 12, 256).otherwise(512)),
        // the ALIAS slot (avro/checker.go:112-:125): its NAME flips
        // nick↔nickname with k, and it sometimes declares the other
        // name as an alias — a rename is rescued iff either side
        // does. Required and defaultless so an unrescued rename hits
        // the missing-reader-field rule. Type constant: alias
        // matching and type resolution stay orthogonal in the model.
        f("nick", lit("string"), lit(false), lit(true), lit(16),
          fname = when(col("k") % lit(29) < 15, "nick").otherwise("nickname"),
          falias = when(col("k") % lit(31) < 16,
            when(col("k") % lit(29) < 15, "nickname").otherwise("nick")))
      ))
      .withColumn("flds", filter(col("flds_all"), fld => fld("present")))
    // present-only views for consumers that think in field SETS
    // (diffs, latest-version tools); the scans use the positional
    // nSlots-wide arrays directly — element_at is codegen'd, a
    // filter-by-fname probe is an interpreted HOF.
    if (!withLag) base
    else base
      .withColumn("w_all", lag(col("flds_all"), 1).over(w))
      .withColumn("w_flds", filter(col("w_all"), fld => fld("present")))
  }

  /** Number of slots in the positional field-model array. Must match
    * the `flds_all` array literal in [[fieldArrays]]; the named
    * constants below pin the slots whose INDEX is load-bearing
    * (anything reading `flds_all(i)` positionally). A spec asserts
    * slot names against these ([[graft.CompatSpec]]).
    */
  private[graft] val nSlots = 10
  private[graft] val refSlot = 7
  private[graft] val nickSlot = 9

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

  /** Per-reader-field rows for version N vs N-1 with each Avro rule's
    * individual verdict as a flag column — the shared core of
    * [[compatScan]] (which aggregates) and [[compatExplain]] (which
    * emits one diagnosis row per violated rule).
    *
    * avro/checker.go rules: (:129) a reader field missing from the
    * writer breaks ONLY when required AND defaultless — a default
    * rescues it; (:182) an enum writer symbol unknown to the reader
    * breaks unless the reader declares an enum default; type
    * resolution is the branch-mask membership test — the union rules (:224/:247/:263)
    * and the full promotion matrix (:304) as one branch-set
    * membership test. `v_type_narrowed` sub-classifies a type break
    * whose REVERSE direction would resolve (pure narrowing — the
    * author should have widened); the rest are genuine rewrites.
    */
  private def backwardFieldChecks(s: SparkSession, dir: String): DataFrame = {
    val versioned = fieldArrays(s, dir).filter(col("version") > 1)
    // Positional pairing: slot i of version N vs slot i of N-1 —
    // both arrays share the fixed nSlots-wide layout, so the reader↔writer
    // field match is element_at by the posexploded index (codegen'd),
    // not a filter-by-fname HOF probe, and each flag is evaluated
    // once per surviving exploded row, not once per slot per row.
    val perField = versioned
      .select(col("subject"), col("version"), col("w_all"),
        posexplode(col("flds_all")).as(Seq("pos", "fld")))
      .where(col("fld.present"))
      .withColumn("wf", element_at(col("w_all"), col("pos") + 1))
    val r = col("fld")
    val wf = col("wf")
    // alias-aware resolution (avro/checker.go:112-:125): the slot
    // pair matches when the names agree OR either side's alias
    // covers the other's name (eqNullSafe — a NULL alias is "no
    // alias", not unknown). For every fixed-name slot this reduces
    // to plain presence.
    val wPresent = wf("present") &&
      (wf("fname") === r("fname") ||
        r("falias") <=> wf("fname") || wf("falias") <=> r("fname"))
    val vType = wPresent &&
      wf("fmask").bitwiseAND(acceptsMaskOf(r("fmask"))) =!= wf("fmask")
    perField.select(col("subject"), col("version"), col("fld.fname").as("fname"),
      (!wPresent && !r("fnull") && r("fdefault").isNull).as("v_missing_default"),
      vType.as("v_type_change"),
      (vType && r("fmask").bitwiseAND(acceptsMaskOf(wf("fmask"))) === r("fmask"))
        .as("v_type_narrowed"),
      (wPresent && !r("fnull") && wf("fnull")).as("v_required_reads_nullable"),
      (r("ftype") === "enum" && wPresent && wf("ftype") === "enum" &&
        r("fdefault").isNull &&
        size(array_except(split(wf("fsyms"), ","), split(r("fsyms"), ","))) > 0)
        .as("v_enum_symbols"))
  }

  def compatScan(s: SparkSession, dir: String): DataFrame = {
    val violation = col("v_missing_default") || col("v_type_change") ||
      col("v_required_reads_nullable") || col("v_enum_symbols")
    backwardFieldChecks(s, dir)
      .groupBy(col("subject"), col("version"))
      .agg(count(lit(1)).as("n_fields"),
        sum(when(violation, 1).otherwise(0)).as("n_violations"))
      .withColumn("compatible", col("n_violations") === 0)
  }

  /** explain_compatibility_failure + suggest_compatible_change
    * (tools_comparison.go:371 handleExplainCompatibilityFailure,
    * :422 explainMessage): for every violated rule on every breaking
    * version step, one diagnosis row (subject, version, fname,
    * violation class, suggestion) — the corpus-wide face of the
    * reference's per-message explanation loop, re-expressed as a
    * class → suggestion mapping over [[backwardFieldChecks]]' flag
    * columns. Entirely row-local past the shared single window
    * shuffle; a field violating two rules yields two rows, as the
    * reference yields two messages.
    */
  /** One (subject, version, fname, violation) row per fired rule —
    * the classification stated ONCE and shared by [[compatExplain]]
    * and [[ruleFreq]] (the SQL side shares `explainOracle` the same
    * way), so a new violation class cannot silently diverge between
    * the listing and its frequency rollup.
    */
  private def violationHits(s: SparkSession, dir: String): DataFrame =
    backwardFieldChecks(s, dir)
      .select(col("subject"), col("version"), col("fname"),
        explode(filter(array(
          when(col("v_missing_default"), "missing_default"),
          when(col("v_type_narrowed"), "type_narrowed"),
          when(col("v_type_change") && !col("v_type_narrowed"), "type_change"),
          when(col("v_required_reads_nullable"), "required_reads_nullable"),
          when(col("v_enum_symbols"), "enum_symbols")), x => x.isNotNull)).as("violation"))

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
    val versioned = fieldArrays(s, dir).filter(col("version") > 1)
    val perField = versioned
      .select(col("subject"), col("version"), col("w_all"),
        posexplode(col("flds_all")).as(Seq("pos", "fld")))
      .where(col("fld.present"))
      .withColumn("wf", element_at(col("w_all"), col("pos") + 1))
    val r = col("fld")
    val wf = col("wf")
    perField
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
  def compatForwardScan(s: SparkSession, dir: String): DataFrame = {
    val versioned = fieldArrays(s, dir).filter(col("version") > 1)
    // Roles swapped, same Avro rules and the same positional pairing
    // as [[backwardFieldChecks]]: the OLD version's slot (reader)
    // checks the current version's slot (writer). Promotion
    // direction flips with the roles automatically (the mask
    // predicate is stated reader-vs-writer).
    val perField = versioned
      .select(col("subject"), col("version"), col("flds_all"),
        posexplode(col("w_all")).as(Seq("pos", "rfld")))
      .where(col("rfld.present"))
      .withColumn("wf", element_at(col("flds_all"), col("pos") + 1))
    val r = col("rfld")
    val wf = col("wf")
    // same alias-aware resolution as the backward scan (symmetric)
    val wPresent = wf("present") &&
      (wf("fname") === r("fname") ||
        r("falias") <=> wf("fname") || wf("falias") <=> r("fname"))
    val violation =
      (!wPresent && !r("fnull") && r("fdefault").isNull) ||
        (wPresent &&
          wf("fmask").bitwiseAND(acceptsMaskOf(r("fmask"))) =!= wf("fmask")) ||
        (wPresent && !r("fnull") && wf("fnull")) ||
        (r("ftype") === "enum" && wPresent && wf("ftype") === "enum" &&
          r("fdefault").isNull &&
          size(array_except(split(wf("fsyms"), ","), split(r("fsyms"), ","))) > 0)
    perField
      .groupBy(col("subject"), col("version"))
      .agg(count(lit(1)).as("n_reader_fields"),
        sum(when(violation, 1L).otherwise(0L)).as("n_violations"))
      .withColumn("forward_ok", col("n_violations") === 0)
  }

  /** BACKWARD_TRANSITIVE over the corpus (modes.go; checker.go:39
    * iterates ALL earlier versions, not just N-1). The naive
    * formulation pairs every reader version with every earlier
    * writer — O(V²) per subject, the shape that dies on long
    * histories. Re-expressed as O(V) running aggregates per
    * (subject, field): a reader field is incompatible with SOME
    * earlier writer iff
    *   - it is required and was absent from at least one earlier
    *     version (presence count < version-1), or
    *   - an earlier occurrence carried a conflicting type (running
    *     per-type counts; int→bigint stays promotable), or
    *   - it is required but some earlier writer declared it nullable
    *     (running nullable count).
    * One window shuffle total. The oracle states the same semantics
    * pairwise (readers × earlier versions) — parity proves the
    * rewrite.
    */
  // ---------------------------------------------------------------
  // Shared packed-int plumbing for the transitive scans. The r5 form
  // posexploded the slot grid (10× the rows) and windowed it by
  // (subject, pos) with the slot STRUCTS — including four string
  // columns — riding through a second shuffle+sort; at bench scale
  // AQE correctly coalesces these small shuffles to one task, so all
  // of it ran single-threaded (measured: 7.5→15.5s when r5 widened
  // the structs). Unexploded, the same algebra is [[nSlots]] bit_or
  // window expressions over ONE subject window on int arrays — a
  // tenth of the rows, no strings past the scan, no second shuffle,
  // no final groupBy (each row already IS a (subject, version)).
  //
  // The rule set itself compiles to a TEST-MASK algebra, evaluated
  // per slot at model-build time so the windowed stage is three
  // integer ops per slot (JIT-friendly — giant CASE WHEN towers here
  // previously blew HotSpot's huge-method limit and ran interpreted):
  //   hb : the bits this version contributes to the running history
  //        (branch mask + existence facts; one bit marks ABSENCE,
  //        which subsumes the former presence-count window), and
  //   tm : the bits of accumulated history that would break THIS
  //        version (reader role for BACKWARD_TRANSITIVE, writer role
  //        for FORWARD_TRANSITIVE).
  // Violation classes live on disjoint bits, so "some earlier
  // version breaks this one under some rule" is exactly
  //   (bit_or(hb) over earlier versions) & tm ≠ 0.
  // ---------------------------------------------------------------

  private def bitIf(c: Column, bit: Int): Column =
    when(c, lit(bit)).otherwise(lit(0))

  /** Bit i set iff slot i is present — bit_count of it is the
    * version's field count.
    */
  private def presentBits: Column =
    (0 until nSlots).map(i =>
      bitIf(col("flds_all")(i)("present"), 1 << i)).reduce(_ + _)

  /** BACKWARD_TRANSITIVE over the corpus (modes.go; checker.go:39
    * iterates ALL earlier versions, not just N-1). The naive
    * formulation pairs every reader version with every earlier
    * writer — O(V²) per subject, the shape that dies on long
    * histories. Re-expressed as O(V) running aggregates per
    * (subject, slot): a reader field is incompatible with SOME
    * earlier writer iff
    *   - it is required/defaultless and was absent from at least one
    *     earlier version (presence count < version-1), or
    *   - some earlier occurrence carried a branch outside this
    *     reader's promotion-closure accept mask (one bit_or of the
    *     earlier branch masks — "(OR of history) ⊄ accepts"), or
    *   - it is required but some earlier writer declared it nullable,
    *     the vocabulary/alias existence bits riding in the SAME
    *     bit_or (enum: vocabularies are nested, so "earlier writer
    *     carries a symbol this reader lacks" is "reader narrow,
    *     history wide"; alias, checker.go:112-:125: the only
    *     unreachable history under the two-name model is
    *     "other-named AND alias-less" — one existence bit per name.
    *     The oracle states both rules pairwise with real subset /
    *     name semantics — parity proves the specializations).
    * All [[nSlots]] slots ride ONE subject window as int arrays; the
    * per-slot history is [[nSlots]] bit_or window expressions over
    * the same spec (one sort), the verdict a row-local bit test, and
    * the output needs no groupBy — a row is already one (subject,
    * version). The oracle states the same semantics pairwise —
    * parity proves the rewrite.
    */
  // hb: this version's contribution to the history mask when it
  // plays the WRITER role for later readers — branch bits plus the
  // was-nullable / wide-vocabulary / other-name-alias-less
  // existence bits; an ABSENT slot contributes only the absence
  // bit (the old presence-count window restated: "presence count <
  // version-1" ⟺ "some earlier version lacked the slot").
  // Object-level (r11) so [[compatGate]] can ride the same algebra in
  // its fused single-window pass.
  private def btHb(i: Int): Column = {
    val f = col("flds_all")(i)
    when(f("present"),
      f("fmask")
        .bitwiseOR(bitIf(f("fnull"), 1024))
        .bitwiseOR(bitIf(f("fsyms") === "A,B,C", 2048))
        .bitwiseOR(bitIf(f("fname") === "nick" && f("falias").isNull, 8192))
        .bitwiseOR(bitIf(f("fname") === "nickname" && f("falias").isNull, 16384)))
      .otherwise(lit(32768))
  }

  // tm, READER role: which history bits break this version's slot.
  //  - some earlier branch outside my promotion closure (the
  //    complement of my accept mask within the type-bit space);
  //  - required: an earlier nullable occurrence (1024) — and if
  //    also defaultless, an earlier absence (32768);
  //  - defaultless narrow enum: an earlier wide vocabulary (2048);
  //  - required+defaultless+alias-less: an earlier alias-less
  //    occurrence of the OTHER name (8192/16384 crossed).
  private def btTm(i: Int): Column = {
    val f = col("flds_all")(i)
    val reqNoDef = !f("fnull") && f("fdefault").isNull
    when(f("present"),
      (lit(allTypeBits) - acceptsMaskOf(f("fmask")))
        .bitwiseOR(bitIf(!f("fnull"), 1024))
        .bitwiseOR(bitIf(f("ftype") === "enum" && f("fdefault").isNull &&
          f("fsyms") === "A,B", 2048))
        .bitwiseOR(bitIf(reqNoDef, 32768))
        .bitwiseOR(bitIf(f("fname") === "nick" && f("falias").isNull && reqNoDef, 16384))
        .bitwiseOR(bitIf(f("fname") === "nickname" && f("falias").isNull && reqNoDef, 8192)))
      .otherwise(lit(0))
  }

  def compatTransitive(s: SparkSession, dir: String): DataFrame =
    transitiveVerdict(s, dir, btHb, btTm, "transitive_ok")

  /** Shared verdict frame for the two transitive scans: one subject
    * window, [[nSlots]] bit_or running aggregates over the hb ints,
    * then the row-local (hist & tm) ≠ 0 per-slot test summed into
    * (n_fields, n_bad_fields, ok).
    */
  private def transitiveVerdict(s: SparkSession, dir: String,
                                hb: Int => Column, tm: Int => Column,
                                okName: String): DataFrame = {
    val base = fieldArrays(s, dir,
      Seq("fname", "ftype", "fnull", "fdefault", "fsyms", "fmask",
        "falias", "present"), withLag = false)
      .select(col("subject"), col("version"), col("ts"), col("event_id"),
        presentBits.as("pbits"),
        array((0 until nSlots).map(hb): _*).as("hb"),
        array((0 until nSlots).map(tm): _*).as("tm"))
    // version is strictly increasing and distinct within the subject
    // partition, so this ROWS frame is identical to
    // RANGE(unboundedPreceding, -1) — a plain running accumulator.
    // Ordered by (ts, event_id) — the same total order that DEFINED
    // version — so the row_number window's sort satisfies this spec
    // and no second per-partition sort is planned (r11).
    val w = Window.partitionBy(col("subject")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val windowed = base
      .withColumn("hist", array((0 until nSlots).map(i =>
        coalesce(bit_or(col("hb")(i)).over(w), lit(0))): _*))
      .filter(col("version") > 1)
    // No trailing global orderBy: range partitioning SAMPLES its
    // child by re-executing it, doubling the whole plan's cost for a
    // cosmetic output order the hash-compared oracle never needs —
    // and a global sort of a 100 TB verdict report is pure waste.
    windowed.select(col("subject"), col("version"),
      bit_count(col("pbits")).cast("long").as("n_fields"),
      (0 until nSlots).map(i =>
        when(col("hist")(i).bitwiseAND(col("tm")(i)) =!= 0, 1L).otherwise(0L))
        .reduce(_ + _).as("n_bad_fields"))
      .withColumn(okName, col("n_bad_fields") === 0)
  }

  /** FORWARD_TRANSITIVE over the corpus (modes.go:23 — ALL earlier
    * versions must be able to read data written by version N). The
    * pairwise formulation is O(V²) readers×writers; re-expressed as
    * O(V) running per-(subject, field) aggregates like
    * [[compatTransitive]], with one twist: the breaking condition can
    * involve a field ABSENT from the writer version (an earlier
    * reader requires it, defaultless — avro/checker.go:129 with roles
    * swapped), so the scan runs over the (version × subject-field-
    * vocabulary) grid, not just the present fields. The vocabulary is
    * a subjects-sized rollup joined back on the subject key; the grid
    * probe into the version's field array is row-local.
    *
    * A writer version N breaks some earlier reader iff, per vocab
    * field:
    *  - absent from N while some earlier occurrence was required and
    *    defaultless (the reader still expects it);
    *  - its type at N conflicts with an earlier occurrence's type
    *    under forward promotion (reader bigint reads writer int, so
    *    writer int only breaks string readers; writer bigint breaks
    *    int and string readers; writer string breaks numeric readers);
    *  - nullable at N while some earlier reader declared it required;
    *  - its enum vocabulary at N is wider than an earlier defaultless
    *    reader's (the old reader meets unknown symbols —
    *    checker.go:182, roles swapped; vocabularies are nested so
    *    "wider writer vs narrow defaultless reader" is exact).
    * The oracle states the same semantics pairwise — parity proves
    * the rewrite.
    */
  // hb, READER role this time (forward: earlier versions READ what
  // version N writes): bits 0-9 accumulate the type bits this
  // reader CANNOT decode (the complement of its accept mask —
  // a later writer breaks iff one of its branches intersects); the
  // higher bits record the existence facts the writer-side rules
  // test — a required defaultless reader (1024), a required reader
  // (2048), a narrow defaultless enum reader (4096), an alias-less
  // required defaultless reader under either name (8192/16384).
  // Slots never present for a subject contribute nothing, so no
  // per-subject vocabulary rollup — and its broadcast join — is
  // needed at all. Object-level (r11) for [[compatGate]]'s fused pass.
  private def ftHb(i: Int): Column = {
    val f = col("flds_all")(i)
    val reqNoDef = !f("fnull") && f("fdefault").isNull
    when(f("present"),
      (lit(allTypeBits) - acceptsMaskOf(f("fmask")))
        .bitwiseOR(bitIf(reqNoDef, 1024))
        .bitwiseOR(bitIf(!f("fnull"), 2048))
        .bitwiseOR(bitIf(f("fsyms") === "A,B" && f("fdefault").isNull, 4096))
        .bitwiseOR(bitIf(f("fname") === "nick" && f("falias").isNull && reqNoDef, 8192))
        .bitwiseOR(bitIf(f("fname") === "nickname" && f("falias").isNull && reqNoDef, 16384)))
      .otherwise(lit(0))
  }

  // tm, WRITER role: version N's slot breaks some earlier reader
  // iff its branch bits hit a type some reader can't decode, it
  // went nullable under a required reader (2048), its vocabulary
  // widened past a narrow defaultless reader (4096), it is
  // alias-less under a rename that strands the other name's
  // required defaultless reader (crossed 8192/16384) — or the slot
  // is ABSENT from N while some required defaultless reader still
  // expects it (1024).
  private def ftTm(i: Int): Column = {
    val f = col("flds_all")(i)
    when(f("present"),
      f("fmask")
        .bitwiseOR(bitIf(f("fnull"), 2048))
        .bitwiseOR(bitIf(f("fsyms") === "A,B,C", 4096))
        .bitwiseOR(bitIf(f("fname") === "nick" && f("falias").isNull, 16384))
        .bitwiseOR(bitIf(f("fname") === "nickname" && f("falias").isNull, 8192)))
      .otherwise(lit(1024))
  }

  def compatFTransitive(s: SparkSession, dir: String): DataFrame = {
    transitiveVerdict(s, dir, ftHb, ftTm, "ftransitive_ok")
  }

  /** The RegisterSchema admission gate (registry.go CheckCompatibility
    * + modes.go): each subject's configured compatibility mode is
    * resolved (GetConfig fallback — here the mode derives
    * deterministically from the subject id so all seven modes occur
    * in the corpus), then the modes.go decision matrix
    * (RequiresBackward :54, RequiresForward :64, IsTransitive :44,
    * NONE disabling checks :9) picks which of the four verdict
    * streams gate version N's registration. Composes
    * [[compatScan]]/[[compatForwardScan]]/[[compatTransitive]]/
    * [[compatFTransitive]] on their shared (subject, version) key —
    * the same composition shape as reg_migration over compat_scan.
    */
  // ---------------------------------------------------------------
  // Packed slot-profile plumbing for the fused [[compatGate]]: one
  // int per slot carrying everything any of the four verdicts tests.
  // Bits 0-9 the branch mask, 10-19 its promotion-closure accept mask
  // (precomputed once — acceptsMaskOf references its argument ~6x, so
  // inlining it per USE site was a major term in the expression
  // blowup), then paired presence/requiredness bits where the model
  // boolean is nullable (a NULL sets NEITHER bit, preserving
  // three-valued logic — see the equivalence notes in compatGate).
  // ---------------------------------------------------------------
  private val ppPres = 1 << 20 // present definitely true
  private val ppAbs = 1 << 21 // present definitely false
  private val ppReq = 1 << 22 // fnull definitely false (required)
  private val ppNul = 1 << 23 // fnull definitely true (nullable)
  private val ppDef = 1 << 24 // fdefault present
  private val ppEnum = 1 << 25 // ftype == enum
  private val ppWide = 1 << 26 // fsyms == A,B,C
  private val ppNarrow = 1 << 27 // fsyms == A,B
  private val ppNick = 1 << 28 // fname == nick
  private val ppNickname = 1 << 29 // fname == nickname
  private val ppAlias = 1 << 30 // falias declared

  private def ppSlot(i: Int): Column = {
    val f = col("flds_all")(i)
    f("fmask")
      .bitwiseOR(shiftleft(acceptsMaskOf(f("fmask")), 10))
      .bitwiseOR(bitIf(f("present"), ppPres))
      .bitwiseOR(bitIf(!f("present"), ppAbs))
      .bitwiseOR(bitIf(!f("fnull"), ppReq))
      .bitwiseOR(bitIf(f("fnull"), ppNul))
      .bitwiseOR(bitIf(f("fdefault").isNotNull, ppDef))
      .bitwiseOR(bitIf(f("ftype") === "enum", ppEnum))
      .bitwiseOR(bitIf(f("fsyms") === "A,B,C", ppWide))
      .bitwiseOR(bitIf(f("fsyms") === "A,B", ppNarrow))
      .bitwiseOR(bitIf(f("fname") === "nick", ppNick))
      .bitwiseOR(bitIf(f("fname") === "nickname", ppNickname))
      .bitwiseOR(bitIf(f("falias").isNotNull, ppAlias))
  }

  private def ppBit(p: Column, bit: Int): Column =
    p.bitwiseAND(lit(bit)) =!= 0

  /** One slot's backward violation verdict, reader profile array `rp`
    * vs writer profile array `wp` — the forward check is the same
    * algebra with the arrays swapped (the original scans state both
    * directions with one reader-vs-writer rule set too).
    */
  private def ppBackViol(i: Int, rp: Column, wp: Column): Column = {
    val r = rp(i)
    val w = wp(i)
    val nameMatch =
      if (i == nickSlot)
        (r.bitwiseXOR(w).bitwiseAND(lit(ppNick | ppNickname)) === 0) ||
          ppBit(r, ppAlias) || ppBit(w, ppAlias)
      else lit(true)
    val wPres = ppBit(w, ppPres) && nameMatch
    val wAbsent = ppBit(w, ppAbs) || (ppBit(w, ppPres) && !nameMatch)
    val wMask = w.bitwiseAND(lit(1023))
    ppBit(r, ppPres) && (
      (wAbsent && ppBit(r, ppReq) && !ppBit(r, ppDef)) ||
        (wPres &&
          wMask.bitwiseAND(shiftright(r, 10).bitwiseAND(lit(1023))) =!= wMask) ||
        (wPres && ppBit(r, ppReq) && ppBit(w, ppNul)) ||
        (ppBit(r, ppEnum) && wPres && ppBit(w, ppEnum) && !ppBit(r, ppDef) &&
          ppBit(w, ppWide) && !ppBit(r, ppWide)))
  }

  /** [[btHb]]/[[btTm]]/[[ftHb]]/[[ftTm]] restated over a packed slot
    * profile — same bits, same absent-slot `otherwise` values (an
    * unset ppPres covers both the false and the NULL present cases,
    * exactly like `when(present, ...)` falling through).
    */
  private def ppBtHb(p: Column): Column =
    when(ppBit(p, ppPres),
      p.bitwiseAND(lit(1023))
        .bitwiseOR(bitIf(ppBit(p, ppNul), 1024))
        .bitwiseOR(bitIf(ppBit(p, ppWide), 2048))
        .bitwiseOR(bitIf(ppBit(p, ppNick) && !ppBit(p, ppAlias), 8192))
        .bitwiseOR(bitIf(ppBit(p, ppNickname) && !ppBit(p, ppAlias), 16384)))
      .otherwise(lit(32768))

  private def ppBtTm(p: Column): Column = {
    val reqNoDef = ppBit(p, ppReq) && !ppBit(p, ppDef)
    when(ppBit(p, ppPres),
      (lit(allTypeBits) - shiftright(p, 10).bitwiseAND(lit(1023)))
        .bitwiseOR(bitIf(ppBit(p, ppReq), 1024))
        .bitwiseOR(bitIf(ppBit(p, ppEnum) && !ppBit(p, ppDef) &&
          ppBit(p, ppNarrow), 2048))
        .bitwiseOR(bitIf(reqNoDef, 32768))
        .bitwiseOR(bitIf(ppBit(p, ppNick) && !ppBit(p, ppAlias) && reqNoDef, 16384))
        .bitwiseOR(bitIf(ppBit(p, ppNickname) && !ppBit(p, ppAlias) && reqNoDef, 8192)))
      .otherwise(lit(0))
  }

  private def ppFtHb(p: Column): Column = {
    val reqNoDef = ppBit(p, ppReq) && !ppBit(p, ppDef)
    when(ppBit(p, ppPres),
      (lit(allTypeBits) - shiftright(p, 10).bitwiseAND(lit(1023)))
        .bitwiseOR(bitIf(reqNoDef, 1024))
        .bitwiseOR(bitIf(ppBit(p, ppReq), 2048))
        .bitwiseOR(bitIf(ppBit(p, ppNarrow) && !ppBit(p, ppDef), 4096))
        .bitwiseOR(bitIf(ppBit(p, ppNick) && !ppBit(p, ppAlias) && reqNoDef, 8192))
        .bitwiseOR(bitIf(ppBit(p, ppNickname) && !ppBit(p, ppAlias) && reqNoDef, 16384)))
      .otherwise(lit(0))
  }

  private def ppFtTm(p: Column): Column =
    when(ppBit(p, ppPres),
      p.bitwiseAND(lit(1023))
        .bitwiseOR(bitIf(ppBit(p, ppNul), 2048))
        .bitwiseOR(bitIf(ppBit(p, ppWide), 4096))
        .bitwiseOR(bitIf(ppBit(p, ppNick) && !ppBit(p, ppAlias), 16384))
        .bitwiseOR(bitIf(ppBit(p, ppNickname) && !ppBit(p, ppAlias), 8192)))
      .otherwise(lit(1024))

  def compatGate(s: SparkSession, dir: String): DataFrame = {
    val modes = Seq("NONE", "BACKWARD", "FORWARD", "FULL",
      "BACKWARD_TRANSITIVE", "FORWARD_TRANSITIVE", "FULL_TRANSITIVE")
    val modeCol = element_at(
      array(modes.map(lit): _*), (col("subject") % 7 + 1).cast("int"))
    // FUSED verdict pass (r11): the four streams are row-aligned by
    // construction — every one is a per-(subject, version) verdict
    // over the SAME field model — so composing them as separate scans
    // joined on (subject, version) paid 4 model builds, 4 window
    // sorts and 3 joins for what ONE window pass computes row-locally
    // (guide §2.4 "two operations keyed the same way can share one
    // exchange"). A first fused cut lagged the full struct array and
    // stated the N-vs-N-1 checks on strings per slot: the merged
    // Project blew HotSpot's huge-method limit and the WHOLE plan ran
    // interpreted (0 codegen spans, cpu 47→447s). This form therefore
    // extends the transitive scans' packed-int discipline to the
    // pairwise checks: one profile int per slot, packed ONCE at model
    // build ([[ppSlot]]), lagged as an int array, and every verdict a
    // bit test — each stage's generated method stays small.
    //
    // Equivalences (parity proves them; the gate's oracle is the four
    // scan oracles composed pairwise):
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
    //  - null-faithfulness: nullable model booleans (present of
    //    email/status, fnull of name) pack as PAIRED bits (PRES/ABS,
    //    REQ/NUL) where a NULL sets neither — every clause reads the
    //    bit whose set-state implies the original three-valued
    //    conjunct was definitely true, so a hypothetical null-k row
    //    yields bit-identical verdicts (k is never null in driver
    //    data; this keeps the algebra honest anyway).
    val b_ok = !(0 until nSlots).map(i => ppBackViol(i, col("pp"), col("wpp"))).reduce(_ || _)
    val f_ok = !(0 until nSlots).map(i => ppBackViol(i, col("wpp"), col("pp"))).reduce(_ || _)
    val base = fieldArrays(s, dir,
      Seq("fname", "ftype", "fnull", "fdefault", "fsyms", "fmask",
        "falias", "present"), withLag = false)
      .select(col("subject"), col("version"), col("ts"), col("event_id"),
        array((0 until nSlots).map(ppSlot): _*).as("pp"))
    // ordered by (ts, event_id) — the SAME total order that defined
    // version (row_number over it), so the row_number window's sort
    // is reused and no second per-partition sort on `version` is
    // planned (ROWS frames are position-based; position is identical
    // under either spelling).
    val wLag = Window.partitionBy(col("subject"))
      .orderBy(col("ts"), col("event_id"))
    val w = wLag.rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("wpp", lag(col("pp"), 1).over(wLag))
      .select(col("subject"), col("version"), col("ts"), col("event_id"),
        col("pp"), col("wpp"),
        array((0 until nSlots).map(i => ppBtHb(col("pp")(i))): _*).as("bhb"),
        array((0 until nSlots).map(i => ppFtHb(col("pp")(i))): _*).as("fhb"))
      .withColumn("bhist", array((0 until nSlots).map(i =>
        coalesce(bit_or(col("bhb")(i)).over(w), lit(0))): _*))
      .withColumn("fhist", array((0 until nSlots).map(i =>
        coalesce(bit_or(col("fhb")(i)).over(w), lit(0))): _*))
      .filter(col("version") > 1)
      .withColumn("b_ok", b_ok)
      .withColumn("f_ok", f_ok)
      .withColumn("bt_ok", !(0 until nSlots).map(i =>
        col("bhist")(i).bitwiseAND(ppBtTm(col("pp")(i))) =!= 0).reduce(_ || _))
      .withColumn("ft_ok", !(0 until nSlots).map(i =>
        col("fhist")(i).bitwiseAND(ppFtTm(col("pp")(i))) =!= 0).reduce(_ || _))
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
    // avro/checker.go rules as [[backwardFieldChecks]], as a scalar —
    // type resolution via the shared mask algebra (promotion matrix
    // + union branch sets).
    def viol(fname: String, ftype: String, fnull: Boolean,
             fdefault: Option[String], fsyms: Option[String],
             funion: Option[String] = None): Column = {
      val w = get(filter(col("flds"), x => x("fname") === lit(fname)), lit(0))
      val noDefault = lit(fdefault.isEmpty)
      // the candidate's accept mask is a compile-time constant
      val candAccepts = lit(acceptsMaskInt(maskInt(ftype, funion)))
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
      (wf("fmask").bitwiseAND(acceptsMaskOf(r("fmask"))) === wf("fmask"))
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
    val ev = Tables.events(s, dir).select(
      col("user_id").as("subject"), col("ts"), col("event_id"),
      get_json_object(col("props"), "$.k").cast("bigint").as("k"))
    val w = Window.partitionBy(col("subject")).orderBy(col("ts"), col("event_id"))
    def p(path: String, ptype: Column, pnull: Column, present: Column,
          pmask: Column): Column =
      struct(lit(path).as("path"), ptype.as("ptype"), pnull.as("pnull"),
        pmask.as("pmask"), present.as("present"))
    val geoPresent = col("k") % lit(5) < 3
    ev
      .withColumn("version", row_number().over(w))
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
      .withColumn("w_paths", lag(col("paths_all"), 1).over(w))
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
    * are the `[]`/`{}` child paths). Same one-window positional
    * shape as [[backwardFieldChecks]].
    */
  def nestedScan(s: SparkSession, dir: String): DataFrame = {
    val versioned = pathArrays(s, dir).filter(col("version") > 1)
    val perPath = versioned
      .select(col("subject"), col("version"), col("w_paths"),
        posexplode(col("paths_all")).as(Seq("pos", "pth")))
      .where(col("pth.present"))
      .withColumn("wp", element_at(col("w_paths"), col("pos") + 1))
    val r = col("pth")
    val wp = col("wp")
    val violation =
      (!wp("present") && !r("pnull")) ||
        (wp("present") &&
          wp("pmask").bitwiseAND(acceptsMaskOf(r("pmask"))) =!= wp("pmask")) ||
        (wp("present") && !r("pnull") && wp("pnull"))
    perPath
      .groupBy(col("subject"), col("version"))
      .agg(count(lit(1)).as("n_paths"),
        sum(when(violation, 1L).otherwise(0L)).as("n_violations"))
      .withColumn("nested_ok", col("n_violations") === 0)
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
    val w = Window.partitionBy(col("subject")).orderBy(col("ts"), col("event_id"))
    val k = col("k")
    val wk = col("w_k")
    def b(c: Column): Column = when(c, 1L).otherwise(0L)
    val recRenamed = (k % 21 < 11) =!= (wk % 21 < 11)
    val rescued = (k % 37 < 19) || (wk % 37 < 19)
    Tables.events(s, dir)
      .select(col("user_id").as("subject"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .withColumn("version", row_number().over(w))
      .withColumn("w_k", lag(col("k"), 1).over(w))
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
