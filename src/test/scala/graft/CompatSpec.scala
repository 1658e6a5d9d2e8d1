package graft

import graft.compat.{AvroFields, SchemaCompat}
import graft.compat.SchemaCompat._
import org.apache.spark.sql.types._

class CompatSpec extends SparkSpec {

  private def st(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nb) => StructField(n, t, nb) })

  private val v1 = st(("id", LongType, false), ("name", StringType, true))

  test("NONE mode always passes") {
    val r = SchemaCompat.check(None_, st(("x", StringType, false)), Seq(v1))
    assert(r.isCompatible)
  }

  test("empty history always passes") {
    assert(SchemaCompat.check(Backward, v1, Nil).isCompatible)
  }

  test("backward: nullable added field ok, required added field fails") {
    val ok = v1.add(StructField("email", StringType, nullable = true))
    val bad = v1.add(StructField("email", StringType, nullable = false))
    assert(SchemaCompat.check(Backward, ok, Seq(v1)).isCompatible)
    val r = SchemaCompat.check(Backward, bad, Seq(v1))
    assert(!r.isCompatible && r.messages.head.contains("email"))
  }

  test("promotions: int->long ok both never narrows") {
    val oldS = st(("id", IntegerType, false))
    val newS = st(("id", LongType, false))
    assert(SchemaCompat.check(Backward, newS, Seq(oldS)).isCompatible)
    assert(!SchemaCompat.check(Backward, oldS, Seq(newS)).isCompatible)
  }

  test("full transitive checks every version in both directions") {
    val v0 = st(("id", LongType, false))
    val v2 = st(("id", LongType, false), ("name", StringType, true), ("tag", StringType, true))
    val r = SchemaCompat.check(FullTransitive, v2, Seq(v0, v1))
    assert(r.isCompatible) // all additions nullable → readable both ways
    val breaking = st(("id", StringType, false))
    assert(!SchemaCompat.check(FullTransitive, breaking, Seq(v0, v1)).isCompatible)
  }

  test("nested array/map element types are checked") {
    val oldS = st(("tags", ArrayType(IntegerType), true))
    val newS = st(("tags", ArrayType(LongType), true))
    assert(SchemaCompat.check(Backward, newS, Seq(oldS)).isCompatible)
    assert(!SchemaCompat.check(Backward, oldS, Seq(newS)).isCompatible)
  }

  test("mode parse roundtrip and unknown mode rejected") {
    assert(Mode.parse("full_transitive") == FullTransitive)
    intercept[IllegalArgumentException](Mode.parse("SIDEWAYS"))
  }

  /** The spec-side rebuild of [[operators.Compat.fieldArrays]]'
    * synthetic version model as a StructType — including the Avro
    * metadata dimensions (default, enum symbols) on `status`.
    */
  private def schemaOf(k: Long): StructType = {
    val base = Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = k % 2 == 0)) ++
      (if (k % 3 == 0) Seq(StructField("email", StringType, nullable = true)) else Nil) :+
      StructField("score", if (k % 4 < 2) IntegerType else LongType, nullable = false)
    val status = if (k % 3 < 2) {
      val b = new MetadataBuilder()
      if (k % 5 < 3) b.putString("default", "A")
      b.putStringArray("enumSymbols",
        if (k % 2 == 0) Array("A", "B") else Array("A", "B", "C"))
      Seq(StructField("status", StringType, nullable = false, b.build()))
    } else Nil
    val ratio = StructField("ratio",
      if (k % 9 < 2) IntegerType else if (k % 9 < 4) LongType
      else if (k % 9 < 6) FloatType else DoubleType, nullable = true)
    val payload = StructField("payload",
      if (k % 13 < 7) StringType else BinaryType, nullable = true)
    val ref =
      if (k % 6 == 0) StructField("ref", IntegerType, nullable = true)
      else if (k % 6 == 1) StructField("ref", StringType, nullable = true)
      else {
        val b = new MetadataBuilder()
        b.putStringArray("unionBranches",
          if (k % 6 == 2) Array("bigint", "null", "string")
          else if (k % 6 == 3) Array("bigint", "string")
          else Array("null", "string"))
        StructField("ref", StringType, nullable = true, b.build())
      }
    val token = {
      val b = new MetadataBuilder()
      b.putStringArray("unionBranches",
        if (k % 23 < 12) Array("fixed8") else Array("fixed16"))
      StructField("token", BinaryType, nullable = true, b.build())
    }
    val nick = {
      val b = new MetadataBuilder()
      if (k % 31 < 16)
        b.putStringArray("aliases", Array(if (k % 29 < 15) "nickname" else "nick"))
      StructField(if (k % 29 < 15) "nick" else "nickname", StringType,
        nullable = false, b.build())
    }
    StructType(base ++ status ++ Seq(ratio, payload, ref, token, nick))
  }

  /** Per-subject ordered k-sequences for a handful of subjects. */
  private def subjectHistories(limit: Long): Map[Long, Seq[Long]] = {
    import org.apache.spark.sql.functions._
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("user_id") < limit)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), (r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id")), r.getAs[Long]("k")))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.sortBy(_._2).map(_._3).toSeq }
  }

  test("compat_scan relational checker agrees with the StructType checker") {
    import org.apache.spark.sql.functions._
    val df = operators.Compat.compatScan(spark, sfDir)
    val scan = df.collect().map(r =>
      (r.getAs[Long]("subject"), r.getAs[Int]("version")) -> r.getAs[Boolean]("compatible")).toMap
    assert(scan.nonEmpty)
    assert(scan.values.exists(identity) && scan.values.exists(!_),
      "corpus must exercise both compatible and incompatible transitions")
    // Rebuild the same per-version StructTypes for a handful of subjects
    // and replay them through SchemaCompat — the relational join must
    // reach the same verdict as the recursive checker.
    val hist = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("user_id") < 5)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), (r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id")), r.getAs[Long]("k")))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.sortBy(_._2).map(_._3).toSeq }
    var checked = 0
    hist.foreach { case (subject, ks) =>
      ks.sliding(2).zipWithIndex.foreach {
        case (Seq(prevK, curK), i) =>
          val expected = SchemaCompat.check(Backward, schemaOf(curK), Seq(schemaOf(prevK))).isCompatible
          assert(scan((subject, i + 2)) == expected,
            s"subject $subject v${i + 2}: relational=$expected mismatch")
          checked += 1
        case _ =>
      }
    }
    assert(checked > 10)
  }

  test("battery query matches hand-traced verdicts") {
    val rows = operators.Compat.checkBattery(spark, sfDir).collect()
    assert(rows.length == 31)
    val verdicts = rows.map(r => r.getAs[Int]("case_id") -> r.getAs[Boolean]("compatible")).toMap
    assert(verdicts == Map(1 -> true, 2 -> false, 3 -> true, 4 -> false, 5 -> true,
      6 -> false, 7 -> true, 8 -> false, 9 -> false, 10 -> true,
      11 -> true, 12 -> false, 13 -> true, 14 -> true, 15 -> false,
      16 -> false, 17 -> true, 18 -> true, 19 -> true, 20 -> false,
      21 -> false, 22 -> true, 23 -> true, 24 -> false,
      25 -> false, 26 -> true, 27 -> true, 28 -> false, 29 -> false,
      30 -> false, 31 -> true))
    // case 28: the name mismatch must be the ONLY message — the
    // checker stops at the unresolvable name and never reaches the
    // double->float narrowing inside (checkRecord :106-:110)
    val c28 = rows.find(_.getAs[Int]("case_id") == 28).get
    assert(c28.getAs[Long]("n_messages") == 1L)
  }

  test("compat_named: name rules flip both ways; record aliases rescue, enum/fixed never do") {
    val rows = operators.Compat.namedScan(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // verdicts are data-driven both ways
    assert(rows.exists(_.getAs[Boolean]("named_ok")))
    assert(rows.exists(!_.getAs[Boolean]("named_ok")))
    // record renames do get rescued by type-level aliases on data,
    // and a rescued step with no other break stays compatible
    assert(rows.exists(_.getAs[Long]("n_rescued") > 0))
    assert(rows.exists(r => r.getAs[Long]("n_rescued") > 0 && r.getAs[Boolean]("named_ok")),
      "an alias-rescued record rename alone must not break")
    // unrescued breaks reach 3 (record+enum+fixed can all flip at once)
    assert(rows.exists(_.getAs[Long]("n_name_break") >= 2))
  }

  test("compat_union: transitions fire in every shape, verdicts flip both ways") {
    val rows = operators.Compat.unionScan(spark, sfDir).collect()
      .map(r => (r.getAs[String]("transition"), r.getAs[Boolean]("union_ok")))
    val byTransition = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // all four shape transitions occur on the corpus
    assert(byTransition.keySet == Set(
      "scalar_to_scalar", "scalar_to_union", "union_to_scalar", "union_to_union"))
    // widening vs narrowing makes union_to_union carry both verdicts;
    // same for scalar_to_union (T→[null,T] legal; int-reader unions
    // reading string writers are not readable the other way around)
    assert(byTransition("union_to_union") == Set(true, false))
    assert(byTransition("scalar_to_union").contains(true), "T -> [null,T] must be legal")
    assert(byTransition("union_to_scalar").contains(false),
      "dropping the null branch must break somewhere on the corpus")
  }

  test("compat_nested catches breaks the flat scans cannot see") {
    val flat = operators.Compat.compatScan(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("subject"), r.getAs[Int]("version")) -> r.getAs[Boolean]("compatible")).toMap
    val nested = operators.Compat.nestedScan(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("subject"), r.getAs[Int]("version")) -> r.getAs[Boolean]("nested_ok")).toMap
    assert(nested.values.exists(identity) && nested.values.exists(!_),
      "nested verdicts must flip both ways on the corpus")
    val nestedOnly = nested.collect { case (k, ok) if !ok && flat.getOrElse(k, true) => k }
    assert(nestedOnly.nonEmpty,
      "some version step must break ONLY at a nested path (invisible to the flat scans)")
  }

  test("mask algebra == brute-force branch-set semantics on all pairs (property)") {
    // The scans' entire type resolution is the model's integer bitmask
    // algebra (AvroFields.maskInt/accepts, the Column lookup
    // Compat.acceptsOf, and the branch-name AvroFields.promotes that
    // SchemaCompat resolves unions with). Pin it against
    // the definitional form: every writer branch must be readable by
    // some reader branch under the promotion matrix — enumerated over
    // ALL pairs of non-empty branch sets drawn from realistic union
    // shapes plus every scalar.
    val vocab = Seq("int", "bigint", "float", "double", "string", "bytes",
      "enum", "null", "fixed8", "fixed16")
    val promo = Map(
      "bigint" -> Set("bigint", "int"),
      "float" -> Set("float", "bigint", "int"),
      "double" -> Set("double", "float", "bigint", "int"),
      "string" -> Set("string", "bytes"),
      "bytes" -> Set("bytes", "string"))
    def accepts(b: String): Set[String] = promo.getOrElse(b, Set(b))
    val shapes: Seq[Seq[String]] =
      vocab.map(Seq(_)) ++ Seq(
        Seq("null", "string"), Seq("bigint", "null", "string"),
        Seq("bigint", "string"), Seq("null", "int"), Seq("float", "string"),
        Seq("null", "double", "bytes"), Seq("fixed8", "null"))
    var checked = 0
    for (r <- shapes; w <- shapes) {
      val expectBreak = !w.forall(wb => r.exists(rb => accepts(rb)(wb)))
      val rm = AvroFields.maskInt(r.head, if (r.size > 1) Some(r.mkString(",")) else None)
      val wm = AvroFields.maskInt(w.head, if (w.size > 1) Some(w.mkString(",")) else None)
      val maskBreak = (wm & AvroFields.accepts(rm)) != wm
      assert(maskBreak == expectBreak, s"reader=$r writer=$w")
      val nameBreak = !w.forall(wb => r.exists(AvroFields.promotes(wb, _)))
      assert(nameBreak == expectBreak, s"by name: reader=$r writer=$w")
      checked += 1
    }
    assert(checked == shapes.size * shapes.size)
    // the Column form agrees with the Scala closure on every mask
    import org.apache.spark.sql.functions.col
    val masks = 0 until (1 << AvroFields.typeWidth)
    val got = spark.range(masks.size).select(operators.Compat.acceptsOf(col("id").cast("int")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == masks.map(AvroFields.accepts))
  }

  test("alias dimension is live on the corpus: renames break only when unrescued") {
    import org.apache.spark.sql.functions._
    val steps = Tables.events(spark, sfDir)
      .select(col("user_id").as("subject"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("version", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("subject"))
          .orderBy(col("ts"), col("event_id"))))
      .withColumn("w_k", lag(col("k"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("subject"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("version") > 1)
      .collect().map(r => (r.getAs[Long]("subject"), r.getAs[Int]("version"),
        r.getAs[Long]("k"), r.getAs[Long]("w_k")))
    def name(k: Long) = if (k % 29 < 15) "nick" else "nickname"
    def hasAlias(k: Long) = k % 31 < 16
    val renamed = steps.filter { case (_, _, k, wk) => name(k) != name(wk) }
    val rescued = renamed.filter { case (_, _, k, wk) => hasAlias(k) || hasAlias(wk) }
    val unrescued = renamed.filterNot { case (_, _, k, wk) => hasAlias(k) || hasAlias(wk) }
    assert(rescued.nonEmpty && unrescued.nonEmpty, "both rename kinds must occur")
    // every unrescued rename surfaces as a missing_default diagnosis
    // on the slot's new name; no rescued rename does
    val flagged = operators.Compat.compatExplain(spark, sfDir)
      .filter(col("fname").isin("nick", "nickname") && col("violation") === "missing_default")
      .select("subject", "version").collect()
      .map(r => (r.getAs[Long]("subject"), r.getAs[Int]("version"))).toSet
    unrescued.foreach { case (s, v, _, _) =>
      assert(flagged((s, v)), s"unrescued rename at ($s, $v) not flagged") }
    rescued.foreach { case (s, v, _, _) =>
      assert(!flagged((s, v)), s"rescued rename at ($s, $v) wrongly flagged") }
  }

  test("aliases: a rename is rescued by reader OR writer aliases, and only then") {
    def af(name: String, alias: String*): StructField = {
      val b = new MetadataBuilder()
      if (alias.nonEmpty) b.putStringArray("aliases", alias.toArray)
      StructField(name, StringType, nullable = false, b.build())
    }
    val writerOld = StructType(Seq(af("nick")))
    // reader alias probes the writer map (findWriterField :125)
    assert(SchemaCompat.check(Backward, StructType(Seq(af("nickname", "nick"))), Seq(writerOld)).isCompatible)
    // writer alias exposes the field under the new name (:112)
    assert(SchemaCompat.check(Backward, StructType(Seq(af("nickname"))),
      Seq(StructType(Seq(af("nick", "nickname"))))).isCompatible)
    // no alias: the rename is an add+remove, reader required+defaultless breaks
    assert(!SchemaCompat.check(Backward, StructType(Seq(af("nickname"))), Seq(writerOld)).isCompatible)
  }

  test("union resolution: the three checker cases via metadata branch sets") {
    def uf(branches: String*): StructField = {
      val b = new MetadataBuilder()
      b.putStringArray("unionBranches", branches.toArray)
      StructField("u", StringType, nullable = true, b.build())
    }
    val scalarStr = StructType(Seq(StructField("u", StringType, nullable = true)))
    val scalarInt = StructType(Seq(StructField("u", IntegerType, nullable = true)))
    val nullStr = StructType(Seq(uf("null", "string")))
    val wide = StructType(Seq(uf("bigint", "null", "string")))
    // checkReaderUnion: writer scalar must land in some reader branch
    assert(SchemaCompat.check(Backward, nullStr, Seq(scalarStr)).isCompatible)
    assert(SchemaCompat.check(Backward, wide, Seq(scalarInt)).isCompatible) // int→bigint branch
    assert(!SchemaCompat.check(Backward, nullStr, Seq(scalarInt)).isCompatible)
    // checkWriterUnion: every writer branch must be readable by scalar reader
    assert(!SchemaCompat.check(Backward, scalarStr, Seq(nullStr)).isCompatible)
    // checkUnion: writer branches ⊆ reader accept closure
    assert(SchemaCompat.check(Backward, wide, Seq(nullStr)).isCompatible)
    assert(!SchemaCompat.check(Backward, nullStr, Seq(wide)).isCompatible)
  }

  test("defaults rescue added-required fields; enum narrowing breaks — both live on the corpus") {
    // Strip the metadata dimensions from a reader schema: what the
    // pre-Avro-rules checker saw. A verdict that differs proves the
    // new rule changed a real corpus outcome, in the claimed
    // direction.
    def stripped(stc: StructType): StructType =
      StructType(stc.fields.map(f => StructField(f.name, f.dataType, f.nullable)))
    var rescues, enumBreaks, checked = 0
    subjectHistories(50).values.foreach { ks =>
      ks.sliding(2).foreach {
        case Seq(prevK, curK) =>
          checked += 1
          val withMeta = SchemaCompat.check(Backward, schemaOf(curK), Seq(schemaOf(prevK)))
          val withoutMeta = SchemaCompat.check(Backward, stripped(schemaOf(curK)), Seq(stripped(schemaOf(prevK))))
          // default rescued a required-field addition the old rules flagged
          if (withMeta.isCompatible && !withoutMeta.isCompatible) rescues += 1
          // enum narrowing the old rules could not see
          if (withMeta.messages.exists(_.contains("enum symbols"))) enumBreaks += 1
        case _ =>
      }
    }
    assert(checked > 50)
    assert(rescues > 0, "no version where a default rescued an added required field")
    assert(enumBreaks > 0, "no version with an enum-symbol break")
  }

  test("explain rows account exactly for the scan's violated fields, all 5 classes live") {
    import org.apache.spark.sql.functions._
    val explain = operators.Compat.compatExplain(spark, sfDir)
    val classes = explain.select("violation").distinct().collect().map(_.getString(0)).toSet
    assert(classes == Set("missing_default", "type_change", "type_narrowed",
      "required_reads_nullable", "enum_symbols"),
      s"every diagnosis class must occur on the corpus, got $classes")
    // compat_scan counts violated FIELDS (a field breaking two rules
    // counts once); explain's distinct (subject, version, fname) must
    // reconcile exactly
    val explained = explain.select("subject", "version", "fname").distinct().count()
    val scanned = operators.Compat.compatScan(spark, sfDir)
      .agg(sum(col("n_violations"))).head().getLong(0)
    assert(explained == scanned, s"explain covers $explained fields, scan counted $scanned")
    assert(explain.collect().forall(_.getAs[String]("suggestion").nonEmpty))
  }

  test("transitive mode is at least as strict as the N-vs-N-1 scan") {
    import org.apache.spark.sql.functions.col
    val scan = operators.Compat.compatScan(spark, sfDir)
      .select(col("subject"), col("version"), col("compatible"))
    val trans = operators.Compat.compatTransitive(spark, sfDir)
      .select(col("subject"), col("version"), col("transitive_ok"))
    assert(trans.count() == scan.count())
    // transitive_ok ⇒ compatible vs N-1 (the predecessor is one of the writers)
    val contradictions = trans.join(scan, Seq("subject", "version"))
      .filter(col("transitive_ok") && !col("compatible")).count()
    assert(contradictions == 0)
    // and strictly stricter somewhere on this corpus
    val stricter = trans.join(scan, Seq("subject", "version"))
      .filter(!col("transitive_ok") && col("compatible")).count()
    assert(stricter > 0, "expected at least one version that passes N-1 but fails transitive")
  }

  test("forward-transitive is at least as strict as the one-step forward scan") {
    import org.apache.spark.sql.functions.col
    val fwd = operators.Compat.compatForwardScan(spark, sfDir)
      .select(col("subject"), col("version"), col("forward_ok"))
    val ft = operators.Compat.compatFTransitive(spark, sfDir)
      .select(col("subject"), col("version"), col("ftransitive_ok"))
    assert(ft.count() == fwd.count())
    // ftransitive_ok ⇒ forward_ok: the N-1 reader is one of the earlier readers
    val contradictions = ft.join(fwd, Seq("subject", "version"))
      .filter(col("ftransitive_ok") && !col("forward_ok")).count()
    assert(contradictions == 0)
    // and strictly stricter somewhere on this corpus
    val stricter = ft.join(fwd, Seq("subject", "version"))
      .filter(!col("ftransitive_ok") && col("forward_ok")).count()
    assert(stricter > 0, "expected a version that passes one-step forward but fails transitive")
  }

  /** sf0.001 events with `props` = '{}' on every 7th event_id, so k is
    * NULL there: the conditional fields (email, status) are absent and
    * `name`'s nullability is unknown. The generated test data never has
    * a NULL k, so this is the only place those versions are checked.
    */
  private lazy val nullKDir: String = {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-nullk").toString
    Tables.events(spark, sfDir)
      .withColumn("props", when(col("event_id") % 7 === 0, lit("{}")).otherwise(col("props")))
      .write.parquet(s"$dir/events.parquet")
    val nullK = operators.Compat.fieldArrays(spark, dir)
      .filter(col("k").isNull && col("version") > 1).count()
    assert(nullK > 0, "the fixture must contain NULL-k versions past the first")
    dir
  }

  /** compat_gate's `allowed` against the four scans, mode by mode:
    * BACKWARD = compat_scan, FORWARD = compat_forward_scan, the
    * transitive modes = compat_transitive / compat_ftransitive, FULL
    * and FULL_TRANSITIVE their exact conjunctions, NONE always. The
    * gate states its rules over the packed slot profile, the one-step
    * scans over the slot structs, so this ties the two forms.
    */
  private def assertGateReconciles(dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val gate = operators.Compat.compatGate(spark, dir)
    val rows = gate.collect()
    // every mode occurs (subject % 7 covers the mode vocabulary)
    val modes = rows.map(_.getAs[String]("mode")).toSet
    assert(modes == Set("NONE", "BACKWARD", "FORWARD", "FULL",
      "BACKWARD_TRANSITIVE", "FORWARD_TRANSITIVE", "FULL_TRANSITIVE"))
    // matrix flags match the mode string (RequiresBackward/RequiresForward/IsTransitive)
    rows.foreach { r =>
      val m = r.getAs[String]("mode")
      assert(r.getAs[Boolean]("req_backward") ==
        Set("BACKWARD", "BACKWARD_TRANSITIVE", "FULL", "FULL_TRANSITIVE").contains(m))
      assert(r.getAs[Boolean]("req_forward") ==
        Set("FORWARD", "FORWARD_TRANSITIVE", "FULL", "FULL_TRANSITIVE").contains(m))
      assert(r.getAs[Boolean]("transitive") == m.endsWith("TRANSITIVE"))
    }
    val keys = Seq("subject", "version")
    def verdict(df: org.apache.spark.sql.DataFrame, ok: String, as: String) =
      df.select(col("subject"), col("version"), col(ok).as(as))
    val verdicts = verdict(operators.Compat.compatScan(spark, dir), "compatible", "b")
      .join(verdict(operators.Compat.compatForwardScan(spark, dir), "forward_ok", "f"), keys)
      .join(verdict(operators.Compat.compatTransitive(spark, dir), "transitive_ok", "bt"), keys)
      .join(verdict(operators.Compat.compatFTransitive(spark, dir), "ftransitive_ok", "ft"), keys)
    val joined = gate.join(verdicts, keys).collect()
    assert(joined.length == rows.length, "every gate row has all four verdicts")
    joined.foreach { r =>
      def v(n: String) = r.getAs[Boolean](n)
      // NONE disables checking entirely (modes.go:9)
      val expected = r.getAs[String]("mode") match {
        case "NONE" => true
        case "BACKWARD" => v("b")
        case "FORWARD" => v("f")
        case "FULL" => v("b") && v("f")
        case "BACKWARD_TRANSITIVE" => v("bt")
        case "FORWARD_TRANSITIVE" => v("ft")
        case "FULL_TRANSITIVE" => v("bt") && v("ft")
      }
      assert(v("allowed") == expected,
        s"${r.getAs[String]("mode")} at (${r.getAs[Long]("subject")}, ${r.getAs[Int]("version")})")
    }
    // both admission outcomes occur in real data
    assert(rows.exists(_.getAs[Boolean]("allowed")))
    assert(rows.exists(!_.getAs[Boolean]("allowed")))
  }

  test("compat_gate: modes.go decision matrix over the four verdict streams") {
    assertGateReconciles(sfDir)
  }

  test("compat_gate reconciles with every mode's scan on events with NULL k") {
    assertGateReconciles(nullKDir)
  }

  test("compat_nested: a path absent at a NULL-k writer breaks a required reader path") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("subject")).orderBy(col("ts"), col("event_id"))
    // A NULL-k writer has only the unconditional paths: meta, meta.score
    // (bigint), tags[] (bytes) and attrs{} (string). A reader with a
    // bigint score and string attrs then breaks on nothing but its
    // required meta.rank (present when k % 11 < 6), which the oracle's
    // LEFT JOIN finds no writer path for.
    val versions = Tables.events(spark, nullKDir)
      .select(col("user_id").as("subject"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .withColumn("version", row_number().over(w))
      .withColumn("w_k", lag(col("k"), 1).over(w))
      .filter(col("version") > 1 && col("w_k").isNull && col("k") % 4 >= 2 && col("k") % 6 >= 3)
      .select(col("subject"), col("version"), (col("k") % 11 < 6).as("rank"))
    val got = operators.Compat.nestedScan(spark, nullKDir)
      .join(versions, Seq("subject", "version")).select("rank", "n_violations").collect()
    assert(got.exists(_.getBoolean(0)), "the fixture must hold such a reader with meta.rank")
    got.foreach(r => assert(r.getLong(1) == (if (r.getBoolean(0)) 1L else 0L)))
  }

  test("compat_multi: per-subject verdicts + all_compatible rollup reconcile") {
    import org.apache.spark.sql.functions.col
    val rows = operators.Compat.compatMulti(spark, sfDir).collect()
    val (grand, per) = rows.partition(_.getAs[Long]("subject") == -1L)
    assert(grand.length == 1, "exactly one all_compatible rollup row")
    val nSubjects = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(per.length == nSubjects, "one verdict per subject, like the reference's per-subject loop")
    // both verdicts must occur in real data
    assert(per.exists(_.getAs[Boolean]("compatible")), "some subject should be compatible")
    assert(per.exists(!_.getAs[Boolean]("compatible")), "some subject should break")
    // rollup row = totals of the per-subject rows
    val g = grand.head
    assert(g.getAs[Long]("n_violations") == per.map(_.getAs[Long]("n_violations")).sum)
    assert(g.getAs[Long]("n_incompatible") == per.count(_.getAs[Long]("n_violations") > 0))
    assert(g.getAs[Boolean]("compatible") == per.forall(_.getAs[Boolean]("compatible")),
      "all_compatible is the conjunction of the per-subject verdicts")
    // per-subject: compatible ⇔ zero violations
    per.foreach { r =>
      assert(r.getAs[Boolean]("compatible") == (r.getAs[Long]("n_violations") == 0L))
    }
  }

  test("positional model: load-bearing slot indexes pin their field names") {
    import org.apache.spark.sql.functions.col
    val row = operators.Compat.fieldArrays(spark, sfDir)
      .select(col("flds_all")).head()
    val slots = row.getSeq[org.apache.spark.sql.Row](0)
    assert(slots.length == AvroFields.nSlots,
      "nSlots must match the flds_all array")
    assert(slots(AvroFields.refSlot).getAs[String]("fname") == "ref",
      s"refSlot=${AvroFields.refSlot} must be the union-walking ref field")
    assert(Set("nick", "nickname")
      .contains(slots(AvroFields.nickSlot).getAs[String]("fname")),
      s"nickSlot=${AvroFields.nickSlot} must be the alias-walking field")
    // every other slot's name is fixed: positional pairing depends on it
    val fixed = Seq("id", "name", "email", "score", "status", "ratio", "payload", "ref", "token")
    fixed.zipWithIndex.foreach { case (n, i) =>
      assert(slots(i).getAs[String]("fname") == n, s"slot $i must be $n")
    }
  }

  test("positional model: each slot's fmask is the branch mask of its (ftype, funion)") {
    // The scans resolve types on fmask alone; the oracles on the
    // branch list coalesce(funion, [ftype]). Pin the model's slots to
    // a hand-written bit table on the generated data and where k is
    // NULL, which takes every residue's ELSE branch.
    import org.apache.spark.sql.functions._
    val bit = Seq("int", "bigint", "float", "double", "string", "bytes", "enum", "null",
      "fixed8", "fixed16", "union").zipWithIndex.map { case (n, i) => n -> (1 << i) }.toMap
    Seq(sfDir, nullKDir).foreach { dir =>
      val slots = operators.Compat.fieldArrays(spark, dir)
        .select(explode(col("flds_all")).as("f"))
        .select("f.ftype", "f.funion", "f.fmask").distinct().collect()
      assert(slots.length > 10)
      slots.foreach { r =>
        val (t, u, m) = (r.getString(0), Option(r.getString(1)), r.getInt(2))
        assert(m == u.map(_.split(',').map(bit).sum).getOrElse(bit(t)),
          s"$dir: ftype=$t funion=$u fmask=$m")
      }
    }
  }

  test("transitive scans equal a generic pairwise evaluation of the Avro rules") {
    assertTransitiveMatchesPairwise(sfDir)
  }

  test("transitive scans equal a generic pairwise evaluation on events with NULL k") {
    assertTransitiveMatchesPairwise(nullKDir)
  }

  private def assertTransitiveMatchesPairwise(dir: String): Unit = {
    // The O(V) bit_or formulations specialize some rules to this
    // model (nested enum vocabularies, the two-name alias space).
    // Cross-check both scans against a literal readers-x-earlier-
    // writers pairwise evaluation using REAL set/name semantics, so
    // a model change that breaks a specialization fails loudly here
    // rather than only at oracle-parity time.
    import org.apache.spark.sql.functions._
    val fields = operators.Compat.fieldArrays(spark, dir)
      .select(col("subject"), col("version"),
        posexplode(col("flds_all")).as(Seq("pos", "f")))
      .select(col("subject"), col("version"), col("pos"),
        col("f.fname").as("fname"), col("f.ftype").as("ftype"),
        col("f.fnull").as("fnull"), col("f.fdefault").as("fdefault"),
        col("f.fsyms").as("fsyms"), col("f.fmask").as("fmask"),
        col("f.falias").as("falias"), col("f.present").as("present"))
      .localCheckpoint()
    def pairViol(r: String => org.apache.spark.sql.Column,
                 w: String => org.apache.spark.sql.Column) = {
      val matched = w("present") &&
        (w("fname") === r("fname") ||
          r("falias") <=> w("fname") || w("falias") <=> r("fname"))
      val typeBreak = w("fmask")
        .bitwiseAND(operators.Compat.acceptsOf(r("fmask"))) =!= w("fmask")
      (!matched && !r("fnull") && r("fdefault").isNull) ||
        (matched && typeBreak) ||
        (matched && !r("fnull") && w("fnull")) ||
        (r("ftype") === "enum" && matched && w("ftype") === "enum" &&
          r("fdefault").isNull &&
          size(array_except(split(w("fsyms"), ","), split(r("fsyms"), ","))) > 0)
    }
    val rdr = fields.filter(col("present")).toDF(fields.columns.map("r_" + _): _*)
    val wtr = fields.toDF(fields.columns.map("w_" + _): _*)
    // BACKWARD_TRANSITIVE pairwise: reader at version V vs every earlier writer
    val backPairs = rdr.join(wtr,
      col("r_subject") === col("w_subject") && col("r_pos") === col("w_pos") &&
        col("w_version") < col("r_version"))
      .withColumn("viol", pairViol(n => col("r_" + n), n => col("w_" + n)))
    val backExpected = backPairs
      .groupBy(col("r_subject").as("subject"), col("r_version").as("version"), col("r_pos"))
      .agg(max(when(col("viol"), 1L).otherwise(0L)).as("slot_bad"))
      .groupBy("subject", "version")
      .agg(sum("slot_bad").as("exp_bad"))
    val bt = operators.Compat.compatTransitive(spark, dir)
    val btCmp = bt.join(backExpected, Seq("subject", "version"), "left")
      .withColumn("exp", coalesce(col("exp_bad"), lit(0L)))
    assert(btCmp.filter(col("n_bad_fields") =!= col("exp")).count() == 0,
      "compat_transitive must equal the pairwise evaluation")
    // FORWARD_TRANSITIVE pairwise: writer at version V vs every earlier reader
    val wtrN = fields.toDF(fields.columns.map("w_" + _): _*)
    val rdrE = fields.filter(col("present")).toDF(fields.columns.map("r_" + _): _*)
    val fwdPairs = wtrN.join(rdrE,
      col("w_subject") === col("r_subject") && col("w_pos") === col("r_pos") &&
        col("r_version") < col("w_version"))
      .withColumn("viol", pairViol(n => col("r_" + n), n => col("w_" + n)))
    val fwdExpected = fwdPairs
      .groupBy(col("w_subject").as("subject"), col("w_version").as("version"), col("w_pos"))
      .agg(max(when(col("viol"), 1L).otherwise(0L)).as("slot_bad"))
      .groupBy("subject", "version")
      .agg(sum("slot_bad").as("exp_bad"))
    val ft = operators.Compat.compatFTransitive(spark, dir)
    val ftCmp = ft.join(fwdExpected, Seq("subject", "version"), "left")
      .withColumn("exp", coalesce(col("exp_bad"), lit(0L)))
    assert(ftCmp.filter(col("n_bad_fields") =!= col("exp")).count() == 0,
      "compat_ftransitive must equal the pairwise evaluation")
    // the cross-check bites: violations exist on this corpus
    assert(bt.filter(col("n_bad_fields") > 0).count() > 0)
    assert(ft.filter(col("n_bad_fields") > 0).count() > 0)
  }

  test("rule frequency card tallies exactly with the explain listing") {
    val explain = operators.Compat.compatExplain(spark, sfDir)
      .select("subject", "version", "violation").collect()
    val rows = operators.Compat.ruleFreq(spark, sfDir).collect()
    val byClass = explain.groupBy(_.getAs[String]("violation"))
    assert(rows.map(_.getAs[String]("violation")).toSet == byClass.keySet)
    rows.foreach { r =>
      val hits = byClass(r.getAs[String]("violation"))
      assert(r.getAs[Long]("n_field_hits") == hits.length)
      assert(r.getAs[Long]("n_transitions") ==
        hits.map(h => (h.getAs[Long]("subject"), h.getAs[Int]("version"))).distinct.length)
      assert(r.getAs[Long]("n_subjects") == hits.map(_.getAs[Long]("subject")).distinct.length)
      assert(r.getAs[Long]("n_transitions") <= r.getAs[Long]("n_field_hits"))
    }
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 0.001, s"shares must sum to ~1, got $shareSum")
  }

  test("enum drift timeline: set algebra holds and both directions occur") {
    val rows = operators.Compat.enumDrift(spark, sfDir).collect()
    assert(rows.nonEmpty, "the corpus rotates enum symbol sets")
    rows.foreach { r =>
      val (a, rm, k) = (r.getAs[Int]("n_added"), r.getAs[Int]("n_removed"), r.getAs[Int]("n_kept"))
      assert(a > 0 || rm > 0, "unchanged transitions must be filtered out")
      assert(a >= 0 && rm >= 0 && k >= 0)
      // reader set = kept + added; the model's enum sets are 2-4 symbols
      assert(a + k >= 2 && a + k <= 4 && rm + k >= 2 && rm + k <= 4)
    }
    assert(rows.exists(_.getAs[Int]("n_added") > 0))
    assert(rows.exists(_.getAs[Int]("n_removed") > 0))
  }
}
