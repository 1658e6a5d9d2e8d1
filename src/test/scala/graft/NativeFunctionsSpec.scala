package graft

import graft.functions.Native
import org.apache.spark.sql.functions._

/** The native expressions must be bit-identical to the declarative
  * HOF formulations they replaced (which the DuckDB oracles mirror).
  */
class NativeFunctionsSpec extends SparkSpec {

  private def docs = {
    Native.register(spark)
    Tables.documents(spark, sfDir)
  }

  test("graft_simhash64 equals the HOF md5-bit formulation") {
    // spread: the single-row-group file reads as one task, and the
    // interpreted HOF reference is the slow side
    val d = Tables.spread(docs)
    val native = d.selectExpr("doc_id", "graft_simhash64(split(text, ' ')) AS ch")
    val hof = d
      .selectExpr("doc_id", "transform(split(text, ' '), t -> substring(md5(t), 1, 16)) AS th")
      .selectExpr("doc_id",
        """transform(sequence(0, 63), j -> CASE WHEN aggregate(th, 0, (acc, h) ->
          |  acc + CASE WHEN (shiftright(instr('0123456789abcdef', substring(h, cast(j div 4 AS int) + 1, 1)) - 1,
          |                   3 - cast(j % 4 AS int)) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END) AS bits""".stripMargin)
      .selectExpr("doc_id",
        """transform(sequence(0, 3), k ->
          |  aggregate(sequence(0, 15), 0, (acc, i) -> acc + element_at(bits, k * 16 + i + 1) * shiftleft(1, 15 - i))) AS ch""".stripMargin)
    // multiset equality in both directions with the reference evaluated
    // once: each (doc_id, ch) row counts +1 natively and -1 by the HOF
    val unmatched = native.withColumn("n", lit(1L)).unionByName(hof.withColumn("n", lit(-1L)))
      .groupBy("doc_id", "ch").agg(sum("n").as("n"))
      .where("n != 0")
    assert(unmatched.isEmpty)
    assert(native.count() == docs.count())
  }

  test("graft_minhash16 equals the HOF array_min(md5) formulation") {
    val sh = docs
      .selectExpr("doc_id", "split(text, ' ') AS ts").where("size(ts) >= 3")
      .selectExpr("doc_id",
        """transform(sequence(1, size(ts) - 2),
          |  i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1), ' ', element_at(ts, i + 2))) AS shingles""".stripMargin)
    val native = sh.selectExpr("doc_id", "graft_minhash16(shingles) AS m")
    val hof = sh.selectExpr("doc_id",
      """transform(sequence(0, 15),
        |  sd -> array_min(transform(shingles, x -> md5(concat(cast(sd AS string), ':', x))))) AS m""".stripMargin)
    assert(native.exceptAll(hof).count() == 0 && hof.exceptAll(native).count() == 0)
  }

  /** The word n-gram lambda `graft_shingles(ts, n)` replaced (with
    * `md5` around each gram for `graft_shingle_md5`), guarded for
    * fewer than n tokens, where `sequence` would count down, and NULL
    * on a NULL array. */
  private def ngramLambda(n: Int, md5: Boolean): String = {
    val gram = (0 until n).map(k => s"element_at(ts, i + $k)").mkString("concat(", ", ' ', ", ")")
    val body = if (md5) s"md5($gram)" else gram
    s"CASE WHEN size(ts) >= $n THEN transform(sequence(1, size(ts) - ${n - 1}), i -> $body) " +
      "WHEN ts IS NOT NULL THEN array() END"
  }

  /** Rows of (k, ts) where `native` and `lambda` differ, either way. */
  private def mismatches(rows: org.apache.spark.sql.DataFrame, native: String, lambda: String) = {
    val a = rows.selectExpr("k", s"$native AS g")
    val b = rows.selectExpr("k", s"$lambda AS g")
    a.exceptAll(b).unionByName(b.exceptAll(a))
  }

  private val ngramWidths = Seq(3, 4, 5, 8)

  test("graft_shingles and graft_shingle_md5 equal their lambda forms on the documents") {
    val rows = Tables.spread(docs).selectExpr("doc_id AS k", "split(text, ' ') AS ts")
    for (n <- ngramWidths; md5 <- Seq(false, true)) {
      val fn = if (md5) "graft_shingle_md5" else "graft_shingles"
      assert(mismatches(rows, s"$fn(ts, $n)", ngramLambda(n, md5)).isEmpty, s"$fn n=$n")
    }
  }

  test("graft_shingles and graft_shingle_md5 equal their lambda forms on edge rows") {
    Native.register(spark)
    import spark.implicits._
    val rows = Seq[(Int, Seq[String])](
      1 -> "a b c d e f g h".split(" ").toSeq, // exactly 8 tokens
      2 -> Seq("a", "b"), // fewer than n: no n-grams
      3 -> Seq.empty,
      4 -> "a  b c  d e f g h i".split(" ").toSeq, // empty tokens from double spaces
      5 -> "naïve café 日本語 données über straße ñandú ok 🙂".split(" ").toSeq,
      6 -> Seq("a", null, "c", "d", "e", "f", "g", "h", "i"), // NULL element: NULL n-grams
      7 -> null).toDF("k", "ts")
    for (n <- ngramWidths; md5 <- Seq(false, true)) {
      val fn = if (md5) "graft_shingle_md5" else "graft_shingles"
      assert(mismatches(rows, s"$fn(ts, $n)", ngramLambda(n, md5)).isEmpty, s"$fn n=$n")
    }
    val g = rows.selectExpr("k", "graft_shingles(ts, 3) AS g").collect()
      .map(r => r.getInt(0) -> Option(r.getSeq[String](1))).toMap
    assert(g(1).get == Seq("a b c", "b c d", "c d e", "d e f", "e f g", "f g h"))
    assert(g(2).get.isEmpty && g(3).get.isEmpty && g(7).isEmpty)
    assert(g(4).get.take(2) == Seq("a  b", " b c"))
    assert(g(6).get.take(3) == Seq(null, null, "c d e"))
  }

  test("graft_minhash16 over the sorted distinct shingles equals it over the raw shingles") {
    val sh = Tables.spread(docs)
      .selectExpr("doc_id AS k", "split(text, ' ') AS ts").where("size(ts) >= 3")
      .selectExpr("k", "graft_shingles(ts, 3) AS ts")
    assert(mismatches(sh, "graft_minhash16(sort_array(array_distinct(ts)))", "graft_minhash16(ts)").isEmpty)
  }

  test("sort_array equals array_sort on the shingle arrays and the (df, tok) lists") {
    val sh = Tables.spread(docs)
      .selectExpr("doc_id", "split(text, ' ') AS ts").where("size(ts) >= 3")
      .selectExpr("doc_id", "array_distinct(graft_shingles(ts, 3)) AS sh")
    assert(mismatches(sh.withColumnRenamed("doc_id", "k"), "sort_array(sh)", "array_sort(sh)").isEmpty)
    val toks = sh.select(col("doc_id"), explode(col("sh")).as("tok"))
    val lists = toks.join(toks.groupBy("tok").agg(count(lit(1)).as("df")), "tok")
      .groupBy(col("doc_id").as("k")).agg(collect_list(struct(col("df"), col("tok"))).as("l"))
    assert(mismatches(lists, "sort_array(l)", "array_sort(l)").isEmpty)
    assert(lists.count() == sh.count())
  }

  test("graft_jaccard equals array_intersect/array_union on sorted sets") {
    val sh = docs
      .selectExpr("doc_id", "split(text, ' ') AS ts").where("size(ts) >= 3")
      .selectExpr("doc_id", "array_sort(array_distinct(ts)) AS s")
      .limit(50).cache()
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
    val native = pairs.selectExpr("a.doc_id", "b.doc_id", "round(graft_jaccard(a.s, b.s), 10) AS j")
    val hof = pairs.selectExpr("a.doc_id", "b.doc_id",
      "round(size(array_intersect(a.s, b.s)) / cast(size(array_union(a.s, b.s)) AS double), 10) AS j")
    assert(native.exceptAll(hof).count() == 0 && hof.exceptAll(native).count() == 0)
  }

  test("graft_avro_pcf: reference canonicalization semantics, case by case") {
    Native.register(spark)
    import spark.implicits._
    def pcf(s: String): String =
      Seq(s).toDF("t").selectExpr("graft_avro_pcf(t) AS c").head().getString(0)
    // whitespace + separate-namespace variant collapses to the qualified form
    assert(pcf("""{ "type" : "record" , "namespace" : "com.x" , "name" : "R" , "fields" : [ ] }""")
      == """{"name":"com.x.R","type":"record","fields":[]}""")
    // doc/aliases/order stripped; raw key order irrelevant
    assert(pcf("""{"doc":"d","fields":[{"name":"a","order":"ascending","type":"int"}],"name":"com.x.R","type":"record","aliases":["Z"]}""")
      == """{"name":"com.x.R","type":"record","fields":[{"name":"a","type":"int"}]}""")
    // field default KEPT (fingerprint-relevant, parser.go:288); type-level default stripped
    assert(pcf("""{"type":"record","name":"R","fields":[{"name":"a","type":"int","default":3}]}""")
      == """{"name":"R","type":"record","fields":[{"name":"a","type":"int","default":3}]}""")
    // namespace inheritance: nested unqualified record takes the enclosing
    // EXPLICIT namespace; an inline-dotted parent name does NOT establish one
    assert(pcf("""{"type":"record","namespace":"com.x","name":"R","fields":[{"name":"a","type":{"type":"record","name":"I","fields":[]}}]}""")
      == """{"name":"com.x.R","type":"record","fields":[{"name":"a","type":{"name":"com.x.I","type":"record","fields":[]}}]}""")
    assert(pcf("""{"type":"record","name":"com.x.R","fields":[{"name":"a","type":{"type":"record","name":"I","fields":[]}}]}""")
      == """{"name":"com.x.R","type":"record","fields":[{"name":"a","type":{"name":"I","type":"record","fields":[]}}]}""")
    // enum symbol order preserved; union arrays keep element order
    assert(pcf("""{"namespace":"n","type":"enum","name":"E","doc":"x","symbols":["B","A"]}""")
      == """{"name":"n.E","type":"enum","symbols":["B","A"]}""")
    assert(pcf("""{"type":"record","name":"R","fields":[{"name":"u","type":["null","string"]}]}""")
      == """{"name":"R","type":"record","fields":[{"name":"u","type":["null","string"]}]}""")
    // array/map/fixed canonical key orders
    assert(pcf("""{"items":"int","type":"array"}""") == """{"type":"array","items":"int"}""")
    assert(pcf("""{"values":"long","type":"map"}""") == """{"type":"map","values":"long"}""")
    assert(pcf("""{"size":16,"name":"F","type":"fixed","namespace":"n"}""")
      == """{"name":"n.F","type":"fixed","size":16}""")
    // invalid JSON → trimmed input (primitive type names)
    assert(pcf("  \"int\" ") == "\"int\"")
    assert(pcf(" long ") == "long")
  }

  test("graft_json_canon: sorted keys, Go number rendering, boolean-root passthrough") {
    Native.register(spark)
    def canon(in: String): String = {
      import spark.implicits._
      // Dataset literal rather than a SQL string literal — the input
      // contains backslash escapes the SQL parser would consume.
      Seq(in).toDS().selectExpr("graft_json_canon(value) AS c").head().getString(0)
    }
    // key sorting + compact separators, recursive
    assert(canon("""{ "b" : 1 , "a" : { "y" : true , "x" : null } }""")
      == """{"a":{"x":null,"y":true},"b":1}""")
    // Go encoding/json float64: integral value prints as an integer
    assert(canon("""{"n":5.0,"m":0.5}""") == """{"m":0.5,"n":5}""")
    // arrays keep element order; strings keep JSON escaping
    assert(canon("""{"r":["b","a"],"t":"x\"y"}""") == """{"r":["b","a"],"t":"x\"y"}""")
    // boolean root schemas preserved raw-trimmed (parser.go:113)
    assert(canon("  true ") == "true")
    assert(canon("false") == "false")
    // idempotence: canonical input is a fixed point
    val c1 = canon("""{"type":"object","title":"S","properties":{"a":{"maxLength":5,"type":"string"}}}""")
    assert(canon(c1) == c1)
    // invalid JSON → trimmed input
    assert(canon(" {oops ") == "{oops")
  }

  test("graft_cosine equals the zip_with/aggregate formulation") {
    Native.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e").limit(40).cache()
    val pairs = e.as("a").crossJoin(e.as("b")).filter(col("a.vec_id") < col("b.vec_id"))
    val native = pairs.selectExpr("a.vec_id", "b.vec_id", "graft_cosine(a.e, b.e) AS c")
    val hof = pairs.selectExpr("a.vec_id", "b.vec_id",
      """aggregate(zip_with(a.e, b.e, (x, y) -> x * y), cast(0 AS double), (acc, x) -> acc + x) /
        |(sqrt(aggregate(a.e, cast(0 AS double), (acc, x) -> acc + x * x)) *
        | sqrt(aggregate(b.e, cast(0 AS double), (acc, x) -> acc + x * x))) AS c""".stripMargin)
    assert(native.exceptAll(hof).count() == 0 && hof.exceptAll(native).count() == 0)
  }

  /** The SRP bucketer `graft_srp_buckets(e, planes)` replaced: per hash
    * table, the bits of the hyperplanes whose dot product with `e`,
    * summed left to right, is >= 0, over the weight matrix as a SQL
    * array literal. */
  private def srpHof(planes: Int): String = {
    val stripe = operators.Similarity.MaxPlanesPerTable
    val w = (0 until 2 * stripe).map(p =>
      (0 until 64).map(d => operators.Similarity.weight(p, d)).mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    s"""transform(sequence(0, 1), t ->
       |  aggregate(sequence(0, $planes - 1), cast(0 AS bigint), (acc, p) ->
       |    acc + CASE WHEN aggregate(zip_with(element_at($w, t * $stripe + p + 1), e, (w, x) -> w * x),
       |                              cast(0 AS double), (a2, x) -> a2 + x) >= 0
       |          THEN shiftleft(cast(1 AS bigint), p) ELSE cast(0 AS bigint) END))""".stripMargin
  }

  private val srpPlanes = Seq(4, 8, 32)

  test("graft_srp_buckets equals the zip_with/aggregate form on the embeddings") {
    Native.register(spark)
    val rows = Tables.spread(Tables.embeddings(spark, sfDir))
      .selectExpr("vec_id AS k", "cast(embedding AS array<double>) AS e")
    for (p <- srpPlanes)
      assert(mismatches(rows, s"graft_srp_buckets(e, $p)", srpHof(p)).isEmpty, s"planes=$p")
    // the ids spread over buckets: the kernel is not constant
    assert(rows.selectExpr("graft_srp_buckets(e, 8)[0] AS b").distinct().count() > 16)
  }

  test("graft_srp_buckets equals the zip_with/aggregate form on edge rows") {
    Native.register(spark)
    import spark.implicits._
    val base = (0 until 64).map(d => math.sin(d + 1.0))
    def row(f: Seq[Double] => Seq[java.lang.Double]): Seq[java.lang.Double] = f(base)
    val edge = Seq[(Int, Seq[java.lang.Double])](
      1 -> row(_.map(Double.box)),
      2 -> Seq.fill(64)(Double.box(0.0)), // every dot is 0: every bit set
      3 -> Seq.fill(64)(Double.box(-0.0)),
      4 -> row(_.updated(5, Double.NaN).map(Double.box)), // NaN sorts above 0
      5 -> row(_.updated(0, Double.PositiveInfinity).updated(1, Double.NegativeInfinity).map(Double.box)),
      6 -> row(_.map(Double.box).updated(9, null)), // NULL element: no bit
      7 -> row(_.take(63).map(Double.box)), // short: zip_with pads with NULL
      8 -> row(_.map(Double.box) :+ Double.box(1.0)), // long
      9 -> Seq.empty,
      10 -> null).toDF("k", "e")
    for (p <- srpPlanes)
      assert(mismatches(edge, s"graft_srp_buckets(e, $p)", srpHof(p)).isEmpty, s"planes=$p")
    val b = edge.selectExpr("k", "graft_srp_buckets(e, 32) AS b").collect()
      .map(r => r.getInt(0) -> Option(r.getSeq[Long](1))).toMap
    assert(b(2).get == Seq(0xffffffffL, 0xffffffffL))
    assert(Seq(6, 7, 8, 9, 10).forall(k => b(k).get == Seq(0L, 0L)))
  }

  test("graft_avro_slots has the field model's struct type, and a value on a NULL k") {
    Native.register(spark)
    val df = spark.range(1).selectExpr("graft_avro_slots(CAST(NULL AS BIGINT)) AS s",
      "graft_avro_profile(CAST(NULL AS BIGINT)) AS p")
    val json = """{"type":"array","elementType":{"type":"struct","fields":[""" +
      Seq("fname" -> "string" -> false, "ftype" -> "string" -> false, "fnull" -> "boolean" -> true,
        "fdefault" -> "string" -> true, "fsyms" -> "string" -> true, "funion" -> "string" -> true,
        "fmask" -> "integer" -> false, "falias" -> "string" -> true, "present" -> "boolean" -> false)
        .map { case ((n, t), nb) => s"""{"name":"$n","type":"$t","nullable":$nb,"metadata":{}}""" }
        .mkString(",") + """]},"containsNull":false}"""
    assert(df.schema("s").dataType.json == json)
    assert(!df.schema("s").nullable && !df.schema("p").nullable)
    val r = df.head()
    val slots = r.getSeq[org.apache.spark.sql.Row](0)
    assert(slots.map(_.getString(0)) ==
      Seq("id", "name", "email", "score", "status", "ratio", "payload", "ref", "token", "nickname"))
    // name's nullability is unknown; the conditional slots are absent
    assert(slots(1).isNullAt(2) && !slots(2).getBoolean(8) && !slots(4).getBoolean(8))
    assert(r.getSeq[Int](1) == graft.compat.AvroFields.slots(None).map(graft.compat.AvroFields.profile))
  }

  test("graft_avro_slots with member names builds those members, in the model's order") {
    Native.register(spark)
    val df = spark.range(0, 400).toDF().union(spark.range(1).selectExpr("CAST(NULL AS BIGINT) AS id"))
      .selectExpr("graft_avro_slots(id) AS s", "graft_avro_slots(id, 'present', 'fnull', 'fname') AS c")
    val st = df.schema("c").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("fname", "fnull", "present"))
    assert(st.map(_.nullable) == Seq(false, true, false))
    val cut = df.selectExpr("transform(s, f -> struct(f.fname, f.fnull, f.present)) <=> " +
      "transform(c, f -> struct(f.fname, f.fnull, f.present)) AS same")
    assert(cut.collect().forall(_.getBoolean(0)))
    intercept[Exception](spark.range(1).selectExpr("graft_avro_slots(id, 'nope')").schema)
  }
}
