package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths that interpreted
  * higher-order-function chains make slow: SimHash fingerprinting,
  * n-gram Jaccard, and cosine similarity. Each keeps whole-stage
  * codegen intact by emitting a single static call (the per-row work
  * is a tight JVM loop, so the call boundary is negligible).
  *
  * Semantics are bit-identical to the SQL/HOF formulations they
  * replace (and therefore to the DuckDB oracles): hashing is md5 of
  * the UTF-8 token bytes, set ops use exact string equality, and
  * floating-point accumulation is left-to-right like SQL
  * `aggregate`/`list_sum`.
  */
object Native {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 bytes of the token as a big-endian 64-bit value —
    * identical to `conv(substring(md5(t), 1, 16), 16, ...)` bits.
    */
  private def md5Top64(t: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(t.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** 64-bit SimHash of a token array as four 16-bit chunks. */
  def simhash64(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val sums = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = md5Top64(tokens.getUTF8String(i))
      var j = 0
      while (j < 64) {
        if (((h >>> (63 - j)) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
        j += 1
      }
      i += 1
    }
    val chunks = new Array[Int](4)
    var k = 0
    while (k < 4) {
      var c = 0
      var b = 0
      while (b < 16) {
        if (sums(k * 16 + b) > 0) c |= 1 << (15 - b)
        b += 1
      }
      chunks(k) = c
      k += 1
    }
    new GenericArrayData(chunks)
  }

  /** Exact set Jaccard |A∩B| / |A∪B| over SORTED distinct string
    * arrays (callers pre-sort once per row with `array_sort` — the
    * per-pair work is then a linear merge with no hashing).
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    var ca: UTF8String = if (n > 0) a.getUTF8String(0) else null
    var cb: UTF8String = if (m > 0) b.getUTF8String(0) else null
    while (i < n && j < m) {
      val c = ca.compareTo(cb)
      if (c == 0) { inter += 1; i += 1; j += 1
        if (i < n) ca = a.getUTF8String(i)
        if (j < m) cb = b.getUTF8String(j)
      } else if (c < 0) { i += 1; if (i < n) ca = a.getUTF8String(i) }
      else { j += 1; if (j < m) cb = b.getUTF8String(j) }
    }
    val union = n + m - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def toHex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexDigits(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** 16-permutation MinHash signature: per seed sd, the minimum
    * md5("sd:shingle") as a lowercase hex string — byte-identical to
    * `array_min(transform(sh, x -> md5(concat(sd, ':', x))))`
    * (lexicographic hex order == unsigned digest order).
    */
  def minhash16(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[Array[Byte]](16)
    val md = md5Local.get()
    var sd = 0
    while (sd < 16) {
      val prefix = (sd.toString + ":").getBytes
      var i = 0
      var best: Array[Byte] = null
      while (i < n) {
        md.reset()
        md.update(prefix)
        md.update(shingles.getUTF8String(i).getBytes)
        val d = md.digest()
        if (best == null || unsignedLess(d, best)) best = d
        i += 1
      }
      mins(sd) = best
      sd += 1
    }
    new GenericArrayData(mins.map(b => if (b == null) null else toHex(b)): Array[AnyRef])
  }

  /** Cosine similarity of two double arrays, left-to-right sums. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      sa += x * x
      sb += y * y
      i += 1
    }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Recursive JSON field-path flattening (reference
    * internal/analysis/fields.go:51 walkAvroSchema / :158
    * walkJSONSchemaProperties): every node below the root becomes a
    * (dotted path, generic type) row. Objects are descended into;
    * arrays are reported as leaves of type `array`. Types use the
    * engine-neutral labels object/array/string/number/boolean/null
    * so a DuckDB `json_type`-based oracle can reproduce them.
    * Invalid JSON yields an empty array (the registry reports
    * invalid payloads through the validation op, not here).
    */
  def jsonPaths(json: UTF8String): ArrayData = {
    import com.fasterxml.jackson.databind.JsonNode
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    def typeOf(n: JsonNode): String =
      if (n.isObject) "object"
      else if (n.isArray) "array"
      else if (n.isTextual) "string"
      else if (n.isBoolean) "boolean"
      else if (n.isNull) "null"
      else "number"
    def walk(prefix: String, n: JsonNode): Unit = {
      val it = n.fields()
      while (it.hasNext) {
        val e = it.next()
        val p = if (prefix.isEmpty) e.getKey else prefix + "." + e.getKey
        out += org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(p), UTF8String.fromString(typeOf(e.getValue)))
        if (e.getValue.isObject) walk(p, e.getValue)
      }
    }
    try {
      val root = jsonMapper.readTree(json.toString)
      if (root != null && root.isObject) walk("", root)
    } catch { case _: Exception => }
    new GenericArrayData(out.toArray)
  }

  /** Avro Parsing Canonical Form (reference internal/schema/avro/
    * parser.go:141 canonicalize / :155 canonicalizeValue / :182
    * canonicalizeObject / :282 canonicalizeField / :302
    * isNonCanonicalField), byte-faithful to the reference:
    *  - named types (record/error/enum/fixed) resolve their namespace
    *    (explicit `namespace` key, else inherited from the enclosing
    *    named type) and emit a fully-qualified name; the separate
    *    namespace key is never emitted (it is absent from every
    *    canonical field order);
    *  - an already-dotted name is left as-is and does NOT establish a
    *    namespace for nested types (the reference keeps the parent's
    *    resolved namespace — a deliberate mirror of parser.go:163,
    *    observable when a nested unqualified type canonicalizes
    *    differently under inline-dotted vs explicit-namespace
    *    parents);
    *  - canonical key order per type (record: name,type,fields; enum:
    *    name,type,symbols; array: type,items; map: type,values;
    *    fixed: name,type,size; otherwise alphabetical), with
    *    doc/aliases/order dropped everywhere and `default` dropped at
    *    type level but KEPT inside field objects (name,type,default —
    *    parser.go:288's fingerprint-relevant comment);
    *  - invalid JSON returns the trimmed input (primitive type names).
    */
  def avroPcf(json: UTF8String): UTF8String = {
    import com.fasterxml.jackson.databind.JsonNode
    import com.fasterxml.jackson.databind.node.ObjectNode
    // Sorted-key JSON marshal for `default` values — the reference
    // round-trips defaults through Go's json.Marshal, which orders
    // object keys alphabetically.
    // FIDELITY SCOPE: parity with Go json.Marshal is claimed for the
    // corpus's schema shapes (integer/string/bool/object defaults
    // without HTML-significant characters). Known divergences on
    // inputs outside that scope: Jackson renders a float default as
    // "7.0" where Go renders "7", and Go HTML-escapes <, >, & inside
    // strings while this marshal (and value()/field() below) emits
    // them raw. Mirroring Go exactly would mean porting its float
    // shortest-round-trip formatter and escape table — not warranted
    // until a consumer feeds such defaults.
    def marshalSorted(n: JsonNode): String =
      if (n.isObject) {
        val keys = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = n.fieldNames()
        while (it.hasNext) keys += it.next()
        keys.sorted.map(k => "\"" + k + "\":" + marshalSorted(n.get(k))).mkString("{", ",", "}")
      } else if (n.isArray) {
        (0 until n.size()).map(i => marshalSorted(n.get(i))).mkString("[", ",", "]")
      } else n.toString
    val nonCanonical = Set("doc", "aliases", "default", "order")
    def value(n: JsonNode, parentNs: String): String =
      if (n.isTextual) "\"" + n.asText + "\""
      else if (n.isArray) (0 until n.size()).map(i => value(n.get(i), parentNs)).mkString("[", ",", "]")
      else if (n.isObject) obj(n.asInstanceOf[ObjectNode], parentNs)
      else n.toString
    def field(f: JsonNode, parentNs: String): String = {
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      if (f.has("name")) parts += "\"name\":\"" + f.get("name").asText + "\""
      if (f.has("type")) parts += "\"type\":" + value(f.get("type"), parentNs)
      if (f.has("default")) parts += "\"default\":" + marshalSorted(f.get("default"))
      parts.mkString("{", ",", "}")
    }
    def obj(o: ObjectNode, parentNs: String): String = {
      val schemaType = if (o.has("type") && o.get("type").isTextual) o.get("type").asText else ""
      var resolvedNs = parentNs
      var qualifiedName: String = null
      if (Set("record", "error", "enum", "fixed").contains(schemaType)) {
        val name = if (o.has("name")) o.get("name").asText else ""
        if (o.has("namespace") && o.get("namespace").isTextual &&
          o.get("namespace").asText.nonEmpty) resolvedNs = o.get("namespace").asText
        qualifiedName =
          if (!name.contains(".") && resolvedNs.nonEmpty) resolvedNs + "." + name else name
      }
      val fieldOrder: Seq[String] = schemaType match {
        case "record" | "error" => Seq("name", "type", "fields")
        case "enum" => Seq("name", "type", "symbols")
        case "array" => Seq("type", "items")
        case "map" => Seq("type", "values")
        case "fixed" => Seq("name", "type", "size")
        case _ =>
          val keys = scala.collection.mutable.ArrayBuffer.empty[String]
          val it = o.fieldNames()
          while (it.hasNext) keys += it.next()
          keys.sorted.toSeq
      }
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      fieldOrder.foreach { key =>
        if (o.has(key) && !nonCanonical.contains(key)) {
          val v = o.get(key)
          val valStr = key match {
            case "fields" if v.isArray =>
              (0 until v.size()).map(i => field(v.get(i), resolvedNs)).mkString("[", ",", "]")
            case "fields" => ""
            case "symbols" if v.isArray =>
              (0 until v.size()).map(i => "\"" + v.get(i).asText + "\"").mkString("[", ",", "]")
            case "symbols" => ""
            case "name" if qualifiedName != null => "\"" + qualifiedName + "\""
            case _ => value(v, resolvedNs)
          }
          if (valStr.nonEmpty) parts += "\"" + key + "\":" + valStr
        }
      }
      parts.mkString("{", ",", "}")
    }
    try {
      val root = jsonMapper.readTree(json.toString)
      if (root == null) UTF8String.fromString(json.toString.trim)
      else UTF8String.fromString(value(root, ""))
    } catch {
      case _: Exception => UTF8String.fromString(json.toString.trim)
    }
  }

  /** JSON Schema canonical form (reference internal/schema/jsonschema/
    * parser.go:112 CanonicalString / :177 canonicalize / :182
    * canonicalizeValue): object keys sorted alphabetically, compact
    * separators, arrays in order, and Go-`encoding/json` number
    * rendering — a float64 that holds an integral value prints as an
    * integer (`%d`), otherwise `%g` (shortest form). Boolean root
    * schemas are preserved raw-trimmed (parser.go:113-:117 — the
    * `isBooleanSchema` branch keeps `true`/`false` as-is so their
    * fingerprints stay distinct from `{}`). Invalid JSON falls back
    * to the trimmed input, mirroring [[avroPcf]]'s convention.
    *
    * FIDELITY SCOPE (same caveat as [[avroPcf]]): Go's %g and HTML
    * escaping are mirrored for the corpus's value shapes (simple
    * decimals, identifier-ish strings); Jackson would render 1e21 or
    * `<` differently.
    */
  def jsonCanon(json: UTF8String): UTF8String = {
    import com.fasterxml.jackson.databind.JsonNode
    def num(n: JsonNode): String = {
      val d = n.asDouble()
      if (!d.isInfinite && d == d.toLong.toDouble) d.toLong.toString
      else {
        val s = java.lang.Double.toString(d)
        if (s.endsWith(".0")) s.dropRight(2) else s
      }
    }
    def canon(n: JsonNode): String =
      if (n.isNull) "null"
      else if (n.isBoolean) { if (n.asBoolean) "true" else "false" }
      else if (n.isTextual) jsonMapper.writeValueAsString(n.asText)
      else if (n.isNumber) num(n)
      else if (n.isArray) (0 until n.size()).map(i => canon(n.get(i))).mkString("[", ",", "]")
      else {
        val keys = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = n.fieldNames()
        while (it.hasNext) keys += it.next()
        keys.sorted
          .map(k => jsonMapper.writeValueAsString(k) + ":" + canon(n.get(k)))
          .mkString("{", ",", "}")
      }
    try {
      val root = jsonMapper.readTree(json.toString)
      if (root == null || root.isBoolean) UTF8String.fromString(json.toString.trim)
      else UTF8String.fromString(canon(root))
    } catch {
      case _: Exception => UTF8String.fromString(json.toString.trim)
    }
  }

  /** Every native SQL function as (name, implementing class, builder):
    * the one table [[register]] and [[graft.GraftExtensions]] iterate. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_simhash64", classOf[SimHash64Expr], e => SimHash64Expr(e.head)),
    ("graft_minhash16", classOf[MinHash16Expr], e => MinHash16Expr(e.head)),
    ("graft_jaccard", classOf[JaccardExpr], e => JaccardExpr(e(0), e(1))),
    ("graft_cosine", classOf[CosineExpr], e => CosineExpr(e(0), e(1))),
    ("graft_json_paths", classOf[JsonPathsExpr], e => JsonPathsExpr(e.head)),
    ("graft_avro_pcf", classOf[AvroPcfExpr], e => AvroPcfExpr(e.head)),
    ("graft_json_canon", classOf[JsonCanonExpr], e => JsonCanonExpr(e.head)),
    ("graft_topk", classOf[TopKAgg], e => TopKAgg(e(0), e(1), e(2))))

  /** Register the functions on a session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}

/** `graft_simhash64(array<string>) -> array<int>` (4 × 16-bit chunks). */
case class SimHash64Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Native.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** `graft_minhash16(array<string>) -> array<string>` (16 md5-hex minima). */
case class MinHash16Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullSafeEval(input: Any): Any =
    Native.minhash16(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.minhash16($c)")
  override protected def withNewChildInternal(newChild: Expression): MinHash16Expr =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash16"
}

/** `graft_jaccard(array<string>, array<string>) -> double`. */
case class JaccardExpr(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Native.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Native.jaccard($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_jaccard"
}

/** `graft_cosine(array<double>, array<double>) -> double`. */
case class CosineExpr(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Native.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Native.cosine($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_cosine"
}

/** `graft_avro_pcf(string) -> string`: Avro Parsing Canonical Form of
  * a schema document (avro/parser.go:141 canonicalize).
  */
case class AvroPcfExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Native.avroPcf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.avroPcf($c)")
  override protected def withNewChildInternal(newChild: Expression): AvroPcfExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_avro_pcf"
}

/** `graft_json_canon(string) -> string`: canonical JSON rendering of a
  * JSON Schema document (jsonschema/parser.go:177 canonicalize).
  */
case class JsonCanonExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Native.jsonCanon(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.jsonCanon($c)")
  override protected def withNewChildInternal(newChild: Expression): JsonCanonExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_json_canon"
}

/** `graft_json_paths(string) -> array<struct<path string, jtype string>>`:
  * recursive field-path flattening of a JSON document (fields.go:51).
  */
case class JsonPathsExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("jtype", StringType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Native.jsonPaths(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.jsonPaths($c)")
  override protected def withNewChildInternal(newChild: Expression): JsonPathsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_json_paths"
}
