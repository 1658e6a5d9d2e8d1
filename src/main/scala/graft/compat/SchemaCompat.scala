package graft.compat

import org.apache.spark.sql.types._

/** Schema-evolution compatibility checking, re-expressed over Spark's
  * native schema formalism (`StructType`) instead of Avro/Proto
  * parsers.
  *
  * Semantics follow the reference checker
  * (internal/compatibility/checker.go:39 orchestration,
  * internal/compatibility/avro/checker.go:102 record rules,
  * :297 promotion rules, internal/compatibility/modes.go modes):
  *
  *  - BACKWARD: the new schema (reader) can read data written by the
  *    old schema (writer). A reader field missing from the writer
  *    must be nullable OR carry a default (avro/checker.go:128-131) —
  *    defaults ride on `StructField.metadata` key `"default"`, the
  *    Spark-native carrier for Avro's default dimension.
  *  - FORWARD: old reads new (roles swapped).
  *  - FULL: both. `_TRANSITIVE` variants check every prior version,
  *    non-transitive only the latest (checker.go:57-66).
  *  - Type promotions (avro/checker.go:304): int → long/float/double,
  *    long → float/double, float → double, string ↔ binary — the
  *    branch-name promotion of the one field model,
  *    [[AvroFields.promotes]].
  *  - Enum symbol compatibility (avro/checker.go:182-194): enums are
  *    string fields with metadata key `"enumSymbols"`; a writer
  *    symbol unknown to the reader breaks the read unless the reader
  *    declares a default to fall back to.
  */
object SchemaCompat {

  sealed abstract class Mode(val name: String) {
    def requiresBackward: Boolean = this == Backward || this == BackwardTransitive || this == Full || this == FullTransitive
    def requiresForward: Boolean = this == Forward || this == ForwardTransitive || this == Full || this == FullTransitive
    def isTransitive: Boolean = this == BackwardTransitive || this == ForwardTransitive || this == FullTransitive
  }
  case object None_ extends Mode("NONE")
  case object Backward extends Mode("BACKWARD")
  case object BackwardTransitive extends Mode("BACKWARD_TRANSITIVE")
  case object Forward extends Mode("FORWARD")
  case object ForwardTransitive extends Mode("FORWARD_TRANSITIVE")
  case object Full extends Mode("FULL")
  case object FullTransitive extends Mode("FULL_TRANSITIVE")

  object Mode {
    val all: Seq[Mode] = Seq(None_, Backward, BackwardTransitive, Forward, ForwardTransitive, Full, FullTransitive)
    def parse(s: String): Mode = all.find(_.name == s.toUpperCase)
      .getOrElse(throw new IllegalArgumentException(s"unknown mode: $s"))
  }

  final case class Result(isCompatible: Boolean, messages: Seq[String]) {
    def merge(other: Result): Result =
      Result(isCompatible && other.isCompatible, messages ++ other.messages)
  }
  val Compatible: Result = Result(isCompatible = true, Nil)
  def incompatible(msg: String): Result = Result(isCompatible = false, Seq(msg))

  /** Orchestration (checker.go:39): check `newSchema` against the
    * version history `existing` (oldest → newest) under `mode`.
    */
  def check(mode: Mode, newSchema: StructType, existing: Seq[StructType]): Result = {
    if (mode == None_ || existing.isEmpty) return Compatible
    val toCheck = if (mode.isTransitive) existing else Seq(existing.last)
    toCheck.zipWithIndex.foldLeft(Compatible) { case (acc, (old, i)) =>
      val back =
        if (mode.requiresBackward) prefix(canRead(reader = newSchema, writer = old, path = ""), s"BACKWARD compatibility check failed against version ${i + 1}")
        else Compatible
      val fwd =
        if (mode.requiresForward) prefix(canRead(reader = old, writer = newSchema, path = ""), s"FORWARD compatibility check failed against version ${i + 1}")
        else Compatible
      acc.merge(back).merge(fwd)
    }
  }

  private def prefix(r: Result, p: String): Result =
    if (r.isCompatible) r else Result(isCompatible = false, r.messages.map(m => s"$p: $m"))

  /** Avro default dimension: metadata key `"default"` present = the
    * field has a default (checker.go:129's rescue condition).
    */
  def hasDefault(f: StructField): Boolean = f.metadata.contains("default")

  /** Enum dimension: metadata key `"enumSymbols"` marks a string
    * field as an enum with that symbol vocabulary.
    */
  def enumSymbols(f: StructField): Option[Array[String]] =
    if (f.metadata.contains("enumSymbols")) Some(f.metadata.getStringArray("enumSymbols"))
    else None

  /** Alias dimension (avro/checker.go:112-:125): metadata key
    * `"aliases"` lists alternate names this field answers to — the
    * reader resolves a writer field by the reader field's name OR any
    * of its aliases, and writer-side aliases expose the writer field
    * under those names too.
    */
  def aliases(f: StructField): Seq[String] =
    if (f.metadata.contains("aliases")) f.metadata.getStringArray("aliases").toSeq
    else Nil

  /** Union dimension: metadata key `"unionBranches"` marks a field as
    * an Avro union with the given primitive branch-type names —
    * Spark's StructType has no union type, so branches ride on
    * metadata like the default/enum dimensions do.
    */
  def unionBranches(f: StructField): Option[Array[String]] =
    if (f.metadata.contains("unionBranches")) Some(f.metadata.getStringArray("unionBranches"))
    else None

  /** Named-type dimension (Avro record/enum/fixed carry a FULL NAME
    * that resolution matches on): metadata keys `"typeKind"` (one of
    * record/enum/fixed), `"typeName"`, and `"typeAliases"` (type-level
    * aliases — records only per the reference). Name-matching rules
    * (avro/checker.go):
    *  - record (:106 via recordNamesMatch :145-:165): names match if
    *    equal, OR the reader's name is one of the writer's aliases,
    *    OR the writer's name is one of the reader's aliases. On
    *    mismatch the record check returns WITHOUT descending into
    *    fields — the whole subtree is unresolvable.
    *  - enum (:186-:189): strict full-name equality, no alias rescue.
    *  - fixed (:284-:287): strict full-name equality, no alias rescue.
    */
  def namedType(f: StructField): Option[(String, String, Seq[String])] =
    if (f.metadata.contains("typeKind") && f.metadata.contains("typeName"))
      Some((f.metadata.getString("typeKind"), f.metadata.getString("typeName"),
        if (f.metadata.contains("typeAliases")) f.metadata.getStringArray("typeAliases").toSeq else Nil))
    else None

  /** Primitive branch-name of a Spark type ("bigint" is the model's
    * spelling of Avro long, BinaryType of bytes).
    */
  private def typeName(dt: DataType): String = dt match {
    case IntegerType => "int"
    case LongType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "bytes"
    case other => other.simpleString
  }

  /** Record rule (avro/checker.go:102): every reader field must be
    * resolvable from the writer, be nullable, or carry a default.
    */
  private def canRead(reader: StructType, writer: StructType, path: String): Result = {
    // Writer fields indexed by name AND by each of their aliases
    // (checker.go:112); the reader probes with its name and its own
    // aliases (:125 findWriterField).
    val writerFields = writer.fields.flatMap(f =>
      (f.name +: aliases(f)).map(_ -> f)).toMap
    reader.fields.foldLeft(Compatible) { (acc, rf) =>
      val fieldPath = if (path.isEmpty) rf.name else s"$path.${rf.name}"
      (rf.name +: aliases(rf)).flatMap(writerFields.get).headOption match {
        case None if rf.nullable || hasDefault(rf) => acc
        case None =>
          acc.merge(incompatible(s"${pathOrRoot(path)}: reader field '${rf.name}' is required, defaultless, and missing from writer"))
        case Some(wf) if namedTypeMismatch(rf, wf).isDefined =>
          // Named-type name mismatch (record/enum/fixed): like
          // checkRecord (:106-:110), the check stops here — a
          // subtree whose type name can't resolve is not descended
          // into, so no further field-level messages pile on.
          acc.merge(namedTypeMismatch(rf, wf).get)
        case Some(wf) =>
          // Union resolution (avro/checker.go:224 checkUnion, :247
          // checkReaderUnion, :263 checkWriterUnion): with branch
          // sets normalized (scalar = singleton), all three collapse
          // to "every writer branch readable by some reader branch",
          // promotion included.
          val typeRes = (unionBranches(rf), unionBranches(wf)) match {
            case (scala.None, scala.None) => canReadType(rf.dataType, wf.dataType, fieldPath)
            case (ru, wu) =>
              val rb = ru.map(_.toSeq).getOrElse(Seq(typeName(rf.dataType)))
              val wb = wu.map(_.toSeq).getOrElse(Seq(typeName(wf.dataType)))
              val badBranches = wb.filterNot(w => rb.exists(AvroFields.promotes(w, _)))
              if (badBranches.isEmpty) Compatible
              else incompatible(s"$fieldPath: writer branch(es) [${badBranches.mkString(",")}] " +
                s"not readable by any reader branch of [${rb.mkString(",")}]")
          }
          val nullRes =
            if (!rf.nullable && wf.nullable)
              incompatible(s"$fieldPath: reader requires non-null but writer may write null")
            else Compatible
          // avro/checker.go:182-194 — symbols the writer may emit
          // that the reader cannot decode, unless a reader default
          // provides the fallback.
          val enumRes = (enumSymbols(rf), enumSymbols(wf)) match {
            case (Some(rs), Some(ws)) if !hasDefault(rf) && ws.exists(!rs.contains(_)) =>
              incompatible(s"$fieldPath: writer enum symbols [${ws.filterNot(rs.contains).mkString(",")}] unknown to reader and reader has no default")
            case _ => Compatible
          }
          acc.merge(typeRes).merge(nullRes).merge(enumRes)
      }
    }
  }

  /** Named-type name rule for a matched reader/writer field pair —
    * Some(violation) when both sides declare a named type and the
    * names fail to resolve under the kind's rule (record: cross-side
    * alias rescue; enum/fixed: strict equality).
    */
  private def namedTypeMismatch(rf: StructField, wf: StructField): Option[Result] =
    (namedType(rf), namedType(wf)) match {
      case (Some((rk, rn, ra)), Some((_, wn, wa))) =>
        val matches = rk match {
          case "record" => rn == wn || wa.contains(rn) || ra.contains(wn)
          case _ => rn == wn
        }
        if (matches) scala.None
        else Some(incompatible(s"${rf.name}: $rk name mismatch: reader has $rn, writer has $wn"))
      case _ => scala.None
    }

  private def canReadType(reader: DataType, writer: DataType, path: String): Result =
    (reader, writer) match {
      case (r: StructType, w: StructType) => canRead(r, w, path)
      case (r: ArrayType, w: ArrayType) => canReadType(r.elementType, w.elementType, s"$path[]")
      case (r: MapType, w: MapType) =>
        canReadType(r.keyType, w.keyType, s"$path{k}")
          .merge(canReadType(r.valueType, w.valueType, s"$path{}"))
      case (r, w) if r == w => Compatible
      case (r, w) if AvroFields.promotes(typeName(w), typeName(r)) => Compatible
      case (r, w) =>
        incompatible(s"$path: type mismatch: reader ${r.simpleString}, writer ${w.simpleString} (not promotable)")
    }

  private def pathOrRoot(path: String): String = if (path.isEmpty) "root" else path
}
