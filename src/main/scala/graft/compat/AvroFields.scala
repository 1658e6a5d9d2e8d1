package graft.compat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The registry's synthetic Avro field model, stated once: type bits,
  * promotion closure, the ten slots of payload `k` and their packed
  * profile. The compat scans read it through the `graft_avro_slots` /
  * `graft_avro_profile` kernels, stream_compat calls [[slots]], and
  * [[SchemaCompat]] resolves branch names with [[promotes]]. The
  * DuckDB oracles spell it in SQL (`Compat.fieldModelCte`).
  */
object AvroFields {

  /** One bit per branch type (`bigint` is Avro long): a union ORs its
    * branches. Avro fixed takes one bit PER SIZE (avro/checker.go:280:
    * a size mismatch breaks, no promotion). `union` is `ref`'s type on
    * a NULL k: a scalar type that only itself accepts.
    */
  val typeBits: Seq[(String, Int)] = Seq(
    "int" -> 1, "bigint" -> 2, "float" -> 4, "double" -> 8,
    "string" -> 16, "bytes" -> 32, "enum" -> 64, "null" -> 128,
    "fixed8" -> 256, "fixed16" -> 512, "union" -> 1024)

  private val bitOf: Map[String, Int] = typeBits.toMap

  /** OR of every type bit. */
  val allTypeBits: Int = typeBits.map(_._2).reduce(_ | _)

  /** Width of a branch mask in bits. */
  val typeWidth: Int = typeBits.size

  /** The branch mask of a field: its union branches, else its type. */
  def maskInt(ftype: String, funion: Option[String]): Int =
    funion.fold(bitOf(ftype))(_.split(',').map(bitOf).sum)

  /** Reader-side promotion closure (avro/checker.go:304 canPromote):
    * the writer types a reader mask can decode. int→long/float/double,
    * long→float/double, float→double and string↔bytes. The numeric
    * ladder int<long<float<double sits on bits 0-3 in promotion order,
    * so "every type below my highest branch" is the right-shift smear;
    * string (16) and bytes (32) promote both ways, so either turns on
    * both.
    */
  def accepts(mask: Int): Int = {
    val num = mask & 15
    val st = mask & 48
    mask | (num >> 1) | (num >> 2) | (num >> 3) | (((st << 1) | (st >> 1)) & 48)
  }

  /** Can a reader branch named `reader` decode a writer branch named
    * `writer`? Names outside the model resolve only to themselves.
    */
  def promotes(writer: String, reader: String): Boolean =
    (bitOf.get(writer), bitOf.get(reader)) match {
      case (Some(w), Some(r)) => (accepts(r) & w) == w
      case _ => writer == reader
    }

  /** One positional slot; a None is a NULL column. */
  final case class Slot(fname: String, ftype: String, fnull: Option[Boolean],
    fdefault: Option[String], fsyms: Option[String], funion: Option[String],
    fmask: Int, falias: Option[String], present: Boolean) {

    /** This slot as a row of the [[slotType]] members at `members`
      * (ascending indexes into it).
      */
    def row(members: Array[Int]): InternalRow = {
      def utf8(s: Option[String]): UTF8String = s.map(UTF8String.fromString).orNull
      val all = Array[Any](UTF8String.fromString(fname), UTF8String.fromString(ftype),
        fnull.getOrElse(null), utf8(fdefault), utf8(fsyms), utf8(funion), fmask, utf8(falias), present)
      new GenericInternalRow(members.map(all))
    }
  }

  /** The `flds_all` element type: one [[Slot]], members in its order. */
  val slotType: StructType = StructType.fromDDL(
    "fname STRING NOT NULL, ftype STRING NOT NULL, fnull BOOLEAN, fdefault STRING, " +
      "fsyms STRING, funion STRING, fmask INT NOT NULL, falias STRING, present BOOLEAN NOT NULL")

  /** The ten slots of payload `k`, absent ones included, in `flds_all`
    * order. A residue test on a NULL k is unknown, as in SQL: every
    * CASE takes its ELSE branch and a conditional slot is absent, as
    * the oracle's `WHERE k % 3 = 0` drops it; `name`'s `fnull` is
    * unknown. `status` is the enum, `ratio` walks the numeric
    * promotions, `payload` flips string↔bytes, `ref` walks union shapes,
    * and the last, ALIAS slot (avro/checker.go:112) flips nick↔nickname,
    * sometimes declaring the other name as an alias.
    */
  def slots(k: Option[Long]): IndexedSeq[Slot] = {
    def is(p: Long => Boolean): Boolean = k.exists(p)
    def slot(fname: String, ftype: String, fnull: Option[Boolean], present: Boolean = true,
             fdefault: Option[String] = None, fsyms: Option[String] = None,
             funion: Option[String] = None, falias: Option[String] = None): Slot =
      Slot(fname, ftype, fnull, fdefault, fsyms, funion, maskInt(ftype, funion), falias, present)
    val nick = is(_ % 29 < 15)
    IndexedSeq(
      slot("id", "bigint", Some(false)),
      slot("name", "string", k.map(_ % 2 == 0)),
      slot("email", "string", Some(true), present = is(_ % 3 == 0)),
      slot("score", if (is(_ % 4 < 2)) "int" else "bigint", Some(false)),
      slot("status", "enum", Some(false), present = is(_ % 3 < 2),
        fdefault = if (is(_ % 5 < 3)) Some("A") else None,
        fsyms = Some(if (is(_ % 2 == 0)) "A,B" else "A,B,C")),
      slot("ratio",
        if (is(_ % 9 < 2)) "int" else if (is(_ % 9 < 4)) "bigint"
        else if (is(_ % 9 < 6)) "float" else "double", Some(true)),
      slot("payload", if (is(_ % 13 < 7)) "string" else "bytes", Some(true)),
      slot("ref",
        if (is(_ % 6 == 0)) "int" else if (is(_ % 6 == 1)) "string" else "union", Some(true),
        funion =
          if (is(m => m % 6 == 4 || m % 6 == 5)) Some("null,string")
          else if (is(_ % 6 == 2)) Some("bigint,null,string")
          else if (is(_ % 6 == 3)) Some("bigint,string") else None),
      slot("token", if (is(_ % 23 < 12)) "fixed8" else "fixed16", Some(true)),
      slot(if (nick) "nick" else "nickname", "string", Some(false),
        falias = if (is(_ % 31 < 16)) Some(if (nick) "nickname" else "nick") else None))
  }

  /** Number of positional slots. The named indexes pin the slots whose
    * position is load-bearing (anything reading `flds_all(i)`).
    */
  val nSlots: Int = slots(None).size
  val refSlot: Int = 7
  val nickSlot: Int = 9

  // -------------------------------------------------------------------
  // Packed slot profile: one int per slot carrying everything the
  // transitive scans and the admission gate test: the branch mask, its
  // accept mask [[typeWidth]] bits up, then one bit per model fact.
  // `fnull` packs as paired bits (Req/Nul) that a NULL leaves both
  // unset, so each clause reads the bit whose set state means the
  // three-valued conjunct was definitely true.
  // -------------------------------------------------------------------
  val Pres: Int = 1 << (2 * typeWidth) // present
  val Req: Int = Pres << 1 // fnull definitely false (required)
  val Nul: Int = Pres << 2 // fnull definitely true (nullable)
  val Def: Int = Pres << 3 // fdefault present
  val IsEnum: Int = Pres << 4 // ftype == enum
  val Wide: Int = Pres << 5 // fsyms == A,B,C
  val Narrow: Int = Pres << 6 // fsyms == A,B
  val Nick: Int = Pres << 7 // fname == nick
  val Nickname: Int = Pres << 8 // fname == nickname
  val Alias: Int = Pres << 9 // falias declared

  /** A slot's packed profile. */
  def profile(f: Slot): Int = {
    def bit(c: Boolean, b: Int): Int = if (c) b else 0
    f.fmask | (accepts(f.fmask) << typeWidth) |
      bit(f.present, Pres) | bit(f.fnull.contains(false), Req) |
      bit(f.fnull.contains(true), Nul) | bit(f.fdefault.isDefined, Def) |
      bit(f.ftype == "enum", IsEnum) | bit(f.fsyms.contains("A,B,C"), Wide) |
      bit(f.fsyms.contains("A,B"), Narrow) | bit(f.fname == "nick", Nick) |
      bit(f.fname == "nickname", Nickname) | bit(f.falias.isDefined, Alias)
  }
}
