package graft.linkage.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-conversation fold kernel, written as static methods so both the
  * interpreted `eval` and the whole-stage-codegen paths of [[FoldFields]]
  * call the same code. One pass over a conversation's turns, sorted by
  * `turn_idx`, yields the record's derived linkage fields (the PII roles of
  * extract.py:26–35, SURVEY.md §1.3): no higher-order function per field
  * and no re-split of the joined text.
  *
  * Every value is bit-identical to the Spark SQL derivation it replaces
  * (FoldKernelSpec keeps it as its oracle):
  *
  *  - a turn's normalized text is the reference's `clean_string` (NFKD →
  *    ASCII → strip → upper, data_reader.py:108–114, [[Sim.normalizeAscii]])
  *    with every run of ASCII whitespace collapsed to one space; a null
  *    text stays null;
  *  - `family_name` / `given_name`: the normalized text of the first / last
  *    turn whose role is `user`, "" when there is none or its text is null;
  *  - `phone_number`: the tool signatures of the turns whose tool is
  *    neither null nor "" (Spark `upper`, under the session's case mapping,
  *    then only `[A-Z0-9]` kept: `ß` upper-cases to `SS`), distinct,
  *    sorted and concatenated;
  *  - `sex`: the first turn's role;
  *  - `addr` ([[graft.linkage.Schemas.addrStruct]] order, the addr_parse
  *    analog of matching.py:34–59): over the non-empty normalized texts
  *    joined by one space, `number` is the leading token, `street` the
  *    tokens between the first and the last, `suffix` the last token (of
  *    at least two); the tool signature plays the occupancy role, `prefix`
  *    `TOOL` when it is non-empty and `value` the signature itself; `full`
  *    is the joined text.
  */
object FoldKernel {

  private def f(name: String, nullable: Boolean = false) =
    StructField(name, StringType, nullable)

  /** The `addr` struct, with the nullability the Column derivation typed
    * it with, so a written records table keeps its schema. */
  val AddrSchema: StructType = StructType(Seq(f("number", nullable = true),
    f("street"), f("suffix", nullable = true), f("prefix"), f("value"),
    f("full")))

  /** The struct [[FoldFields]] returns, in record column order. */
  val Schema: StructType = StructType(Seq(f("family_name"), f("given_name"),
    f("phone_number"), f("sex", nullable = true),
    StructField("addr", AddrSchema, nullable = false)))

  private val User = UTF8String.fromString("user")
  private val Tool = UTF8String.fromString("TOOL")
  private val Empty = UTF8String.EMPTY_UTF8

  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  private def isSigChar(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** `clean_string` with whitespace runs collapsed; null for null. */
  private def normText(text: UTF8String): String =
    if (text == null) null
    else {
      val s = Sim.normalizeAscii(text.toString)
      val sb = new java.lang.StringBuilder(s.length)
      var k = 0
      while (k < s.length) {
        val c = s.charAt(k)
        if (!isSpace(c)) { sb.append(c); k += 1 }
        else {
          sb.append(' ')
          while (k < s.length && isSpace(s.charAt(k))) k += 1
        }
      }
      sb.toString
    }

  /** Spark `upper` of a tool name, then only `[A-Z0-9]` kept. */
  private def toolSig(tool: UTF8String, icuUpper: Boolean): String = {
    val upper = if (tool.isFullAscii) tool.toUpperCaseAscii
      else CollationSupport.Upper.exec(tool,
        CollationFactory.UTF8_BINARY_COLLATION_ID, icuUpper)
    val s = upper.toString
    val sb = new java.lang.StringBuilder(s.length)
    var k = 0
    while (k < s.length) {
      if (isSigChar(s.charAt(k))) sb.append(s.charAt(k))
      k += 1
    }
    sb.toString
  }

  /** The [[Schema]] row of one conversation: `turns` holds structs of
    * `width` fields, sorted by turn index, with the role, text and tool
    * strings at the given ordinals. A null `turns` folds as no turns. */
  def fields(turns: ArrayData, width: Int, role: Int, text: Int, tool: Int,
             icuUpper: Boolean): InternalRow = {
    val n = if (turns == null) 0 else turns.numElements()
    var family: String = null
    var given: String = null
    var seenUser = false
    var sex: UTF8String = null
    val full = new java.lang.StringBuilder
    val sigs = new java.util.TreeSet[String]()
    var k = 0
    while (k < n) {
      val t = turns.getStruct(k, width)
      val r = if (t.isNullAt(role)) null else t.getUTF8String(role)
      if (k == 0 && r != null) sex = r.clone()
      val norm = if (t.isNullAt(text)) null else normText(t.getUTF8String(text))
      if (User == r) {
        if (!seenUser) { family = norm; seenUser = true }
        given = norm
      }
      if (norm != null && norm.nonEmpty) {
        if (full.length > 0) full.append(' ')
        full.append(norm)
      }
      if (!t.isNullAt(tool)) {
        val tl = t.getUTF8String(tool)
        if (tl.numBytes > 0) sigs.add(toolSig(tl, icuUpper))
      }
      k += 1
    }
    val phone = String.join("", sigs)
    val row = new GenericInternalRow(Schema.length)
    row.update(0, utf8(family))
    row.update(1, utf8(given))
    row.update(2, UTF8String.fromString(phone))
    row.update(3, sex)
    row.update(4, addr(full.toString, phone))
    row
  }

  private def utf8(s: String): UTF8String =
    if (s == null) Empty else UTF8String.fromString(s)

  /** The [[AddrSchema]] row of the joined text, which has single spaces
    * between tokens and none at its ends. */
  private def addr(full: String, phone: String): InternalRow = {
    val first = full.indexOf(' ')
    val last = full.lastIndexOf(' ')
    val row = new GenericInternalRow(AddrSchema.length)
    if (first < 0) {
      row.update(0, UTF8String.fromString(full))
      row.update(1, Empty)
      row.update(2, Empty)
    } else {
      row.update(0, UTF8String.fromString(full.substring(0, first)))
      row.update(1, if (first < last)
        UTF8String.fromString(full.substring(first + 1, last)) else Empty)
      row.update(2, UTF8String.fromString(full.substring(last + 1)))
    }
    row.update(3, if (phone.isEmpty) Empty else Tool)
    row.update(4, UTF8String.fromString(phone))
    row.update(5, UTF8String.fromString(full))
    row
  }
}
