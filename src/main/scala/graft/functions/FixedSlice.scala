package graft.functions

import graft.schema.FixedSchema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All fixed-width column slices of a line in ONE forward scan.
  *
  * The naive parse projection — one `substring(line, start, len)` per
  * column — re-walks the line from byte 0 for every column (Spark's
  * codepoint-counted substring has no entry index), so a 30-column,
  * 528-rune row costs O(cols x row_len) byte inspections plus 30
  * copies. This expression walks the line's UTF-8 bytes exactly once,
  * emitting a ZERO-COPY `UTF8String` slice per field (the downstream
  * trim/cast/timestamp expressions read it in the same row scope, and
  * the output writer copies — so sharing the backing bytes is safe).
  * Slicing is still codepoint-based, preserving the reference's
  * rune-width semantics (`fixed2avro/Util.go:45-65`, fine print F4);
  * for pure-ASCII lines the walk degenerates to pointer arithmetic.
  *
  * The parser references the SAME expression subtree from every output
  * column; whole-stage codegen's subexpression elimination evaluates
  * it once per row.
  */
object FixedSlice {

  /** One-pass slicer (called from both eval and generated code).
    * Fields must be contiguous ascending (FixedSchema.runeStarts is).
    * A short line yields empty slices past its end — the same shape
    * Spark's substring gives, preserved for best-effort short-line
    * parsing (F5/F8 handling lives in the parser's wellFormed guard).
    *
    * `trimmed(f)` shrinks that field's byte bounds past leading and
    * trailing 0x20 — zero-copy space trimming for the padded numeric /
    * timestamp fields, replacing a per-field `trim()` allocation
    * (ASCII space can never be a UTF-8 continuation byte, so the byte
    * test is codepoint-safe; the semantics match Spark's `trim`, which
    * strips the space character only). */
  /** Byte index of the first non-ASCII byte (== numBytes for a pure-
    * ASCII line), word-at-a-time: 8 sign bits per long-load — a 528-byte
    * ASCII line is 66 loads, ~100 ns — buying the offset-arithmetic
    * slicing below for every field inside the prefix (x86/arm handle the
    * unaligned loads natively). */
  private[functions] def asciiPrefixLen(line: UTF8String): Int = {
    val n = line.numBytes()
    val base = line.getBaseObject
    val off = line.getBaseOffset
    var i = 0
    while (i + 8 <= n && (org.apache.spark.unsafe.Platform.getLong(base, off + i)
          & 0x8080808080808080L) == 0L) i += 8
    while (i < n && line.getByte(i) >= 0) i += 1
    i
  }

  /** Advance a (byte, char) cursor to `targetChar`, returned packed as
    * `(byteIdx << 32) | charIdx`. ASCII stretches hop 8 bytes per step
    * (sign-bit word test — IDENTICAL semantics to the byte step, which
    * counts an ASCII byte as one rune, so well-formed and malformed
    * input alike slice exactly as the per-codepoint walk would);
    * multibyte stretches step per codepoint. Mixed real corpora are
    * mostly-ASCII lines, so this keeps the walk near offset-arithmetic
    * speed everywhere except inside genuinely multibyte runs. */
  private[functions] def advance(line: UTF8String, base: AnyRef, off: Long, numBytes: Int,
      byte0: Int, char0: Int, targetChar: Int): Long = {
    var b = byte0
    var c = char0
    while (c < targetChar && b < numBytes) {
      if (c + 8 <= targetChar && b + 8 <= numBytes &&
          (org.apache.spark.unsafe.Platform.getLong(base, off + b)
            & 0x8080808080808080L) == 0L) {
        b += 8; c += 8
      } else {
        // Clamp: a TRUNCATED multibyte tail (a 4-byte lead as the
        // line's last byte) would otherwise step b past numBytes, and
        // the slice built from it reads beyond the line buffer — on
        // LineScan's zero-copy mmap rows that is an out-of-bounds
        // read of the file mapping, potentially a SIGSEGV at a
        // page-aligned EOF. Well-formed UTF-8 never hits the clamp.
        b = Math.min(b + UTF8String.numBytesForFirstByte(line.getByte(b)), numBytes)
        c += 1
      }
    }
    (b.toLong << 32) | (c.toLong & 0xffffffffL)
  }

  def slices(line: UTF8String, starts: Array[Int], lens: Array[Int],
      trimmed: Array[Boolean]): GenericArrayData = {
    val nFields = starts.length
    val out = new Array[AnyRef](nFields)
    val numBytes = line.numBytes()
    val base = line.getBaseObject
    val offset = line.getBaseOffset
    // Rune index == byte index everywhere inside the ASCII prefix, so a
    // field wholly inside it slices by pure offset arithmetic — no walk.
    // That is the WHOLE line for ASCII corpora (the overwhelmingly
    // common case — the reference's corpora are ASCII, and the walk was
    // the dominant cost of the parse leg: ~5 us/row for 30 fields x 528
    // runes vs ~6x cheaper here), and the leading columns of a mostly-
    // ASCII line in a mixed corpus. Short lines still yield empty
    // slices past the end via the min() bounds.
    val ascii = asciiPrefixLen(line)
    val allAscii = ascii == numBytes
    var f = 0
    while (f < nFields && (allAscii || starts(f) + lens(f) <= ascii)) {
      var startByte = Math.min(starts(f), numBytes)
      var endByte = Math.min(starts(f) + lens(f), numBytes)
      if (trimmed(f)) {
        while (startByte < endByte && line.getByte(startByte) == 0x20) startByte += 1
        while (endByte > startByte && line.getByte(endByte - 1) == 0x20) endByte -= 1
      }
      out(f) = UTF8String.fromAddress(base, offset + startByte, endByte - startByte)
      f += 1
    }
    if (f < nFields) {
      // Rune-aware walk for the remaining fields, entered AT the prefix
      // boundary (chars == bytes there), not at byte 0.
      var charIdx = Math.min(starts(f), ascii)
      var byteIdx = charIdx
      while (f < nFields) {
        val startChar = starts(f)
        val endChar = startChar + lens(f)
        var cur = advance(line, base, offset, numBytes, byteIdx, charIdx, startChar)
        var startByte = (cur >>> 32).toInt
        cur = advance(line, base, offset, numBytes, startByte, cur.toInt, endChar)
        byteIdx = (cur >>> 32).toInt
        charIdx = cur.toInt
        var endByte = byteIdx
        if (trimmed(f)) {
          while (startByte < endByte && line.getByte(startByte) == 0x20) startByte += 1
          while (endByte > startByte && line.getByte(endByte - 1) == 0x20) endByte -= 1
        }
        out(f) = UTF8String.fromAddress(base, offset + startByte, endByte - startByte)
        f += 1
      }
    }
    new GenericArrayData(out)
  }

  case class FixedSlices(child: Expression, starts: Array[Int], lens: Array[Int],
      trimmed: Array[Boolean]) extends UnaryExpression {
    require(starts.length == lens.length && starts.length == trimmed.length
      && starts.length > 0)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "fixed_slices"
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      slices(input.asInstanceOf[UTF8String], starts, lens, trimmed)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val startsRef = ctx.addReferenceObj("starts", starts, "int[]")
      val lensRef = ctx.addReferenceObj("lens", lens, "int[]")
      val trimRef = ctx.addReferenceObj("trimmed", trimmed, "boolean[]")
      nullSafeCodeGen(ctx, ev, line =>
        s"${ev.value} = graft.functions.FixedSlice.slices($line, $startsRef, $lensRef, $trimRef);")
    }

    override protected def withNewChildInternal(c: Expression): FixedSlices =
      copy(child = c)
  }

  /** `trimFields`: which fields get the zero-copy space trim (the
    * parser trims numerics/timestamps in Strict mode; Compat keeps Go
    * strconv's untrimmed-input semantics). */
  def fixed_slices(line: Column, schema: FixedSchema,
      trimFields: Array[Boolean]): Column =
    ColumnBridge.column(FixedSlices(ColumnBridge.expression(line),
      schema.runeStarts.toArray, schema.fields.map(_.runeLen).toArray, trimFields))
}
