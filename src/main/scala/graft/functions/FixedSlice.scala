package graft.functions

import graft.schema.FixedSchema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
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

  /** Byte index of the first non-ASCII byte (== numBytes for a pure-
    * ASCII line), word-at-a-time: 8 sign bits per long-load — a 528-byte
    * ASCII line is 66 loads, ~100 ns — buying the offset-arithmetic
    * slicing below for every field inside the prefix (x86/arm handle the
    * unaligned loads natively). */
  private def asciiPrefixLen(line: UTF8String): Int = {
    val n = line.numBytes()
    val base = line.getBaseObject
    val off = line.getBaseOffset
    var i = 0
    while (i + 8 <= n && (Platform.getLong(base, off + i)
          & 0x8080808080808080L) == 0L) i += 8
    while (i < n && line.getByte(i) >= 0) i += 1
    i
  }

  /** Advance a (byte, char) cursor to `targetChar`; returns the byte
    * index. ASCII stretches hop 8 bytes per step (sign-bit word test —
    * IDENTICAL semantics to the byte step, which counts an ASCII byte as
    * one rune, so well-formed and malformed input alike slice exactly as
    * the per-codepoint walk would); multibyte stretches step per
    * codepoint. Mixed real corpora are mostly-ASCII lines, so this keeps
    * the walk near offset-arithmetic speed everywhere except inside
    * genuinely multibyte runs. */
  private def advance(base: AnyRef, off: Long, numBytes: Int,
      byte0: Int, char0: Int, targetChar: Int): Int = {
    var b = byte0
    var c = char0
    while (c < targetChar && b < numBytes) {
      if (c + 8 <= targetChar && b + 8 <= numBytes &&
          (Platform.getLong(base, off + b)
            & 0x8080808080808080L) == 0L) {
        b += 8; c += 8
      } else {
        // Clamp: a TRUNCATED multibyte tail (a 4-byte lead as the
        // line's last byte) would otherwise step b past numBytes, and
        // the slice built from it reads beyond the line buffer — on
        // LineScan's zero-copy mmap rows that is an out-of-bounds
        // read of the file mapping, potentially a SIGSEGV at a
        // page-aligned EOF. Well-formed UTF-8 never hits the clamp.
        b = Math.min(b + UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b)),
          numBytes)
        c += 1
      }
    }
    b
  }

  /* The one fixed-width slice walk, shared by the typed parse
   * ([[slices]]) and the fused encoder ([[FixedAvro.LineEncoder]]).
   * Fields are contiguous ascending from rune 0 (FixedSchema.runeStarts
   * is) and are visited in order, so a field starts at the byte where
   * the previous one ended: the walk's only state is that byte, a local
   * of the consumer's loop —
   *
   *   val prefix = FixedSlice.prefixEnd(line); var b = 0
   *   per field f:  s = b; e = fieldEnd(base, off, numBytes, prefix, b, start(f), end(f)); b = e
   *                 if trimmed(f): s = trimStart(base, off, s, e); e = trimEnd(base, off, s, e)
   *
   * — so neither consumer allocates anything for it.
   *
   * Rune index == byte index everywhere inside the line's ASCII prefix,
   * so a field wholly inside it slices by pure offset arithmetic — no
   * walk. That is the WHOLE line for ASCII corpora (the overwhelmingly
   * common case — the reference's corpora are ASCII, and the walk was
   * the dominant cost of the parse leg: ~5 us/row for 30 fields x 528
   * runes vs ~6x cheaper here), and the leading columns of a
   * mostly-ASCII line in a mixed corpus. The fields past the prefix take
   * the rune-aware [[advance]], entered at the previous field's end,
   * not at byte 0.
   *
   * A short line yields empty slices past its end — the same shape
   * Spark's substring gives, preserved for best-effort short-line
   * parsing (F5/F8 handling lives in the parser's wellFormed guard). */

  /** The rune below which `line`'s runes are its bytes (Int.MaxValue for
    * an all-ASCII line): the walk's offset-arithmetic bound. */
  def prefixEnd(line: UTF8String): Int = {
    val ascii = asciiPrefixLen(line)
    if (ascii == line.numBytes()) Int.MaxValue else ascii
  }

  /** The end byte of the field spanning runes `[startChar, endChar)`,
    * which starts at byte `b` of a line of `numBytes` bytes. */
  def fieldEnd(base: AnyRef, off: Long, numBytes: Int, prefixEnd: Int, b: Int,
      startChar: Int, endChar: Int): Int =
    if (endChar <= prefixEnd) Math.min(endChar, numBytes)
    else advance(base, off, numBytes, b, startChar, endChar)

  /** The first byte of `[s, e)` past leading 0x20. With [[trimEnd]]:
    * zero-copy space trimming for the padded numeric / timestamp
    * fields, replacing a per-field `trim()` allocation (ASCII space can
    * never be a UTF-8 continuation byte, so the byte test is
    * codepoint-safe; the semantics match Spark's `trim`, which strips
    * the space character only). */
  def trimStart(base: AnyRef, off: Long, s0: Int, e: Int): Int = {
    var s = s0
    while (s < e && Platform.getByte(base, off + s) == 0x20) s += 1
    s
  }

  /** The end of `[s, e)` before trailing 0x20. */
  def trimEnd(base: AnyRef, off: Long, s: Int, e0: Int): Int = {
    var e = e0
    while (e > s && Platform.getByte(base, off + e - 1) == 0x20) e -= 1
    e
  }

  /** Every field of `line` as a zero-copy slice (called from both eval
    * and generated code). */
  def slices(line: UTF8String, starts: Array[Int], lens: Array[Int],
      trimmed: Array[Boolean]): GenericArrayData = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val numBytes = line.numBytes()
    val prefix = prefixEnd(line)
    val out = new Array[AnyRef](starts.length)
    var b = 0
    var f = 0
    while (f < out.length) {
      var s = b
      var e = fieldEnd(base, off, numBytes, prefix, b, starts(f), starts(f) + lens(f))
      b = e
      if (trimmed(f)) { s = trimStart(base, off, s, e); e = trimEnd(base, off, s, e) }
      out(f) = UTF8String.fromAddress(base, off + s, e - s)
      f += 1
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
