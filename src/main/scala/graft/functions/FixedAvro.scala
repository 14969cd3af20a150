package graft.functions

import graft.schema.FixedSchema
import graft.schema.FixedType._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused fixed-width line → Avro record bytes, in ONE pass.
  *
  * This is the Spark re-expression of the reference's fused toAvro
  * stage (`fixed2avro/ColumnBuilder.go:198-227`: slice each line,
  * overwrite one reused record, marshal) — and the end of a measured
  * optimization ladder. The composable chain
  * `parse(...)` → `to_avro_confluent(fields)` already collapses into a
  * single WholeStageCodegen projection, but still pays, per row: one
  * `GenericArrayData` + 30 slice `UTF8String` wrappers from the shared
  * slicer, 30 `element_at` dispatches, and per-field boxing on the
  * fallback parse surfaces. Profiled on the weblog shape (30 cols, 528
  * runes), that wrapper traffic — NOT the typed parsing and NOT the
  * Avro buffer — is the dominant cost. [[LineEncoder]] slices and
  * parses each field straight off the line's backing memory as
  * `(base, offset, len)` and writes the Avro wire bytes immediately:
  * zero per-field allocations on the fast paths, strings ship with a
  * single copy (line buffer → wire buffer).
  *
  * Two consumers:
  *  - [[FixedEncode]], the Column expression (line → framed `byte[]`)
  *    — the Kafka-frame shape, where the output IS a bytes column;
  *  - the OCF sink (`Ocf.writeFixed`), which hands [[LineEncoder]] the
  *    container BLOCK buffer itself, so record bytes land directly in
  *    the block with no per-row `byte[]`/UnsafeRow materialization at
  *    all — the whole file→OCF pipeline allocates nothing per row,
  *    like the reference's reused-record chunk loop.
  *
  * Semantics are EXACTLY the Strict parse + encode chain's, pinned by
  * `FixedAvroSpec` byte-identity: slicing is the parse's own walk
  * ([[FixedSlice.fieldEnd]]), numeric/timestamp fields are
  * space-trimmed zero-copy, parse surfaces reuse the SAME primitives
  * ([[FastDouble.fastBits]], [[RefTimestamp.parseMicros]],
  * `UTF8String.toLong` — what Spark's cast calls), and a field whose
  * strict parse would yield null throws the same no-unions error as
  * [[AvroCodec.AvroEncodeDirect]] (SURVEY.md §1.2).
  */
object FixedAvro {

  /** `try_cast(s AS FLOAT)`'s surface, mirroring [[FastDouble]]'s
    * pinned double twin: trim → special literals → parseFloat, null on
    * failure. Kept separate from the double fast path on purpose:
    * parsing the decimal as double and narrowing would double-round,
    * which is NOT always Float.parseFloat's answer. */
  private[graft] def tryParseFloat(s: UTF8String): java.lang.Float = {
    val str = s.toString.trim
    str.toLowerCase(java.util.Locale.ROOT) match {
      case "inf" | "+inf" | "infinity" | "+infinity" =>
        java.lang.Float.valueOf(Float.PositiveInfinity)
      case "-inf" | "-infinity" =>
        java.lang.Float.valueOf(Float.NegativeInfinity)
      case "nan" => java.lang.Float.valueOf(Float.NaN)
      case _ =>
        try java.lang.Float.valueOf(java.lang.Float.parseFloat(str))
        catch { case _: NumberFormatException => null }
    }
  }

  /** One-pass line → Avro-record-bytes encoder writing into a
    * CALLER-SUPPLIED [[AvroCodec.AvroWire]]. NOT thread-safe (holds a
    * reused parse wrapper); one instance per task.
    *
    * `nullable = true` (r18) emits the `["null", T]` OPTIONAL-union
    * wire shape ([[graft.schema.FixedSchema.nullableAvroJson]]): every
    * field is prefixed by its union branch index (0 = null, 1 = T —
    * null-first, the nullableAvroJson branch order), and a slice whose
    * strict parse is null encodes as the null branch instead of
    * throwing. This closes the r17 restriction where nullable corpora
    * lost the fused fast path: the branch-index bytes are pinned
    * byte-identical to the general codec
    * (parse → to_avro(nullableAvroJson)) by FixedAvroSpec. Every value
    * is parsed BEFORE its branch index is written, so a failed parse
    * never leaves a half-written field. The flat default (`nullable =
    * false`) is unchanged: branch-less bytes, loud throw on null. */
  final class LineEncoder(fixed: FixedSchema, frameId: Int,
      nullable: Boolean = false) extends Serializable {
    private val nFields = fixed.fields.size
    // The Strict parser's trim decision (FixedType.strictTrim), which
    // the byte-identity contract with the parse chain (FixedAvroSpec)
    // depends on.
    private val trims: Array[Boolean] = fixed.fields.map(_.fixedType.strictTrim).toArray
    private val codes: Array[Int] = fixed.fields.map(_.fixedType.code).toArray
    private val starts: Array[Int] = fixed.runeStarts.toArray
    private val ends: Array[Int] = fixed.fields.indices.map(f => starts(f) + fixed.fields(f).runeLen).toArray
    private val header: Array[Byte] =
      if (frameId >= 0) Confluent.prefixBytes(frameId) else Array.emptyByteArray
    @transient private lazy val longWrapper = new UTF8String.LongWrapper

    private def fail(f: Int): Nothing =
      throw new IllegalArgumentException(
        s"fixed_to_avro: unparseable ${fixed.fields(f).parseType} in field " +
          s"'${fixed.fields(f).name}' — the strict parse of this slice is null, and " +
          "the fixed-width schema model has no unions/nullable fields " +
          "(SURVEY.md §1.2); filter or default such lines before encoding")

    /** Plain `[+-]?digits` parsed inline with Long.parseLong's overflow
      * arithmetic, or Long.MinValue for anything else — that value's own
      * text included — where the caller falls back to `UTF8String.toLong`,
      * the exact routine Spark's cast calls, so the two paths cannot
      * diverge on inputs the cast accepts. */
    private def plainLong(base: AnyRef, off: Long, n: Int): Long = {
      if (n == 0 || n > 19) return Long.MinValue
      var i = 0
      var neg = false
      val b0 = org.apache.spark.unsafe.Platform.getByte(base, off)
      if (b0 == '-') { neg = true; i = 1 }
      else if (b0 == '+') i = 1
      if (i >= n) return Long.MinValue
      var m = 0L // accumulate negative: holds Long.MinValue
      while (i < n) {
        val d = org.apache.spark.unsafe.Platform.getByte(base, off + i) - '0'
        if (d < 0 || d > 9) return Long.MinValue
        if (m < -922337203685477580L || (m == -922337203685477580L && d > 8))
          return Long.MinValue // potential overflow → exact path
        m = m * 10 - d
        i += 1
      }
      if (neg) m else -m // -Long.MinValue overflows to Long.MinValue: exact path
    }

    /** Append `line`'s (optional Confluent header +) record body to
      * `wire`. Throws on any field whose strict parse would be null;
      * the wire may then hold a partial record — callers that continue
      * past failures must reset it (both current callers abort). */
    def encodeInto(line: UTF8String, wire: AvroCodec.AvroWire): Unit = {
      if (header.length > 0) wire.writeRaw(header)
      val base = line.getBaseObject
      val off = line.getBaseOffset
      val numBytes = line.numBytes()
      val prefix = FixedSlice.prefixEnd(line)
      var b = 0 // the slice walk's cursor (FixedSlice.fieldEnd)
      var f = 0
      while (f < nFields) {
        var s = b
        var e = FixedSlice.fieldEnd(base, off, numBytes, prefix, b, starts(f), ends(f))
        b = e
        if (trims(f)) { s = FixedSlice.trimStart(base, off, s, e); e = FixedSlice.trimEnd(base, off, s, e) }
        val fOff = off + s
        val n = e - s
        // Each lane parses its slice, hands the outcome to `present` —
        // nothing touches the wire before the parse is known-good — and
        // writes the value if that says so.
        codes(f) match {
          case CString | CBytes =>
            present(ok = true, f, wire)
            wire.writeMemory(base, fOff, n)
          case CInt | CLong =>
            // Avro int and long share the zigzag varint encoding over the
            // int range (pinned in AvroDirectSpec), so one writeLong
            // serves both — and any int/long → Avro long promotion.
            var v = plainLong(base, fOff, n)
            var ok = true
            if (v == Long.MinValue) {
              ok = UTF8String.fromAddress(base, fOff, n).toLong(longWrapper)
              v = longWrapper.value
            }
            if (present(ok && (codes(f) == CLong || (v >= Int.MinValue && v <= Int.MaxValue)),
                f, wire)) wire.writeLong(v)
          case CDouble =>
            val bits = FastDouble.fastBits(base, fOff, n)
            if (bits != FastDouble.FallbackBits) {
              present(ok = true, f, wire)
              wire.writeDouble(java.lang.Double.longBitsToDouble(bits))
            } else {
              val d = FastDouble.tryParse(UTF8String.fromAddress(base, fOff, n))
              if (present(d != null, f, wire)) wire.writeDouble(d.doubleValue())
            }
          case CFloat =>
            // Rare type on hot schemas; route through the cast-equivalent
            // surface (tryParseFloat: trim → specials → parseFloat).
            val v = tryParseFloat(UTF8String.fromAddress(base, fOff, n))
            if (present(v != null, f, wire)) wire.writeFloat(v.floatValue())
          case CTimestampMicros =>
            val micros = RefTimestamp.parseMicros(base, fOff, n)
            if (present(micros != Long.MinValue, f, wire)) wire.writeLong(micros)
          case CTimestampMillis =>
            val micros = RefTimestamp.parseMicros(base, fOff, n)
            if (present(micros != Long.MinValue, f, wire))
              wire.writeLong(Math.floorDiv(micros, 1000L))
          case CDate =>
            val micros = RefTimestamp.parseMicros(base, fOff, n)
            if (present(micros != Long.MinValue, f, wire))
              wire.writeLong(Math.floorDiv(micros, 86400000000L))
          case CBoolean =>
            // Strict vocabulary: first char J/j/Y/y → true, N/n → false,
            // anything else (incl. empty) is a null parse. A multibyte
            // first char can never match, exactly like the
            // upper(substring(raw,1,1)).isin chain.
            val c = if (n == 0) 0.toByte
              else org.apache.spark.unsafe.Platform.getByte(base, fOff)
            val no = c == 'N' || c == 'n'
            if (present(no || c == 'J' || c == 'j' || c == 'Y' || c == 'y', f, wire))
              wire.writeBoolean(!no)
        }
        f += 1
      }
    }

    /** The one null decision, between field `f`'s parse and its value:
      * a failed parse writes the null branch (0, null-first union) on
      * the nullable lane and throws on the flat one; a good one writes
      * branch 1 (nullable only). True when the value follows. */
    private def present(ok: Boolean, f: Int, wire: AvroCodec.AvroWire): Boolean = {
      if (nullable) wire.writeLong(if (ok) 1L else 0L)
      else if (!ok) fail(f)
      ok
    }
  }

  /** line → (optional Confluent header +) Avro record body as a bytes
    * column. `frameId >= 0` prepends `[0x00][id:4B BE]`; -1 emits the
    * bare body. Strict parse mode only — Compat's zero-fill semantics
    * stay on the composable chain, which is not a hot path.
    * `nullable = true` emits the `["null", T]` optional-union wire
    * shape (see [[LineEncoder]]). */
  case class FixedEncode(child: Expression, fixed: FixedSchema, frameId: Int,
      optional: Boolean = false)
      extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "fixed_to_avro"
    override def nullIntolerant: Boolean = true

    // Reused per-task state (expressions are deserialized per task, so
    // instance state is single-threaded — same contract as
    // AvroEncodeDirect's wire buffer).
    @transient private lazy val encoder = new LineEncoder(fixed, frameId, optional)
    @transient private lazy val wire = new AvroCodec.AvroWire(1024)

    def encodeLine(line: UTF8String): Array[Byte] = {
      wire.reset()
      encoder.encodeInto(line, wire)
      wire.result()
    }

    override def nullSafeEval(input: Any): Any =
      encodeLine(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("fixedAvro", this, classOf[FixedEncode].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (byte[]) $ref.encodeLine($c);")
    }

    override protected def withNewChildInternal(c: Expression): FixedEncode =
      copy(child = c)
  }

  /** Column API: fused line → Confluent-framed Avro bytes. */
  def fixed_to_avro_confluent(line: Column, schema: FixedSchema, schemaId: Int): Column =
    ColumnBridge.column(FixedEncode(ColumnBridge.expression(line), schema, schemaId))

  /** Column API: fused line → Confluent-framed OPTIONAL-union Avro
    * bytes — the wire shape of
    * [[graft.schema.FixedSchema.nullableAvroJson]]; failed strict
    * parses encode as the null branch instead of throwing. */
  def fixed_to_avro_confluent_nullable(line: Column, schema: FixedSchema,
      schemaId: Int): Column =
    ColumnBridge.column(FixedEncode(ColumnBridge.expression(line), schema, schemaId,
      optional = true))
}
