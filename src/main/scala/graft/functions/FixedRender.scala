package graft.functions

import graft.schema.FixedSchema
import graft.schema.FixedType._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType, TimestampNTZType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whole-row fixed-width render in ONE pass: the inverse of
  * [[FixedSlice]]. The declarative form — per-field
  * `lpad/rpad(cast(c as string))` guards concatenated — allocates ~2-3
  * intermediate `UTF8String`s per field per row; this expression
  * formats every field straight into one reusable byte buffer
  * (numerics via `Integer/Long/Float/Double.toString`, the SAME
  * formatting Spark's string cast uses; timestamps via
  * [[RefTimestamp.formatMicros]]; strings/bytes as raw UTF-8 with
  * codepoint-counted padding). Padding, null → empty-content padding,
  * zero-pad mode, and the value-wider-than-width error all match the
  * declarative formulation, pinned by an equality spec plus the
  * render→parse identity property suite.
  */
object FixedRender {

  /** `code` is the field's `FixedType.code`. */
  final case class FieldMeta(name: String, code: Int, len: Int, zeroPad: Boolean)
    extends Serializable

  def metaFor(schema: FixedSchema, zeroPadNumerics: Boolean): Array[FieldMeta] =
    schema.fields.map { f =>
      FieldMeta(f.name, f.fixedType.code, f.runeLen, zeroPadNumerics && f.fixedType.numeric)
    }.toArray

  private val bufLocal: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](512))

  private def fail(m: FieldMeta, v: String): Nothing =
    throw new IllegalArgumentException(
      s"fixedwidth render: value wider than ${m.len} runes in field '${m.name}': '$v'")

  /** Called from both eval and generated code (metaObj is the
    * `FieldMeta[]` reference). */
  def render(row: InternalRow, metaObj: AnyRef): UTF8String = {
    val meta = metaObj.asInstanceOf[Array[FieldMeta]]
    var buf = bufLocal.get()
    var pos = 0
    @inline def ensure(n: Int): Unit =
      if (pos + n > buf.length) {
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))
        bufLocal.set(buf)
      }
    @inline def pad(n: Int, b: Byte): Unit = {
      ensure(n)
      var i = 0
      while (i < n) { buf(pos) = b; pos += 1; i += 1 }
    }
    def leftPadAscii(s: String, m: FieldMeta): Unit = {
      val n = s.length
      if (n > m.len) fail(m, s)
      pad(m.len - n, if (m.zeroPad) '0' else ' ')
      ensure(n)
      var i = 0
      while (i < n) { buf(pos) = s.charAt(i).toByte; pos += 1; i += 1 }
    }
    def rightPadUtf8(u: UTF8String, m: FieldMeta): Unit = {
      val n = u.numChars()
      if (n > m.len) fail(m, u.toString)
      val nb = u.numBytes()
      ensure(nb + (m.len - n))
      u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += nb
      var i = 0
      while (i < m.len - n) { buf(pos) = ' '; pos += 1; i += 1 }
    }
    var f = 0
    while (f < meta.length) {
      val m = meta(f)
      if (row.isNullAt(f)) {
        // coalesce(null, "") then pad — full-width padding
        pad(m.len, if (m.zeroPad) '0' else ' ')
      } else m.code match {
        case CString  => rightPadUtf8(row.getUTF8String(f), m)
        case CBytes   => rightPadUtf8(UTF8String.fromBytes(row.getBinary(f)), m)
        case CBoolean => leftPadAscii(if (row.getBoolean(f)) "Y" else "N", m)
        case CInt     => leftPadAscii(java.lang.Integer.toString(row.getInt(f)), m)
        case CLong    => leftPadAscii(java.lang.Long.toString(row.getLong(f)), m)
        case CFloat   => leftPadAscii(java.lang.Float.toString(row.getFloat(f)), m)
        case CDouble  => leftPadAscii(java.lang.Double.toString(row.getDouble(f)), m)
        case CDate | CTimestampMillis | CTimestampMicros =>
          // NTZ micros in the struct (see render_line)
          val s = RefTimestamp.formatMicros(row.getLong(f)) // ASCII
          val n = s.numBytes()
          if (n > m.len) fail(m, s.toString)
          pad(m.len - n, ' ')
          ensure(n)
          s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += n
      }
      f += 1
    }
    // copy out: the thread-local buffer is reused on the next row
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, pos))
  }

  case class RenderLine(child: Expression, meta: Array[FieldMeta])
      extends UnaryExpression {
    require(meta.nonEmpty)
    override def dataType: DataType = StringType
    override def prettyName: String = "render_fixed_line"
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      render(input.asInstanceOf[InternalRow], meta)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val metaRef = ctx.addReferenceObj("meta", meta, "Object")
      nullSafeCodeGen(ctx, ev, row =>
        s"${ev.value} = graft.functions.FixedRender.render($row, $metaRef);")
    }

    override protected def withNewChildInternal(c: Expression): RenderLine =
      copy(child = c)
  }

  /** The whole-row render column: one expression over a struct of the
    * schema's columns (numerics/booleans cast to the field's natural
    * type, date/timestamp widened to NTZ micros — the same
    * normalization the declarative renderer applies). */
  def render_line(schema: FixedSchema, zeroPadNumerics: Boolean): Column = {
    val cols = schema.fields.map { f =>
      col(f.name).cast(if (f.fixedType.temporal) TimestampNTZType else f.sparkType)
    }
    ColumnBridge.column(RenderLine(
      ColumnBridge.expression(struct(cols: _*)),
      metaFor(schema, zeroPadNumerics)))
  }
}
