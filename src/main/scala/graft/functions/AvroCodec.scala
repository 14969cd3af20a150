package graft.functions

import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, DecoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator, GetStructField, If, IsNull, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro binary codec as native Catalyst expressions.
  *
  * The environment ships the Avro Java library but not the spark-avro
  * module, so `to_avro`/`from_avro` are re-implemented here over
  * `org.apache.avro` directly. This re-expresses the reference's
  * per-record `avro.Marshal` (`fixed2avro/ColumnBuilder.go:75-95`) as an
  * expression: one reused output buffer per task (the reference reuses
  * one record per chunk, `fixed2avro/ColumnBuilder.go:67-68`), no
  * per-row allocation beyond the output byte array.
  *
  * Supported field types = the reference's type universe (SURVEY.md §1.3):
  * boolean, bytes, int, long, float, double, string, date (int days),
  * timestamp-millis/micros (long), each plain or as the optional
  * `["null", T]` union ([[graft.schema.FixedSchema.nullableAvroJson]]).
  *
  * One table, [[kindOf]], maps an (Avro field schema, Spark type) pair to
  * its wire kind. Every encoder ([[AvroEncodeDirect]] under `to_avro`,
  * `to_avro_confluent` and SQL `avro_encode`, and the OCF sink's
  * [[RowWriter]]) and every decoder ([[RowReader]] under `from_avro`,
  * the Kafka decode and the OCF source) dispatches on it.
  */
object AvroCodec {

  // Wire kinds: the value encoding of one field.
  private[graft] final val KBool = 0; private[graft] final val KInt = 1
  private[graft] final val KLong = 2; private[graft] final val KIntAsLong = 3
  private[graft] final val KFloat = 4; private[graft] final val KDouble = 5
  private[graft] final val KStr = 6; private[graft] final val KBytes = 7
  private[graft] final val KTsMillis = 8

  /** A field's wire kind; for an optional `["null", T]` union also its
    * null and value branch indexes (both -1 for a plain field). */
  private[graft] final case class FieldKind(kind: Int, nullIdx: Int, valIdx: Int)

  /** The (Avro field schema, Spark type) → wire kind table. Timestamps
    * and dates are already epoch micros/days in Tungsten; the
    * `timestamp-millis` annotation (on the union's value branch for an
    * optional field) selects the floor-div to millis. Only two-branch
    * unions with a null member are supported — wider unions are outside
    * both the reference's model and this codec's. */
  private[graft] def kindOf(avro: Schema, dt: DataType): FieldKind = {
    if (avro.getType == Schema.Type.UNION) {
      val ts = avro.getTypes
      require(ts.size == 2 &&
          (ts.get(0).getType == Schema.Type.NULL || ts.get(1).getType == Schema.Type.NULL),
        s"AvroCodec: only optional [\"null\", T] unions are supported, got $avro")
      val nullIdx = if (ts.get(0).getType == Schema.Type.NULL) 0 else 1
      return FieldKind(kindOf(ts.get(1 - nullIdx), dt).kind, nullIdx, 1 - nullIdx)
    }
    val kind = (avro.getType, dt) match {
      case (Schema.Type.STRING, StringType) => KStr
      case (Schema.Type.BYTES, BinaryType) => KBytes
      case (Schema.Type.BOOLEAN, BooleanType) => KBool
      case (Schema.Type.INT, IntegerType | DateType) => KInt
      case (Schema.Type.LONG, IntegerType) => KIntAsLong
      case (Schema.Type.LONG, LongType) => KLong
      case (Schema.Type.FLOAT, FloatType) => KFloat
      case (Schema.Type.DOUBLE, DoubleType) => KDouble
      case (Schema.Type.LONG, TimestampType | TimestampNTZType) =>
        if (avro.getProp("logicalType") == "timestamp-millis") KTsMillis else KLong
      case (a, t) => throw new IllegalArgumentException(
        s"AvroCodec: unsupported field pair: Avro $a as Spark $t")
    }
    FieldKind(kind, -1, -1)
  }

  private def recordKinds(avroSchema: Schema, sparkSchema: StructType): Array[FieldKind] = {
    require(avroSchema.getType == Schema.Type.RECORD &&
        avroSchema.getFields.size == sparkSchema.size,
      s"Avro schema has ${avroSchema.getFields.size} fields, struct has ${sparkSchema.size}")
    sparkSchema.fields.zipWithIndex.map { case (f, i) =>
      kindOf(avroSchema.getFields.get(i).schema(), f.dataType)
    }
  }

  private[graft] def nullFieldMessage(who: String, field: String): String =
    s"$who: null in field '$field' — the fixed-width schema model has no " +
      "unions/nullable fields (SURVEY.md §1.2); filter or default nulls " +
      "before encoding, or encode with the [\"null\", T] optional schema " +
      "(nullableAvroJson)"

  /** `InternalRow` → Avro record body, straight into an [[AvroWire]]: no
    * boxing, no `GenericData.Record`, no schema walk. Strings ship their
    * UTF-8 bytes in one copy. A null in an optional field is its null
    * branch index; a null in a plain field fails, naming the field.
    * The interpreted writer of [[AvroEncodeDirect]] and the OCF sink
    * ([[graft.sources.OcfWire.Writer.append]]); its field table is the
    * one the direct encoder's generated code is emitted from. */
  private[graft] final class RowWriter(avroSchema: Schema, sparkSchema: StructType, who: String) {
    private[graft] val fks = recordKinds(avroSchema, sparkSchema)
    private val kinds = fks.map(_.kind)
    private val nullIdx = fks.map(_.nullIdx)
    private val valIdx = fks.map(_.valIdx)

    def write(row: InternalRow, out: AvroWire): Unit = {
      var i = 0
      while (i < kinds.length) {
        if (row.isNullAt(i)) {
          if (nullIdx(i) < 0)
            throw new IllegalArgumentException(nullFieldMessage(who, sparkSchema(i).name))
          out.writeInt(nullIdx(i))
        } else {
          if (valIdx(i) >= 0) out.writeInt(valIdx(i))
          (kinds(i): @annotation.switch) match {
            case KBool => out.writeBoolean(row.getBoolean(i))
            case KInt => out.writeInt(row.getInt(i))
            case KLong => out.writeLong(row.getLong(i))
            case KIntAsLong => out.writeLong(row.getInt(i).toLong)
            case KFloat => out.writeFloat(row.getFloat(i))
            case KDouble => out.writeDouble(row.getDouble(i))
            case KStr => out.writeUtf8(row.getUTF8String(i))
            case KBytes => out.writeBytes(row.getBinary(i))
            case KTsMillis => out.writeLong(Math.floorDiv(row.getLong(i), 1000L))
          }
        }
        i += 1
      }
    }
  }

  /** Avro record → `InternalRow`, adaptive on the writer schema set by
    * `setSchema` (an OCF header's, or a Confluent id's): equal to the
    * reader schema (the steady state), fields decode straight off the
    * binary decoder — no `GenericRecord`, no schema walk; an evolved
    * writer goes through the resolving `GenericDatumReader` (fields
    * matched by name, promotions applied) and the per-kind converter.
    * Without a `setSchema` call the writer is the reader. Strings and
    * bytes are fresh per value: no returned row aliases decoder memory. */
  private[graft] final class RowReader(reader: Schema, sparkSchema: StructType)
      extends org.apache.avro.io.DatumReader[InternalRow] {
    private val fks = recordKinds(reader, sparkSchema)
    private val kinds = fks.map(_.kind)
    private val nullIdx = fks.map(_.nullIdx)
    private var resolving: GenericDatumReader[GenericRecord] = _

    override def setSchema(writer: Schema): Unit =
      resolving = if (writer == reader) null else new GenericDatumReader[GenericRecord](writer, reader)

    override def read(reuse: InternalRow, d: org.apache.avro.io.Decoder): InternalRow = {
      val out = new Array[Any](kinds.length)
      var i = 0
      if (resolving == null) {
        while (i < kinds.length) {
          out(i) = if (nullIdx(i) >= 0 && d.readIndex() == nullIdx(i)) null else decode(kinds(i), d)
          i += 1
        }
      } else {
        // A fresh record per read: the string branch wraps the Utf8's own
        // buffer (no char decode), so a reused record would alias rows.
        val rec = resolving.read(null, d)
        while (i < kinds.length) {
          val v = rec.get(i)
          out(i) = if (v == null) null else convert(kinds(i), v)
          i += 1
        }
      }
      new GenericInternalRow(out)
    }

    private def decode(kind: Int, d: org.apache.avro.io.Decoder): Any = (kind: @annotation.switch) match {
      case KBool => d.readBoolean()
      case KInt => d.readInt()
      case KLong => d.readLong()
      case KIntAsLong => d.readLong().toInt
      case KFloat => d.readFloat()
      case KDouble => d.readDouble()
      case KStr =>
        val bb = d.readBytes(null)
        UTF8String.fromBytes(bb.array(), bb.position(), bb.remaining())
      case KBytes =>
        val bb = d.readBytes(null)
        val a = new Array[Byte](bb.remaining()); bb.get(a); a
      case KTsMillis => Math.multiplyExact(d.readLong(), 1000L)
    }

    /** A `GenericRecord` field value → its Catalyst value. */
    private def convert(kind: Int, v: AnyRef): Any = (kind: @annotation.switch) match {
      case KStr => v match {
        case u: org.apache.avro.util.Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
        case s => UTF8String.fromString(s.toString)
      }
      case KBytes =>
        val bb = v.asInstanceOf[ByteBuffer]
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      case KIntAsLong => v.asInstanceOf[java.lang.Long].intValue()
      case KTsMillis => Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue(), 1000L)
      case _ => v // boxed boolean/int/long/float/double are Catalyst's own values
    }
  }

  /** struct → Avro binary (record body only, no framing): the struct's
    * fields through [[AvroEncodeDirect]], so `to_avro(struct(cols))`
    * plans as the direct encoder over `cols` and the struct is never
    * built. A null struct gives null. */
  case class AvroEncode(child: Expression, avroJson: String)
      extends RuntimeReplaceable with UnaryLike[Expression] {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "avro_encode"

    override lazy val replacement: Expression = {
      val fields = child.dataType.asInstanceOf[StructType].indices.map(GetStructField(child, _))
      val body = AvroEncodeDirect(fields, avroJson, -1)
      if (child.nullable) If(IsNull(child), Literal(null, BinaryType), body) else body
    }
    override protected def withNewChildInternal(c: Expression): AvroEncode = copy(child = c)
  }

  /** Avro binary (record body) → struct. Same-shape schemas ONLY: the
    * writer schema is assumed identical to `avroJson` and fields map
    * positionally (that contract is exactly what lets [[RowReader]]
    * decode without a `GenericRecord`) — use
    * [[AvroDecodeFramed]] (writer→reader resolution by name) whenever
    * the writer can differ. */
  case class AvroDecode(child: Expression, avroJson: String, outType: StructType)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = outType
    override def prettyName: String = "avro_decode"

    @transient private lazy val reader = new RowReader(new Schema.Parser().parse(avroJson), outType)
    @transient private var binDec: BinaryDecoder = _

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      binDec = DecoderFactory.get().binaryDecoder(bytes, binDec)
      reader.read(null, binDec)
    }
    override protected def withNewChildInternal(c: Expression): AvroDecode = copy(child = c)
  }

  /** Confluent-framed bytes → struct, resolving the writer schema per
    * message from the embedded id in ONE pass (no per-id filtered scans).
    *
    * This is the consumer decode of `kafkaavro/consumer.go:178-189`
    * collapsed into a single expression: magic-byte check, 4-byte
    * big-endian id read, writer-schema lookup from a driver-provided
    * (broadcast-as-literal) id→schema map, then Avro decode with full
    * writer→reader schema resolution (`GenericDatumReader(writer,
    * reader)`), so renamed-by-alias / reordered / promoted fields land by
    * NAME, not position. Bad magic byte or unknown id → null row
    * (callers count/filter them), mirroring the reference's per-message
    * error return without poisoning the batch. */
  case class AvroDecodeFramed(child: Expression, schemasById: Map[Int, String],
      readerJson: String, outType: StructType)
      extends UnaryExpression {
    override def dataType: DataType = outType
    override def nullable: Boolean = true
    override def prettyName: String = "avro_decode_framed"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      // Same reference-object pattern as AvroEncode: stay inside the
      // fused stage, dispatch straight to the resolving decoder.
      val ref = ctx.addReferenceObj("avroDecode", this, classOf[AvroDecodeFramed].getName)
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("decoded")
        s"""
           |Object $tmp = $ref.nullSafeEval($c);
           |if ($tmp == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $tmp;
           |}
         """.stripMargin
      })
    }

    @transient private lazy val readerSchema = new Schema.Parser().parse(readerJson)
    /** One [[RowReader]] per writer id, built lazily per task: direct
      * when the writer schema EQUALS the reader (the overwhelmingly
      * common steady state), resolving for genuinely evolved writers. */
    @transient private lazy val plans = new java.util.HashMap[Int, RowReader]()
    @transient private var binDec: BinaryDecoder = _

    private def planFor(id: Int): RowReader = {
      var p = plans.get(id)
      if (p == null) {
        schemasById.get(id) match {
          case Some(writerJson) =>
            p = new RowReader(readerSchema, outType)
            p.setSchema(new Schema.Parser().parse(writerJson))
            plans.put(id, p)
          case None => return null
        }
      }
      p
    }

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      if (bytes.length < Confluent.MinFramedBytes || bytes(0) != Confluent.MagicByte)
        return null // not well-framed
      val id = ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
        ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
      val plan = planFor(id)
      if (plan == null) return null // unknown schema id
      binDec = DecoderFactory.get().binaryDecoder(bytes, 5, bytes.length - 5, binDec)
      plan.read(null, binDec)
    }
    override protected def withNewChildInternal(c: Expression): AvroDecodeFramed = copy(child = c)
  }

  /** Generator form of [[AvroDecodeFramed]]: emits the decoded fields as
    * TOP-LEVEL columns in one evaluation per row (0 rows for bad
    * magic/unknown id). The struct form under `select(r.*)` gets inlined
    * by Catalyst's projection collapse into every field extraction —
    * decoding each message once per column; a Generator is evaluated
    * exactly once per input row. */
  case class AvroDecodeRows(child: Expression, schemasById: Map[Int, String],
      readerJson: String, outType: StructType)
      extends UnaryExpression with Generator with CodegenFallback {
    override def elementSchema: StructType = outType
    override def prettyName: String = "avro_decode_rows"

    @transient private lazy val inner =
      AvroDecodeFramed(child, schemasById, readerJson, outType)

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val bytes = child.eval(input)
      if (bytes == null) return Iterator.empty
      val row = inner.nullSafeEval(bytes)
      if (row == null) Iterator.empty
      else Iterator.single(row.asInstanceOf[InternalRow])
    }

    override protected def withNewChildInternal(c: Expression): AvroDecodeRows = copy(child = c)
  }

  /** Reusable Avro-binary output buffer: the wire format per the public
    * Avro 1.11 spec (zigzag varint ints/longs, raw-bits little-endian
    * float/double, zigzag-length-prefixed bytes/string, 1-byte boolean).
    *
    * Exists because the generic stack costs ~3 monitorenter ops per row
    * on JDK 17 (ByteArrayOutputStream is synchronized and biased locking
    * is gone) plus a buffered-encoder flush copy; this writes straight
    * into one growable array and copies out exactly once. Byte output is
    * verified identical to Avro's stock generic datum writer + binary
    * encoder in `AvroDirectSpec`. */
  private[graft] final class AvroWire(initial: Int = 1024) {
    private var buf = new Array[Byte](initial)
    private var pos = 0
    def reset(): Unit = pos = 0
    private def ensure(n: Int): Unit = if (pos + n > buf.length) {
      var cap = buf.length << 1
      while (cap < pos + n) cap <<= 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
    def writeRaw(b: Array[Byte]): Unit = {
      ensure(b.length); System.arraycopy(b, 0, buf, pos, b.length); pos += b.length
    }
    def writeBoolean(v: Boolean): Unit = { ensure(1); buf(pos) = if (v) 1 else 0; pos += 1 }
    /** zigzag-int == zigzag-long numerically over the whole int range,
      * so one varint loop serves both Avro `int` and `long`. */
    def writeInt(v: Int): Unit = writeLong(v.toLong)
    def writeLong(v: Long): Unit = {
      var n = (v << 1) ^ (v >> 63)
      ensure(10)
      while ((n & ~0x7fL) != 0) { buf(pos) = ((n & 0x7f) | 0x80).toByte; pos += 1; n >>>= 7 }
      buf(pos) = n.toByte; pos += 1
    }
    def writeFloat(v: Float): Unit = {
      ensure(4)
      val bits = java.lang.Float.floatToRawIntBits(v)
      buf(pos) = bits.toByte; buf(pos + 1) = (bits >> 8).toByte
      buf(pos + 2) = (bits >> 16).toByte; buf(pos + 3) = (bits >> 24).toByte
      pos += 4
    }
    def writeDouble(v: Double): Unit = {
      ensure(8)
      val bits = java.lang.Double.doubleToRawLongBits(v)
      var i = 0
      while (i < 8) { buf(pos + i) = (bits >> (8 * i)).toByte; i += 1 }
      pos += 8
    }
    def writeBytes(b: Array[Byte]): Unit = { writeInt(b.length); writeRaw(b) }
    /** Length-prefixed write straight from raw memory (an UnsafeRow /
      * UTF8String backing region) — the zero-wrapper twin of
      * [[writeUtf8]], used by the fused fixed→Avro encoder to ship a
      * string field from the line buffer in one copy. */
    def writeMemory(base: AnyRef, off: Long, n: Int): Unit = {
      writeInt(n)
      ensure(n)
      org.apache.spark.unsafe.Platform.copyMemory(base, off, buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos, n)
      pos += n
    }
    /** UTF8String straight into the buffer — ONE copy (the old path's
      * `getBytes` materialized sliced strings first, then copied again
      * into the encoder buffer). */
    def writeUtf8(s: UTF8String): Unit = {
      val n = s.numBytes()
      writeInt(n)
      ensure(n)
      s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
      pos += n
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
    def size: Int = pos
    /** Roll back to a previous [[size]] mark — discards the bytes of a
      * partially-written record after a mid-field encode failure, so a
      * block buffer never carries dangling partial bytes to disk. */
    def truncate(mark: Int): Unit = {
      require(mark >= 0 && mark <= pos, s"truncate($mark) outside [0, $pos]")
      pos = mark
    }
    /** Zero-copy view of (buffer, length) — valid until the next
      * write/reset; block-oriented consumers (OCF writer) compress
      * straight out of it. */
    def raw(): (Array[Byte], Int) = (buf, pos)
  }

  /** Fused serialize: field expressions → (optional Confluent header +)
    * Avro record body, in one pass into a reusable per-task buffer.
    *
    * Versus encoding a materialized struct and framing it with a
    * `concat`, this removes, per row: the struct's UnsafeRow (a full
    * copy of the row), the per-field kind dispatch (codegen emits a
    * direct typed call per field instead), and the frame's second
    * output array + copy. The reference's equivalent is the
    * per-chunk reused record + marshal at
    * `fixed2avro/ColumnBuilder.go:67-95`.
    *
    * `frameId >= 0` prepends the 5-byte Confluent header
    * (`[0x00][id:4B BE]`, `kafkaavro/producer.go:201-207`); -1 emits the
    * bare record body (OCF / unframed use). An optional `["null", T]`
    * field writes its branch index before the value, and a null as its
    * null branch; a null in a plain field fails, naming the field. */
  case class AvroEncodeDirect(children: Seq[Expression], avroJson: String, frameId: Int)
      extends Expression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def prettyName: String = "avro_encode_direct"

    @transient private lazy val avroSchema = new Schema.Parser().parse(avroJson)
    /** The interpreted path; its field table drives the generated code. */
    @transient private lazy val writer = {
      import scala.jdk.CollectionConverters._
      new RowWriter(avroSchema, StructType(children.zip(avroSchema.getFields.asScala).map {
        case (c, f) => StructField(f.name, c.dataType) }), "avro_encode")
    }
    @transient private lazy val header: Array[Byte] =
      if (frameId >= 0) Confluent.prefixBytes(frameId) else Array.emptyByteArray
    @transient private lazy val wire = new AvroWire(1024)
    @transient private lazy val childArray = children.toArray
    @transient private lazy val values = new Array[Any](childArray.length)
    @transient private lazy val row = new GenericInternalRow(values)

    // --- called from generated code (must be public) ---
    def begin(): Unit = { wire.reset(); if (header.length > 0) wire.writeRaw(header) }
    def finish(): Array[Byte] = wire.result()
    def wBool(v: Boolean): Unit = wire.writeBoolean(v)
    def wInt(v: Int): Unit = wire.writeInt(v)
    def wLong(v: Long): Unit = wire.writeLong(v)
    def wFloat(v: Float): Unit = wire.writeFloat(v)
    def wDouble(v: Double): Unit = wire.writeDouble(v)
    def wStr(v: UTF8String): Unit = wire.writeUtf8(v)
    def wBytes(v: Array[Byte]): Unit = wire.writeBytes(v)
    def wTsMillis(v: Long): Unit = wire.writeLong(Math.floorDiv(v, 1000L))
    def nullField(i: Int): Unit =
      throw new IllegalArgumentException(
        nullFieldMessage("avro_encode", avroSchema.getFields.get(i).name))

    override def eval(input: InternalRow): Any = {
      var i = 0
      while (i < childArray.length) { values(i) = childArray(i).eval(input); i += 1 }
      begin()
      writer.write(row, wire)
      finish()
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val ref = ctx.addReferenceObj("avroDirect", this, classOf[AvroEncodeDirect].getName)
      val evals = children.map(_.genCode(ctx))
      val writes = evals.zip(writer.fks).zipWithIndex.map { case ((e, fk), i) =>
        val call = fk.kind match {
          case KBool => s"$ref.wBool(${e.value});"
          case KInt => s"$ref.wInt(${e.value});"
          case KLong => s"$ref.wLong(${e.value});"
          case KIntAsLong => s"$ref.wLong((long) ${e.value});"
          case KFloat => s"$ref.wFloat(${e.value});"
          case KDouble => s"$ref.wDouble(${e.value});"
          case KStr => s"$ref.wStr(${e.value});"
          case KBytes => s"$ref.wBytes(${e.value});"
          case KTsMillis => s"$ref.wTsMillis(${e.value});"
        }
        if (fk.nullIdx < 0)
          s"""
             |${e.code}
             |if (${e.isNull}) $ref.nullField($i);
             |$call
           """.stripMargin
        else
          s"""
             |${e.code}
             |if (${e.isNull}) {
             |  $ref.wInt(${fk.nullIdx});
             |} else {
             |  $ref.wInt(${fk.valIdx});
             |  $call
             |}
           """.stripMargin
      }
      ev.copy(
        code = code"""
          |$ref.begin();
          |${writes.mkString("\n")}
          |final byte[] ${ev.value} = $ref.finish();
         """.stripMargin,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): AvroEncodeDirect = copy(children = newChildren)
  }

  /** Column API: fused field-expressions → Confluent-framed Avro bytes
    * (one buffer pass, one output allocation — see [[AvroEncodeDirect]]). */
  def to_avro_confluent(fields: Seq[Column], avroJson: String, schemaId: Int): Column =
    ColumnBridge.column(AvroEncodeDirect(fields.map(ColumnBridge.expression), avroJson, schemaId))

  /** Column API: fused field-expressions → bare Avro record body. */
  def to_avro_fields(fields: Seq[Column], avroJson: String): Column =
    ColumnBridge.column(AvroEncodeDirect(fields.map(ColumnBridge.expression), avroJson, -1))

  /** Column API: serialize a struct column to Avro binary. */
  def to_avro(data: Column, avroJson: String): Column =
    ColumnBridge.column(AvroEncode(ColumnBridge.expression(data), avroJson))

  /** Column API: decode Confluent-framed bytes into top-level columns
    * (one generator evaluation per message; junk rows dropped). */
  def from_avro_rows(data: Column, schemasById: Map[Int, String],
      readerJson: String, outType: StructType): Column =
    ColumnBridge.column(AvroDecodeRows(ColumnBridge.expression(data),
      schemasById, readerJson, outType))

  /** Column API: decode Confluent-framed bytes with per-message writer
    * schema resolution against a reader schema. */
  def from_avro_framed(data: Column, schemasById: Map[Int, String],
      readerJson: String, outType: StructType): Column =
    ColumnBridge.column(AvroDecodeFramed(ColumnBridge.expression(data),
      schemasById, readerJson, outType))

  /** Column API: deserialize Avro binary into a struct column. */
  def from_avro(data: Column, avroJson: String, outType: StructType): Column =
    ColumnBridge.column(AvroDecode(ColumnBridge.expression(data), avroJson, outType))
}
