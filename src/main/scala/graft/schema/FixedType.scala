package graft.schema

import org.apache.spark.sql.types._

/** A fixed-width column's type: the one place graft reads a schema's
  * type strings. The reference makes this decision once per column, in
  * its `CreateColumBuilder` factory (`fixed2avro/ColumnBuilder.go:392-426`);
  * here [[FixedType.of]] resolves it once per field at schema build, and
  * the parser, encoder and renderer dispatch on the result.
  *
  * `code` is a small literal constant so hot loops can `match` on it as
  * a tableswitch; `strictTrim` says whether Strict mode space-trims the
  * slice before typing it (strings and bytes keep their padding
  * verbatim).
  */
sealed abstract class FixedType(val name: String, val code: Int, val sparkType: DataType,
    val strictTrim: Boolean) extends Serializable {

  /** int, long, float, double: the lanes the renderer may zero-pad. */
  def numeric: Boolean = code >= FixedType.CInt && code <= FixedType.CDouble

  /** date, timestamp-millis, timestamp-micros: one timestamp text
    * format, NTZ micros in Spark's render struct, seconds under Compat. */
  def temporal: Boolean = code >= FixedType.CDate
}

object FixedType {
  final val CString = 0; final val CBytes = 1; final val CBoolean = 2
  final val CInt = 3; final val CLong = 4; final val CFloat = 5; final val CDouble = 6
  final val CDate = 7; final val CTimestampMillis = 8; final val CTimestampMicros = 9

  case object Text extends FixedType("string", CString, StringType, false)
  case object Bytes extends FixedType("bytes", CBytes, BinaryType, false)
  case object Bool extends FixedType("boolean", CBoolean, BooleanType, true)
  case object Int32 extends FixedType("int", CInt, IntegerType, true)
  case object Int64 extends FixedType("long", CLong, LongType, true)
  case object Float32 extends FixedType("float", CFloat, FloatType, true)
  case object Float64 extends FixedType("double", CDouble, DoubleType, true)
  case object Date extends FixedType("date", CDate, DateType, true)
  // NTZ: the reference parses wall-clock text against a fixed UTC zone
  // (`ColumnBuilder.go:229`); NTZ also matches how Spark 4 reads the
  // testdata parquet (isAdjustedToUTC=false) and DuckDB's naive
  // TIMESTAMP, keeping the whole oracle chain timezone-free.
  case object TimestampMillis
      extends FixedType("timestamp-millis", CTimestampMillis, TimestampNTZType, true)
  case object TimestampMicros
      extends FixedType("timestamp-micros", CTimestampMicros, TimestampNTZType, true)

  // The reference spells bytes with a capital B (common/avro.go:44).
  private val byName: Map[String, FixedType] = Seq(Text, Bytes, Bool, Int32, Int64, Float32,
    Float64, Date, TimestampMillis, TimestampMicros).map(t => t.name -> t).toMap + ("Bytes" -> Bytes)

  /** The type of a column declared `physical` (+ optional `logical`):
    * a logicalType, when present, overrides the physical type
    * (`common/fixed.go:117-126`). Anything else is refused. */
  def of(physical: String, logical: Option[String], field: String): FixedType = {
    val declared = logical.getOrElse(physical)
    byName.getOrElse(declared, throw new IllegalArgumentException(
      s"Unsupported column type '$declared' for field '$field' " +
        "(reference supports boolean, Bytes, int, long, float, double, " +
        "string, date, timestamp-millis, timestamp-micros — " +
        "fixed2avro/ColumnBuilder.go:392-426)" +
        (if (declared.startsWith("time-"))
          "; time types are declared-unsupported (reference parity; " +
            "fixed2avro/ColumnBuilder.go:420-421)"
        else "")))
  }

  /** The Avro type name standard schema JSON gives field `f`: a
    * date/timestamp logicalType rides on its carrier (`int` for date,
    * `long` for the timestamps); any other column keeps its physical
    * name, with the reference's `Bytes` spelled `bytes`. */
  def avroName(f: FixedField): String =
    if (f.logicalType.isDefined && f.fixedType.temporal) { if (f.fixedType == Date) "int" else "long" }
    else if (f.avroType == "Bytes") "bytes" else f.avroType
}
