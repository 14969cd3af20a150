package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Confluent wire framing: `[0x00][schemaId: 4B big-endian][avro body]`.
  *
  * Byte-for-byte the format produced at `fixed2avro/ColumnBuilder.go:84-92`,
  * `fixed2avro/Exporters.go:80-86` and `kafkaavro/producer.go:201-207`.
  * The schema id is a driver-side constant (the reference takes it from
  * the CLI, NOT from registry registration — SURVEY.md §2.4), so the
  * 5-byte prefix folds into a literal and framing is a single binary
  * `concat` inside whole-stage codegen. No custom expression needed.
  */
object Confluent {
  val MagicByte: Byte = 0x00

  /** Shortest well-framed message: the 5-byte header plus a non-empty
    * body. Schema-id discovery and the decoder share this gate. */
  private[graft] final val MinFramedBytes = 6

  def prefixBytes(schemaId: Int): Array[Byte] =
    Array(MagicByte,
      ((schemaId >> 24) & 0xff).toByte, ((schemaId >> 16) & 0xff).toByte,
      ((schemaId >> 8) & 0xff).toByte, (schemaId & 0xff).toByte)

  /** Frame an Avro-binary column with a constant schema id. */
  def frame(avroBody: Column, schemaId: Int): Column =
    concat(lit(prefixBytes(schemaId)), avroBody)

  /** Big-endian int32 read of bytes [2..5] (1-based substr positions).
    * `conv(hex, 16, 10)` keeps this in built-in codegen'd expressions. */
  def schemaId(framed: Column): Column =
    conv(hex(substring(framed, 2, 4)), 16, 10).cast(IntegerType)

  /** True iff the first byte is the Confluent magic byte
    * (`kafkaavro/consumer.go:178-182` rejects anything else). */
  def hasMagic(framed: Column): Column =
    substring(framed, 1, 1) === lit(Array(MagicByte))

  /** Strip the 5-byte header; callers should gate on [[hasMagic]]. */
  def payload(framed: Column): Column =
    substring(framed, 6, Int.MaxValue)
}
