package perfbench

import graft.schema.FixedSchema

/** Row hashing shared by the corpus generator and every output checker.
  *
  * A row's hash folds its typed field values in schema order: integral
  * and timestamp fields as their long value, doubles as their IEEE bits,
  * strings as their UTF-8 bytes (padding included — the strict parse
  * keeps string padding verbatim). The generator hashes the values it
  * renders; a checker hashes what the program delivered; the multiset
  * of row hashes must match, so one wrong field, one dropped row or one
  * extra row is caught without depending on output order. */
object Digest {

  /** How a field's value is folded into the row hash. */
  sealed trait Kind
  case object Integral extends Kind
  case object Floating extends Kind
  case object Text extends Kind

  def kinds(schema: FixedSchema): Array[Kind] = schema.fields.map { f =>
    f.parseType match {
      case "int" | "long" | "timestamp-micros" => Integral
      case "double" => Floating
      case "string" => Text
      case other => throw new IllegalArgumentException(s"no digest for field type '$other'")
    }
  }.toArray

  /** splitmix64 finalizer. */
  @inline def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Accumulates one row at a time; `finish` returns the row hash and
    * resets for the next row. */
  final class RowHasher {
    private var h = 0x2545f4914f6cdd1dL
    def long(v: Long): Unit = h = mix(h * 31 + v)
    def double(v: Double): Unit = long(java.lang.Double.doubleToLongBits(v))
    def bytes(b: Array[Byte], off: Int, len: Int): Unit = {
      var f = 0xcbf29ce484222325L // FNV-1a 64
      var i = off
      val end = off + len
      while (i < end) { f = (f ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
      long(f ^ len)
    }
    def bytes(b: Array[Byte]): Unit = bytes(b, 0, b.length)
    def finish(): Long = { val r = mix(h); h = 0x2545f4914f6cdd1dL; r }
  }

  /** Hash of one Avro record as the stock reader returns it. */
  def ofAvro(r: org.apache.avro.generic.GenericRecord, kinds: Array[Kind], hasher: RowHasher): Long = {
    var i = 0
    while (i < kinds.length) {
      (kinds(i), r.get(i)) match {
        case (Integral, v: java.lang.Long) => hasher.long(v)
        case (Integral, v: java.lang.Integer) => hasher.long(v.longValue)
        case (Floating, v: java.lang.Double) => hasher.double(v)
        case (Text, v: org.apache.avro.util.Utf8) => hasher.bytes(v.getBytes, 0, v.getByteLength)
        case (k, v) => throw new IllegalStateException(s"field $i: unexpected $k value $v")
      }
      i += 1
    }
    hasher.finish()
  }

  /** Hash of one typed Spark row in the schema's strict output types. */
  def ofInternalRow(r: org.apache.spark.sql.catalyst.InternalRow,
      schema: FixedSchema, kinds: Array[Kind], hasher: RowHasher): Long = {
    var i = 0
    while (i < kinds.length) {
      if (r.isNullAt(i)) throw new IllegalStateException(s"field $i is null")
      kinds(i) match {
        case Integral =>
          if (schema.fields(i).parseType == "int") hasher.long(r.getInt(i).toLong)
          else hasher.long(r.getLong(i))
        case Floating => hasher.double(r.getDouble(i))
        case Text => hasher.bytes(r.getUTF8String(i).getBytes)
      }
      i += 1
    }
    hasher.finish()
  }

  /** Order-independent digest of a row-hash multiset: count and
    * wrapping sum, as printed in the manifest. */
  def summary(hashes: Array[Long]): String = {
    var s = 0L
    hashes.foreach(s += _)
    f"${hashes.length}%d:$s%016x"
  }

  /** Source rows with no equal delivered row, and delivered rows with
    * no equal source row. Both arrays must be sorted. */
  def unmatched(expected: Array[Long], actual: Array[Long]): (Long, Long) = {
    var i = 0; var j = 0; var matched = 0L
    while (i < expected.length && j < actual.length) {
      if (expected(i) == actual(j)) { matched += 1; i += 1; j += 1 }
      else if (expected(i) < actual(j)) i += 1
      else j += 1
    }
    (expected.length - matched, actual.length - matched)
  }
}
