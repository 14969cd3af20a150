package graft

import java.io.ByteArrayOutputStream

import graft.functions.AvroCodec
import graft.sources.{Ocf, OcfWire}
import org.apache.avro.Schema
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[OcfWire]]'s container output to the Avro 1.11 "Object
  * Container Files" spec INDEPENDENTLY of the engine's own readers:
  * the file is read back with the stock `DataFileStream` +
  * `GenericDatumReader` (via [[Ocf.decodeBytes]]) — no graft field
  * reader anywhere on the decode path — and every value is compared.
  * Covers the writer's whole kind table (bool / int / long /
  * int-as-long / float / double / string / bytes / date /
  * timestamp-millis / timestamp-micros), the same kinds as optional
  * `["null", T]` unions under random null masks, and multi-block output
  * via a tiny sync interval. */
class OcfWireSpec extends AnyFunSuite {

  private val avroJson =
    """{"type":"record","name":"w","fields":[
      |{"name":"f_bool","type":"boolean"},
      |{"name":"f_int","type":"int"},
      |{"name":"f_long","type":"long"},
      |{"name":"f_int_as_long","type":"long"},
      |{"name":"f_float","type":"float"},
      |{"name":"f_double","type":"double"},
      |{"name":"f_str","type":"string"},
      |{"name":"f_bytes","type":"bytes"},
      |{"name":"f_date","type":"int"},
      |{"name":"f_ts_ms","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"f_ts_us","type":"long"}
      |]}""".stripMargin

  private val sparkSchema = StructType(Seq(
    StructField("f_bool", BooleanType), StructField("f_int", IntegerType),
    StructField("f_long", LongType), StructField("f_int_as_long", IntegerType),
    StructField("f_float", FloatType), StructField("f_double", DoubleType),
    StructField("f_str", StringType), StructField("f_bytes", BinaryType),
    StructField("f_date", DateType), StructField("f_ts_ms", TimestampType),
    StructField("f_ts_us", TimestampType)))

  private def row(i: Int) = new GenericInternalRow(Array[Any](
    i % 2 == 0, i, i.toLong * 1000000007L, -i,
    i / 7.0f, i / 7.0, UTF8String.fromString(s"værdi-$i"),
    Array[Byte](i.toByte, (i >> 8).toByte), 20000 + i,
    // internal TimestampType value = epoch MICROS; millis field must
    // come back floor-divided, micros field verbatim.
    i.toLong * 1000L + 123L, i.toLong * 1000000L + 456L))

  test("stock DataFileStream + GenericDatumReader reads OcfWire output byte-for-value") {
    val avroSchema = new Schema.Parser().parse(avroJson)
    assert(sparkSchema.fields.indices.forall(i =>
        AvroCodec.kindOf(avroSchema.getFields.get(i).schema(), sparkSchema(i).dataType).kind >= 0),
      "kind table must cover the schema")
    val out = new ByteArrayOutputStream()
    // 256-byte sync interval over ~60-byte rows → many blocks: exercises
    // block framing + per-block crc, not just a single-block file.
    val w = new OcfWire.Writer(avroSchema, sparkSchema, out, syncInterval = 256)
    val n = 1000
    (0 until n).foreach(i => w.append(row(i)))
    w.close()

    val (readSchema, records) = Ocf.decodeBytes(out.toByteArray)
    assert(readSchema == avroSchema, "embedded writer schema survives verbatim")
    assert(records.size == n)
    records.zipWithIndex.foreach { case (r, i) =>
      assert(r.get("f_bool") == (i % 2 == 0))
      assert(r.get("f_int") == i)
      assert(r.get("f_long") == i.toLong * 1000000007L)
      assert(r.get("f_int_as_long") == -i.toLong, "int column in a long field widens")
      assert(r.get("f_float") == i / 7.0f)
      assert(r.get("f_double") == i / 7.0)
      assert(r.get("f_str").toString == s"værdi-$i")
      val bb = r.get("f_bytes").asInstanceOf[java.nio.ByteBuffer]
      val got = new Array[Byte](bb.remaining()); bb.duplicate().get(got)
      assert(got.toSeq == Seq(i.toByte, (i >> 8).toByte))
      assert(r.get("f_date") == 20000 + i)
      assert(r.get("f_ts_ms") == i.toLong, "epoch micros floor-div to millis on the wire")
      assert(r.get("f_ts_us") == i.toLong * 1000000L + 456L)
    }
  }

  test("container metadata declares the snappy codec") {
    val avroSchema = new Schema.Parser().parse(avroJson)
    val out = new ByteArrayOutputStream()
    val w = new OcfWire.Writer(avroSchema, sparkSchema, out)
    (0 until 10).foreach(i => w.append(row(i)))
    w.close()
    val stream = new org.apache.avro.file.DataFileStream(
      new java.io.ByteArrayInputStream(out.toByteArray),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try assert(stream.getMetaString("avro.codec") == "snappy")
    finally stream.close()
  }

  test("a null value is rejected loudly (flat no-union model)") {
    val avroSchema = new Schema.Parser().parse(avroJson)
    val w = new OcfWire.Writer(avroSchema, sparkSchema, new ByteArrayOutputStream())
    val bad = new GenericInternalRow(Array.fill[Any](sparkSchema.size)(null))
    val e = intercept[IllegalArgumentException](w.append(bad))
    assert(e.getMessage.contains("f_bool"))
  }

  test("a mid-record append failure never reaches the file (no corrupt block)") {
    // A row whose THIRD field is null fails after two fields are already
    // encoded; the partial bytes must be rolled back, and a `finally
    // close()` after the failure (exactly Ocf.writeFixed's cleanup path)
    // must not flush the pending block — the emitted bytes must remain a
    // valid container holding only fully-flushed records.
    val avroSchema = new Schema.Parser().parse(avroJson)
    val out = new ByteArrayOutputStream()
    val w = new OcfWire.Writer(avroSchema, sparkSchema, out, syncInterval = 256)
    (0 until 20).foreach(i => w.append(row(i))) // a few full blocks flush
    val flushedLen = out.size()
    val partial = {
      val vals = row(999).values.clone(); vals(2) = null
      new GenericInternalRow(vals)
    }
    intercept[IllegalArgumentException](w.append(partial))
    // appends after a failure refuse loudly — accepting them would put
    // records in the never-flushed final block (silent data loss for a
    // caller that catches the first error and keeps writing)
    intercept[IllegalStateException](w.append(row(21)))
    w.close()
    assert(out.size() == flushedLen, "failed writer flushed bytes on close")
    val (_, records) = Ocf.decodeBytes(out.toByteArray)
    assert(records.size <= 20, "no record past the failure may appear")
    records.zipWithIndex.foreach { case (r, i) => assert(r.get("f_int") == i) }
  }

  test("a BLOCK-FLUSH failure poisons the writer (no re-flush on close)") {
    // The dual of the mid-record case: the record encoded fine, but the
    // stream died while the block was being emitted (disk full). Partial
    // block bytes are already on the stream and cannot be recalled; the
    // writer must (a) refuse later appends, and (b) NOT re-run the flush
    // in close() — rowCount/block are un-reset after the throw, so a
    // close-time re-flush would emit a duplicated-and-partial block
    // right after the truncated one.
    val avroSchema = new Schema.Parser().parse(avroJson)
    var budget = Int.MaxValue
    var written = 0
    val out = new java.io.OutputStream {
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        if (written + len > budget)
          throw new java.io.IOException("disk full (simulated)")
        written += len
      }
      // a dead stream typically fails close() too — the poisoned
      // writer must swallow this, not surface it from the caller's
      // finally over the original failure
      override def close(): Unit = throw new java.io.IOException("close failed (simulated)")
    }
    val w = new OcfWire.Writer(avroSchema, sparkSchema, out, syncInterval = 256)
    budget = written + 40 // room for the block header, not the block body
    val e = intercept[java.io.IOException] {
      (0 until 20).foreach(i => w.append(row(i))) // 256B interval → flush mid-loop
    }
    assert(e.getMessage.contains("disk full"))
    val lenAtFailure = written
    intercept[IllegalStateException](w.append(row(21)))
    // close() runs in the caller's `finally` with the stream still dead:
    // it must neither re-flush NOR throw — a secondary IOException here
    // would mask the original failure as the task's cause (and w.close
    // on the healed path below pins the byte count).
    w.close()
    assert(written == lenAtFailure, "failed writer re-flushed its block on close")
    budget = Int.MaxValue // even with the stream healed, still nothing emitted
    w.close()
    assert(written == lenAtFailure, "failed writer emitted bytes after healing")
  }

  test("stock DataFileStream reads OcfWire's optional-union output under random null masks") {
    // Every field as an optional union — null branch first (the
    // nullableAvroJson shape) for most, value branch first for two, so
    // both branch indexes are exercised on the wire.
    val fields = new Schema.Parser().parse(avroJson).getFields
    val unionJson = (0 until fields.size).map { i =>
      val f = fields.get(i)
      val t = f.schema().toString
      if (i % 5 == 3) s"""{"name":"${f.name}","type":[$t,"null"]}"""
      else s"""{"name":"${f.name}","type":["null",$t],"default":null}"""
    }.mkString("""{"type":"record","name":"w","fields":[""", ",", "]}")
    val avroSchema = new Schema.Parser().parse(unionJson)
    val rnd = new scala.util.Random(0x5EED)
    val n = 1000
    val masks = Array.fill(n, sparkSchema.size)(rnd.nextInt(3) == 0)
    val out = new ByteArrayOutputStream()
    val w = new OcfWire.Writer(avroSchema, sparkSchema, out, syncInterval = 256)
    (0 until n).foreach { i =>
      val vals = row(i).values.clone()
      masks(i).indices.foreach(f => if (masks(i)(f)) vals(f) = null)
      w.append(new GenericInternalRow(vals))
    }
    w.close()

    val (readSchema, records) = Ocf.decodeBytes(out.toByteArray)
    assert(readSchema == avroSchema)
    assert(records.size == n)
    records.zipWithIndex.foreach { case (r, i) =>
      val expected: Seq[Any] = Seq(i % 2 == 0, i, i.toLong * 1000000007L, -i.toLong,
        i / 7.0f, i / 7.0, s"værdi-$i", Seq(i.toByte, (i >> 8).toByte), 20000 + i,
        i.toLong, i.toLong * 1000000L + 456L)
      expected.zipWithIndex.foreach { case (want, f) =>
        val got = r.get(f) match {
          case bb: java.nio.ByteBuffer =>
            val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a.toSeq
          case u: org.apache.avro.util.Utf8 => u.toString
          case v => v
        }
        if (masks(i)(f)) assert(got == null, s"row $i field $f: null expected")
        else assert(got == want, s"row $i field $f")
      }
    }
  }
}
