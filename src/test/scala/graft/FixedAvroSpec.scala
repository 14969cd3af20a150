package graft

import graft.functions.AvroCodec
import graft.parse.{FixedWidthParser, Strict}
import graft.schema.FixedSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused fixed→Avro encoder ([[graft.functions.FixedAvro]]) must be
  * byte-identical to the composable chain it shortcuts —
  * `parse(lines, Strict)` → `to_avro_confluent(fields)` — on every
  * supported type, the parse-surface edges (padding, signs, overflow
  * digits, exponent forms, specials, 1..6-digit timestamp fractions),
  * multibyte lines (rune-aware slicing), and short lines. A slice whose
  * strict parse is null must THROW on both paths (no-unions model). */
class FixedAvroSpec extends SparkSpec {

  /** All ten reference types (SURVEY.md §1.3) in one row shape. */
  private val fixedJson =
    """{"type":"record","name":"t","fields":[
      |{"name":"c_bool","type":{"type":"boolean","name":"c_bool","len":3}},
      |{"name":"c_bytes","type":{"type":"bytes","name":"c_bytes","len":4}},
      |{"name":"c_int","type":{"type":"int","name":"c_int","len":12}},
      |{"name":"c_long","type":{"type":"long","name":"c_long","len":21}},
      |{"name":"c_float","type":{"type":"float","name":"c_float","len":12}},
      |{"name":"c_double","type":{"type":"double","name":"c_double","len":24}},
      |{"name":"c_str","type":{"type":"string","name":"c_str","len":8}},
      |{"name":"c_date","type":{"type":"int","logicalType":"date","name":"c_date","len":26}},
      |{"name":"c_tsm","type":{"type":"long","logicalType":"timestamp-millis","name":"c_tsm","len":26}},
      |{"name":"c_tsu","type":{"type":"long","logicalType":"timestamp-micros","name":"c_tsu","len":26}}
      |]}""".stripMargin
  private val schema = FixedSchema.fromJson(fixedJson)

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def lpad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else " " * (n - s.length) + s

  /** One well-formed line from per-field texts (rune-true padding). */
  private def line(bool: String, bytes: String, int: String, long: String,
      float: String, double: String, str: String, date: String, tsm: String,
      tsu: String): String =
    pad(bool, 3) + pad(bytes, 4) + lpad(int, 12) + lpad(long, 21) +
      lpad(float, 12) + lpad(double, 24) + pad(str, 8) + pad(date, 26) +
      pad(tsm, 26) + pad(tsu, 26)

  private val ts = "2020-07-09-09.59.59.993750"
  private val goodLines: Seq[String] = Seq(
    line("J", "ab", "0", "0", "0", "0", "", ts, ts, ts),
    line("y", "", "-1", "-1", "-0.0", "-0.0", "x", "1970-01-01-00.00.00", ts, ts),
    line("N", "é✓", "2147483647", "9223372036854775807", "1.5", "0.1", "héllo✓",
      "1999-12-31-23.59.59.9", ts, "2024-02-29-12.00.00.000001"),
    line("n", "\t b", "-2147483648", "-9223372036854775808", "3.4e38", "1e-300",
      "padded  ", "2000-02-29-00.00.00", "1969-12-31-23.59.59.999", ts),
    // slow parse surfaces: +signs, >15 sig digits, exponents, specials,
    // float/double special literals (try_cast accepts inf/nan forms)
    line("Y", "zz", "+42", "+0000000000000000042", "inf", "1234567890.12345678901",
      "trail  x", ts, ts, ts),
    line("J", "..", "007", "00000000000000000000", "-inf", "-2.5e-10", "++--**",
      ts, ts, "1970-01-01-00.00.00.000000"),
    line("J", "xy", "12", "9223372036854775806", "nan", "9007199254740993",
      "exact", ts, ts, ts),
    // multibyte in early fields: every later field boundary shifts off
    // the byte==rune diagonal, exercising the walk on both paths
    line("J", "αβγδ", "99", "123456", "2.25", "3.5", "αβγδεζη",
      ts, ts, ts),
    line("N", "ab", "1", "2", "3", "4", "ωωωωωωωω", ts, ts, ts),
    // pre-epoch date/timestamps: negative micros must floor (not
    // truncate) to days/millis identically on both paths
    line("J", "pe", "-7", "-8", "-9.5", "-10.25", "preepoch",
      "1969-06-15-12.00.00", "1969-12-31-23.59.59.1", "1969-01-01-00.00.00.000001"))

  private def linesDf(ls: Seq[String]): DataFrame = {
    import spark.implicits._
    ls.toDF("value").coalesce(1)
  }

  private def unfused(df: DataFrame): Seq[Seq[Byte]] =
    FixedWidthParser.parse(df, schema, Strict, dropFooter = false)
      .select(AvroCodec.to_avro_confluent(
        schema.fields.map(f => col(f.name)), schema.avroJson, 42).as("value"))
      .collect().map(_.getAs[Array[Byte]]("value").toSeq).toSeq

  private def fused(df: DataFrame): Seq[Seq[Byte]] =
    FixedWidthParser.toAvro(df, schema, 42, dropFooter = false)
      .collect().map(_.getAs[Array[Byte]]("value").toSeq).toSeq

  test("fused fixed→Avro is byte-identical to parse + to_avro_confluent") {
    val df = linesDf(goodLines)
    val a = unfused(df)
    val b = fused(df)
    assert(a.size == goodLines.size && b.size == goodLines.size)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"line $i wire bytes diverge")
    }
  }

  private def unfusedNullable(df: DataFrame): Seq[Seq[Byte]] =
    // the typed path: strict parse, then to_avro(nullableAvroJson) + frame
    FixedWidthParser.parse(df, schema, Strict, dropFooter = false)
      .select(graft.functions.Confluent.frame(
        AvroCodec.to_avro(struct(schema.fields.map(f => col(f.name)): _*),
          schema.nullableAvroJson), 42).as("value"))
      .collect().map(_.getAs[Array[Byte]]("value").toSeq).toSeq

  private def fusedNullable(df: DataFrame): Seq[Seq[Byte]] =
    df.select(graft.functions.FixedAvro.fixed_to_avro_confluent_nullable(
        col("value"), schema, 42).as("value"))
      .collect().map(_.getAs[Array[Byte]]("value").toSeq).toSeq

  /** One bad field per physical encoding class — under the optional
    * union these must encode as the null branch, not throw. */
  private val ts2 = "2020-07-09-09.59.59.993750"
  private def nullableBads: Seq[String] = Seq(
    line("Q", "ab", "1", "2", "3", "4", "s", ts2, ts2, ts2), // bad boolean vocab
    line("J", "ab", "x1", "2", "3", "4", "s", ts2, ts2, ts2), // garbage int
    line("J", "ab", "1", "92233720368547758080", "3", "4", "s", ts2, ts2, ts2), // long overflow
    line("J", "ab", "99999999999", "2", "3", "4", "s", ts2, ts2, ts2), // int overflow
    line("J", "ab", "1", "2", "xx", "4", "s", ts2, ts2, ts2), // float garbage
    line("J", "ab", "1", "2", "3", "1..2", "s", ts2, ts2, ts2), // double garbage
    line("J", "ab", "1", "2", "3", "4", "s", "2020-13-01-00.00.00", ts2, ts2), // bad month
    line("J", "ab", "1", "2", "3", "4", "s", ts2, "2020-07-09-09.59", ts2), // truncated tsm
    line("", "", "", "", "", "", "", "", "", "")) // all-empty short line

  test("fused nullable encoder ≡ parse + to_avro(nullableAvroJson), byte for byte") {
    // r18: the optional-union wire shape through the FUSED path — every
    // field branch-indexed, failed strict parses as the null branch.
    // Byte-identity with the general codec over both clean lines and
    // lines with one failure per encoding class.
    val df = linesDf(goodLines ++ nullableBads)
    val a = unfusedNullable(df)
    val b = fusedNullable(df)
    assert(a.size == b.size)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"line $i nullable wire bytes diverge")
    }
    // and the union shape actually engaged: a bad line's body differs
    // from nothing — decode side is pinned by avro_nullable_roundtrip
    assert(a.distinct.size > 1)
  }

  test("flat (non-nullable) fused mode still throws on the same bad lines") {
    nullableBads.dropRight(1).zipWithIndex.foreach { case (l, i) =>
      assert(intercept[Exception](fused(linesDf(Seq(l)))) != null,
        s"bad line $i: flat fused mode must reject")
    }
  }

  test("both paths throw on a slice whose strict parse is null") {
    val bads = Seq(
      line("Q", "ab", "1", "2", "3", "4", "s", ts, ts, ts), // bad boolean vocab
      line("J", "ab", "x1", "2", "3", "4", "s", ts, ts, ts), // garbage int
      line("J", "ab", "1", "92233720368547758080", "3", "4", "s", ts, ts, ts), // long overflow
      line("J", "ab", "99999999999", "2", "3", "4", "s", ts, ts, ts), // int overflow (11 digits)
      line("J", "ab", "1", "2", "3", "1..2", "s", ts, ts, ts), // double garbage
      line("J", "ab", "1", "2", "3", "4", "s", "2020-13-01-00.00.00", ts, ts), // bad month
      line("J", "ab", "1", "2", "3", "4", "s", ts, "2020-07-09-09.59", ts)) // truncated ts
    bads.zipWithIndex.foreach { case (l, i) =>
      val df = linesDf(Seq(l))
      assert(intercept[Exception](unfused(df)) != null, s"bad line $i: unfused accepted")
      assert(intercept[Exception](fused(df)) != null, s"bad line $i: fused accepted")
    }
  }

  test("short lines: trailing string fields become empty slices on both paths") {
    val sJson =
      """{"type":"record","name":"s","fields":[
        |{"name":"s_i","type":{"type":"int","name":"s_i","len":4}},
        |{"name":"s_a","type":{"type":"string","name":"s_a","len":6}},
        |{"name":"s_b","type":{"type":"string","name":"s_b","len":8}}
        |]}""".stripMargin
    val s2 = FixedSchema.fromJson(sJson)
    import spark.implicits._
    // full, cut mid-s_a, cut exactly at s_a|s_b boundary, multibyte cut
    val ls = Seq("  12abcdefxxxxxxxx", "  12ab", "  12abcdef", "  12αβ")
    val df = ls.toDF("value").coalesce(1)
    val a = FixedWidthParser.parse(df, s2, Strict, dropFooter = false)
      .select(AvroCodec.to_avro_confluent(
        s2.fields.map(f => col(f.name)), s2.avroJson, 7).as("value"))
      .collect().map(_.getAs[Array[Byte]]("value").toSeq).toSeq
    val b = FixedWidthParser.toAvro(df, s2, 7, dropFooter = false)
      .collect().map(_.getAs[Array[Byte]]("value").toSeq).toSeq
    assert(a.size == ls.size)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"short line $i wire bytes diverge")
    }
  }

  test("fused framing matches Confluent header; -1 emits bare body") {
    val df = linesDf(goodLines.take(2))
    val framed = FixedWidthParser.toAvro(df, schema, 42)
      .collect().map(_.getAs[Array[Byte]]("value"))
    framed.foreach { b =>
      assert(b(0) == 0x00 && b(4) == 42 && b(1) == 0 && b(2) == 0 && b(3) == 0)
    }
    val bare = FixedWidthParser.toAvro(df, schema, -1)
      .collect().map(_.getAs[Array[Byte]]("value"))
    framed.zip(bare).foreach { case (fr, ba) => assert(fr.drop(5).toSeq == ba.toSeq) }
  }

  test("fused lines→OCF read-back equals the typed parse (stock reader)") {
    import spark.implicits._
    val df = linesDf(goodLines)
    val dir = java.nio.file.Files.createTempDirectory("graft-fixedavro-ocf").toString
    graft.sources.Ocf.writeFixed(df, schema, dir, dropFooter = false)
    val back = graft.sources.Ocf.read(spark, dir, schema)
    val typed = FixedWidthParser.parse(df, schema, Strict, dropFooter = false)
    // hex() the binary column (Row.toString on Array[Byte] is identity-
    // based); truncate the millis column on BOTH sides — the Avro
    // timestamp-millis wire type drops micros by design, the typed
    // parse keeps them.
    val cols = schema.fields.map(f => f.parseType match {
      case "bytes" | "Bytes"  => hex(col(f.name)).as(f.name)
      case "timestamp-millis" => date_trunc("millisecond", col(f.name)).as(f.name)
      case _                  => col(f.name)
    })
    val a = back.select(cols: _*).orderBy(cols: _*).collect().toSeq
    val b = typed.select(cols: _*).orderBy(cols: _*).collect().toSeq
    assert(a.map(_.toString) == b.map(_.toString))
    assert(a.size == goodLines.size)
  }

  test("a failing writeFixed task leaves no corrupt part file behind") {
    // The corrupt-part-file scenario end-to-end (OcfWireSpec pins the
    // writer in isolation; this pins the real job path): a task that
    // dies mid-partition — garbage numerics fail the fused encoder —
    // must fail the JOB, and whatever part file its `finally close()`
    // left behind must still decode as a valid container holding only
    // complete, fully-flushed records (never the failed block).
    val dir = java.nio.file.Files.createTempDirectory("graft-fixedavro-fail").toString
    val bad = line("J", "ab", "not-an-int", "0", "0", "0", "", ts, ts, ts)
    val df = linesDf(goodLines :+ bad).coalesce(1)
    assert(intercept[Exception](
      graft.sources.Ocf.writeFixed(df, schema, dir, dropFooter = false)) != null)
    new java.io.File(dir).listFiles().toSeq.filter(_.getName.endsWith(".avro"))
      .foreach { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val (_, records) = graft.sources.Ocf.decodeBytes(bytes) // throws on partial bytes
        assert(records.size <= goodLines.size,
          s"${f.getName} carries records from the failed final block")
      }
  }

  test("fused path drops footer lines like the parser's filter") {
    val df = linesDf(goodLines.take(2) :+ ("*" * 30))
    assert(FixedWidthParser.toAvro(df, schema, 42).count() == 2)
    // exactly 12 asterisks is DATA (len > 12 is strict) — it then fails
    // parsing (garbage numerics), proving it was not silently dropped
    // (collect, not count: count prunes the projection entirely)
    val twelve = linesDf(Seq("*" * 12))
    assert(intercept[Exception](
      FixedWidthParser.toAvro(twelve, schema, 42).collect()) != null)
  }

  test("strict toAvro drops malformed lines AND reports the drop count") {
    // The hot export path's corrupt-record guard: short/long lines are
    // dropped (not best-effort sliced into garbage records — the
    // reference's silent F5/F8 behavior) and the skip is OBSERVABLE:
    // a 100 TB export must report what it skipped. The observation
    // also pins that Catalyst does not push the length filter below
    // the CollectMetrics node (which would zero dropped_lines).
    val corrupt = Seq(goodLines.head.take(20), // truncated
      goodLines(1) + "XX", // over-long: would silently mis-slice
      "")
    val df = linesDf(new scala.util.Random(7).shuffle(goodLines ++ corrupt))
    val framed = FixedWidthParser.toAvro(df, schema, 42,
      dropFooter = false, strict = true)
    assert(framed.collect().length == goodLines.size, "well-formed lines all survive")
    val metrics = framed.queryExecution.observedMetrics(
      FixedWidthParser.ToAvroObservation)
    assert(metrics.getAs[Long]("dropped_lines") == corrupt.size.toLong,
      s"observation must report the ${corrupt.size} skipped lines")
    assert(metrics.getAs[Long]("input_lines") == (goodLines ++ corrupt).size.toLong)
  }

  test("a truncated multibyte tail: slices and the fused encoder cut the same bytes, inside the line") {
    import java.nio.charset.StandardCharsets.UTF_8
    val tail = FixedSchema("tail", Seq(2, 2, 3).zipWithIndex.map { case (len, i) =>
      graft.schema.FixedField(s"s$i", len, "string", None) })
    val enc = new graft.functions.FixedAvro.LineEncoder(tail, -1)
    val wire = new AvroCodec.AvroWire(64)
    Seq("abc".getBytes(UTF_8) :+ 0xF0.toByte, // a lone 4-byte lead as the last byte
      "ab".getBytes(UTF_8) ++ "€".getBytes(UTF_8).take(2), // a 3-byte sequence cut short
      "é✓x".getBytes(UTF_8) ++ "😀".getBytes(UTF_8).take(2) // no ASCII prefix at all
    ).foreach { bytes =>
      // The line is a view over a longer buffer: bytes past its end are
      // a canary that neither consumer may pick up.
      val line = org.apache.spark.unsafe.types.UTF8String.fromBytes(
        bytes ++ Array.fill[Byte](16)('Z'), 0, bytes.length)
      val sliced = graft.functions.FixedSlice.slices(line, tail.runeStarts.toArray,
        Array(2, 2, 3), Array.fill(3)(false)).array.toSeq
        .map(s => s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes.toSeq)
      assert(sliced.flatten == bytes.toSeq, "slices read past the line")
      wire.reset()
      enc.encodeInto(line, wire)
      // A flat record of three strings: each a zigzag length (one byte
      // at these sizes), then its bytes.
      val out = wire.result().toSeq
      val encoded = sliced.indices.scanLeft((0, Seq.empty[Byte])) { case ((pos, _), _) =>
        val n = out(pos) >> 1
        (pos + 1 + n, out.slice(pos + 1, pos + 1 + n))
      }
      assert(encoded.last._1 == out.length && encoded.tail.map(_._2) == sliced)
    }
  }

  test("the fused encoder allocates nothing per row, flat and nullable") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean match {
      case m: com.sun.management.ThreadMXBean
          if m.isThreadAllocatedMemorySupported && m.isThreadAllocatedMemoryEnabled => m
      case _ => null
    }
    assume(mx != null, "per-thread allocation counting is unsupported on this JVM")
    import graft.schema.FixedType._
    val weblog = graft.Bench.weblogFixed
    // Weblog-shape ASCII lines, every field valid for its type.
    val pool = Array.tabulate(4096) { i =>
      org.apache.spark.unsafe.types.UTF8String.fromString(weblog.fields.map { f =>
        val text = f.fixedType match {
          case TimestampMicros => f"2020-07-${1 + i % 28}%02d-${i % 24}%02d.${i % 60}%02d.00.${i}%06d"
          case Int64 | Int32   => (i * 7).toString
          case Float64         => f"$i.${i % 100}%02d"
          case _               => ("w" + i).padTo(f.runeLen, ' ')
        }
        " " * (f.runeLen - text.length) + text
      }.mkString)
    }
    assert(pool.forall(_.numBytes() == weblog.rowRuneLen))
    val lines = 200000
    Seq(false, true).foreach { nullable =>
      val enc = new graft.functions.FixedAvro.LineEncoder(weblog, -1, nullable)
      val wire = new AvroCodec.AvroWire(4096)
      def run(n: Int): Unit =
        (0 until n).foreach { i => wire.reset(); enc.encodeInto(pool(i % pool.length), wire) }
      run(100000) // warm-up
      val tid = Thread.currentThread().getId
      val before = mx.getThreadAllocatedBytes(tid)
      run(lines)
      val perLine = (mx.getThreadAllocatedBytes(tid) - before).toDouble / lines
      assert(perLine < 1.0, s"nullable=$nullable: $perLine bytes allocated per line")
    }
  }
}
