package graft

import graft.parse.{Compat, FixedWidthParser, Strict}
import graft.schema.FixedSchema
import org.apache.spark.sql.Row

/** Unit vectors for the per-column parse semantics of SURVEY.md §2.2-2.3,
  * derived from `fixed2avro/ColumnBuilderTypes.go` and
  * `fixed2avro/ColumnBuilder.go:228-383`. */
class FixedWidthParserSpec extends SparkSpec {
  import spark.implicits._

  val weblog: FixedSchema = FixedSchema.fromJson(
    """{"type":"record","name":"weblog","fields":[
      |{"name":"Idnr","type":{"type":"long","name":"Idnr","len":8}},
      |{"name":"Event_time","type":{"type":"long","logicalType":"timestamp-micros","name":"Event_time","len":26}},
      |{"name":"Idnr2","type":{"type":"int","name":"Idnr2","len":6}},
      |{"name":"Ok","type":{"type":"boolean","name":"Ok","len":1}},
      |{"name":"Some_text1","type":{"type":"string","name":"Some_text1","len":30}},
      |{"name":"Some_text2","type":{"type":"string","name":"Some_text2","len":30}}
      |]}""".stripMargin)

  def line(idnr: String, ts: String, idnr2: String, ok: String,
      t1: String, t2: String): String = {
    require(idnr.length == 8 && ts.length == 26 && idnr2.length == 6 && ok.length == 1)
    idnr + ts + idnr2 + ok + t1.padTo(30, ' ') + t2.padTo(30, ' ')
  }

  val goodLine = line("12345678", "2020-07-09-09.59.59.993750", "000042", "Y",
    "hello", "world")

  test("schema compile: widths, offsets, avro re-emission") {
    assert(weblog.rowRuneLen == 8 + 26 + 6 + 1 + 30 + 30)
    assert(weblog.runeStarts == Seq(0, 8, 34, 40, 41, 71))
    val avro = FixedSchema.toAvroSchema(weblog)
    assert(avro.getFields.size() == 6)
    assert(avro.getFields.get(1).schema().getProp("logicalType") == "timestamp-micros")
    assert(!weblog.avroJson.contains("len"))
  }

  test("unsupported types are refused at schema build, with one message") {
    Seq("uuid" -> """{"type":"uuid","len":36}""",
      "time-millis" -> """{"type":"int","logicalType":"time-millis","len":12}""").foreach {
      case (declared, tpe) =>
        val e = intercept[IllegalArgumentException](FixedSchema.fromJson(
          s"""{"type":"record","name":"r","fields":[{"name":"ok","type":{"type":"long","len":4}},
             |{"name":"bad","type":$tpe}]}""".stripMargin))
        assert(e.getMessage.startsWith(s"Unsupported column type '$declared' for field 'bad' " +
          "(reference supports boolean, Bytes, int, long, float, double, string, date, " +
          "timestamp-millis, timestamp-micros — fixed2avro/ColumnBuilder.go:392-426)"))
        assert(e.getMessage.contains("time types are declared-unsupported") ==
          declared.startsWith("time-"), e.getMessage)
    }
    // direct construction is refused the same way
    intercept[IllegalArgumentException](graft.schema.FixedField("bad", 36, "uuid", None))
  }

  test("strict parse of a good line") {
    val df = FixedWidthParser.parse(Seq(goodLine).toDF("value"), weblog, Strict)
    val r = df.head()
    assert(r.getLong(0) == 12345678L)
    // 2020-07-09T09:59:59.993750 (NTZ wall-clock, UTC semantics)
    assert(r.getAs[java.time.LocalDateTime](1) ==
      java.time.LocalDateTime.of(2020, 7, 9, 9, 59, 59, 993750000))
    assert(r.getInt(2) == 42)
    assert(r.getBoolean(3))
    assert(r.getString(4) == "hello" + " " * 25) // padding preserved, §2.2
  }

  test("compat: timestamps store Unix SECONDS (F1)") {
    val df = FixedWidthParser.parse(Seq(goodLine).toDF("value"), weblog, Compat)
    assert(df.head().getLong(1) == 1594288799L)
  }

  test("boolean first-char table (ColumnBuilderTypes.go:35-66)") {
    val mk = (c: String) => line("00000001", "2020-07-09-09.59.59.993750",
      "000001", c, "", "")
    val rows = Seq("J", "j", "Y", "y", "N", "n", "X", " ")
    val compat = FixedWidthParser
      .parse(rows.map(mk).toDF("value"), weblog, Compat)
      .select("Ok").collect().map(_.getBoolean(0)).toSeq
    assert(compat == Seq(true, true, true, true, false, false, false, false))
    val strict = FixedWidthParser
      .parse(rows.map(mk).toDF("value"), weblog, Strict)
      .select("Ok").collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0))).toSeq
    assert(strict == Seq(Some(true), Some(true), Some(true), Some(true),
      Some(false), Some(false), None, None))
  }

  test("space-padded numerics: compat → 0 (Go strconv parity), strict → value") {
    val l = line("    1234", "2020-07-09-09.59.59.993750", "    42", "Y", "", "")
    val compat = FixedWidthParser.parse(Seq(l).toDF("value"), weblog, Compat).head()
    assert(compat.getLong(0) == 0L) // "    1234" fails ParseInt → zero value
    assert(compat.getInt(2) == 0)
    val strict = FixedWidthParser.parse(Seq(l).toDF("value"), weblog, Strict).head()
    assert(strict.getLong(0) == 1234L)
    assert(strict.getInt(2) == 42)
  }

  test("garbage numerics: compat → 0, strict → null") {
    val l = line("abcdefgh", "2020-07-09-09.59.59.993750", "xx3456", "N", "", "")
    val compat = FixedWidthParser.parse(Seq(l).toDF("value"), weblog, Compat).head()
    assert(compat.getLong(0) == 0L && compat.getInt(2) == 0)
    val strict = FixedWidthParser.parse(Seq(l).toDF("value"), weblog, Strict).head()
    assert(strict.isNullAt(0) && strict.isNullAt(2))
  }

  test("rune widths: multibyte strings slice by codepoint (F4)") {
    // ü and 界 are 2 and 3 UTF-8 bytes but 1 rune each.
    val l = line("00000001", "2020-07-09-09.59.59.993750", "000001", "Y",
      "über界", "tail")
    val r = FixedWidthParser.parse(Seq(l).toDF("value"), weblog, Strict).head()
    assert(r.getString(4) == ("über界" + " " * 25))
    assert(r.getString(5) == ("tail" + " " * 26))
  }

  test("footer line terminates input (F6, plain-filter semantics)") {
    val lines = Seq(goodLine, "************ footer garbage")
    val df = FixedWidthParser.parse(lines.toDF("value"), weblog, Strict)
    assert(df.count() == 1)
  }

  test("timestamp format variants (F3): fewer fraction digits parse leniently") {
    // The reference README example has a 5-digit fraction
    // (`ColumnBuilder.go:231`, `2020-07-09-09.59.59.99375`); its three
    // builder variants slice fixed [20:23]/[20:26]/[20:29] windows. Spark's
    // SSSSSS fraction parses 1..6 digits as a decimal fraction — .99375 ≡
    // 993750 µs — which is the correct reading of the variable-width
    // fractions the reference intends.
    val l = line("00000001", "2020-07-09-09.59.59.99375 ", "000001", "Y", "", "")
    val strict = FixedWidthParser.parse(Seq(l).toDF("value"), weblog, Strict).head()
    assert(strict.getAs[java.time.LocalDateTime](1) ==
      java.time.LocalDateTime.of(2020, 7, 9, 9, 59, 59, 993750000))
    // Garbage timestamp → strict null, compat 0.
    val bad = line("00000001", "not-a-timestamp-at-all!!!!", "000001", "Y", "", "")
    assert(FixedWidthParser.parse(Seq(bad).toDF("value"), weblog, Strict).head().isNullAt(1))
    assert(FixedWidthParser.parse(Seq(bad).toDF("value"), weblog, Compat).head().getLong(1) == 0L)
  }
}
