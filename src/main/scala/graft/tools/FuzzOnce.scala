package graft.tools

import graft.parse.{FixedWidthParser, Strict}
import graft.schema.{FixedField, FixedSchema, FixedType}
import org.apache.spark.sql.functions._

/** One-off heavy fuzz (driver-side diagnostic, not a committed test
  * budget): LineScan vs spark.read.text on 200 random corpora x chunk
  * sizes, and fused fixed→Avro vs the composable chain on 100 random
  * schemas. Prints FUZZ-OK / first failure. */
object FuzzOnce {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "fuzz-once")
    spark.sparkContext.setLogLevel("ERROR")
    import scala.util.Random

    // ---------- LineScan fuzz ----------
    var failures = 0
    val rnd = new Random(99)
    (1 to 200).foreach { i =>
      val nFiles = 1 + rnd.nextInt(4)
      val files = Seq.fill(nFiles) {
        val n = rnd.nextInt(600)
        val sb = new StringBuilder
        (0 until n).foreach { _ =>
          rnd.nextInt(10) match {
            case 0 => sb.append('\n')
            case 1 => sb.append("\r\n")
            case 2 => sb.append('\r')
            case 3 => sb.append('λ')
            case 4 => sb.append('界')
            case _ => sb.append(('a' + rnd.nextInt(26)).toChar)
          }
        }
        sb.toString
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-fuzz-ls").toString
      files.zipWithIndex.foreach { case (content, k) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"part-$k%03d.txt"), content.getBytes("UTF-8"))
      }
      val expect = spark.read.text(dir).collect().map(_.getString(0)).toSeq.sorted
      for (cb <- Seq(1L + rnd.nextInt(4), 5L + rnd.nextInt(20), 64L + rnd.nextInt(200))) {
        val got = graft.sources.LineScan.read(spark, dir, cb)
          .collect().map(_.getString(0)).toSeq.sorted
        if (got != expect) {
          failures += 1
          println(s"FUZZ-FAIL linescan case $i chunk=$cb " +
            s"expect=${expect.take(5)}... got=${got.take(5)}...")
        }
      }
      { val d = new java.io.File(dir)
        Option(d.listFiles).foreach(_.foreach(_.delete())); d.delete(); () }
    }
    println(s"FUZZ linescan: 200 corpora x 3 chunks, failures=$failures")

    // ---------- fused fixed→Avro fuzz ----------
    var avroFails = 0
    val rnd2 = new Random(7)
    (1 to 100).foreach { seed =>
      val nFields = 1 + rnd2.nextInt(8)
      val fields = (0 until nFields).map { i =>
        val (tpe, w) = rnd2.nextInt(5) match {
          case 0 => ("long", 4 + rnd2.nextInt(11))
          case 1 => ("int", 4 + rnd2.nextInt(6))
          case 2 => ("double", 9 + rnd2.nextInt(6))
          case 3 => ("string", 4 + rnd2.nextInt(11))
          case _ => ("boolean", 1)
        }
        FixedField(s"f_${i}", w, tpe, None)
      }
      val s2 = FixedSchema("prop", fields)
      val nRows = 1 + rnd2.nextInt(30)
      def value(f: FixedField): Any = f.fixedType match {
        case FixedType.Int64   => (rnd2.nextLong() % math.pow(10, f.runeLen - 2).toLong)
        case FixedType.Int32   => rnd2.nextInt(math.pow(10, math.min(f.runeLen, 9) - 1).toInt)
        case FixedType.Float64 => (rnd2.nextInt(199999) - 99999) / 1000.0
        case FixedType.Text =>
          val alphabet = "abcXYZ019äö界€λ"
          (0 until f.runeLen).map(_ => alphabet(rnd2.nextInt(alphabet.length))).mkString
        case _ => rnd2.nextBoolean()
      }
      val rows = List.fill(nRows)(fields.map(value).toList)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq), 2),
        s2.sparkSchema)
      val lines = graft.sources.FixedWidth.render(df, s2).coalesce(1)
      val a = FixedWidthParser.parse(lines, s2, Strict, dropFooter = false)
        .select(graft.functions.AvroCodec.to_avro_confluent(
          s2.fields.map(f => col(f.name)), s2.avroJson, 9).as("value"))
        .collect().map(_.getAs[Array[Byte]]("value").toSeq).sortBy(_.mkString(","))
      val b = FixedWidthParser.toAvro(lines, s2, 9, dropFooter = false)
        .collect().map(_.getAs[Array[Byte]]("value").toSeq).sortBy(_.mkString(","))
      if (a.toSeq != b.toSeq) {
        avroFails += 1
        println(s"FUZZ-FAIL fixedavro seed $seed schema=" +
          s2.fields.map(f => f.name + ':' + f.parseType).mkString(","))
      }
    }
    println(s"FUZZ fixedavro: 100 schemas, failures=$avroFails")
    if (failures + avroFails == 0) println("FUZZ-OK")
    spark.stop()
  }
}
