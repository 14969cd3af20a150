package graft

import graft.parse.{FixedWidthParser, Strict}
import graft.schema.{FixedField, FixedSchema}
import graft.sources.FixedWidth
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY.md §5.2: property-based render→parse round trips over random
  * schemas and rows, including multibyte (rune-width) strings. The
  * generators produce values that FIT their declared widths (over-wide
  * values raise at render by design, covered in the probe/unit suites).
  *
  * ScalaCheck generators are driven directly with deterministic seeds
  * (the scalatest-scalacheck bridge artifact is not in the offline
  * cache) — failures therefore reproduce exactly. */
class RoundtripPropertySpec extends SparkSpec {

  /** Deterministic mini-forAll: 15 samples from fixed seeds. */
  private def forAllSeeded[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 15).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(8), Seed(i.toLong)) match {
        case Some(a) =>
          try body(a)
          catch { case e: Throwable =>
            throw new AssertionError(s"property failed for seed $i: $a", e)
          }
        case None => // generator gave up for this seed; acceptable, rare
      }
    }

  private val genField: Gen[(FixedField, Gen[Any])] = for {
    name <- Gen.identifier.map(s => "f_" + s.take(8))
    pick <- Gen.oneOf[(String, Int => Gen[Any])](
      ("long", (w: Int) => Gen.chooseNum(0L, math.min(Long.MaxValue, math.pow(10, w - 1).toLong - 1))),
      ("int", (w: Int) => Gen.chooseNum(0, math.min(Int.MaxValue.toLong, math.pow(10, math.min(w, 9) - 1).toLong - 1).toInt)),
      ("double", (w: Int) => Gen.chooseNum(0, 9999).map(_ / 100.0)),
      ("string", (w: Int) => Gen.listOfN(w, Gen.oneOf(
        Gen.alphaNumChar, Gen.oneOf('ä', 'ö', '界', '€', 'λ'))).map(_.mkString)),
      ("boolean", (_: Int) => Gen.oneOf(true, false)))
    width <- pick._1 match {
      case "boolean" => Gen.const(1)
      case "double"  => Gen.chooseNum(8, 12)
      case "int"     => Gen.chooseNum(4, 9)
      case _         => Gen.chooseNum(4, 12)
    }
  } yield (FixedField(name, width, pick._1, None), pick._2(width))

  private val genSchemaAndRows: Gen[(FixedSchema, List[List[Any]])] = for {
    nFields <- Gen.chooseNum(1, 6)
    fields0 <- Gen.listOfN(nFields, genField)
    // unique field names
    fields = fields0.zipWithIndex.map { case ((f, g), i) => (f.copy(name = s"${f.name}_$i"), g) }
    nRows <- Gen.chooseNum(1, 20)
    rows <- Gen.listOfN(nRows, Gen.sequence[List[Any], Any](fields.map(_._2)))
  } yield (FixedSchema("prop", fields.map(_._1)), rows)

  test("render → strict parse is the identity for in-width random rows") {
    forAllSeeded(genSchemaAndRows) { case (schema, rows) =>
      val sparkRows = rows.map(r => Row.fromSeq(r))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(sparkRows, 2), schema.sparkSchema)
      val parsed = FixedWidthParser.parse(FixedWidth.render(df, schema), schema, Strict)
      // strings come back right-padded to their declared width — apply
      // the same padding to the expected side (strict keeps padding,
      // matching the reference's untrimmed string semantics).
      val expected = rows.map { r =>
        r.zip(schema.fields).map {
          case (v: String, f) => v.padTo(f.runeLen, ' ')
          case (v, _) => v
        }
      }
      val got = parsed.collect().map(_.toSeq.toList).toList
      assert(got.sortBy(_.mkString("|")) == expected.map(_.toList).sortBy(_.mkString("|")))
    }
  }

  test("rendered line rune length always equals the schema row length") {
    forAllSeeded(genSchemaAndRows) { case (schema, rows) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)), 2), schema.sparkSchema)
      val lens = FixedWidth.render(df, schema)
        .select(length(col("value")).as("n")).distinct().collect().map(_.getInt(0)).toSet
      assert(lens == Set(schema.rowRuneLen))
    }
  }

  test("fused ≡ chain on random schemas and rows") {
    // The fused encoder (FixedWidthParser.toAvro) and the composable
    // chain (strict parse → to_avro_confluent) emit identical wire
    // bytes for every sample, whatever the field mix and rune widths.
    forAllSeeded(genSchemaAndRows) { case (schema, rows) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)), 2), schema.sparkSchema)
      val lines = FixedWidth.render(df, schema).coalesce(1)
      val chain = FixedWidthParser.parse(lines, schema, Strict, dropFooter = false)
        .select(graft.functions.AvroCodec.to_avro_confluent(
          schema.fields.map(f => col(f.name)), schema.avroJson, 9).as("value"))
      val fused = FixedWidthParser.toAvro(lines, schema, 9, dropFooter = false)
      def bytes(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.getAs[Array[Byte]]("value").toSeq).sortBy(_.mkString(",")).toSeq
      assert(bytes(chain) == bytes(fused), "fused and chain bytes diverge")
    }
  }

  test("optional-union avro encode → decode is the identity under random null masks") {
    // r17 write-path unions: every field type the generator produces,
    // nulled at random positions, must survive
    // to_avro(nullableAvroJson) → from_avro byte-exactly — including
    // the all-null and no-null rows the mask generator hits by chance.
    val gen = genSchemaAndRows.flatMap { case (schema, rows) =>
      Gen.listOfN(rows.length,
        Gen.listOfN(schema.fields.length, Gen.oneOf(true, false)))
        .map(masks => (schema, rows, masks))
    }
    forAllSeeded(gen) { case (schema, rows, masks) =>
      val nulled = rows.zip(masks).map { case (r, m) =>
        r.zip(m).map { case (v, isNull) => if (isNull) null else v }
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(nulled.map(Row.fromSeq(_)), 2),
        schema.sparkSchema)
      val cols = schema.fields.map(f => col(f.name))
      val back = df.select(graft.functions.AvroCodec.from_avro(
          graft.functions.AvroCodec.to_avro(struct(cols: _*), schema.nullableAvroJson),
          schema.nullableAvroJson, schema.sparkSchema).as("r"))
        .select(col("r.*")).collect().map(_.toSeq.toList).toList
      val expected = nulled.map(_.toList)
      assert(back.sortBy(_.mkString("|")) == expected.sortBy(_.mkString("|")),
        s"nullable avro round trip drifted for schema ${schema.fields.map(_.parseType)}")
    }
  }
}
