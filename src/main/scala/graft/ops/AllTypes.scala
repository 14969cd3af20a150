package graft.ops

import graft.parse.FixedWidthParser
import graft.schema.FixedSchema
import graft.sources.FixedWidth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-trip coverage of ALL TEN reference parse types
  * (`fixed2avro/ColumnBuilder.go:392-426`) through render→parse, plus
  * the strict corrupt-record path (F5/F8). Retires the type lanes the
  * round-1 queries never exercised: boolean, Bytes, float, date,
  * timestamp-millis.
  */
object AllTypes {

  val schemaJson: String =
    """{"type":"record","name":"alltypes","fields":[
      |{"name":"f_bool","type":{"type":"boolean","name":"f_bool","len":1}},
      |{"name":"f_bytes","type":{"type":"Bytes","name":"f_bytes","len":4}},
      |{"name":"f_int","type":{"type":"int","name":"f_int","len":6}},
      |{"name":"f_long","type":{"type":"long","name":"f_long","len":12}},
      |{"name":"f_float","type":{"type":"float","name":"f_float","len":10}},
      |{"name":"f_double","type":{"type":"double","name":"f_double","len":14}},
      |{"name":"f_string","type":{"type":"string","name":"f_string","len":8}},
      |{"name":"f_date","type":{"type":"long","logicalType":"date","name":"f_date","len":26}},
      |{"name":"f_ts_ms","type":{"type":"long","logicalType":"timestamp-millis","name":"f_ts_ms","len":26}},
      |{"name":"f_ts_us","type":{"type":"long","logicalType":"timestamp-micros","name":"f_ts_us","len":26}}
      |]}""".stripMargin

  val fixed: FixedSchema = FixedSchema.fromJson(schemaJson)

  /** Deterministic all-types projection of lineitem. Reads the FANNED
    * scan ([[Pipeline.lineitemFanned]], a no-op at real scale): the
    * single-row-group fixture otherwise runs the render below the
    * barrier on one core (r21). */
  def source(spark: SparkSession, dir: String): DataFrame =
    Pipeline.lineitemFanned(spark, dir).select(
      (col("l_linenumber") % 2 === 0).as("f_bool"),
      concat(col("l_returnflag"), col("l_linestatus"), lit("ab")).cast(BinaryType).as("f_bytes"),
      col("l_linenumber").as("f_int"),
      col("l_orderkey").as("f_long"),
      col("l_quantity").cast(FloatType).as("f_float"),
      col("l_extendedprice").as("f_double"),
      concat(col("l_returnflag"), col("l_linestatus")).as("f_string"),
      to_date(col("l_shipdate")).as("f_date"),
      col("l_shipdate").as("f_ts_ms"),
      expr("timestampadd(MICROSECOND, l_linenumber, l_shipdate)").as("f_ts_us"),
      col("l_orderkey"), col("l_linenumber"))

  /** All-types render→strict-parse round trip. Bytes are re-cast to
    * string in the OUTPUT only (the lane runs binary end-to-end; the
    * cast dodges cross-engine BLOB stringification in the compare). */
  def alltypesRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = source(spark, dir)
    // value only: the source keys used to ride through the barrier
    // exchange and the parse projection just to be dropped at the final
    // select (the ordering below uses output columns alone).
    val rendered = Pipeline.barrier(src.select(FixedWidth.renderValue(fixed).as("value")))
    val parsed = FixedWidthParser.parse(rendered, fixed, dropFooter = false)
    // Order by every output column: (l_orderkey, l_linenumber) is NOT
    // unique in the fixture, and tied rows must be output-identical for
    // the hash compare to be order-insensitive.
    parsed
      .select(col("f_bool"), col("f_bytes").cast(StringType).as("f_bytes_str"),
        col("f_int"), col("f_long"), col("f_float"), col("f_double"), col("f_string"),
        col("f_date"), col("f_ts_ms"), col("f_ts_us"))
      .orderBy("f_long", "f_int", "f_double", "f_ts_us", "f_bool", "f_bytes_str",
        "f_float", "f_string", "f_date", "f_ts_ms")
  }

  val alltypesOracle: String =
    """SELECT (l_linenumber % 2) = 0 AS f_bool,
      |       l_returnflag || l_linestatus || 'ab' AS f_bytes_str,
      |       l_linenumber AS f_int,
      |       l_orderkey AS f_long,
      |       CAST(l_quantity AS FLOAT) AS f_float,
      |       l_extendedprice AS f_double,
      |       rpad(l_returnflag || l_linestatus, 8, ' ') AS f_string,
      |       CAST(l_shipdate AS DATE) AS f_date,
      |       l_shipdate AS f_ts_ms,
      |       l_shipdate + l_linenumber * INTERVAL 1 MICROSECOND AS f_ts_us
      |FROM lineitem ORDER BY f_long, f_int, f_double, f_ts_us, f_bool, f_bytes_str,
      |         f_float, f_string, f_date, f_ts_ms""".stripMargin

  /** Corrupt-record handling: lines of linenumber 7 are truncated before
    * parsing; strict validation must null them out and count them. */
  def corruptScan(spark: SparkSession, dir: String): DataFrame = {
    val li = Pipeline.lineitemFanned(spark, dir)
    val value = FixedWidth.renderValue(Pipeline.lineitemFixed)
    val broken = Pipeline.barrier(li.select(
      when(col("l_linenumber") === 7, substring(value, 1, 20)).otherwise(value).as("value")))
    // dropFooter=false: in-flight rendered lines carry no footer, and
    // the footer filter would push below the barrier and re-render
    // every row (see Pipeline.fixedwidthRoundtrip).
    val parsed = FixedWidthParser.parse(broken, Pipeline.lineitemFixed,
      dropFooter = false, corruptCol = Some("_corrupt_record"))
    parsed.agg(
      sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
      sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
      sum(col("l_orderkey")).as("sum_orderkey_good"))
  }

  val corruptOracle: String =
    """SELECT CAST(sum(CASE WHEN l_linenumber <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |       CAST(sum(CASE WHEN l_linenumber = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
      |       CAST(sum(CASE WHEN l_linenumber <> 7 THEN l_orderkey END) AS BIGINT) AS sum_orderkey_good
      |FROM lineitem""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "alltypes_roundtrip" -> (alltypesRoundtrip _),
    "fixedwidth_corrupt" -> (corruptScan _),
  )

  def oracleSql: Map[String, String] = Map(
    "alltypes_roundtrip" -> alltypesOracle,
    "fixedwidth_corrupt" -> corruptOracle,
  )
}
