package graft.sinks

import graft.functions.{AvroCodec, Confluent}
import graft.parse.FixedWidthParser
import graft.registry.SchemaRegistryClient
import graft.schema.FixedSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kafka producer staging: typed rows or fixed-width lines → the exact
  * `(key, value, topic, partition)` frame Spark's Kafka sink consumes.
  *
  * Re-expresses `KafkaExporter` (`fixed2avro/Exporters.go:40-103`):
  *  - value = Confluent-framed Avro record, schema id from config (NOT
  *    from registration — `fixed2avro/ColumnBuilder.go:106-107`, §2.4);
  *  - key   = the Avro-encoded literal string "string" under key schema
  *    `"string"` — the reference sends this constant for every message
  *    (fine print F10, `fixed2avro/Exporters.go:59,88`);
  *  - partition = the task's partition id, mirroring the
  *    producer-pinned-to-chunk# routing (`kafkaavro/producer.go:128-132`).
  *
  * On a cluster the staged frame goes straight to
  * `df.write.format("kafka")` (at-least-once — strictly stronger than
  * the reference's await-one-delivery, fine print F7); without a
  * connector jar [[graft.Cli]] writes it as parquet.
  */
object KafkaStage {

  /** Avro binary encoding of the constant key string "string":
    * zigzag varint length 6 (0x0c) + UTF-8 bytes. */
  val KeyBytes: Array[Byte] = {
    val s = "string".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Array(0x0c.toByte) ++ s
  }

  /** Register the reference's two subjects (`<topic>-key` with schema
    * literal `"string"`, `<topic>-value` with the record schema —
    * `kafkaavro/producer.go:116-126`) and return (keyId, valueId). Note
    * the produced VALUE frames use `schemaId` from config, not this
    * valueId, for reference parity (§2.4). */
  def registerSubjects(registry: SchemaRegistryClient, topic: String,
      schema: FixedSchema, nullable: Boolean = false): (Int, Int) = {
    val keyId = registry.register(s"$topic-key", "\"string\"")
    val valueId = registry.register(s"$topic-value",
      if (nullable) schema.nullableAvroJson else schema.avroJson)
    (keyId, valueId)
  }

  /** Stage a typed DataFrame for the Kafka sink. The value column is the
    * fused header+body encoder ([[AvroCodec.AvroEncodeDirect]]) — one
    * buffer pass, one output allocation per message. */
  // keySchemaId is REQUIRED (r16): the old `= 1` default hardcoded the
  // in-memory fake's first allocated id — against a real registry the
  // key frames would carry whatever unrelated schema holds id 1. Every
  // caller gets the id from registerSubjects anyway.
  def stage(df: DataFrame, schema: FixedSchema, schemaId: Int, topic: String,
      keySchemaId: Int): DataFrame =
    envelope(df, AvroCodec.to_avro_confluent(schema.fields.map(f => col(f.name)),
      schema.avroJson, schemaId), topic, keySchemaId)

  /** Optional-union staging variant (r17): frames the value under the
    * `["null", T]` schema so null fields are CARRIED to the topic
    * instead of killing the encode — pair with
    * `registerSubjects(..., nullable = true)` so consumers resolve the
    * union by the registered id ([[graft.sources.KafkaConsume]]'s
    * field readers handle optional unions). Same encoder as [[stage]]. */
  def stageNullable(df: DataFrame, schema: FixedSchema, schemaId: Int,
      topic: String, keySchemaId: Int): DataFrame =
    envelope(df, AvroCodec.to_avro_confluent(schema.fields.map(f => col(f.name)),
      schema.nullableAvroJson, schemaId), topic, keySchemaId)

  /** Stage fixed-width lines (a `value` string column) for the Kafka
    * sink through the fused line → Avro encoder
    * ([[FixedWidthParser.toAvro]]): the same frame as [[stage]] over
    * the strict parse of those lines, with no typed row in between. */
  def stageLines(lines: DataFrame, schema: FixedSchema, schemaId: Int, topic: String,
      keySchemaId: Int): DataFrame =
    envelope(FixedWidthParser.toAvro(lines, schema, schemaId), col("value"), topic, keySchemaId)

  /** The `(key, value, topic, partition)` frame Spark's Kafka sink reads. */
  private def envelope(df: DataFrame, value: Column, topic: String,
      keySchemaId: Int): DataFrame =
    df.select(
      Confluent.frame(lit(KeyBytes), keySchemaId).as("key"),
      value.as("value"),
      lit(topic).as("topic"),
      spark_partition_id().as("partition"))
}
