package graft.sources

import graft.functions.{AvroCodec, Confluent}
import graft.registry.SchemaRegistryClient
import graft.schema.FixedSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Consumer-side decode of Confluent-framed Avro messages.
  *
  * Re-expresses `decodeAvroBinary` (`kafkaavro/consumer.go:178-189`):
  * reject magic byte ≠ 0, read the 4-byte big-endian schema id, fetch the
  * schema by id from the registry (driver-side, memoized — the executors
  * never talk to the registry), decode the remaining bytes. With a live
  * cluster the input frame comes from
  * `spark.readStream.format("kafka")`; offline it is any DataFrame with a
  * binary `value` column, batch or streaming. Kafka commit semantics are
  * replaced by Structured Streaming checkpointing (strictly stronger).
  */
object KafkaConsume {

  /** Distinct schema ids present in the frame — metadata-scale collect
    * (the set of schema versions, not the data). Only used when the
    * caller cannot enumerate ids up front; the input should be persisted
    * by then (see [[decode]]) so this does not recompute the pipeline.
    *
    * Junk-gated (r16): only messages the decoder accepts as well-framed
    * (non-null, >= [[Confluent.MinFramedBytes]], magic byte) contribute
    * an id. Without the gate, ONE non-Confluent message (plain JSON
    * bytes, a tombstone null) put a garbage id — or a null — into the
    * discovery set, and the registry lookup for it crashed the whole
    * decode, the opposite of the documented "bad messages are dropped"
    * contract. */
  def schemaIds(framed: DataFrame, valueCol: String = "value"): Seq[Int] =
    framed
      .where(col(valueCol).isNotNull &&
        length(col(valueCol)) >= Confluent.MinFramedBytes && Confluent.hasMagic(col(valueCol)))
      .select(Confluent.schemaId(col(valueCol)).as("sid"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** Decode a framed `value` column into typed rows in ONE pass.
    *
    * Schema evolution is handled the way the reference does — per-message
    * schema id → registry lookup (cached) — but vectorized: the id→writer
    * schema map rides inside a single [[AvroCodec.AvroDecodeFramed]]
    * expression with full Avro writer→reader resolution (fields matched
    * by name, type promotions applied), instead of one filtered scan per
    * id. Messages with a bad magic byte or an id outside `knownIds` are
    * dropped, like the per-message error return at `consumer.go:180`.
    *
    * @param knownIds writer-schema ids expected in the stream. Pass them
    *   when the producer side knows its ids (normal case — the reference
    *   carries the id in config, SURVEY.md §2.4); each must be
    *   registered. When empty, ids are discovered from the data itself
    *   (the frame is persisted first so discovery does not recompute the
    *   upstream pipeline twice), and a discovered id the registry does
    *   not hold is junk like any other: its messages are dropped. A
    *   streaming frame needs them: discovery is a driver-side collect.
    */
  def decode(framed: DataFrame, registry: SchemaRegistryClient,
      target: FixedSchema, knownIds: Seq[Int] = Nil,
      valueCol: String = "value", nullable: Boolean = false): DataFrame = {
    val spark = framed.sparkSession
    // Discovery path: persist so the id scan and the decode share one
    // materialization (round-1 ran the whole upstream pipeline N+1 times
    // here). The cache lives until session eviction; callers that can
    // enumerate ids never pay it.
    val (input, ids) =
      if (knownIds.nonEmpty) (framed, knownIds)
      else {
        require(!framed.isStreaming,
          "decoding a stream needs explicit writer-schema ids: data-driven id " +
            "discovery is a driver-side collect a streaming plan cannot run")
        val cached = framed.persist(StorageLevel.MEMORY_AND_DISK)
        (cached, schemaIds(cached, valueCol))
      }
    val schemasById = ids.flatMap { id =>
      try Some(id -> registry.getById(id))
      catch { case _: NoSuchElementException if knownIds.isEmpty => None }
    }.toMap
    if (schemasById.isEmpty) // empty topic / all-junk batch → empty frame, not a crash
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target.sparkSchema)
    // Generator form: one decode per message emitting top-level columns
    // (the struct + `r.*` form decodes once per OUTPUT column after
    // projection collapse); junk messages yield zero rows.
    // nullable (r17): a stream produced under the ["null", T] optional
    // schema (KafkaStage.stageNullable) needs the union READER schema
    // too — resolving a union writer into the flat reader only works
    // until the first actual null, which would kill the decode.
    val readerJson = if (nullable) target.nullableAvroJson else target.avroJson
    input.select(AvroCodec.from_avro_rows(col(valueCol), schemasById,
      readerJson, target.sparkSchema))
  }
}
