package graft

import graft.schema.FixedSchema
import org.apache.spark.sql.functions._

/** Consumer schema-EVOLUTION resolution (r19): one topic carrying
  * frames from multiple writer GENERATIONS — an old producer whose
  * record lacks a field the current reader declares (added field,
  * filled from the reader default) and a transitional producer whose
  * record carries a field the reader has dropped (skipped by name
  * resolution). This is the reference consumer's implicit evolution
  * surface (per-message id → registry → writer schema): the engine's
  * per-message id dispatch must resolve every generation against ONE
  * reader schema, batch and streaming identically.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private val oldJson = """{"type":"record","name":"ev","fields":[
    |{"name":"id","type":{"type":"long","name":"id","len":8}},
    |{"name":"s","type":{"type":"string","name":"s","len":8}}
    |]}""".stripMargin
  private val newJson = """{"type":"record","name":"ev","fields":[
    |{"name":"id","type":{"type":"long","name":"id","len":8}},
    |{"name":"s","type":{"type":"string","name":"s","len":8}},
    |{"name":"score","type":{"type":"double","name":"score","len":8}}
    |]}""".stripMargin
  // transitional generation: carries `extra`, which the reader dropped
  private val wideJson = """{"type":"record","name":"ev","fields":[
    |{"name":"id","type":{"type":"long","name":"id","len":8}},
    |{"name":"s","type":{"type":"string","name":"s","len":8}},
    |{"name":"extra","type":{"type":"long","name":"extra","len":8}},
    |{"name":"score","type":{"type":"double","name":"score","len":8}}
    |]}""".stripMargin

  private def stageGenerations() = {
    import spark.implicits._
    val oldFixed = FixedSchema.fromJson(oldJson)
    val newFixed = FixedSchema.fromJson(newJson)
    val wideFixed = FixedSchema.fromJson(wideJson)
    val registry = new graft.registry.InMemorySchemaRegistry
    val oldId = registry.register("evo-value", oldFixed.avroJson)
    val newId = registry.register("evo-value", newFixed.avroJson)
    val wideId = registry.register("evo-value", wideFixed.avroJson)
    val frames = graft.sinks.KafkaStage.stage(
        Seq((1L, "old")).toDF("id", "s"),
        oldFixed, schemaId = oldId, topic = "evo", keySchemaId = oldId)
      .union(graft.sinks.KafkaStage.stage(
        Seq((2L, "new", 2.5)).toDF("id", "s", "score"),
        newFixed, schemaId = newId, topic = "evo", keySchemaId = oldId))
      .union(graft.sinks.KafkaStage.stage(
        Seq((3L, "wide", 99L, 3.5)).toDF("id", "s", "extra", "score"),
        wideFixed, schemaId = wideId, topic = "evo", keySchemaId = oldId))
    (frames, registry, newFixed, Seq(oldId, newId, wideId))
  }

  private def expect = Seq(
    (1L, "old", None),        // added field ← reader default (null)
    (2L, "new", Some(2.5)),   // same-generation writer
    (3L, "wide", Some(3.5)))  // dropped field skipped by resolution

  test("batch decode resolves old (added-field default) and wide (dropped-field) writers") {
    val (frames, registry, newFixed, ids) = stageGenerations()
    val back = graft.sources.KafkaConsume.decode(
        frames, registry, newFixed, knownIds = ids, nullable = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(back == expect)
  }

  test("streaming decode resolves the same mixed-generation frames identically") {
    val (frames, registry, newFixed, ids) = stageGenerations()
    val framesDir = java.nio.file.Files.createTempDirectory("graft-evo-in").toString
    frames.select("value").write.mode("overwrite").parquet(framesDir)
    val streamIn = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.BinaryType))))
      .parquet(framesDir)
    val decoded = graft.sources.KafkaConsume.decode(
      streamIn, registry, newFixed, knownIds = ids, nullable = true)
    assert(decoded.isStreaming)
    val out = java.nio.file.Files.createTempDirectory("graft-evo-out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-evo-ck").toString
    graft.streaming.FixedWidthStream.runToParquet(decoded, out, ck)
    val streamed = spark.read.parquet(out).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(streamed == expect)
    // id discovery is a driver-side collect: a stream must name its ids
    val e = intercept[IllegalArgumentException] {
      graft.sources.KafkaConsume.decode(streamIn, registry, newFixed, knownIds = Nil)
    }
    assert(e.getMessage.contains("needs explicit writer-schema ids: data-driven id " +
      "discovery is a driver-side collect a streaming plan cannot run"), e.getMessage)
  }

  test("writer int promotes into a long reader field (Avro numeric promotion)") {
    import spark.implicits._
    val narrow = FixedSchema.fromJson("""{"type":"record","name":"pv","fields":[
      |{"name":"id","type":{"type":"long","name":"id","len":8}},
      |{"name":"n","type":{"type":"int","name":"n","len":4}}
      |]}""".stripMargin)
    val wide = FixedSchema.fromJson("""{"type":"record","name":"pv","fields":[
      |{"name":"id","type":{"type":"long","name":"id","len":8}},
      |{"name":"n","type":{"type":"long","name":"n","len":8}}
      |]}""".stripMargin)
    val registry = new graft.registry.InMemorySchemaRegistry
    val nId = registry.register("pv-value", narrow.avroJson)
    val frames = graft.sinks.KafkaStage.stage(
      Seq((1L, 41), (2L, -7)).toDF("id", "n"),
      narrow, schemaId = nId, topic = "pv", keySchemaId = nId)
    val back = graft.sources.KafkaConsume.decode(
        frames, registry, wide, knownIds = Seq(nId), nullable = true)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(back == Seq((1L, 41L), (2L, -7L)))
  }

  test("the old generation decoded under its OWN reader is unchanged by the migration") {
    // Sanity anchor: evolution must be a pure reader-side view — the
    // old frames still decode byte-for-byte under the old reader.
    import spark.implicits._
    val oldFixed = FixedSchema.fromJson(oldJson)
    val registry = new graft.registry.InMemorySchemaRegistry
    val oldId = registry.register("evo2-value", oldFixed.avroJson)
    val frames = graft.sinks.KafkaStage.stage(
      Seq((1L, "old")).toDF("id", "s"),
      oldFixed, schemaId = oldId, topic = "evo2", keySchemaId = oldId)
    val back = graft.sources.KafkaConsume.decode(
        frames, registry, oldFixed, knownIds = Seq(oldId))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "old")))
  }

  test("id discovery drops a 5-byte frame and an unregistered id, keeping the valid row") {
    // knownIds = Nil: ids come from the data. A frame too short for the
    // decoder (00 00 00 00 63, id 99, no body) and a well-framed message
    // under an id the registry never saw are junk like any other — they
    // must drop, not fail the whole decode at the registry lookup.
    import spark.implicits._
    val fixed = FixedSchema.fromJson(oldJson)
    val registry = new graft.registry.InMemorySchemaRegistry
    val id = registry.register("disc-value", fixed.avroJson)
    def framed(rows: Seq[(Long, String)], schemaId: Int) =
      graft.sinks.KafkaStage.stage(rows.toDF("id", "s"), fixed,
        schemaId = schemaId, topic = "disc", keySchemaId = id).select("value")
    val frames = framed(Seq((1L, "ok")), id)
      .union(Seq(Array[Byte](0, 0, 0, 0, 0x63)).toDF("value"))
      .union(framed(Seq((2L, "unregistered")), 77))
    assert(graft.sources.KafkaConsume.schemaIds(frames).sorted == Seq(id, 77),
      "discovery must accept exactly the frames the decoder accepts")
    val back = graft.sources.KafkaConsume.decode(frames, registry, fixed)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "ok")))
  }
}
