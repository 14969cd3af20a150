package graft.ops

import graft.functions.{AvroCodec, Confluent}
import graft.parse.{Compat, FixedWidthParser, Strict}
import graft.registry.InMemorySchemaRegistry
import graft.schema.FixedSchema
import graft.sinks.KafkaStage
import graft.sources.{FixedWidth, KafkaConsume, Ocf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference-derived pipeline, end-to-end, as oracle-checkable
  * queries. Each takes (spark, sfDir) and reads only the driver-provided
  * parquet tables: the fixed-width text / Avro bytes legs are produced
  * in-flight from `lineitem`, so the whole chain
  *
  *   parquet → fixed-width render → parse → Avro encode → Confluent frame
  *   → unframe → Avro decode → typed rows
  *
  * must be the identity, and `SELECT ... FROM lineitem` is an exact
  * DuckDB oracle for it (SURVEY.md §7.2).
  */
object Pipeline {

  /** Extended Avro schema for the lineitem fixed-width rendering
    * (FIXTURES.md §A2, lowercase names to match the parquet/oracle). */
  val lineitemSchemaJson: String =
    """{"type":"record","name":"lineitem","fields":[
      |{"name":"l_orderkey","type":{"type":"long","name":"l_orderkey","len":12}},
      |{"name":"l_partkey","type":{"type":"long","name":"l_partkey","len":12}},
      |{"name":"l_suppkey","type":{"type":"long","name":"l_suppkey","len":12}},
      |{"name":"l_linenumber","type":{"type":"int","name":"l_linenumber","len":4}},
      |{"name":"l_quantity","type":{"type":"double","name":"l_quantity","len":10}},
      |{"name":"l_extendedprice","type":{"type":"double","name":"l_extendedprice","len":14}},
      |{"name":"l_discount","type":{"type":"double","name":"l_discount","len":6}},
      |{"name":"l_tax","type":{"type":"double","name":"l_tax","len":6}},
      |{"name":"l_returnflag","type":{"type":"string","name":"l_returnflag","len":1}},
      |{"name":"l_linestatus","type":{"type":"string","name":"l_linestatus","len":1}},
      |{"name":"l_shipdate","type":{"type":"long","logicalType":"timestamp-micros","name":"l_shipdate","len":26}}
      |]}""".stripMargin

  val lineitemFixed: FixedSchema = FixedSchema.fromJson(lineitemSchemaJson)

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    IndexStore.table(spark, dir, "lineitem")

  /** [[lineitem]] with the scan fanned out to cluster parallelism
    * ([[Similarity.fanOut]] — a NO-OP once the scan has >=
    * defaultParallelism splits, the 100 TB case). The fixture tables
    * are single-row-group parquet files, so every render/encode
    * projection below the first exchange otherwise runs on ONE core
    * while the rest idle (r21 job-timeline measurement: the
    * scan+render job of every ingest leg ran 0.6-0.9 s single-task at
    * sf0.1/32 — the largest single job in each of those queries). Keyed
    * by l_orderkey so the placement is deterministic under retry (the
    * [[barrier]] rationale). */
  private[ops] def lineitemFanned(spark: SparkSession, dir: String): DataFrame =
    Similarity.fanOut(spark, dir, "lineitem", lineitem(spark, dir), col("l_orderkey"))

  // The fixture has ~12k duplicate (l_orderkey, l_linenumber) pairs but
  // no fully-duplicate rows: only ordering by EVERY column is a total
  // order, which the hash compare needs once a shuffle scrambles ties.
  private val orderCols: Seq[org.apache.spark.sql.Column] =
    lineitemFixed.fields.map(f => col(f.name))

  private val orderColsSql: String = lineitemFixed.fields.map(_.name).mkString(", ")

  /** Exchange barrier between a render and the parse that consumes it.
    *
    * Without it Catalyst's projection collapse inlines the whole-row
    * render (an 11-field concat) into EVERY parse field's substring —
    * an 11x recompute — and the verification orderBy's range-sampling
    * pass executes the collapsed chain a second time. A shuffle of the
    * rendered lines (~100 B/row) is far cheaper than either, and
    * shuffle reuse serves both the sampling and final sort passes from
    * the same files. HASH partitioning on the full row, not round-robin
    * `repartition(n)`: round-robin placement depends on row order, so
    * Spark inserts a defensive per-partition sort before it
    * (`spark.sql.execution.sortBeforeRepartition`) to stay deterministic
    * under task retry — measured ~0.35 s/600k rows of pure overhead per
    * barrier. Hash placement is order-independent (retry-deterministic
    * by construction), needs no sort, and distributes uniformly here
    * because the barriered frames have no duplicate rows. The
    * file-based queries (filescan, streaming) get this barrier
    * naturally — the filesystem. */
  private[ops] def barrier(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      df.columns.map(col): _*)

  val identityOracle: String =
    s"SELECT * FROM lineitem ORDER BY $orderColsSql"

  /** parquet → fixed-width lines → strict parse → typed rows ≡ input.
    *
    * In-flight rendered frames pass `dropFooter = false`: no footer
    * line can exist in them, and the footer FILTER would be
    * predicate-pushed below the barrier and substituted through the
    * render projection — re-rendering every row a second time just to
    * test its first 12 chars. (File inputs keep the filter: there the
    * pushdown lands IN the text scan, where it is free.) */
  def fixedwidthRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val rendered = barrier(FixedWidth.render(lineitemFanned(spark, dir), lineitemFixed))
    FixedWidthParser.parse(rendered, lineitemFixed, Strict, dropFooter = false)
      .orderBy(orderCols: _*)
  }

  /** typed rows → Avro binary + Confluent frame → unframe → decode ≡ input.
    *
    * UNfanned scan (r22): r21 put [[lineitemFanned]] here and the
    * canonical record regressed 1.38 → 1.89 s — the fan-out exchange
    * shuffles the full 11-column frame just to parallelize a direct
    * encode projection that costs less than the shuffle itself, and
    * the [[barrier]] below already provides the post-encode spread.
    * (The render-based siblings keep the fan-out: their per-row render
    * is ~an order heavier than this encode.) */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val schemaId = 42
    val df = lineitem(spark, dir)
    val framed = df.select(
      AvroCodec.to_avro_confluent(lineitemFixed.fields.map(f => col(f.name)),
        lineitemFixed.avroJson, schemaId).as("value"))
    // barrier BEFORE the magic/id filter (r16): sat directly on the
    // encode projection, PushPredicateThroughProject substitutes the
    // whole AvroEncodeDirect into the predicate — every row encoded
    // TWICE (codegen CSE does not span Filter/Project), silently
    // inflating this bench leg. Same recompute class the sibling
    // queries' barriers already document.
    barrier(framed)
      .filter(Confluent.hasMagic(col("value")) && Confluent.schemaId(col("value")) === schemaId)
      .select(AvroCodec.from_avro_rows(col("value"),
        Map(schemaId -> lineitemFixed.avroJson),
        lineitemFixed.avroJson, lineitemFixed.sparkSchema))
      .orderBy(orderCols: _*)
  }

  /** Optional-union round trip (r17): rows with NULLS in three fields
    * (a double, a string, a timestamp — one per physical encoding
    * class) encode under the `["null", T]` optional schema
    * ([[graft.schema.FixedSchema.nullableAvroJson]]), frame, and decode
    * back with the nulls intact. The reference's flat model has no
    * unions — [[avroRoundtrip]] stays faithful to it and rejects nulls
    * loudly — but a real pipeline carrying strict-parse nulls needs the
    * standard Avro optional encoding; the union branch-index bytes are
    * pinned separately in AvroDirectSpec (golden bytes), this query
    * pins end-to-end VALUES against DuckDB. NULLS FIRST in the oracle's
    * ORDER BY mirrors Spark's asc default (DuckDB defaults nulls
    * last). */
  def avroNullableRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val schemaId = 77
    val nulled = lineitemFanned(spark, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      when(col("l_orderkey") % 5 === 0, lit(null)).otherwise(col("l_quantity"))
        .as("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_returnflag"))
        .as("l_returnflag"),
      col("l_linestatus"),
      when(col("l_orderkey") % 3 === 0, lit(null)).otherwise(col("l_shipdate"))
        .as("l_shipdate"))
    val framed = nulled.select(
      AvroCodec.to_avro_confluent(lineitemFixed.fields.map(f => col(f.name)),
        lineitemFixed.nullableAvroJson, schemaId).as("value"))
    // barrier before the decode projection — the same recompute class
    // every sibling roundtrip documents (encode must not be
    // substituted into the decode's consumer expressions).
    barrier(framed)
      .select(AvroCodec.from_avro_rows(col("value"),
        Map(schemaId -> lineitemFixed.nullableAvroJson),
        lineitemFixed.nullableAvroJson, lineitemFixed.sparkSchema))
      .orderBy(orderCols: _*)
  }

  /** Writer-side schema EVOLUTION roundtrip (r20): one stream carrying
    * frames from two producer GENERATIONS — even keys encoded under the
    * original flat schema (id 42), odd keys under an EXTENDED schema
    * (id 43) that appends a new string field `l_note` — decoded in ONE
    * [[AvroCodec.from_avro_rows]] pass under the extended nullable
    * reader. Old-generation rows resolve the added field to the
    * reader's `"default": null`; new-generation rows carry their
    * written value. This is the write-path dual of the reader-side
    * resolution SchemaEvolutionSpec pins (the reference consumer's
    * implicit evolution surface, `kafkaavro/consumer.go:178-189`): it
    * proves the ENGINE'S OWN encoder produces frames that standard
    * Avro resolution migrates, not just that the decoder accepts
    * foreign generations. The extension is pure metadata — a second
    * FixedField on the same compiled schema — so a rolling producer
    * upgrade is a config push, not an encoder change. */
  def avroEvolutionRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val oldId = 42; val newId = 43
    val ext = lineitemFixed.copy(fields =
      lineitemFixed.fields :+ graft.schema.FixedField("l_note", 16, "string", None))
    // UNfanned scan (r22): the r21 fan-out pushed BELOW the generation
    // split (filter pushdown through RepartitionByExpression), so the
    // full 11-column frame shuffled once PER BRANCH
    // (plans/r21/avro_evolution_roundtrip_after.txt nodes 3+7) —
    // canonical 1.17 → 1.85 s. The direct encode is cheaper than a
    // full-width exchange of its input; the union barrier below
    // spreads the decode.
    val df = lineitem(spark, dir)
    val oldFrames = df.where(col("l_orderkey") % 2 === 0).select(
      AvroCodec.to_avro_confluent(lineitemFixed.fields.map(f => col(f.name)),
        lineitemFixed.avroJson, oldId).as("value"))
    val newFrames = df.where(col("l_orderkey") % 2 === 1)
      .withColumn("l_note", concat(lit("n"), col("l_orderkey").cast("string")))
      .select(AvroCodec.to_avro_confluent(ext.fields.map(f => col(f.name)),
        ext.avroJson, newId).as("value"))
    // barrier before the decode projection — the standard anti-recompute
    // guard every sibling roundtrip documents.
    barrier(oldFrames.union(newFrames))
      .select(AvroCodec.from_avro_rows(col("value"),
        Map(oldId -> lineitemFixed.avroJson, newId -> ext.avroJson),
        ext.nullableAvroJson, ext.sparkSchema))
      .orderBy(ext.fields.map(f => col(f.name)): _*)
  }

  val avroEvolutionOracle: String =
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       |       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       |       l_shipdate,
       |       CASE WHEN l_orderkey % 2 = 1 THEN 'n' || CAST(l_orderkey AS VARCHAR)
       |            ELSE NULL END AS l_note
       |FROM lineitem
       |ORDER BY ${(lineitemFixed.fields.map(_.name) :+ "l_note")
                    .map(n => s"$n NULLS FIRST").mkString(", ")}""".stripMargin

  val avroNullableOracle: String =
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       |       CASE WHEN l_orderkey % 5 = 0 THEN NULL ELSE l_quantity END AS l_quantity,
       |       l_extendedprice, l_discount, l_tax,
       |       CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_returnflag END AS l_returnflag,
       |       l_linestatus,
       |       CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_shipdate END AS l_shipdate
       |FROM lineitem
       |ORDER BY ${lineitemFixed.fields.map(f => s"${f.name} NULLS FIRST").mkString(", ")}""".stripMargin

  /** fixed-width lines → FUSED line→Avro expression
    * ([[graft.functions.FixedAvro]], the hot export path) → unframe →
    * decode ≡ input. FixedAvroSpec pins the wire bytes identical to the
    * composable parse+encode chain; this query pins the end-to-end
    * VALUES against the DuckDB oracle, so the fused path sits behind
    * the same correctness gate as the chain it shortcuts. */
  def fixedToAvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val schemaId = 42
    val rendered = barrier(FixedWidth.render(lineitemFanned(spark, dir), lineitemFixed))
    val framed = FixedWidthParser.toAvro(rendered, lineitemFixed, schemaId,
      dropFooter = false)
    barrier(framed.select(AvroCodec.from_avro_rows(col("value"),
      Map(schemaId -> lineitemFixed.avroJson),
      lineitemFixed.avroJson, lineitemFixed.sparkSchema)))
      .orderBy(orderCols: _*)
  }

  /** The fused export path over a CORRUPT corpus: ~1/7 of the rendered
    * lines (those whose l_orderkey is divisible by 7 — the key is the
    * line's first 12 chars, so the predicate is computable on the raw
    * line) are truncated to 20 chars before the export. `strict=true`
    * must DROP exactly those lines — not best-effort slice them into
    * garbage records (the reference's silent F5/F8 behavior) — so the
    * decoded output equals the non-corrupted subset, which DuckDB
    * states directly. The drop-count observation is pinned separately
    * in FixedAvroSpec (observations are not part of a query's rows). */
  def fixedToAvroStrict(spark: SparkSession, dir: String): DataFrame = {
    val schemaId = 42
    val rendered = barrier(FixedWidth.render(lineitemFanned(spark, dir), lineitemFixed))
    val corrupted = rendered.select(
      when(trim(substring(col("value"), 1, 12)).cast("long") % 7 === 0,
        substring(col("value"), 1, 20)).otherwise(col("value")).as("value"))
    val framed = FixedWidthParser.toAvro(corrupted, lineitemFixed, schemaId,
      dropFooter = false, strict = true)
    barrier(framed.select(AvroCodec.from_avro_rows(col("value"),
      Map(schemaId -> lineitemFixed.avroJson),
      lineitemFixed.avroJson, lineitemFixed.sparkSchema)))
      .orderBy(orderCols: _*)
  }

  val fixedToAvroStrictOracle: String =
    s"SELECT * FROM lineitem WHERE l_orderkey % 7 <> 0 ORDER BY $orderColsSql"

  /** The FUSED export path under the `["null", T]` optional-union wire
    * (r18): ~1/5 of the rendered lines (l_orderkey divisible by 5 —
    * computable on the line's first 12 chars) get their l_quantity
    * slice blanked to spaces; the fused nullable encoder must carry
    * those as the null branch (not throw, not garbage), and the
    * resolving decode hands the nulls back. This puts the
    * [[graft.functions.FixedAvro.LineEncoder]] nullable lane — pinned
    * byte-identical to the general codec in FixedAvroSpec — behind the
    * same end-to-end DuckDB value gate as the flat fused path. */
  def fixedToAvroNullableFused(spark: SparkSession, dir: String): DataFrame = {
    val schemaId = 43
    val rendered = barrier(FixedWidth.render(lineitemFanned(spark, dir), lineitemFixed))
    // l_quantity is chars 41..50 (after 12+12+12+4); overlay with spaces
    val corrupted = rendered.select(
      when(trim(substring(col("value"), 1, 12)).cast("long") % 5 === 0,
        concat(substring(col("value"), 1, 40), lit(" " * 10),
          substring(col("value"), 51, Int.MaxValue)))
        .otherwise(col("value")).as("value"))
    val framed = corrupted.select(
      graft.functions.FixedAvro.fixed_to_avro_confluent_nullable(
        col("value"), lineitemFixed, schemaId).as("value"))
    barrier(framed)
      .select(AvroCodec.from_avro_rows(col("value"),
        Map(schemaId -> lineitemFixed.nullableAvroJson),
        lineitemFixed.nullableAvroJson, lineitemFixed.sparkSchema))
      .orderBy(orderCols: _*)
  }

  val fixedToAvroNullableOracle: String =
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       |       CASE WHEN l_orderkey % 5 = 0 THEN NULL ELSE l_quantity END AS l_quantity,
       |       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
       |FROM lineitem
       |ORDER BY ${lineitemFixed.fields.map(f => s"${f.name} NULLS FIRST").mkString(", ")}""".stripMargin

  /** typed rows → snappy OCF files (one per partition) → read back ≡ input. */
  def ocfRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "ocf")
    Ocf.write(lineitemFanned(spark, dir), lineitemFixed, out)
    Ocf.read(spark, out, lineitemFixed).orderBy(orderCols: _*)
  }

  /** typed rows → staged Kafka frame (Confluent key+value, pinned
    * partition) → consumer decode ≡ input. The producer-side value id is
    * passed to the decoder (the reference carries it in config, §2.4), so
    * decode is a single pass with no data-driven id discovery. */
  def kafkaRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val registry = new InMemorySchemaRegistry
    val (keyId, valueId) =
      KafkaStage.registerSubjects(registry, "lineitem", lineitemFixed)
    val staged = KafkaStage.stage(lineitemFanned(spark, dir), lineitemFixed,
      schemaId = valueId, topic = "lineitem", keySchemaId = keyId)
    barrier(KafkaConsume.decode(staged, registry, lineitemFixed, knownIds = Seq(valueId)))
      .orderBy(orderCols: _*)
  }

  /** Full chain on real text: render to files, read with the distributed
    * text source (footer line appended to exercise S3), parse strict. */
  def fixedwidthFileScan(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "fw")
    FixedWidth.write(lineitemFanned(spark, dir), lineitemFixed, out)
    // An actual footer file (13 asterisks — `len > 12`, the
    // strictly-greater fine print) lands in the scanned directory, so
    // the S3 drop path is exercised BY THIS QUERY as the doc above
    // promises (r16: the claim predated the file — a footer-predicate
    // regression would have passed this oracle cleanly). The DuckDB
    // oracle reads the parquet source, so the engine must drop it.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "part-zz-footer.txt"), "*************\n")
    FixedWidth.read(spark, out, lineitemFixed, Strict).orderBy(orderCols: _*)
  }

  /** Compat-mode parse (reference bug-parity): timestamps become Unix
    * SECONDS longs (F1), numerics 0 on failure. Expressed over the same
    * in-flight rendering; DuckDB oracle reproduces the semantics. */
  def compatParse(spark: SparkSession, dir: String): DataFrame = {
    // Zero-padded numerics: space-padded ones are a strconv failure → 0
    // under compat (faithful to the reference; covered by unit tests).
    val rendered = barrier(FixedWidth.render(lineitemFanned(spark, dir), lineitemFixed,
      zeroPadNumerics = true))
    FixedWidthParser.parse(rendered, lineitemFixed, Compat, dropFooter = false)
      .orderBy(orderCols: _*)
  }

  val compatOracle: String =
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       |       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       |       CAST(epoch(l_shipdate) AS BIGINT) AS l_shipdate
       |FROM lineitem ORDER BY $orderColsSql""".stripMargin

  /** Compat parse over SPACE-padded numerics — the interesting compat
    * case (SURVEY §2.2): Go strconv rejects untrimmed "  42", the error
    * is discarded, and the field becomes the zero value. Every numeric
    * and timestamp column therefore parses to 0 under reference
    * semantics, and the oracle states exactly that. Strings keep their
    * verbatim value (1-char fields); the timestamp renders to exactly
    * 26 chars — no padding — so it parses to Unix seconds (F1) and
    * doubles as the ordering tiebreaker. */
  def compatSpacePad(spark: SparkSession, dir: String): DataFrame = {
    val rendered = barrier(FixedWidth.render(lineitemFanned(spark, dir), lineitemFixed))
    FixedWidthParser.parse(rendered, lineitemFixed, Compat, dropFooter = false)
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
  }

  val compatSpacePadOracle: String =
    """SELECT CAST(0 AS BIGINT) AS l_orderkey, CAST(0 AS BIGINT) AS l_partkey,
      |       CAST(0 AS BIGINT) AS l_suppkey, CAST(0 AS INTEGER) AS l_linenumber,
      |       CAST(0.0 AS DOUBLE) AS l_quantity, CAST(0.0 AS DOUBLE) AS l_extendedprice,
      |       CAST(0.0 AS DOUBLE) AS l_discount, CAST(0.0 AS DOUBLE) AS l_tax,
      |       l_returnflag, l_linestatus, CAST(epoch(l_shipdate) AS BIGINT) AS l_shipdate
      |FROM lineitem ORDER BY l_returnflag, l_linestatus, l_shipdate""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fixedwidth_roundtrip" -> (fixedwidthRoundtrip _),
    "fixedwidth_filescan" -> (fixedwidthFileScan _),
    "fixedwidth_compat" -> (compatParse _),
    "fixedwidth_compat_spacepad" -> (compatSpacePad _),
    "avro_confluent_roundtrip" -> (avroRoundtrip _),
    "avro_nullable_roundtrip" -> (avroNullableRoundtrip _),
    "avro_evolution_roundtrip" -> (avroEvolutionRoundtrip _),
    "fixedwidth_toavro_fused" -> (fixedToAvroRoundtrip _),
    "fixedwidth_toavro_nullable_fused" -> (fixedToAvroNullableFused _),
    "fixedwidth_toavro_strict" -> (fixedToAvroStrict _),
    "ocf_roundtrip" -> (ocfRoundtrip _),
    "kafka_stage_roundtrip" -> (kafkaRoundtrip _),
  )

  def oracleSql: Map[String, String] = Map(
    "fixedwidth_roundtrip" -> identityOracle,
    "fixedwidth_filescan" -> identityOracle,
    "fixedwidth_compat" -> compatOracle,
    "fixedwidth_compat_spacepad" -> compatSpacePadOracle,
    "avro_confluent_roundtrip" -> identityOracle,
    "avro_nullable_roundtrip" -> avroNullableOracle,
    "avro_evolution_roundtrip" -> avroEvolutionOracle,
    "fixedwidth_toavro_fused" -> identityOracle,
    "fixedwidth_toavro_nullable_fused" -> fixedToAvroNullableOracle,
    "fixedwidth_toavro_strict" -> fixedToAvroStrictOracle,
    "ocf_roundtrip" -> identityOracle,
    "kafka_stage_roundtrip" -> identityOracle,
  )
}
