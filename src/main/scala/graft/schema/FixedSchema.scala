package graft.schema

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** One column of a fixed-width table: a name, a width in runes
  * (Unicode code points, not bytes), and an Avro (logical) type.
  *
  * Mirrors the reference's `FixedField` (`common/fixed.go:32-35`): the
  * schema is a standard Avro record schema whose per-field type object
  * carries a non-standard `"len"` attribute, and a `logicalType`, when
  * present, overrides the physical type as the parse type
  * (`common/fixed.go:117-126`).
  */
final case class FixedField(
    name: String,
    runeLen: Int,
    avroType: String,
    logicalType: Option[String]) {

  /** The declared type string: logicalType wins over the physical
    * Avro type, as in `common/fixed.go:117-126`. */
  def parseType: String = logicalType.getOrElse(avroType)

  /** The column's resolved type; an unsupported one is refused here,
    * at schema build. */
  val fixedType: FixedType = FixedType.of(avroType, logicalType, name)

  /** Spark type for the strict (non-compat) output schema. */
  def sparkType: DataType = fixedType.sparkType
}

/** A compiled extended-Avro fixed-width schema.
  *
  * Built from the JSON form documented in the reference README
  * (`README.md:83-93`) and walked by `CreateRowFromSchema`
  * (`common/fixed.go:86-148`). Unlike the reference we do not Title-case
  * field names (that was a Go-reflection constraint) and we reject
  * rather than ignore malformed fields.
  */
final case class FixedSchema(recordName: String, fields: Seq[FixedField]) {
  require(fields.nonEmpty, "schema has no fields")

  /** Cumulative rune offsets: field i spans [starts(i), starts(i)+len). */
  val runeStarts: Seq[Int] = fields.scanLeft(0)(_ + _.runeLen).init

  /** Row rune length excluding the CRLF terminator. The reference adds 2
    * for CRLF (`common/fixed.go:42-49`); line sources strip it for us. */
  val rowRuneLen: Int = fields.map(_.runeLen).sum

  /** Strict-mode Spark schema (nullable: parse failures become null). */
  def sparkSchema: StructType =
    StructType(fields.map(f => StructField(f.name, f.sparkType, nullable = true)))

  /** Standard Avro schema JSON with the non-standard `len` attribute
    * stripped, suitable for Avro serialization (the reference parses the
    * same file twice for the same reason — `common/avro.go:28-36`). */
  def avroJson: String = FixedSchema.toAvroJson(this)

  /** The OPTIONAL-fields variant: every field's type wrapped in a
    * `["null", T]` union with `"default": null`. The reference's model
    * has no unions (SURVEY.md §1.2) and [[avroJson]] stays faithful to
    * it — but strict-mode parses yield nulls, and a real pipeline that
    * wants to CARRY those rows (rather than filter or default them)
    * needs the standard Avro optional encoding on the write path; the
    * read path already resolves writer schemas by id
    * (kafkaavro/consumer.go:178-189 reads whatever schema the registry
    * returns, unions included). Null-first branch order is the Avro
    * convention required for a null default. */
  def nullableAvroJson: String = FixedSchema.toAvroJson(this, nullable = true)
}

object FixedSchema {
  private val mapper = new ObjectMapper()

  /** Parse the extended Avro schema JSON. Mirrors the JSON walk in
    * `CreateRowFromSchema` (`common/fixed.go:86-148`): for each field,
    * read `name`, and from the field's `type` object read `len`,
    * `type`, and optional `logicalType` (which overrides). */
  def fromJson(json: String): FixedSchema = {
    val root = mapper.readTree(json)
    require(root != null && root.isObject, "schema JSON is not an object")
    require(root.path("type").asText() == "record",
      s"schema must be a record, got '${root.path("type").asText()}'")
    val name = root.path("name").asText("record")
    val fieldsNode = root.path("fields")
    require(fieldsNode.isArray, "schema has no fields array")
    val fields = fieldsNode.elements().asScala.map { f =>
      val fname = f.path("name").asText()
      require(fname.nonEmpty, "field without a name")
      val tpe = f.path("type")
      require(tpe.isObject,
        s"field '$fname': type must be an object carrying 'len' " +
          "(unions/nullable fields are not part of the model — SURVEY.md §1.2)")
      val len = tpe.path("len").asInt(-1)
      require(len > 0, s"field '$fname': missing or non-positive 'len'")
      val physical = tpe.path("type").asText()
      require(physical.nonEmpty, s"field '$fname': missing physical type")
      val logical = Option(tpe.path("logicalType").asText(null)).filter(_.nonEmpty)
      FixedField(fname, len, physical, logical)
    }.toSeq
    FixedSchema(name, fields)
  }

  def fromFile(path: String): FixedSchema =
    fromJson(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Re-emit standard Avro JSON (no `len`). Types keep their physical
    * Avro type plus logicalType annotation so Avro consumers see the
    * same schema the reference registers. */
  private[schema] def toAvroJson(s: FixedSchema, nullable: Boolean = false): String = {
    val root = mapper.createObjectNode()
    root.put("type", "record")
    root.put("name", s.recordName)
    val arr: ArrayNode = root.putArray("fields")
    s.fields.foreach { f =>
      val fn: ObjectNode = arr.addObject()
      fn.put("name", f.name)
      val typeNode: JsonNode = f.logicalType match {
        case Some(lt) =>
          val tn = mapper.createObjectNode()
          tn.put("type", FixedType.avroName(f))
          tn.put("logicalType", lt)
          tn
        case None =>
          mapper.getNodeFactory.textNode(FixedType.avroName(f))
      }
      if (nullable) {
        // ["null", T] with a null default — the standard Avro optional
        // field encoding (null branch FIRST: Avro requires the default's
        // type to match the union's first branch).
        val u = fn.putArray("type")
        u.add("null")
        u.add(typeNode)
        fn.putNull("default")
      } else fn.set[ObjectNode]("type", typeNode)
    }
    mapper.writeValueAsString(root)
  }

  /** Build an org.apache.avro.Schema for the serialization path. */
  def toAvroSchema(s: FixedSchema): org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(s.avroJson)
}
