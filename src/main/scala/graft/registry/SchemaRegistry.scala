package graft.registry

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

/** Confluent-style schema registry client (driver-side only — no Spark
  * primitive involved, same as the reference where registry HTTP happens
  * on the producer/consumer setup path).
  *
  * Mirrors `kafkaavro/cached_schema_registry.go:18-114`: register under a
  * subject, fetch by id, both memoized. The trait seam is the same one
  * the reference uses (`cached_schema_registry.go:12-15`), which lets the
  * offline test environment plug an in-memory fake.
  */
trait SchemaRegistryClient {
  /** Register a schema under `subject`, returning its id (memoized). */
  def register(subject: String, schemaJson: String): Int
  /** Fetch a schema by id (memoized). An id the registry does not
    * hold throws `NoSuchElementException`; other failures (a registry
    * outage) throw other exceptions, so callers can tell them apart. */
  def getById(id: Int): String
}

/** In-memory fake: deterministic ids in registration order. Also the
  * offline stand-in required by SURVEY.md §5.5. */
final class InMemorySchemaRegistry extends SchemaRegistryClient {
  // Keyed by SCHEMA CONTENT, not (subject, schema): a real Confluent
  // registry dedupes by content and returns the SAME global id when
  // one schema registers under two subjects (two topics sharing a
  // record type) — a per-subject fake would hand offline tests
  // distinct ids where production hands one, silently diverging any
  // id-keyed logic (knownIds sets, decode maps) validated against it.
  private val bySchema = TrieMap.empty[String, Int]
  private val byId = TrieMap.empty[Int, String]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  override def register(subject: String, schemaJson: String): Int =
    bySchema.getOrElseUpdate(schemaJson, {
      val id = nextId.incrementAndGet()
      byId.put(id, schemaJson)
      id
    })

  override def getById(id: Int): String =
    byId.getOrElse(id, throw new NoSuchElementException(s"schema id $id not registered"))
}

/** Memoizing decorator — the "cached" in CachedSchemaRegistryClient
  * (`kafkaavro/cached_schema_registry.go:39-58,89-104`). */
final class CachedSchemaRegistry(underlying: SchemaRegistryClient) extends SchemaRegistryClient {
  private val regCache = TrieMap.empty[(String, String), Int]
  private val idCache = TrieMap.empty[Int, String]
  override def register(subject: String, schemaJson: String): Int =
    regCache.getOrElseUpdate((subject, schemaJson), underlying.register(subject, schemaJson))
  override def getById(id: Int): String =
    idCache.getOrElseUpdate(id, underlying.getById(id))
}

/** HTTP client against a live Confluent-compatible registry. Endpoints
  * match the reference's `POST /subjects/<subject>/versions` and
  * `GET /schemas/ids/<id>` (`kafkaavro/cached_schema_registry.go:60-114`).
  * Untested in this offline environment by design. */
final class HttpSchemaRegistry(baseUrl: String) extends SchemaRegistryClient {
  private val http = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def register(subject: String, schemaJson: String): Int = {
    val body = mapper.createObjectNode()
    body.put("schema", schemaJson)
    val subj = java.net.URLEncoder.encode(subject, StandardCharsets.UTF_8)
    val req = HttpRequest.newBuilder(URI.create(s"$baseUrl/subjects/$subj/versions"))
      .header("Content-Type", "application/vnd.schemaregistry.v1+json")
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body)))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    require(resp.statusCode() / 100 == 2, s"registry register failed: ${resp.statusCode()} ${resp.body()}")
    val idNode = mapper.readTree(resp.body()).path("id")
    // path() returns a missing node whose asInt() is 0 — a silently
    // wrong schema id stamped on every frame; fail at the cause.
    require(idNode.isInt || idNode.isLong,
      s"registry register response carries no numeric 'id': ${resp.body()}")
    idNode.asInt()
  }

  override def getById(id: Int): String = {
    val req = HttpRequest.newBuilder(URI.create(s"$baseUrl/schemas/ids/$id")).GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    if (resp.statusCode() == 404)
      throw new NoSuchElementException(s"schema id $id not registered: ${resp.body()}")
    require(resp.statusCode() / 100 == 2, s"registry fetch failed: ${resp.statusCode()} ${resp.body()}")
    mapper.readTree(resp.body()).path("schema").asText()
  }
}
