package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Cli
import graft.registry.InMemorySchemaRegistry
import graft.schema.FixedSchema
import graft.sinks.KafkaStage
import graft.sources.KafkaConsume
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: input generation is deterministic, the
  * output checkers reject broken outputs, and BENCHMARK.json agrees
  * with the metric map in design.json. Run with `sbt test` in this
  * directory (or `python3 perfbench/run.py --selftest`). */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val base = new File(".").getCanonicalFile // the benchmark directory
  private val scratch = new File(base, "target/spec")
  private lazy val spark: SparkSession = Harness.session(2, scratch)
  private val mapper = new ObjectMapper()

  override def beforeAll(): Unit = { Gen.deleteRecursively(scratch); scratch.mkdirs() }
  override def afterAll(): Unit = spark.stop()

  private def dir(name: String): File = new File(scratch, name)

  private def corpus(seed: Long, name: String): File = {
    val d = dir(name)
    Gen.render(seed, 256 << 10, d)
    d
  }

  private def files(d: File): Seq[File] =
    Files.walk(d.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq.sortBy(_.getPath)

  private def sameBytes(a: File, b: File): Boolean = {
    val fa = files(a); val fb = files(b)
    fa.map(f => a.toPath.relativize(f.toPath).toString) == fb.map(f => b.toPath.relativize(f.toPath).toString) &&
      fa.zip(fb).forall { case (x, y) => java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath)) }
  }

  private def manifest(d: File) = mapper.readTree(new File(d, "manifest.json"))

  test("the corpus generator gives byte-identical files for one seed, different ones for another") {
    val a = corpus(7, "weblog-a"); val b = corpus(7, "weblog-b"); val c = corpus(8, "weblog-c")
    assert(sameBytes(a, b))
    assert(!sameBytes(a, c))
    assert(manifest(a).path("footer_lines").asInt == Gen.PartFiles)
    assert(manifest(a).path("data_lines").asLong > 0)
  }

  test("the toolkit table generator gives byte-identical files for one seed") {
    def gen(seed: Int, name: String): File = {
      val out = dir(name)
      val p = new ProcessBuilder("python3", new File(base, "gen_tables.py").getPath, seed.toString, out.getPath)
        .inheritIO().start()
      assert(p.waitFor() == 0)
      out
    }
    assert(sameBytes(gen(7, "tables-a"), gen(7, "tables-b")))
    assert(!sameBytes(gen(7, "tables-a"), gen(8, "tables-c")))
  }

  private def ocf(corpusDir: File, out: File): Verdict = {
    val schemaFile = new File(corpusDir, "schema.json").getPath
    Gen.deleteRecursively(out)
    Cli.run(spark, Array(out.getPath, "mem:", schemaFile, "1", "weblog", "2", new File(corpusDir, "data").getPath))
    Check.ocf(out, FixedSchema.fromFile(schemaFile), Gen.readHashes(new File(corpusDir, "rowhashes.bin")))
  }

  test("the OCF check accepts the program's output and rejects one flipped byte") {
    val c = corpus(11, "weblog-flip")
    val out = dir("ocf-flip")
    assert(ocf(c, out).ok)
    val part = out.listFiles().filter(_.getName.endsWith(".avro")).maxBy(_.length)
    val bytes = Files.readAllBytes(part.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x10).toByte
    Files.write(part.toPath, bytes)
    val v = Check.ocf(out, FixedSchema.fromFile(new File(c, "schema.json").getPath),
      Gen.readHashes(new File(c, "rowhashes.bin")))
    assert(!v.ok)
    assert(v.failedLines > 0 || v.errors.nonEmpty)
  }

  test("the OCF check rejects one dropped row") {
    val c = corpus(12, "weblog-drop")
    val part = new File(c, "data/part-00003.txt")
    val lines = new String(Files.readAllBytes(part.toPath), UTF_8).split("\n", -1)
    Files.write(part.toPath, lines.drop(1).mkString("\n").getBytes(UTF_8))
    val v = ocf(c, dir("ocf-drop"))
    assert(!v.ok)
    assert(v.missing == 1 && v.extra == 0)
  }

  test("the frame check rejects a schema id that is not the value subject's") {
    val c = corpus(13, "weblog-frames")
    val schemaFile = new File(c, "schema.json").getPath
    val schema = FixedSchema.fromFile(schemaFile)
    val registry = new InMemorySchemaRegistry
    val (keyId, valueId) = KafkaStage.registerSubjects(registry, "weblog", schema)
    assert(registry.getById(valueId) == schema.avroJson)
    def stage(id: Int) = {
      val (n, stageDir) = Cli.run(spark, Array("http://localhost:9092", "mem:", schemaFile, id.toString,
        "weblog", "2", new File(c, "data").getPath))
      (n, spark.read.parquet(stageDir))
    }
    val (n, good) = stage(valueId)
    assert(n == manifest(c).path("data_lines").asLong)
    assert(Check.frames(good, valueId)._2 == 0)
    val decoded = KafkaConsume.decode(good, registry, schema, Seq(valueId))
    assert(Check.rows(decoded, schema, Gen.readHashes(new File(c, "rowhashes.bin"))).ok)
    val (_, wrong) = stage(keyId)
    val (msgs, bad, _) = Check.frames(wrong, valueId)
    assert(bad == msgs && msgs == n)
  }

  private lazy val benchmark = mapper.readTree(new File(base.getParentFile, "BENCHMARK.json"))
  private lazy val design = mapper.readTree(new File(base, "design.json"))
  private def names(key: String): Seq[String] =
    benchmark.path(key).elements().asScala.map(_.path("name").asText).toSeq

  test("every metric and workload name is well formed and used once") {
    val all = names("end_to_end") ++ names("per_layer") ++ names("workloads")
    all.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
    assert(all.distinct.size == all.size)
    (benchmark.path("end_to_end").elements().asScala ++ benchmark.path("per_layer").elements().asScala)
      .foreach(m => assert(m.path("unit").asText.matches("[A-Za-z0-9_/%.-]{1,16}"), m))
  }

  test("every per-layer metric names the end-to-end metric it should move and its workloads") {
    val endToEnd = names("end_to_end").toSet
    val workloads = names("workloads").toSet
    val entries = design.path("per_layer").fields().asScala.flatMap { e =>
      val expanded =
        if (e.getKey.startsWith("ops.*.")) Harness.Queries.map(q => e.getKey.replace("*", q))
        else Seq(e.getKey)
      expanded.map(_ -> e.getValue)
    }.toMap
    assert(entries.keySet == names("per_layer").toSet)
    entries.foreach { case (name, e) =>
      // "none": the layer is measured, but no bounded metric runs it.
      val moves = e.path("moves").asText
      assert(endToEnd.contains(moves) || (moves == "none" && e.path("note").asText.nonEmpty), name)
      val ws = e.path("workloads").elements().asScala.map(_.asText).toSeq
      assert(ws.nonEmpty && ws.forall(workloads.contains), name)
      assert(e.path("measured").asText.nonEmpty, name)
    }
    workloads.foreach { w =>
      val d = design.path("workloads").path(w)
      Seq("why", "seed", "inputs", "pass", "check").foreach(k => assert(d.path(k).asText.nonEmpty, s"$w.$k"))
    }
    assert(design.path("end_to_end").fieldNames().asScala.toSet.subsetOf(endToEnd + "failed_frac"))
  }
}
