package graft

import java.nio.file.Files

import graft.ops.Pipeline
import graft.sinks.KafkaStage
import graft.registry.InMemorySchemaRegistry
import graft.sources.{FixedWidth, Ocf}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end CLI dispatch (E4): both sink paths of `graft.Cli.run`
  * driven against real files — outdir → snappy OCF read back equal to
  * the parsed input; http sink + mem: registry → staged Kafka frame
  * byte-equal to `KafkaStage.stage`. */
class CliSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val schemaFile: String = {
    val f = Files.createTempFile("graft-cli-schema", ".json")
    Files.writeString(f, Pipeline.lineitemSchemaJson)
    f.toString
  }

  private lazy val dataDir: String = {
    val dir = tmp("graft-cli-data")
    FixedWidth.write(Pipeline.lineitem(spark, sf), Pipeline.lineitemFixed, dir)
    dir
  }

  private def frameCanon(df: DataFrame): DataFrame =
    df.select(base64(col("key")).as("k"), base64(col("value")).as("v"),
      col("topic"), col("partition"))

  test("outdir sink: CLI writes snappy OCF that reads back to the parsed input") {
    val out = tmp("graft-cli-ocf")
    val (rows, loc) = Cli.run(spark,
      Array(out, "mem:", schemaFile, "42", "lineitem", "2", dataDir))
    assert(loc == out)
    val expected = FixedWidth.read(spark, dataDir, Pipeline.lineitemFixed)
    assert(rows == expected.count())
    val readBack = Ocf.read(spark, out, Pipeline.lineitemFixed)
    assert(readBack.exceptAll(expected).isEmpty && expected.exceptAll(readBack).isEmpty)
  }

  test("outdir sink: the OCF branch runs exactly one Spark job") {
    // The fused line→OCF write is the branch's only job: the row count
    // comes from its accumulator, not from a second scan.
    val sc = spark.sparkContext
    val args = Array(tmp("graft-cli-jobs"), "mem:", schemaFile, "42", "lineitem", "2", dataDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      Cli.run(spark, args)
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1)
  }

  test("http sink + mem: registry: CLI stages the Confluent Kafka frame") {
    val topic = s"cli-spec-${System.nanoTime()}"
    val (rows, stageDir) = Cli.run(spark,
      Array("http://broker:9092", "mem:", schemaFile, "7", topic, "2", dataDir))
    val staged = spark.read.parquet(stageDir)
    assert(staged.count() == rows)
    // byte-equal to staging the same parse directly (fresh mem registry
    // ids are deterministic, so the key schema id matches)
    val registry = new InMemorySchemaRegistry
    val (keyId, _) = KafkaStage.registerSubjects(registry, topic, Pipeline.lineitemFixed)
    val expected = KafkaStage.stage(
      FixedWidth.read(spark, dataDir, Pipeline.lineitemFixed),
      Pipeline.lineitemFixed, schemaId = 7, topic = topic, keySchemaId = keyId)
    assert(frameCanon(staged).exceptAll(frameCanon(expected)).isEmpty &&
      frameCanon(expected).exceptAll(frameCanon(staged)).isEmpty)
  }
}
