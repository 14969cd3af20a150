package graft.sources

import java.io.ByteArrayInputStream

import graft.functions.AvroCodec
import graft.schema.FixedSchema
import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Avro Object Container File sink + source (snappy), one file per
  * partition — the Spark re-expression of the reference's
  * `AvroFileExporter` which writes one snappy OCF per chunk named
  * `<dir><chunkNr>` (`fixed2avro/Exporters.go:105-138`). spark-avro is
  * not in this environment, so both paths are built on the Avro Java
  * library directly; partitions replace chunks 1:1.
  *
  * Scale note: writers stream record-by-record through the Hadoop
  * filesystem API (no whole-partition buffering), and the reader
  * parallelizes per file — with file-per-partition output the read
  * parallelism equals the write parallelism.
  */
object Ocf {

  /** The per-partition body every OCF writer shares: open
    * `<dir>/part-<partitionId>.avro` (≡ `<dir><chunkNr>`,
    * `fixed2avro/Exporters.go:112-123`) — or a discarding sink when `dir`
    * is None — run an [[OcfWire.Writer]] over the partition's rows, close.
    * Snappy blocks of 1 MiB (default 64 KB): fewer snappy calls + sync
    * markers per byte; block-level read parallelism is irrelevant
    * because reads parallelize per FILE. */
  private def writeParts(spark: SparkSession, rows: RDD[InternalRow], avroJson: String,
      sparkSchema: StructType, dir: Option[String])(
      append: (OcfWire.Writer, Iterator[InternalRow]) => Unit): Unit = {
    // Session Hadoop conf, broadcast once for the job: keeps
    // fs.defaultFS / object-store credentials working on executors (a
    // bare `new Configuration()` only sees local defaults).
    val hadoopConf = dir.map(_ => graft.GraftSession.broadcastHadoopConf(spark))
    def run(avroSchema: Schema, out: java.io.OutputStream, it: Iterator[InternalRow]): Unit = {
      val w = new OcfWire.Writer(avroSchema, sparkSchema, out, 1 << 20)
      try append(w, it) finally w.close()
    }
    try rows.foreachPartition { it =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      dir match {
        case None => run(avroSchema, java.io.OutputStream.nullOutputStream(), it)
        case Some(d) =>
          val path = new Path(d, f"part-${org.apache.spark.TaskContext.getPartitionId()}%05d.avro")
          // newInstance, NOT the JVM-cached getFileSystem: the checksum
          // toggle below would otherwise mutate the SHARED cached
          // instance, silently disabling client-side CRC for every other
          // writer in this executor (Spark's own outputs included) for
          // the rest of the JVM's life. The uncached instance is closed
          // after the part-file is written.
          val fs = org.apache.hadoop.fs.FileSystem.newInstance(
            path.toUri, hadoopConf.get.value.value)
          try {
            // OCF blocks already carry sync markers and the container is
            // seekable/splittable without Hadoop's client-side CRC — the
            // shadow .crc files cost a second pass over every byte
            // (measured ~25% of the write leg on local disk). Object
            // stores ignore this flag; HDFS deployments that want client
            // CRC can re-enable it.
            fs.setWriteChecksum(false)
            // 1 MiB stream buffer: the default 4 KB forces a syscall per
            // few rows once the writer flushes its blocks.
            run(avroSchema, fs.create(path, true, 1 << 20), it)
          } finally fs.close()
      }
    } finally hadoopConf.foreach(_.destroy())
  }

  /** Write `df` as snappy OCF, one file per partition named
    * `<dir>/part-<partitionId>.avro`.
    *
    * `nullable = true` writes the `["null", T]` optional-union schema
    * ([[graft.schema.FixedSchema.nullableAvroJson]]) so null fields
    * are carried instead of crashing the encode. */
  def write(df: DataFrame, schema: FixedSchema, dir: String,
      nullable: Boolean = false): Unit =
    // queryExecution.toRdd stays on InternalRow — no Tungsten exit, no
    // external-Row boxing per value. Values are copied into the block
    // buffer at append time, so the per-iterator row buffer reuse is safe.
    writeParts(df.sparkSession, df.queryExecution.toRdd,
      if (nullable) schema.nullableAvroJson else schema.avroJson, df.schema, Some(dir)) {
      (w, rows) => rows.foreach(w.append)
    }

  /** The footer-filtered single-column line plan (the filter runs inside
    * the scan's codegen stage; rows are one-string UnsafeRows whose
    * UTF8String is consumed immediately, so no copy is needed). */
  private def keptLines(lines: DataFrame, dropFooter: Boolean): RDD[InternalRow] = {
    import org.apache.spark.sql.functions.col
    val line = col("value")
    (if (dropFooter) lines.filter(!graft.parse.FixedWidthParser.isFooter(line)).select(line)
     else lines.select(line)).queryExecution.toRdd
  }

  /** Fixed-width LINES → snappy OCF, one file per partition, through the
    * fused line→Avro encoder ([[graft.functions.FixedAvro]]): each line
    * encodes STRAIGHT into the container block buffer
    * ([[OcfWire.Writer.appendLine]]) — no typed-row materialization, no
    * per-row `byte[]` anywhere in the pipeline (the first cut, line →
    * byte[] rows → block, measured ~0.7 s/4.4 GB slower on the tmpfs wall
    * leg from exactly that per-row garbage). This is the engine's
    * whole-pipeline hot path for the reference's file→OCF dataflow
    * (`CLI.go:32-49` with the OCF sink); record bytes are pinned
    * byte-identical to the typed path by FixedAvroSpec, and the container
    * read-back is pinned in OcfWireSpec. Returns the rows written. */
  def writeFixed(lines: DataFrame, schema: FixedSchema, dir: String,
      dropFooter: Boolean = true): Long = {
    val enc = new graft.functions.FixedAvro.LineEncoder(schema, -1)
    // Rows-written count via accumulator (one add per PARTITION, not
    // per row — the hot loop stays untouched): callers that need the
    // count (Cli's throughput line) used to re-scan and re-parse the
    // whole input in a second job just to count it.
    val rowsWritten = lines.sparkSession.sparkContext.longAccumulator("ocf_rows_written")
    writeParts(lines.sparkSession, keptLines(lines, dropFooter), schema.avroJson,
        schema.sparkSchema, Some(dir)) { (w, rows) =>
      var n = 0L
      rows.foreach { r => w.appendLine(enc, r.getUTF8String(0)); n += 1 }
      rowsWritten.add(n)
    }
    rowsWritten.value
  }

  /** Bench-only CPU twin of [[writeFixed]]: the same encode + snappy +
    * container framing into a discarding sink, isolating the leg's CPU
    * cost from device throughput. */
  private[graft] def writeCpuFixed(lines: DataFrame, schema: FixedSchema): Unit = {
    val enc = new graft.functions.FixedAvro.LineEncoder(schema, -1)
    writeParts(lines.sparkSession, keptLines(lines, dropFooter = true), schema.avroJson,
        schema.sparkSchema, None) { (w, rows) =>
      rows.foreach(r => w.appendLine(enc, r.getUTF8String(0)))
    }
  }

  /** Read a directory of OCF files into a DataFrame with the strict
    * schema of `schema`. Decoding uses each file's embedded writer
    * schema (implicit evolution, like the consumer read path —
    * `kafkaavro/consumer.go:178-189`) through [[AvroCodec.RowReader]]:
    * direct when the file's writer schema equals the reader's (reading
    * our own output — the steady state), resolving otherwise. */
  def read(spark: SparkSession, dir: String, schema: FixedSchema,
      nullable: Boolean = false): DataFrame = {
    val sparkSchema = schema.sparkSchema
    val readerJson = if (nullable) schema.nullableAvroJson else schema.avroJson
    val rdd = spark.sparkContext
      .binaryFiles(dir + "/*.avro")
      .flatMap { case (_, pds) =>
        val reader = new AvroCodec.RowReader(new Schema.Parser().parse(readerJson), sparkSchema)
        val stream = new DataFileStream[InternalRow](pds.open(), reader)
        // Close unconditionally at task end: a limit/take or task failure
        // leaves the iterator partially consumed, which would otherwise
        // leak the file handle and snappy decompressor.
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => stream.close()))
        new Iterator[InternalRow] {
          def hasNext: Boolean = { val h = stream.hasNext; if (!h) stream.close(); h }
          def next(): InternalRow = stream.next()
        }
      }
    org.apache.spark.sql.graftbridge.ColumnBridge.internalDataFrame(spark, rdd, sparkSchema)
  }

  /** In-memory OCF decode used by tests: bytes of one container file →
    * records as (schema, rows of Avro values). */
  def decodeBytes(bytes: Array[Byte]): (Schema, Seq[GenericRecord]) = {
    val stream = new DataFileStream(new ByteArrayInputStream(bytes),
      new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
      while (stream.hasNext) buf += stream.next()
      (stream.getSchema, buf.toSeq)
    } finally stream.close()
  }
}
