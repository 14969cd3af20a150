package perfbench

import java.io.File

import graft.schema.FixedSchema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.DataFrame

/** Output of one check: source rows not delivered as an equal record,
  * delivered records equal to no source row, and anything else that
  * made the output unreadable or ill-formed. */
final case class Verdict(delivered: Long, missing: Long, extra: Long, errors: Seq[String]) {
  def ok: Boolean = missing == 0 && extra == 0 && errors.isEmpty
  /** Data lines not delivered as a correct record. */
  def failedLines: Long = math.max(missing, extra)
}

object Check {

  /** Reads every `part-*.avro` of an OCF directory with Avro's stock
    * `DataFileReader` (not the program's reader) and compares the row
    * hashes with the generator's. */
  def ocf(dir: File, schema: FixedSchema, expected: Array[Long]): Verdict = {
    val kinds = Digest.kinds(schema)
    val hasher = new Digest.RowHasher
    val got = Array.newBuilder[Long]
    val errors = Seq.newBuilder[String]
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".avro")).sortBy(_.getName)
    if (files.isEmpty) errors += s"no OCF part files in $dir"
    files.foreach { f =>
      try {
        val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
        try {
          var rec: GenericRecord = null
          while (r.hasNext) { rec = r.next(rec); got += Digest.ofAvro(rec, kinds, hasher) }
        } finally r.close()
      } catch { case e: Exception => errors += s"${f.getName}: $e" }
    }
    verdict(expected, got.result(), errors.result())
  }

  /** Typed rows (the decoded Kafka frame) against the generator's
    * row hashes. */
  def rows(df: DataFrame, schema: FixedSchema, expected: Array[Long]): Verdict = {
    val kinds = Digest.kinds(schema)
    val got = df.queryExecution.toRdd.mapPartitions { it =>
      val h = new Digest.RowHasher
      it.map(r => Digest.ofInternalRow(r, schema, kinds, h))
    }.collect()
    verdict(expected, got, Nil)
  }

  /** Confluent value frames of a staged Kafka frame: (messages, frames
    * without magic byte 0 and schema id `valueId`, value bytes). */
  def frames(staged: DataFrame, valueId: Int): (Long, Long, Long) = {
    val per = staged.select("value").queryExecution.toRdd.mapPartitions { it =>
      var n, bad, bytes = 0L
      it.foreach { r =>
        n += 1
        val b = if (r.isNullAt(0)) null else r.getBinary(0)
        if (b == null || b.length < 5 || b(0) != 0 ||
            java.nio.ByteBuffer.wrap(b, 1, 4).getInt != valueId) bad += 1
        if (b != null) bytes += b.length
      }
      Iterator((n, bad, bytes))
    }.collect()
    (per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum)
  }

  private def verdict(expected: Array[Long], got: Array[Long], errors: Seq[String]): Verdict = {
    java.util.Arrays.sort(got)
    val (missing, extra) = Digest.unmatched(expected, got)
    Verdict(got.length, missing, extra, errors)
  }
}
