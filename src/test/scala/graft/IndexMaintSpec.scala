package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Incremental index maintenance: the frozen-dials delta extend (the
  * FAISS-add shape) and its streaming ingest dual. The invariant that
  * makes both trustworthy: per-row assignment + encoding is
  * deterministic in the dials, so HOW a vector arrives (original
  * snapshot, batch delta, micro-batch) cannot change its index row. */
class IndexMaintSpec extends SparkSpec {

  /** Parity-split fixture: base = even vec_ids (its own snapshot dir,
    * with artifacts built over it), newDir = the full corpus. */
  private lazy val (baseDir, newDir): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft-idx-base-").toString
    val full = java.nio.file.Files.createTempDirectory("graft-idx-new-").toString
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$base/embeddings.parquet")
    all.coalesce(1).write.parquet(s"$full/embeddings.parquet")
    (base, full)
  }

  test("delta extend == re-encoding the full corpus under the frozen dials") {
    val extended = Similarity.ivfPqIndexExtendRows(spark, baseDir, newDir)
    val reencoded = Similarity.ivfPqIndexRowsOver(spark, baseDir,
      spark.read.parquet(s"$newDir/embeddings.parquet"))
    assert(extended.count() == reencoded.count())
    val diff = extended.as("a").join(reencoded.as("b"), "neighbor_id")
      .where(col("a.cell") =!= col("b.cell") ||
        col("a.codes") =!= col("b.codes") || col("a.label") =!= col("b.label"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
    // and the delta really came through the anti-join path: the base
    // artifact holds only even ids, the extension covers the odd ones
    assert(extended.where(col("neighbor_id") % 2 === 1).count() > 0)
  }

  test("frozen-dials serving answers queries with delta neighbors") {
    val queries = spark.read.parquet(s"$newDir/embeddings.parquet")
    val served = Similarity.annServeExtended(spark, baseDir, newDir, queries)
    assert(served.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    assert(served.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == Similarity.K))
    // delta vectors are both queryable and retrievable
    assert(served.where(col("neighbor_id") % 2 === 1).count() > 0)
    assert(served.where(col("query_id") % 2 === 1).count() > 0)
    // second call loads the frozen artifact instead of rebuilding
    val b0 = graft.ops.IndexStore.builds.get()
    Similarity.annServeExtended(spark, baseDir, newDir, queries).collect()
    assert(graft.ops.IndexStore.builds.get() == b0,
      "frozen extended index rebuilt on a warm call")
  }

  test("streaming index ingest == batch index rows (two micro-batches)") {
    import graft.streaming.{EmbedStream, EventStream}
    val landing = java.nio.file.Files.createTempDirectory("graft-idx-ing-").toString
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$landing/b0")
    all.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$landing/b1")
    val stream = EmbedStream.readEmbeddings(spark, s"$landing/*")
    val ingested = EmbedStream.indexIngestStream(stream, sf)
    assert(ingested.isStreaming)
    EventStream.runToMemory(ingested, "idx_ingest")
    val streamed = spark.table("idx_ingest")
    val batch = Similarity.AnnIvfPq.indexRows(spark, sf)
    assert(streamed.count() == batch.count())
    val diff = streamed.as("a").join(batch.as("b"), "neighbor_id")
      .where(col("a.cell") =!= col("b.cell") ||
        col("a.codes") =!= col("b.codes") || col("a.label") =!= col("b.label"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }
}
