package graft

import java.nio.file.{Files, Path, Paths}

import graft.ops.IndexStore
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Per-snapshot state lives in [[IndexStore]] keyed on each table's
  * content: a warm read plans without a schema-inference job, and a
  * table rewritten under a live session serves its new rows to every
  * memoized, staged, persisted and artifact-backed query. */
class SnapshotStateSpec extends SparkSpec {

  private def withRoot[T](root: String)(body: => T): T = {
    val prev = spark.conf.get(IndexStore.RootConf, IndexStore.DefaultRoot)
    spark.conf.set(IndexStore.RootConf, root)
    try body
    finally spark.conf.set(IndexStore.RootConf, prev)
  }

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a warm table read starts no Spark job") {
    IndexStore.table(spark, sf, "orders")
    assert(jobsDuring(IndexStore.table(spark, sf, "orders")) == 0,
      "a second read of unchanged content must not re-infer the schema")
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  test("a table rewritten under a live session serves its new rows") {
    val queries = Seq("q_zorder_scan", "similarity_ann_ivf", "corpus_bpe_train",
      "corpus_clean_staged")
    def runAll(dir: String): Map[String, Seq[Row]] = queries.map { q =>
      q -> SparkEntry.queries(q)(spark, dir).collect().toSeq.sortBy(_.toString)
    }.toMap
    val dir = Files.createTempDirectory("graft-snapshot-spec")
    Files.list(Paths.get(sf)).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    withRoot(Files.createTempDirectory("graft-snapshot-root").toString) {
      val before = runAll(dir.toString)
      // Rewrite three tables in place with a different row subset.
      Seq("events" -> "event_id", "embeddings" -> "vec_id", "documents" -> "doc_id")
        .foreach { case (table, id) =>
          val staging = dir.resolve(s".$table.staging")
          spark.read.parquet(s"$sf/$table.parquet").where(col(id) % 5 =!= 2)
            .write.parquet(staging.toString)
          deleteTree(dir.resolve(s"$table.parquet"))
          Files.move(staging, dir.resolve(s"$table.parquet"))
        }
      val after = runAll(dir.toString)
      // A fresh process over the new files: no memo, no artifact.
      IndexStore.clearMemos()
      val fresh = withRoot(Files.createTempDirectory("graft-snapshot-fresh").toString) {
        runAll(dir.toString)
      }
      val stale = queries.filter(q => after(q) != fresh(q))
      assert(stale.isEmpty, s"served values derived from the old rows: $stale")
      assert(queries.exists(q => after(q) != before(q)),
        "the rewritten tables must change some result, or the spec proves nothing")
    }
    IndexStore.clearMemos()
  }
}
