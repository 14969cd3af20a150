package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.ops.{Dedup, IndexStore, Similarity}

/** r18 durable index artifacts: the IVF seeds/centroids, PQ codebook,
  * exact-top-k ground truth and verified pair graph are written as
  * content-fingerprinted parquet and LOADED — not rebuilt — by any
  * later process over the same snapshot. The fresh-process simulation
  * here is the round's done-criterion: clear every in-memory memo,
  * re-run the operators, and assert (a) zero new builds, (b) loads
  * observed, (c) results identical value-for-value. */
class IndexStoreSpec extends SparkSpec {

  private def withRoot[T](root: String)(body: => T): T = {
    val prev = spark.conf.get(IndexStore.RootConf, IndexStore.DefaultRoot)
    spark.conf.set(IndexStore.RootConf, root)
    try body
    finally spark.conf.set(IndexStore.RootConf, prev)
  }

  private def freshProcess(): Unit = {
    Similarity.clearProcessCaches()
    Dedup.clearPairGraphCache()
  }

  private def graphRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  test("fresh process loads artifacts instead of rebuilding, identical results") {
    val root = Files.createTempDirectory("graft-index-spec").toString
    withRoot(root) {
      freshProcess()
      val b0 = IndexStore.builds.get()
      // Cold pass: pays construction, writes the artifacts.
      val cluster1 = Similarity.embeddingCluster(spark, sf).collect().toSeq
      val pq1 = Similarity.embeddingPq(spark, sf).collect().toSeq
      val ann1 = Similarity.AnnIvf.run(spark, sf).collect().toSeq
      val graph1 = graphRows(Dedup.pairGraph(spark, sf))
      val sq1 = Similarity.embeddingSq(spark, sf).collect().toSeq
      val bq1 = Similarity.embeddingBq(spark, sf).collect().toSeq
      val coldBuilds = IndexStore.builds.get() - b0
      assert(coldBuilds >= 6, // seeds, centroids, codebook, pair graph, sq stats, bq medians
        s"cold pass must build the artifacts (built $coldBuilds)")

      // Simulated fresh process: memos gone, written artifacts remain.
      freshProcess()
      val b1 = IndexStore.builds.get()
      val l1 = IndexStore.loads.get()
      val cluster2 = Similarity.embeddingCluster(spark, sf).collect().toSeq
      val pq2 = Similarity.embeddingPq(spark, sf).collect().toSeq
      val ann2 = Similarity.AnnIvf.run(spark, sf).collect().toSeq
      val graph2 = graphRows(Dedup.pairGraph(spark, sf))
      val sq2 = Similarity.embeddingSq(spark, sf).collect().toSeq
      val bq2 = Similarity.embeddingBq(spark, sf).collect().toSeq
      assert(IndexStore.builds.get() == b1,
        "a fresh process over an indexed snapshot must LOAD, never rebuild")
      assert(IndexStore.loads.get() > l1, "warm pass must read written artifacts")
      assert(cluster2 == cluster1, "loaded centroids drifted from built ones")
      assert(pq2 == pq1, "loaded PQ codebook produced different codes")
      assert(ann2 == ann1, "loaded IVF index produced a different ANN result")
      assert(graph2 == graph1, "loaded pair graph drifted from built one")
      assert(sq2 == sq1, "loaded SQ stats produced different codes")
      assert(bq2 == bq1, "loaded BQ medians produced different bits")
    }
    // Leave no memos bound to the spec's temp root for later suites.
    freshProcess()
  }

  test("persistence off: the raw construction path still runs") {
    withRoot("off") {
      freshProcess()
      val b0 = IndexStore.builds.get()
      val l0 = IndexStore.loads.get()
      val c = Similarity.embeddingCluster(spark, sf).limit(5).collect()
      assert(c.nonEmpty)
      assert(IndexStore.builds.get() == b0 && IndexStore.loads.get() == l0,
        "root=off must bypass the store entirely")
    }
    freshProcess()
  }

  test("a half-written artifact (no _SUCCESS) is rebuilt, not trusted") {
    // Simulates a writer that died after creating the destination dir
    // but before the rename commit: debris without _SUCCESS must be
    // cleared and rebuilt — a reader must never consume it.
    val root = Files.createTempDirectory("graft-index-crash").toString
    withRoot(root) {
      val fp = IndexStore.fingerprint(spark, sf, "embeddings")
      val dest = Paths.get(root, fp, "crash_test.parquet")
      Files.createDirectories(dest)
      Files.writeString(dest.resolve("part-00000.parquet"), "debris")
      assert(IndexStore.tryLoad(spark, sf, "embeddings", "crash_test").isEmpty,
        "uncommitted debris must not load")
      val b0 = IndexStore.builds.get()
      val df = IndexStore.loadOrBuild(spark, sf, "embeddings", "crash_test") {
        import org.apache.spark.sql.functions.lit
        spark.range(3).withColumn("v", lit("ok"))
      }
      assert(IndexStore.builds.get() == b0 + 1)
      assert(df.count() == 3, "rebuilt artifact must read cleanly")
      assert(Files.exists(dest.resolve("_SUCCESS")), "rebuild must commit")
    }
  }

  test("rename-race debris nested under a committed artifact is swept, not counted") {
    // Simulates the TOCTOU loser's footprint: a racer committed dest,
    // then OUR rename of tmp into the existing dest nested the copy as
    // a hidden child. The next write must sweep it, and a nested (or
    // raced) write must never increment the builds counter.
    val root = Files.createTempDirectory("graft-index-race").toString
    withRoot(root) {
      import org.apache.spark.sql.functions.lit
      def build = spark.range(3).withColumn("v", lit("ok"))
      IndexStore.loadOrBuild(spark, sf, "embeddings", "race_test")(build)
      val fp = IndexStore.fingerprint(spark, sf, "embeddings")
      val dest = Paths.get(root, fp, "race_test.parquet")
      assert(Files.exists(dest.resolve("_SUCCESS")))
      // plant the loser's leaked copy
      val nested = dest.resolve(".race_test_tmp_deadbeef")
      Files.createDirectories(nested)
      Files.writeString(nested.resolve("part-00000.parquet"), "leaked")
      Files.writeString(nested.resolve("_SUCCESS"), "")
      val b0 = IndexStore.builds.get()
      // a subsequent write takes the already-committed path: tmp is
      // dropped, the leaked debris is swept, builds does NOT move
      IndexStore.write(spark, sf, "embeddings", "race_test", build)
      assert(IndexStore.builds.get() == b0,
        "a write that lost to a committed artifact must not count as a build")
      assert(!Files.exists(nested), "nested race debris must be swept")
      assert(Files.exists(dest.resolve("_SUCCESS")), "committed artifact untouched")
      val back = IndexStore.tryLoad(spark, sf, "embeddings", "race_test")
      assert(back.isDefined && back.get.count() == 3)
    }
    freshProcess()
  }

  test("fingerprint is content-keyed: a regenerated snapshot invalidates") {
    val tmp = Files.createTempDirectory("graft-fp-spec")
    val src = Paths.get(s"$sf/embeddings.parquet")
    val dst = tmp.resolve("embeddings.parquet")
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    val fp1 = IndexStore.fingerprint(spark, tmp.toString, "embeddings")
    // Regenerate: same path, different modification time.
    IndexStore.clearFingerprints()
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(dst).toMillis + 60000))
    val fp2 = IndexStore.fingerprint(spark, tmp.toString, "embeddings")
    assert(fp1 != fp2, "a touched snapshot must map to a new artifact directory")
    IndexStore.clearFingerprints()
  }

  test("prune retires aged superseded generations, never live or fresh ones") {
    val root = Files.createTempDirectory("graft-prune-spec").toString
    withRoot(root) {
      IndexStore.clearFingerprints()
      // A live generation: build one artifact for the real snapshot
      // (its fingerprint enters the process's live set).
      IndexStore.loadOrBuild(spark, sf, "embeddings", "prune_live") {
        import org.apache.spark.sql.functions.lit
        spark.range(2).withColumn("v", lit("live"))
      }
      val liveFp = IndexStore.fingerprint(spark, sf, "embeddings")
      // A superseded generation: a fingerprint dir no (dir, table)
      // resolves to anymore, aged past the horizon...
      val stale = Paths.get(root, "deadbeef" * 5)
      Files.createDirectories(stale)
      Files.writeString(stale.resolve("old.parquet"), "x")
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10 * 86400 * 1000L)
      Files.setLastModifiedTime(stale.resolve("old.parquet"), old)
      Files.setLastModifiedTime(stale, old)
      // ...and a RECENT superseded one that must survive (a writer may
      // be mid-flight or a reader mid-plan on another process).
      val fresh = Paths.get(root, "cafebabe" * 5)
      Files.createDirectories(fresh)
      Files.writeString(fresh.resolve("new.parquet"), "x")

      val retired = IndexStore.prune(spark, maxAgeMs = 86400 * 1000L)
      assert(retired == Seq("deadbeef" * 5), s"retired: $retired")
      assert(!Files.exists(stale), "aged superseded generation must be deleted")
      assert(Files.exists(fresh), "recent generation must survive the age gate")
      assert(Files.exists(Paths.get(root, liveFp)), "live generation must survive")
      // Idempotent: nothing left past the horizon.
      assert(IndexStore.prune(spark, maxAgeMs = 86400 * 1000L).isEmpty)
    }
  }
}
