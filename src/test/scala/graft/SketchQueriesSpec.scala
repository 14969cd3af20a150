package graft

import graft.ops.{IndexStore, Sessions}
import org.apache.spark.sql.functions._

/** Query-level contracts of the theta and KLL sketch lanes, which run
  * on Spark's built-in DataSketches functions: the per-day build
  * combines map-side before the shuffle, the stored daily sketch tables
  * load instead of rebuilding, and the retention range's empty edges
  * gate TRUE instead of going null. The sketches' own accuracy is
  * gated per query against exact columns (`sketch_within_bound`,
  * `kll_within_bound`). */
class SketchQueriesSpec extends SparkSpec {

  test("theta daily sketch build plans a PARTIAL aggregate before the exchange") {
    val s = spark
    import s.implicits._
    // at 100 TB each task reduces its slice to one sketch per open day
    // BEFORE the shuffle, so only sketches move — a non-combining shape
    // would shuffle every raw user_id row to its day's reducer, the
    // exact cost the mergeable sketch avoids
    val df = (1 to 2000).map(i => (i % 7, (i % 300).toLong)).toDF("day", "u")
      .groupBy("day").agg(theta_sketch_agg(col("u"), Sessions.ThetaLgNomEntries).as("sk"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_theta_sketch_agg"), p)
    val merged = df.agg(theta_union_agg(col("sk")))
    val pm = merged.queryExecution.executedPlan.toString
    assert(pm.contains("partial_theta_union_agg"), pm)
  }

  test("KLL daily sketch build plans a PARTIAL aggregate before the exchange") {
    val s = spark
    import s.implicits._
    // each task reduces its slice to one sketch per open group BEFORE
    // the shuffle, so only sketches move — a non-combining shape would
    // shuffle every raw value to its group's reducer
    val df = (1 to 2000).map(i => (s"t${i % 3}", i % 7, i.toDouble))
      .toDF("event_type", "day", "v")
      .groupBy("event_type", "day").agg(kll_sketch_agg_double(col("v"), Sessions.KllK).as("sk"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_kll_sketch_agg_double"), p)
    // and the blob-merge leg combines map-side too
    val merged = df.groupBy("event_type").agg(kll_merge_agg_double(col("sk")))
    val pm = merged.queryExecution.executedPlan.toString
    assert(pm.contains("partial_kll_merge_agg_double"), pm)
  }

  /** Cold call writes exactly one artifact; the warm call loads it and
    * answers identically. `gateCol` is the query's gate column. */
  private def assertLoadsNotRebuilds(prefix: String, gateCol: Int)(
      run: => Array[org.apache.spark.sql.Row]): Unit = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    spark.conf.set(IndexStore.RootConf, root)
    try {
      val b0 = IndexStore.builds.get()
      val r1 = run
      assert(r1.nonEmpty && r1.forall(_.getBoolean(gateCol)), "gate failed")
      assert(IndexStore.builds.get() == b0 + 1,
        "cold call must write exactly one sketch-table artifact")
      val r2 = run
      assert(IndexStore.builds.get() == b0 + 1,
        "warm call rebuilt the sketch table instead of loading it")
      assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq,
        "warm load diverged from the cold build")
    } finally spark.conf.unset(IndexStore.RootConf)
  }

  test("events_retention_range sketch table persists: warm call loads, not rebuilds") {
    assertLoadsNotRebuilds("graft-theta-store", gateCol = 3) {
      Sessions.eventsRetentionRange(spark, sf).collect()
    }
  }

  test("events_kll_range sketch table persists: second call loads, not rebuilds") {
    assertLoadsNotRebuilds("graft-kll-store", gateCol = 4) {
      Sessions.eventsKllRange(spark, sf).collect()
    }
  }

  test("retention range edges: missing day and zero overlap gate TRUE, not null") {
    val s = spark
    import s.implicits._
    def write(rows: Seq[(Long, String, Long)], prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toString
      rows.map { case (id, ts, u) =>
        (id, java.sql.Timestamp.valueOf(ts), u, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    // (a) the log spans 3 days, so day_lo+7 has no sketch row: the true
    // intersection is 0 and the gate must say so, not go null (the
    // oracle hard-codes TRUE — a null here is a silent verify mismatch)
    val short = write(Seq((1L, "2024-01-01 10:00:00", 7L),
      (2L, "2024-01-03 10:00:00", 8L)), "graft-rr-short")
    val a = Sessions.eventsRetentionRange(spark, short).collect()
    assert(a.length == 1, "must emit exactly one row")
    assert(a.head.getLong(2) == 0L && !a.head.isNullAt(3) && a.head.getBoolean(3),
      s"missing-day edge: ${a.head}")
    // (b) both days exist with disjoint users: retained = 0 is
    // representable here (global agg) — the gate demands an exactly-zero
    // estimate instead of dividing by zero
    val disjoint = write(Seq((1L, "2024-01-01 10:00:00", 7L),
      (2L, "2024-01-08 10:00:00", 8L)), "graft-rr-disj")
    val b = Sessions.eventsRetentionRange(spark, disjoint).collect()
    assert(b.length == 1, "must emit exactly one row")
    assert(b.head.getLong(2) == 0L && !b.head.isNullAt(3) && b.head.getBoolean(3),
      s"zero-overlap edge: ${b.head}")
  }
}
