package graft

import graft.ops.{Pipeline, Sessions}
import graft.sources.FixedWidth
import graft.streaming.{DocStream, EventStream, FixedWidthStream}
import org.apache.spark.sql.functions._

/** Streaming ≡ batch on the fixtures: the same operators produce the
  * same results whether the input arrives as a batch or as a replayed
  * file stream, and checkpoint/restart resumes instead of reprocessing. */
class StreamingSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-stream-$name-").toString

  /** File-stream sources need a directory; the fixture is one file —
    * stage it into a temp dir (≡ one file landing in a watched folder). */
  private lazy val eventsDir: String = {
    val d = tmp("events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(d, "events.parquet"))
    d
  }

  test("streaming fixed-width parse ≡ batch parse (availableNow over files)") {
    val in = tmp("in"); val out = tmp("out"); val ck = tmp("ck")
    FixedWidth.write(Pipeline.lineitem(spark, sf), Pipeline.lineitemFixed, in)
    val parsed = FixedWidthStream.parseStream(spark, in, Pipeline.lineitemFixed)
    assert(parsed.isStreaming)
    FixedWidthStream.runToParquet(parsed, out, ck)
    val streamed = spark.read.parquet(out)
    val batch = Pipeline.lineitem(spark, sf)
    assert(streamed.count() == batch.count())
    val sumStream = streamed.agg(sum("l_orderkey"), sum("l_linenumber")).head()
    val sumBatch = batch.agg(sum("l_orderkey"), sum("l_linenumber")).head()
    assert(sumStream == sumBatch)
  }

  test("streaming restart from checkpoint does not reprocess (exactly-once files)") {
    val in = tmp("in2"); val out = tmp("out2"); val ck = tmp("ck2")
    FixedWidth.write(Pipeline.lineitem(spark, sf), Pipeline.lineitemFixed, in)
    val parsed = FixedWidthStream.parseStream(spark, in, Pipeline.lineitemFixed)
    FixedWidthStream.runToParquet(parsed, out, ck)
    val n1 = spark.read.parquet(out).count()
    // second run, same checkpoint, no new files → nothing appended
    FixedWidthStream.runToParquet(
      FixedWidthStream.parseStream(spark, in, Pipeline.lineitemFixed), out, ck)
    val n2 = spark.read.parquet(out).count()
    assert(n1 == n2, s"restart reprocessed: $n1 -> $n2")
  }

  test("streaming framed Avro values decode back (producer leg)") {
    val in = tmp("in3"); val out = tmp("out3"); val ck = tmp("ck3")
    FixedWidth.write(Pipeline.lineitem(spark, sf), Pipeline.lineitemFixed, in)
    val framed = FixedWidthStream.frameStream(
      FixedWidthStream.parseStream(spark, in, Pipeline.lineitemFixed),
      Pipeline.lineitemFixed, schemaId = 7)
    FixedWidthStream.runToParquet(framed, out, ck)
    val vals = spark.read.parquet(out)
    val decoded = vals.select(graft.functions.AvroCodec.from_avro_framed(col("value"),
        Map(7 -> Pipeline.lineitemFixed.avroJson), Pipeline.lineitemFixed.avroJson,
        Pipeline.lineitemFixed.sparkSchema).as("r"))
      .filter(col("r").isNotNull).select(col("r.*"))
    assert(decoded.count() == Pipeline.lineitem(spark, sf).count())
    assert(decoded.agg(sum("l_orderkey")).head() ==
      Pipeline.lineitem(spark, sf).agg(sum("l_orderkey")).head())
  }

  test("streaming fused line→Avro ≡ batch fused toAvro (same wire bytes)") {
    val in = tmp("in4"); val out = tmp("out4"); val ck = tmp("ck4")
    FixedWidth.write(Pipeline.lineitem(spark, sf), Pipeline.lineitemFixed, in)
    val fused = FixedWidthStream.toAvroStream(spark, in, Pipeline.lineitemFixed, 7)
    assert(fused.isStreaming)
    FixedWidthStream.runToParquet(fused, out, ck)
    val streamed = spark.read.parquet(out).select(md5(col("value")).as("h"))
    val batch = graft.parse.FixedWidthParser.toAvro(
      spark.read.text(in), Pipeline.lineitemFixed, 7).select(md5(col("value")).as("h"))
    // same multiset of record byte-strings, order-free
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("streaming strict toAvro drops malformed lines; per-batch drop counts") {
    val in = tmp("in5"); val out = tmp("out5"); val ck = tmp("ck5")
    FixedWidth.write(Pipeline.lineitem(spark, sf), Pipeline.lineitemFixed, in)
    // a corrupt file lands in the watched dir alongside the good ones
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "corrupt-000.txt"),
      "short\nlines\nxx\n".getBytes("UTF-8"))
    val fused = FixedWidthStream.toAvroStream(spark, in, Pipeline.lineitemFixed, 7,
      strict = true)
    val q = FixedWidthStream.runToParquet(fused, out, ck)
    assert(spark.read.parquet(out).count() == Pipeline.lineitem(spark, sf).count(),
      "exactly the well-formed lines must be exported")
    // the batch observation contract carries over: drop counts surface
    // on each micro-batch's progress, so a 100 TB streaming export
    // reports its skips the same way the batch export does
    val dropped = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get(graft.parse.FixedWidthParser.ToAvroObservation)))
      .map(_.getAs[Long]("dropped_lines")).sum
    assert(dropped == 3L, s"progress must report the 3 corrupt lines, got $dropped")
  }

  test("streaming exact dedup drops re-crawled texts across micro-batches") {
    val in = tmp("docs"); val out = tmp("docsout"); val ck = tmp("docsck")
    // a production ingest starts WATCHING before the first crawl batch
    // lands — construction on an empty dir must not throw (static
    // schema, no inference)
    assert(DocStream.readDocuments(spark, in).isStreaming)
    // batch 1: the fixture corpus (500 docs, all distinct texts)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(in, "batch1.parquet"))
    def drain(): Unit = EventStream.runAppendToParquet(
      DocStream.dedupExactStream(DocStream.readDocuments(spark, in)), out, ck)
    drain()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 500, s"first batch must emit every distinct doc, got $n1")
    // batch 2 lands in the watched dir: 100 re-crawls (same text, new
    // doc_id) + 5 genuinely new docs. The checkpointed hash state must
    // drop every re-crawl and pass every new doc — the whole point of
    // deduping at ingest instead of re-scanning the corpus per batch.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val recrawled = docs.limit(100).withColumn("doc_id", col("doc_id") + 10000L)
    val fresh = docs.limit(5).withColumn("doc_id", col("doc_id") + 20000L)
      .withColumn("text", concat(col("text"), lit(" [fresh crawl]")))
    recrawled.union(fresh).coalesce(1).write.mode("append").parquet(in)
    drain() // same checkpoint: resumes, processes only the new file
    val after = spark.read.parquet(out)
    assert(after.count() == 505, s"expected 500 + 5 new, got ${after.count()}")
    assert(after.filter(col("doc_id") >= 10000L && col("doc_id") < 20000L).count() == 0,
      "a re-crawled duplicate leaked through the dedup state")
    assert(after.filter(col("doc_id") >= 20000L).count() == 5)
  }

  test("streaming domain cap admits first K per source across micro-batches") {
    val in = tmp("capdocs"); val out = tmp("capout"); val ck = tmp("capck")
    val k = 10
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // batch 1: first 300 docs; batch 2: the rest — sources straddle both
    docs.where(col("doc_id") < 300).coalesce(1).write.mode("append").parquet(in)
    def drain(): Unit = EventStream.runAppendToParquet(
      DocStream.domainCapStream(DocStream.readDocuments(spark, in), k), out, ck)
    drain()
    docs.where(col("doc_id") >= 300).coalesce(1).write.mode("append").parquet(in)
    drain()
    val got = spark.read.parquet(out).collect()
    // arrival order here IS doc_id order (batch split at 300, sorted
    // within batch) — so the admitted set must be the K smallest
    // doc_ids per source, each with its 1-based admission rank.
    val expected = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        rows.map(_._1).sorted.take(k).zipWithIndex.map {
          case (id, i) => (src, id, i + 1L) }.toSeq
      }.toSet
    val gotSet = got.map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("admit_rank"))).toSet
    assert(gotSet == expected,
      s"diff: extra=${gotSet -- expected} missing=${expected -- gotSet}")
  }

  test("bounded-state streaming dedup drops twins inside the re-crawl horizon") {
    // The 100 TB form: state is held only within the watermark horizon
    // of the arrival time, so it dedups against the re-crawl window
    // instead of growing with every distinct text ever seen. Fixture:
    // 500 distinct docs + 50 re-crawls of the first 50 arriving 10
    // minutes later — inside a 2-hour horizon, all 50 must drop.
    val in = tmp("bdocs"); val out = tmp("bdocsout"); val ck = tmp("bdocsck")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    val batch1 = docs.withColumn("arrived_at", t0)
    batch1.coalesce(1).write.mode("overwrite").parquet(in)
    def drain(): Unit = EventStream.runAppendToParquet(
      DocStream.dedupExactStreamBounded(
        spark.readStream.schema(spark.read.parquet(in).schema).parquet(in),
        "arrived_at", "2 hours"), out, ck)
    drain()
    assert(spark.read.parquet(out).count() == 500)
    // re-crawls land 10 min later, a separate micro-batch: well inside
    // the 2-hour horizon, the checkpointed state must drop all 50.
    // (WITHIN one batch the keeper of a twin pair is arbitrary —
    // dropDuplicates semantics, same caveat as the unbounded form —
    // so the pinned guarantee is the cross-batch one.)
    docs.limit(50)
      .withColumn("doc_id", col("doc_id") + 10000L)
      .withColumn("arrived_at", t0 + expr("INTERVAL 10 MINUTES"))
      .coalesce(1).write.mode("append").parquet(in)
    drain()
    val got = spark.read.parquet(out)
    assert(got.count() == 500, s"expected the 500 distinct texts, got ${got.count()}")
    assert(got.filter(col("doc_id") >= 10000L).count() == 0,
      "an in-horizon re-crawl leaked through the bounded dedup state")
  }

  test("streaming near-dup ingest rejects re-crawled near-duplicates across a restart") {
    implicit val s = spark
    import s.implicits._
    val in = tmp("nd-in"); val store = tmp("nd-store")
    val out = tmp("nd-out"); val ck = tmp("nd-ck")
    def doc(id: Long, text: String) = (id, text, "en", "crawl", text.length.toLong)
    def distinctText(i: Int) = (0 until 30).map(k => s"w${i}_$k").mkString(" ")
    // batch 1: 20 pairwise-distinct docs (disjoint token sets, j = 0)
    (1 to 20).map(i => doc(i.toLong, distinctText(i)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(in)
    val q1 = DocStream.nearDupIngest(spark, in, store, out, ck)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 20,
      "every distinct doc of the first crawl must survive")
    // batch 2 lands AFTER a full stop: 5 near-dup re-crawls of docs 1-5
    // (same 30 tokens + 2 appended ⇒ jaccard ≈ 28/30), 2 fresh docs,
    // and a batch-INTERNAL near-dup pair (120 keeper, 121 rejected)
    val recrawls = (1 to 5).map(i => doc(100L + i, distinctText(i) + " tail extra"))
    val fresh = Seq(doc(111L, distinctText(111)), doc(112L, distinctText(112)))
    val twinText = distinctText(999)
    val twins = Seq(doc(120L, twinText), doc(121L, twinText + " near twin"))
    (recrawls ++ fresh ++ twins)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(in)
    // restart from the checkpoint: the signature STORE (not stream
    // state) must carry batch 1's corpus across the restart
    val q2 = DocStream.nearDupIngest(spark, in, store, out, ck)
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
    val ids = got.select("doc_id").as[Long].collect().toSet
    assert((101L to 105L).forall(!ids.contains(_)),
      s"a near-dup re-crawl survived: ${ids.filter(_ >= 101L).toSeq.sorted}")
    assert(ids.contains(111L) && ids.contains(112L), "a fresh doc was rejected")
    assert(ids.contains(120L) && !ids.contains(121L),
      "batch-internal near-dup pair must keep the smaller doc_id only")
    assert(got.count() == 23, s"expected 20 + 2 fresh + 1 twin keeper, got ${got.count()}")
    // bounded state: pruning the horizon drops old batch partitions
    assert(DocStream.pruneSignatureStore(spark, store, keepFromBatch = 1L) == 1)
    assert(!new java.io.File(s"$store/batch_id=0").exists())
  }

  test("watermarked windowed counts ≡ batch events_window counts") {
    val out = tmp("out4"); val ck = tmp("ck4")
    val stream = EventStream.readEvents(spark, eventsDir)
    assert(stream.isStreaming)
    EventStream.runAppendToParquet(EventStream.windowedCounts(stream), out, ck)
    val streamed = spark.read.parquet(out)
      .select("window_start", "event_type", "n_events")
    val batch = Sessions.eventsWindow(spark, sf)
      .select("window_start", "event_type", "n_events")
    // Append mode only emits windows the watermark has CLOSED: the last
    // <= 3 hourly windows (2h watermark + the open hour) stay pending at
    // end-of-stream — correct streaming semantics, not data loss. Every
    // closed window must match the batch result exactly.
    val maxTs = graft.ops.Sessions.events(spark, sf)
      .agg(max("ts")).head().getAs[java.time.LocalDateTime](0)
    val closedBefore = java.sql.Timestamp.valueOf(maxTs.minusHours(3))
    val batchClosed = batch.filter(col("window_start") < lit(closedBefore))
    assert(streamed.exceptAll(batch).isEmpty, "stream emitted a window batch doesn't have")
    assert(batchClosed.exceptAll(streamed).isEmpty, "stream missed a closed window")
    assert(streamed.count() >= batchClosed.count())
  }

  test("stream-stream attribution join ≡ batch events_attribution") {
    val out = tmp("out-attr"); val ck = tmp("ck-attr")
    // two sides from one landed stream by type filter (production:
    // two topics) — both watermarked inside attributionStream
    val stream = EventStream.readEvents(spark, eventsDir)
    val joined = EventStream.attributionStream(
      stream.filter(col("event_type") === "view"),
      stream.filter(col("event_type") === "click"))
    assert(joined.isStreaming)
    EventStream.runAppendToParquet(joined, out, ck)
    val streamed = joined.sparkSession.read.parquet(out)
      .select("user_id", "view_id", "click_id", "view_ts", "click_ts")
    val batch = Sessions.eventsAttribution(spark, sf)
      .select("user_id", "view_id", "click_id", "view_ts", "click_ts")
    // inner stream-stream join emits on match (the watermark gates
    // state EVICTION, not emission), so replaying the whole fixture
    // must reproduce the batch pair set exactly
    assert(streamed.exceptAll(batch).isEmpty, "stream emitted a pair batch doesn't have")
    assert(batch.exceptAll(streamed).isEmpty, "stream missed a pair")
    assert(streamed.count() == batch.count())
  }

  test("native session_window sessionize ≡ lag-gap formulation") {
    val lagGap = graft.ops.Sessions.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    val native = graft.ops.Sessions.sessionizeNative(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    assert(native.exceptAll(lagGap).isEmpty && lagGap.exceptAll(native).isEmpty)
  }

  test("streaming as-of enrichment ≡ batch events_asof") {
    val out = tmp("out5"); val ck = tmp("ck5")
    val cp = graft.ops.Sessions.events(spark, sf)
      .where(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts").as("asof_ts"))
      .agg(max(col("value")).as("asof_value"))
    val stream = EventStream.readEvents(spark, eventsDir)
      .select("event_id", "user_id", "ts", "value")
    val enriched = EventStream.asofEnrich(stream, cp)
    assert(enriched.isStreaming)
    EventStream.runAppendToParquet(enriched, out, ck)
    val streamed = spark.read.parquet(out)
      .select("event_id", "user_id", "ts", "value", "asof_ts", "asof_value")
    val batch = graft.ops.AsOf.eventsAsof(spark, sf)
      .select("event_id", "user_id", "ts", "value", "asof_ts", "asof_value")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream-static interval join diverged from the batch union-window as-of")
  }

  test("streaming anomaly filter ≡ batch events_anomaly") {
    val out = tmp("out6"); val ck = tmp("ck6")
    val stats = graft.ops.Sessions.anomalyStats(
      graft.ops.Sessions.events(spark, sf)
        .select(col("event_id"), col("event_type"), col("value")))
    val stream = EventStream.readEvents(spark, eventsDir)
      .select("event_id", "event_type", "value")
    val flagged = EventStream.anomalyFilter(stream, stats)
    assert(flagged.isStreaming)
    EventStream.runAppendToParquet(flagged, out, ck)
    val streamed = spark.read.parquet(out)
      .select("event_id", "event_type", "value", "z")
    val batch = graft.ops.Sessions.eventsAnomaly(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream-static anomaly filter diverged from the batch operator")
  }

  test("streaming funnel ≡ batch events_funnel on the replayed fixture") {
    implicit val s = spark
    import s.implicits._
    val stream = EventStream.readEvents(spark, eventsDir)
    EventStream.runToMemory(
      EventStream.funnelStream(stream).toDF(), "funnel_mem")
    // Update mode emits one row per user per micro-batch; the final
    // state is the row with that user's max n_events (monotone).
    val streamed = spark.table("funnel_mem").collect()
      .groupBy(_.getLong(0)).map { case (_, rows) =>
        val r = rows.maxBy(_.getLong(1))
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getInt(5))
      }.toSet
    val batch = Sessions.eventsFunnel(spark, sf)
      .select(col("user_id"), col("n_events"),
        unix_micros(col("view_ts").cast("timestamp")).as("v"),
        unix_micros(col("click_ts").cast("timestamp")).as("c"),
        unix_micros(col("purchase_ts").cast("timestamp")).as("p"),
        col("stage"))
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getInt(5))
      }.toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("streaming last-touch attribution ≡ batch on the replayed fixture") {
    implicit val s = spark
    import s.implicits._
    val stream = EventStream.readEvents(spark, eventsDir)
    EventStream.runToMemory(
      EventStream.lastTouchStream(stream).toDF(), "lasttouch_mem")
    // one row per click: prefer finalized emissions, then max n_seen
    // (monotone per user; equal-n_seen emissions fold the same set)
    val streamed = spark.table("lasttouch_mem").collect()
      .groupBy(_.getLong(1)).map { case (_, rows) =>
        val r = rows.maxBy(x => (x.getBoolean(6), x.getLong(5)))
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }.toSet
    val batch = Sessions.eventsAttributionLastTouch(spark, sf)
      .select(col("user_id"), col("click_id"),
        unix_micros(col("click_ts").cast("timestamp")).as("c_us"),
        col("view_id"),
        unix_micros(col("view_ts").cast("timestamp")).as("v_us"))
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }.toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("last-touch finalizes against a late in-horizon view; straggler refines it") {
    implicit val s = spark
    import s.implicits._
    val in = tmp("lt-ooo-in")
    def ts(min: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-02-01 08:00:00").getTime + min * 60000L)
    // b1: a view then a click (provisionally attributed to view 1);
    // b2: an in-horizon straggler view at +10 — the TRUE last touch;
    // b3/b4: far-future events march the watermark (2 h) past the
    // click so it finalizes against the refined carry.
    // b4 lands on user 7: with NoTimeout a group only re-runs when it
    // has data, so finalization rides the user's next activity (until
    // then the provisional emission already reflects every admitted
    // event). The +400 view is AFTER the click — it cannot steal the
    // attribution, only trigger the fold.
    val b1 = Seq((1L, ts(0), 7L, "view", 1.0, "{}"),
                 (2L, ts(20), 7L, "click", 1.0, "{}"))
    val b2 = Seq((3L, ts(10), 7L, "view", 1.0, "{}"))
    val b3 = Seq((4L, ts(200), 9L, "view", 1.0, "{}"))
    val b4 = Seq((5L, ts(400), 7L, "view", 1.0, "{}"))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    Seq(b1, b2, b3, b4).zipWithIndex.foreach { case (b, i) =>
      val stage = tmp(s"lt-ooo-stage$i")
      b.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(in, f"batch$i%03d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val tsType = spark.read.parquet(in).schema("ts").dataType
    val stream = graft.ops.Sessions.normalizeTs(
      spark.readStream.schema(EventStream.eventsSchema(tsType))
        .option("maxFilesPerTrigger", 1).parquet(in))
    EventStream.runToMemory(EventStream.lastTouchStream(stream).toDF(), "lt_ooo_mem")
    val rows = spark.table("lt_ooo_mem").collect().filter(_.getLong(1) == 2L)
    assert(rows.nonEmpty, "click 2 never emitted")
    // the click's provisional emission before the straggler pointed at
    // view 1 — proof the refinement is observable, not vacuous
    assert(rows.exists(r => !r.getBoolean(6) && !r.isNullAt(3) && r.getLong(3) == 1L),
      "no provisional attribution to view 1 observed")
    // final (finalized or best-n_seen) emission: the straggler view 3 won
    val fin = rows.maxBy(x => (x.getBoolean(6), x.getLong(5)))
    assert(fin.getBoolean(6), "click never finalized despite the watermark marching past")
    assert(fin.getLong(3) == 3L,
      s"final attribution should be the straggler view 3, got ${fin.get(3)}")
  }

  test("last-touch finalizes a silent user's click via event-time timeout") {
    implicit val s = spark
    import s.implicits._
    val in = tmp("lt-to-in")
    def ts(min: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-04-01 08:00:00").getTime + min * 60000L)
    // b1: user 7's view then click — and user 7 NEVER appears again.
    // b2/b3: user 9 alone marches the watermark (2 h horizon) past the
    // click. With NoTimeout the click's finalized flip would ride user
    // 7's next activity — which never comes; EventTimeTimeout must wake
    // the group on watermark alone and finalize it.
    val b1 = Seq((1L, ts(0), 7L, "view", 1.0, "{}"),
                 (2L, ts(20), 7L, "click", 1.0, "{}"))
    val b2 = Seq((3L, ts(400), 9L, "view", 1.0, "{}"))
    val b3 = Seq((4L, ts(401), 9L, "view", 1.0, "{}"))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      val stage = tmp(s"lt-to-stage$i")
      b.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(in, f"batch$i%03d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val tsType = spark.read.parquet(in).schema("ts").dataType
    val stream = graft.ops.Sessions.normalizeTs(
      spark.readStream.schema(EventStream.eventsSchema(tsType))
        .option("maxFilesPerTrigger", 1).parquet(in))
    EventStream.runToMemory(EventStream.lastTouchStream(stream).toDF(), "lt_to_mem")
    val rows = spark.table("lt_to_mem").collect().filter(_.getLong(1) == 2L)
    assert(rows.nonEmpty, "click 2 never emitted")
    val fin = rows.maxBy(x => (x.getBoolean(6), x.getLong(5)))
    assert(fin.getBoolean(6),
      "click never finalized: the event-time timeout did not fire for the silent user")
    assert(fin.getLong(3) == 1L,
      s"timeout-path fold diverged: expected view 1, got ${fin.get(3)}")
  }

  test("last-touch state survives a checkpoint restart (run 2 never re-reads run 1)") {
    implicit val s = spark
    import s.implicits._
    val in = tmp("lt-rs-in"); val out = tmp("lt-rs-out"); val ck = tmp("lt-rs-ck")
    def ts(min: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-03-01 08:00:00").getTime + min * 60000L)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    def land(name: String, rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)],
        mtime: Long): Unit = {
      val stage = tmp(s"lt-rs-$name")
      rows.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(in, s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    def run(): Unit = {
      val tsType = spark.read.parquet(in).schema("ts").dataType
      val stream = graft.ops.Sessions.normalizeTs(
        spark.readStream.schema(EventStream.eventsSchema(tsType))
          .option("maxFilesPerTrigger", 1).parquet(in))
      val q = EventStream.lastTouchStream(stream).toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out); () }
        .option("checkpointLocation", ck)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: a view and a click — provisional attribution to view 1
    land("b0", Seq((1L, ts(0), 7L, "view", 1.0, "{}"),
                   (2L, ts(20), 7L, "click", 1.0, "{}")), 1700000000000L)
    run()
    // run 2 from the SAME checkpoint sees ONLY the new files: an
    // in-horizon straggler view (the true last touch) and a far-future
    // event that marches the watermark past the click
    land("b1", Seq((3L, ts(10), 7L, "view", 1.0, "{}")), 1700000060000L)
    land("b2", Seq((4L, ts(400), 7L, "view", 1.0, "{}")), 1700000120000L)
    // the watermark computed from b2 only applies to the NEXT batch,
    // and NoTimeout groups run only when they have data — b3 is the
    // user-7 batch that folds at the advanced watermark
    land("b3", Seq((5L, ts(500), 7L, "view", 1.0, "{}")), 1700000180000L)
    run()
    val rows = spark.read.parquet(out).collect().filter(_.getLong(1) == 2L)
    assert(rows.nonEmpty, "click 2 never emitted")
    val fin = rows.maxBy(x => (x.getBoolean(6), x.getLong(5)))
    assert(fin.getBoolean(6), "click did not finalize after the restart")
    assert(fin.getLong(3) == 3L,
      s"restart lost state: expected the straggler view 3, got ${fin.get(3)}")
    // run 1's provisional attribution to view 1 is in the durable sink
    // — proof run 2 refined recovered state rather than reprocessing
    assert(rows.exists(r => !r.getBoolean(6) && !r.isNullAt(3) && r.getLong(3) == 1L))
  }

  test("stateful duals fold late and equal-ts-reversed arrivals across micro-batches") {
    implicit val s = spark
    import s.implicits._
    val in = tmp("ooo-in")
    def ts(min: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 08:00:00").getTime + min * 60000L)
    // micro-batch 1: user 100 at +0 and +50 (a >30min gap — 2 sessions
    // if folded eagerly); user 200's purchase arrives BEFORE its
    // equal-ts click.
    val b1 = Seq(
      (1L, ts(0), 100L, "view", 1.0, "{}"),
      (2L, ts(50), 100L, "view", 1.0, "{}"),
      (3L, ts(10), 200L, "view", 1.0, "{}"),
      (4L, ts(10), 200L, "purchase", 5.0, "{}"))
    // micro-batch 2: the late bridge event (+25 splits the 0..50 gap →
    // ONE session) and the equal-ts click in reverse stage order — the
    // exact deliveries the r15 operators got wrong.
    val b2 = Seq(
      (5L, ts(25), 100L, "view", 1.0, "{}"),
      (6L, ts(10), 200L, "click", 2.0, "{}"))
    // micro-batches 3-4: march the watermark past +480 so batches 1-2
    // fold into DURABLE state (not just the provisional view), then one
    // more user-100 event beyond the frontier (a fresh session).
    val b3 = Seq((7L, ts(600), 300L, "view", 1.0, "{}"))
    val b4 = Seq((8L, ts(610), 100L, "view", 1.0, "{}"))
    // micro-batch 5: a beyond-horizon straggler (watermark ≈ +490 by
    // now) — the documented drop, it must not corrupt folded history.
    val b5 = Seq((9L, ts(0), 200L, "view", 9.0, "{}"))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    Seq(b1, b2, b3, b4, b5).zipWithIndex.foreach { case (b, i) =>
      val stage = tmp(s"ooo-stage$i")
      b.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(in, f"batch$i%03d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // distinct mtimes pin the file-source admission order = the
      // arrival order above, one file per micro-batch
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val tsType = spark.read.parquet(in).schema("ts").dataType
    def stream() = graft.ops.Sessions.normalizeTs(
      spark.readStream.schema(EventStream.eventsSchema(tsType))
        .option("maxFilesPerTrigger", 1).parquet(in))
    EventStream.runToMemory(EventStream.sessionCounts(stream()).toDF(), "ooo_sessions")
    EventStream.runToMemory(EventStream.funnelStream(stream()).toDF(), "ooo_funnel")
    // The batch ground truth sees events 1-8: the straggler (9) is the
    // beyond-horizon drop the streaming contract documents.
    val uDir = tmp("ooo-union")
    (b1 ++ b2 ++ b3 ++ b4).toDF(cols: _*).coalesce(1)
      .write.parquet(s"$uDir/events.parquet")
    // n_events is cumulative per emission, so max-by-n_events = final row.
    val sessStream = spark.table("ooo_sessions").collect()
      .groupBy(_.getLong(0)).map { case (u, rows) =>
        val r = rows.maxBy(_.getLong(2)); (u, r.getInt(1), r.getLong(2))
      }.toSet
    val sessBatch = Sessions.sessionize(spark, uDir)
      .groupBy("user_id").agg(
        countDistinct("session_nr").cast("int").as("ns"),
        sum("n_events").as("ne"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sessStream == sessBatch,
      s"stream-only=${sessStream -- sessBatch} batch-only=${sessBatch -- sessStream}")
    val funStream = spark.table("ooo_funnel").collect()
      .groupBy(_.getLong(0)).map { case (_, rows) =>
        val r = rows.maxBy(_.getLong(1))
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getInt(5))
      }.toSet
    val funBatch = Sessions.eventsFunnel(spark, uDir)
      .select(col("user_id"), col("n_events"),
        unix_micros(col("view_ts").cast("timestamp")).as("v"),
        unix_micros(col("click_ts").cast("timestamp")).as("c"),
        unix_micros(col("purchase_ts").cast("timestamp")).as("p"),
        col("stage"))
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getInt(5))
      }.toSet
    assert(funStream == funBatch,
      s"stream-only=${funStream -- funBatch} batch-only=${funBatch -- funStream}")
    // The equal-ts reversed pair really converted (stage 3), and the
    // late bridge really merged the sessions before the +610 event
    // reopened one — i.e. the assertions above didn't pass vacuously.
    assert(funBatch.exists(t => t._1 == 200L && t._6 == 3))
    assert(sessBatch.contains((100L, 2, 4L)))
  }

  test("stateful session counts ≡ batch sessionization totals") {
    implicit val s = spark
    import s.implicits._
    val stream = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.runToMemory(
      EventStream.sessionCounts(stream).toDF(), "sessions_mem")
    val streamed = spark.table("sessions_mem")
      .groupBy("user_id").agg(max("n_sessions").as("n_sessions"))
    val batch = Sessions.sessionize(spark, sf)
      .groupBy("user_id").agg(countDistinct("session_nr").as("n_sessions"))
    val joined = streamed.as("a").join(batch.as("b"), "user_id")
      .filter(col("a.n_sessions") =!= col("b.n_sessions"))
    assert(joined.isEmpty, joined.collect().take(5).mkString(","))
  }

  test("readEvents starts on an empty landing directory instead of crashing") {
    val empty = tmp("empty-events")
    val stream = EventStream.readEvents(spark, empty)
    assert(stream.isStreaming)
    // and it idles: draining available-now over nothing yields nothing
    EventStream.runToMemory(
      stream.groupBy("event_type").count(), "empty_events_counts")
    assert(spark.table("empty_events_counts").isEmpty)
  }

  test("anomalyFilter: unknown event types drop by default, pass with the opt-in flag") {
    import spark.implicits._
    val stats = graft.ops.Sessions.anomalyStats(
      Sessions.events(spark, sf)) // baseline trained on the fixture's types
    val novel = Seq((999L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
        1L, "never_seen_type", 42.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dropped = EventStream.anomalyFilter(novel, stats)
    assert(dropped.isEmpty, "default inner join must keep batch-oracle parity")
    val surfaced = EventStream.anomalyFilter(novel, stats, passUnknownTypes = true)
      .collect()
    assert(surfaced.length == 1 && surfaced.head.isNullAt(surfaced.head.fieldIndex("z")),
      "opt-in mode must forward the unscorable type with z = null")
    // known types behave identically in both modes
    val known = Sessions.events(spark, sf)
    val a = EventStream.anomalyFilter(known, stats).collect().toSet
    val b = EventStream.anomalyFilter(known, stats, passUnknownTypes = true).collect().toSet
    assert(a == b)
  }

  test("streaming daily actives sketch ≡ batch per-day sketch estimates") {
    val stream = EventStream.dailyActivesStream(EventStream.readEvents(spark, eventsDir))
    assert(stream.isStreaming)
    EventStream.runToMemory(stream, "daily_actives")
    val streamed = spark.table("daily_actives").collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val batch = Sessions.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"stream/batch sketch mismatch: ${streamed.toSeq.sorted.take(3)} vs ${batch.toSeq.sorted.take(3)}")
  }

  test("streaming KLL daily sketch ≡ batch per-(type,day) quantile estimates") {
    val stream = EventStream.kllDailyStream(EventStream.readEvents(spark, eventsDir))
    assert(stream.isStreaming)
    EventStream.runToMemory(stream, "kll_daily")
    // fixture groups sit far below k=256, so no compaction happens and
    // the estimates are EXACT order statistics — arrival-order
    // independent, strict equality (the compacting regime is gated
    // per query against the exact CDF)
    val streamed = spark.table("kll_daily").collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    val batch = Sessions.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy("event_type", "day")
      .agg(kll_sketch_agg_double(col("value"), Sessions.KllK).as("sk"))
      .select(col("event_type"), col("day"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("p50"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.95)).as("p95"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(streamed == batch,
      s"stream/batch KLL mismatch: ${(streamed.toSet -- batch.toSet).take(3)}")
  }

  test("streaming theta daily sketch ≡ batch blobs BYTE-FOR-BYTE; blobs intersect to retention") {
    val s = spark
    import s.implicits._
    val stream = EventStream.thetaDailyStream(EventStream.readEvents(spark, eventsDir))
    assert(stream.isStreaming)
    EventStream.runToMemory(stream, "theta_daily")
    val streamed = spark.table("theta_daily").collect()
      .map(r => r.getDate(0).toLocalDate ->
        ((r.getLong(1), r.getAs[Array[Byte]]("sk").toSeq))).toMap
    val batch = Sessions.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(theta_sketch_agg(col("user_id"), Sessions.ThetaLgNomEntries).as("sk"))
      .select(col("day"), theta_sketch_estimate(col("sk")), col("sk"))
      .collect()
      .map(r => r.getDate(0).toLocalDate ->
        ((r.getLong(1), r.getAs[Array[Byte]]("sk").toSeq))).toMap
    // the sketch hashes with a fixed seed and compacts to an ordered
    // form: incremental micro-batch folding and the batch build land on
    // the SAME bytes, not just the same estimate — the property that
    // lets streaming ingest feed the batch pass's content-fingerprinted
    // sketch table.
    assert(streamed == batch,
      s"stream/batch theta mismatch on days ${
        (streamed.keySet ++ batch.keySet).filter(d => streamed.get(d) != batch.get(d)).take(3)}")
    // and the streamed blobs answer retention and churn: consecutive-day
    // intersections and differences match the oracle-checked batch
    // queries' exact columns (1024 nominal entries > the fixture's daily
    // distinct — exact regime)
    val exact = Sessions.eventsRetentionSketch(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val churn = Sessions.eventsChurnSketch(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val pairs = streamed.keySet.toSeq.sorted.sliding(2).collect {
      case Seq(d1, d2) if java.time.temporal.ChronoUnit.DAYS.between(d1, d2) == 1 =>
        (java.sql.Date.valueOf(d1), streamed(d1)._2.toArray, streamed(d2)._2.toArray)
    }.toSeq
    assert(pairs.nonEmpty, "fixture must have consecutive streamed days")
    val est = pairs.toDF("day", "a", "b")
      .select(col("day"),
        theta_sketch_estimate(theta_intersection(col("a"), col("b"))),
        theta_sketch_estimate(theta_difference(col("a"), col("b"))))
      .collect()
    est.foreach { r =>
      val d = r.getDate(0).toLocalDate
      // a zero-retained day pair has no row in the batch retention query
      // (its inner self-join drops it), and an all-retained day none in
      // the churn query — the exact value is then 0, and the blobs agree
      assert(r.getLong(1) == exact.getOrElse(d, 0L),
        s"streamed-blob retention ${r.getLong(1)} != exact ${exact.get(d)} on $d")
      assert(r.getLong(2) == churn.getOrElse(d, 0L),
        s"streamed-blob churn ${r.getLong(2)} != exact ${churn.get(d)} on $d")
    }
  }

  test("streaming cluster assignment ≡ batch embedding_cluster (split across two batches)") {
    import graft.streaming.EmbedStream
    // replay the embeddings corpus as two micro-batches (split by
    // vec_id parity so both batches hit every centroid)
    val landing = tmp("embed")
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$landing/b0")
    val stream = EmbedStream.readEmbeddings(spark, s"$landing/*")
    assert(stream.isStreaming)
    val assigned = EmbedStream.clusterAssignStream(stream, sf)
    EventStream.runToMemory(assigned, "embed_assign_1")
    all.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$landing/b1")
    EventStream.runToMemory(
      EmbedStream.clusterAssignStream(EmbedStream.readEmbeddings(spark, s"$landing/*"), sf),
      "embed_assign_2")
    // second run reprocesses both files (no checkpoint): its output is
    // the full corpus — must equal the batch operator row-for-row
    val streamed = spark.table("embed_assign_2")
    val batch = graft.ops.Similarity.embeddingCluster(spark, sf)
    assert(streamed.count() == batch.count())
    val diff = streamed.as("a").join(batch.as("b"), "vec_id")
      .filter(col("a.cluster_id") =!= col("b.cluster_id") ||
        col("a.sim") =!= col("b.sim"))
    assert(diff.isEmpty, diff.collect().take(5).mkString(","))
    // and the two-batch replay covered the whole corpus incrementally
    assert(spark.table("embed_assign_1").count() == batch.count() / 2)
  }

  test("streaming ANN serving ≡ batch staged IVFADC retrieval (per-file micro-batches)") {
    import graft.streaming.EmbedStream
    val landing = tmp("annq"); val out = tmp("annout"); val ck = tmp("annck")
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    all.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$landing/b0")
    all.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$landing/b1")
    // maxFilesPerTrigger=1 forces the two files into two micro-batches:
    // the equality below then also proves a query's result is batch-
    // placement independent (it depends only on the static index).
    val queries = spark.readStream.schema(EmbedStream.embeddingsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$landing/*")
    EmbedStream.runAnnServe(queries, sf, out, ck)
    val streamed = spark.read.parquet(out)
    val batch = graft.ops.Similarity.AnnIvfPqStaged.run(spark, sf)
    assert(streamed.count() == batch.count())
    val diff = streamed.as("a").join(batch.as("b"), Seq("query_id", "rank"))
      .filter(col("a.neighbor_id") =!= col("b.neighbor_id") ||
        col("a.sim") =!= col("b.sim"))
    assert(diff.isEmpty, diff.collect().take(5).mkString(","))
    // restart on the same checkpoint with no new queries → no re-serve
    val n1 = spark.read.parquet(out).count()
    EmbedStream.runAnnServe(
      spark.readStream.schema(EmbedStream.embeddingsSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/*"), sf, out, ck)
    assert(spark.read.parquet(out).count() == n1, "restart re-served old queries")
  }
}
