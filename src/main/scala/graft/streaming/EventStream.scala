package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Event-time streaming over the `events` table shape: watermarked
  * tumbling-window aggregation and stateful sessionization via
  * `flatMapGroupsWithState`.
  *
  * Semantics intentionally match the batch operators in
  * [[graft.ops.Sessions]] (same 30-min gap, same 1-h windows) — the
  * DuckDB oracle that gates the batch versions therefore also pins these;
  * the streaming specs assert stream ≡ batch on the fixture.
  */
object EventStream {

  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream of events parquet, normalized to micro NTZ
    * exactly like the batch reader ([[graft.ops.Sessions.normalizeTs]]).
    * The fixture's physical `ts` shape has varied across generations
    * (nanos-as-long vs timestamp[us]); a one-time driver-side batch
    * metadata read pins the actual type, and the stream itself still
    * gets an explicit schema so it never infers per micro-batch. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // Sniff the fixture generation's physical ts shape (nanos-as-long
    // vs timestamp[us]) from a batch read; on an EMPTY landing
    // directory — where a production ingest wants to start and idle,
    // not crash (the DocStream/EmbedStream static-schema rationale) —
    // default to the current generation's TIMESTAMP_NTZ. A feed that
    // will deliver the legacy nanos shape into an initially-empty dir
    // must construct its stream after the first file lands (the sniff
    // then sees the real dtype).
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException =>
        org.apache.spark.sql.types.TimestampNTZType }
    graft.ops.Sessions.normalizeTs(
      spark.readStream.schema(eventsSchema(tsType)).parquet(dir))
  }

  /** Watermarked tumbling 1-h counts per event type. Late data beyond
    * 2 h is dropped; state for closed windows is evicted — bounded state
    * at any scale. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType)) // watermarks need an instant
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), col("n_events"))

  /** Watermarked STREAM-STREAM interval join: clicks credited to views
    * of the same user within [[graft.ops.Sessions.AttribWindowHours]]
    * — the streaming dual of `events_attribution`, and the one
    * Structured-Streaming join class the other streaming operators
    * don't exercise (stream×static joins are stateless; this one
    * holds BOTH sides in state). The equality key (user_id) plus the
    * two-sided time-range condition plus watermarks on both inputs is
    * exactly the published recipe that lets Spark bound the state: a
    * view can only ever match clicks up to window+lateness later, so
    * view state evicts once the click watermark passes that horizon,
    * and click state symmetrically — the join runs forever on bounded
    * memory. Inner join: pairs emit as soon as both sides arrive
    * (the watermark gates eviction, not emission), so end-to-end
    * output equals the batch operator row-for-row when no data is
    * later than the watermark.
    *
    * Takes the two sides as separate frames (production: two topics);
    * the spec derives both from one event stream by type filter. */
  def attributionStream(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views
      .withColumn("view_ts", col("ts").cast(TimestampType)) // watermarks need an instant
      .withWatermark("view_ts", "2 hours")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("view_ts"))
    val c = clicks
      .withColumn("click_ts", col("ts").cast(TimestampType))
      .withWatermark("click_ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id"), col("click_ts"))
    v.join(c,
      col("v_user_id") === col("user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") +
          expr(s"INTERVAL ${graft.ops.Sessions.AttribWindowHours} HOURS"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts").cast(TimestampNTZType).as("view_ts"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"))
  }

  /** Watermarked per-day DISTINCT actives on the live stream via the
    * mergeable HLL sketch — the streaming half of the
    * `events_sketch_actives` architecture: the stream maintains one
    * sketch per open day window (state is days x ~1.5 KB, never
    * per-user rows — a streaming `dropDuplicates` on (day, user)
    * would hold every identity seen), estimates update each
    * micro-batch, and the periodic batch pass stores/reaggregates
    * the authoritative daily sketch table for WAU/MAU windows. Late
    * data beyond 1 day drops with the closed window's state, like
    * [[windowedCounts]]. */
  def dailyActivesStream(events: DataFrame): DataFrame =
    events
      // Watermarks REQUIRE an instant (EVENT_TIME_IS_NOT_ON_TIMESTAMP
      // _TYPE on NTZ), so the NTZ->instant cast and the window.start->
      // date cast both read spark.sql.session.timeZone. Day attribution
      // matches the batch to_date(ts) bucketing under the engine's
      // pinned-UTC sessions (GraftSession + build javaOptions) — the
      // SAME invariant every batch events operator already relies on
      // for its unix_micros/instant casts; a session built elsewhere
      // with a non-UTC zone shifts day boundaries here like it would
      // shift session gaps there.
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("active_est"))
      .select(col("window.start").cast(org.apache.spark.sql.types.DateType).as("day"),
        col("active_est"))

  /** Watermarked per-(type, day) quantile SKETCH on the live stream —
    * the streaming half of the `events_quantiles_kll_daily`
    * architecture, and the quantile twin of [[dailyActivesStream]]:
    * the stream maintains ONE KLL sketch per open (type, day) window
    * (Spark's built-in `kll_sketch_agg_double` — state is groups × a
    * few k items, never raw values; a streaming exact-percentile would
    * buffer every group member), per-type/day quantile estimates
    * update each micro-batch, and the periodic batch pass stores the authoritative
    * reaggregatable daily sketch table (`events_kll_range`'s IndexStore
    * artifact). Late data beyond 1 day drops with the closed window's
    * state, like [[dailyActivesStream]]. Day attribution reads the same
    * pinned-UTC session zone invariant documented there. */
  def kllDailyStream(events: DataFrame,
      k: Int = graft.ops.Sessions.KllK): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "1 day")
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(kll_sketch_agg_double(col("value"), k).as("sk"))
      .select(col("event_type"),
        col("window.start").cast(org.apache.spark.sql.types.DateType).as("day"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("p50_est"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.95)).as("p95_est"))

  /** Watermarked per-day DISTINCT theta sketch on the live stream —
    * the streaming half of the `events_retention_sketch` architecture,
    * and the set-operation twin of [[dailyActivesStream]]: the stream
    * maintains ONE theta sketch per open day window (Spark's built-in
    * `theta_sketch_agg` — state is days × ~8 KB, never per-user
    * identity rows), and emits the day's estimate NEXT TO the
    * mergeable blob itself, so a downstream consumer intersects
    * consecutive days' blobs for live retention without touching the
    * log. The sketch hashes with a fixed seed and its compact form is
    * ordered, so the streamed blob is BYTE-IDENTICAL to the batch
    * sketch of the same day — spec-pinned, the property that lets the
    * streaming ingest feed the same content-fingerprinted sketch table
    * the batch pass owns. Late data beyond 1 day drops with the closed
    * window's state, like [[dailyActivesStream]]; day attribution
    * reads the same pinned-UTC session zone invariant documented there. */
  def thetaDailyStream(events: DataFrame,
      lgNomEntries: Int = graft.ops.Sessions.ThetaLgNomEntries): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(theta_sketch_agg(col("user_id"), lgNomEntries).as("sk"))
      .select(col("window.start").cast(DateType).as("day"),
        theta_sketch_estimate(col("sk")).as("active_est"),
        col("sk"))

  /** `ts` carries the watermark-marked attribute through to the
    * stateful operator (FlatMapGroupsWithStateExec only sees the
    * watermark if the marked column survives into its child output —
    * projecting it away makes getCurrentWatermarkMs throw); the fold
    * itself reads the exact `tsMicros`. */
  case class Ev(user_id: Long, tsMicros: Long, ts: java.sql.Timestamp)
  case class UserSessions(user_id: Long, n_sessions: Int, n_events: Long)

  /** Allowed event-time lateness for the stateful operators
    * ([[sessionCounts]], [[funnelStream]]): an event arriving more
    * than this far behind the stream's max observed event time (i.e.
    * below the watermark) is DROPPED — the documented beyond-horizon
    * behavior, because history below the fold frontier is already
    * folded and emitting it out of order would corrupt the counts.
    * Everything inside the horizon folds in exact event-time order,
    * however it arrives. */
  val LatenessHorizon = "2 hours"

  /** Durable per-user session state: the fold over all events BELOW
    * the watermark (which can never be preceded by a new arrival),
    * plus the horizon-bounded buffer of events still above it. */
  case class SessionBufState(sessionCount: Int, lastTs: Long,
                             nEvents: Long, buf: Seq[Long])

  /** Fold sorted event times through the 30-min gap rule. */
  private def foldSessions(count0: Int, last0: Long, sortedTs: Seq[Long]): (Int, Long) = {
    var c = count0
    var last = last0
    sortedTs.foreach { t =>
      if (last == Long.MinValue || t - last > graft.ops.Sessions.SessionGapMicros) c += 1
      last = t
    }
    (c, last)
  }

  /** Stateful sessionization: per-user session counting with the same
    * 30-min gap rule as [[graft.ops.Sessions.sessionize]], kept in a
    * `GroupState` so it spans micro-batches. State is O(users) plus a
    * horizon-bounded event buffer, the stream is never re-sorted
    * globally.
    *
    * Out-of-order arrival: arrivals are buffered in `GroupState` until
    * the watermark passes them; only events below the watermark — which
    * no in-horizon straggler can precede, since anything below the
    * watermark is dropped on arrival — fold into the DURABLE state, in
    * event-time order. Each update emits the PROVISIONAL fold of
    * durable state + buffer (also event-time ordered), so the emitted
    * row always reflects every admitted event and the final row matches
    * the batch operator exactly for any arrival order whose lateness
    * stays inside [[LatenessHorizon]]. Beyond-horizon stragglers are
    * dropped (documented above). */
  def sessionCounts(events: DataFrame)(implicit spark: SparkSession): Dataset[UserSessions] = {
    import spark.implicits._
    val evs = events
      .withColumn("ts", col("ts").cast(TimestampType)) // watermarks need an instant
      .withWatermark("ts", LatenessHorizon)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"), col("ts"))
      .as[Ev]
    evs.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout())(
      (user: Long, batch: Iterator[Ev], state: GroupState[SessionBufState]) => {
        val wmMicros = state.getCurrentWatermarkMs() * 1000L
        val st = state.getOption.getOrElse(SessionBufState(0, Long.MinValue, 0L, Nil))
        val arrived = batch.map(_.tsMicros).filter(_ >= wmMicros).toSeq
        val (safe, held) = (st.buf ++ arrived).partition(_ < wmMicros)
        val (c, last) = foldSessions(st.sessionCount, st.lastTs, safe.sorted)
        val n = st.nEvents + arrived.size
        state.update(SessionBufState(c, last, n, held))
        val (cAll, _) = foldSessions(c, last, held.sorted)
        Iterator(UserSessions(user, cAll, n))
      })
  }

  /** Same watermark-carrier `ts` field as [[Ev]]. */
  case class FunnelEv(user_id: Long, tsMicros: Long, event_id: Long,
                      event_type: String, ts: java.sql.Timestamp)
  case class BufEv(tsMicros: Long, eventId: Long, eventType: String)
  case class FunnelBufState(nEvents: Long, viewTs: Option[Long],
                            clickTs: Option[Long], purchaseTs: Option[Long],
                            buf: Seq[BufEv])
  case class UserFunnel(user_id: Long, n_events: Long, view_us: Option[Long],
                        click_us: Option[Long], purchase_us: Option[Long], stage: Int)

  /** Ordered stage priority at equal timestamps: a click logged in the
    * same microsecond as the first view still converts (the batch
    * operator's inclusive `>=`), which in arrival order means views
    * must be folded before clicks before purchases within a tie. */
  private def stageOrder(tp: String): Int = tp match {
    case "view" => 0; case "click" => 1; case "purchase" => 2; case _ => 3
  }

  /** Fold funnel stage timestamps through a (tsMicros, stageOrder,
    * eventId)-sorted event slice — the batch operator's inclusive-`>=`
    * semantics in arrival-order form. */
  private def foldFunnel(view0: Option[Long], click0: Option[Long],
      purchase0: Option[Long], sorted: Seq[BufEv])
      : (Option[Long], Option[Long], Option[Long]) = {
    var v = view0; var c = click0; var p = purchase0
    sorted.foreach { e =>
      v = v.orElse(if (e.eventType == "view") Some(e.tsMicros) else None)
      c = c.orElse(if (e.eventType == "click" && v.exists(e.tsMicros >= _))
        Some(e.tsMicros) else None)
      p = p.orElse(if (e.eventType == "purchase" && c.exists(e.tsMicros >= _))
        Some(e.tsMicros) else None)
    }
    (v, c, p)
  }

  private val bufOrder: Ordering[BufEv] =
    Ordering.by(e => (e.tsMicros, stageOrder(e.eventType), e.eventId))

  /** Streaming funnel: per-user view → click → purchase progression
    * kept in `GroupState`, the streaming dual of
    * [[graft.ops.Sessions.eventsFunnel]] with identical semantics —
    * stage k's timestamp is the EARLIEST event of its type at-or-after
    * stage k-1's (ties resolved view-before-click-before-purchase, the
    * inclusive-`>=` arrival-order equivalent).
    *
    * Out-of-order arrival: same watermark + buffer discipline as
    * [[sessionCounts]] — durable state folds only events the watermark
    * has passed, each update emits the provisional fold over the
    * horizon-bounded buffer (so a dashboard still sees conversion move
    * in real time), and the final row matches the batch operator for
    * any in-horizon arrival order, including equal-ts stage pairs
    * split across micro-batches in reverse stage order.
    * Beyond-horizon stragglers are dropped (see [[LatenessHorizon]]). */
  def funnelStream(events: DataFrame)(implicit spark: SparkSession): Dataset[UserFunnel] = {
    import spark.implicits._
    val evs = events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", LatenessHorizon)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_id"), col("event_type"), col("ts"))
      .as[FunnelEv]
    evs.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout())(
      (user: Long, batch: Iterator[FunnelEv], state: GroupState[FunnelBufState]) => {
        val wmMicros = state.getCurrentWatermarkMs() * 1000L
        val st = state.getOption.getOrElse(FunnelBufState(0L, None, None, None, Nil))
        val arrived = batch.filter(_.tsMicros >= wmMicros)
          .map(e => BufEv(e.tsMicros, e.event_id, e.event_type)).toSeq
        val (safe, held) = (st.buf ++ arrived).partition(_.tsMicros < wmMicros)
        val (v, c, p) = foldFunnel(st.viewTs, st.clickTs, st.purchaseTs,
          safe.sorted(bufOrder))
        val n = st.nEvents + arrived.size
        state.update(FunnelBufState(n, v, c, p, held))
        val (v2, c2, p2) = foldFunnel(v, c, p, held.sorted(bufOrder))
        val stage = Seq(v2, c2, p2).count(_.isDefined)
        Iterator(UserFunnel(user, n, v2, c2, p2, stage))
      })
  }

  /** Streaming as-of enrichment: attach to each in-flight event the
    * latest reference row at or before its timestamp — the streaming
    * dual of [[graft.ops.AsOf.asofJoin]], with identical semantics
    * (inclusive at equal timestamps, nulls before the first reference).
    *
    * Formulation: the STATIC reference side is precomputed into SCD-2
    * validity intervals ([refTs, next refTs) per key, one batch window
    * pass), after which the as-of match is a plain stream-static LEFT
    * join whose condition hits exactly one interval per event — no
    * stream-side aggregation, no arbitrary state, fully declarative.
    * Spark broadcasts the static side, so at scale this is the
    * broadcast-dimension enrichment shape (ref = checkpoint/dimension
    * table, orders of magnitude smaller than the stream); a
    * stream-STREAM as-of would instead compose the session operators'
    * `flatMapGroupsWithState` pattern.
    *
    * `ref` column names must not collide with the stream's (rename
    * before calling); `refTs` is carried through as the matched
    * instant, like the batch operator. */
  def asofEnrich(events: DataFrame, ref: DataFrame, key: String = "user_id",
                 probeTs: String = "ts", refTs: String = "asof_ts"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(refTs)
    val iv = ref.withColumn("__until", lead(col(refTs), 1).over(w))
    events.alias("e").join(iv.alias("r"),
      col(s"e.$key") === col(s"r.$key") &&
        col(s"e.$probeTs") >= col(s"r.$refTs") &&
        (col("r.__until").isNull || col(s"e.$probeTs") < col("r.__until")),
      "left")
      .select(events.columns.map(c => col(s"e.$c")) ++
        ref.columns.filterNot(_ == key).map(c => col(s"r.$c")): _*)
  }

  // ---------------------------------------------- layout ingest dual

  /** Streaming ingest into a z-ordered layout: each micro-batch lands
    * via [[graft.ops.Layout.zorderIngestBatch]] — z-sorted delta files
    * with batch-keyed deterministic names plus an O(delta) manifest
    * rewrite. foreachBatch replay after a crash is IDEMPOTENT (the
    * batch deletes and rewrites its own generation), and manifest-only
    * pruning gives readers snapshot semantics — files not yet
    * manifested are invisible, never torn. The online dual of the
    * batch layout write, mirroring [[EmbedStream]]'s index-ingest
    * dual: the layout stays query-optimal as data arrives, no
    * full-relayout job. */
  def layoutIngestStream(events: DataFrame, layoutPath: String,
      checkpointDir: String): StreamingQuery = {
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Layout.zorderIngestBatch(batch.sparkSession, layoutPath, id, batch)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  // ------------------------------------------- last-touch attribution

  case class AttrEv(user_id: Long, tsMicros: Long, event_id: Long,
                    event_type: String, ts: java.sql.Timestamp)
  case class AttrBufEv(tsMicros: Long, eventId: Long, isView: Boolean)
  case class LastTouchState(nSeen: Long, viewUs: Long, viewId: Long,
                            buf: Seq[AttrBufEv])
  case class ClickAttribution(user_id: Long, click_id: Long, click_us: Long,
                              view_id: Option[Long], view_us: Option[Long],
                              n_seen: Long, finalized: Boolean)

  /** Event-time-ordered fold of the last-touch rule over a batch of
    * admitted events: views advance the carried (latest view) pair —
    * ties at an instant resolve to the max view_id, the batch
    * operator's explicit rule — and each click emits its attribution
    * against the carry, with the window bound applied at emission
    * (the latest view ≤ click IS the latest in-window view whenever
    * one exists). Views sort before clicks at an equal timestamp:
    * the inclusive `view_ts <= click_ts` bound. */
  private def foldLastTouch(user: Long, vUs0: Long, vId0: Long,
      evs: Seq[AttrBufEv], nSeen: Long, fin: Boolean)
      : (Long, Long, Seq[ClickAttribution]) = {
    var vUs = vUs0; var vId = vId0
    val winUs = graft.ops.Sessions.AttribWindowHours.toLong * 3600L * 1000000L
    val out = Seq.newBuilder[ClickAttribution]
    evs.sortBy(e => (e.tsMicros, if (e.isView) 0 else 1, e.eventId)).foreach { e =>
      if (e.isView) {
        if (e.tsMicros > vUs || (e.tsMicros == vUs && e.eventId > vId)) {
          vUs = e.tsMicros; vId = e.eventId
        }
      } else {
        val ok = vUs != Long.MinValue && vUs >= e.tsMicros - winUs
        out += ClickAttribution(user, e.eventId, e.tsMicros,
          if (ok) Some(vId) else None, if (ok) Some(vUs) else None, nSeen, fin)
      }
    }
    (vUs, vId, out.result())
  }

  /** Streaming last-touch attribution — the bounded-state dual of
    * `events_attribution_last_touch`, and the production sibling of
    * [[attributionStream]]'s stream-stream join: where the all-pairs
    * join holds BOTH sides' windows in the state store and emits
    * views×clicks per key, this holds ONE carried (latest view) pair
    * per user plus a lateness-horizon event buffer, and emits exactly
    * one row per click.
    *
    * Out-of-order handling is the [[sessionCounts]] discipline:
    * arrivals buffer in `GroupState` until the watermark passes them;
    * only below-watermark events fold into the DURABLE carry, in
    * event-time order, so a click finalizes exactly when no straggler
    * view that could precede it can still be admitted (any future
    * arrival has ts ≥ watermark > click_ts). Each update also emits
    * PROVISIONAL attributions for still-buffered clicks (folding the
    * buffer on top of the durable carry), re-emitted as stragglers
    * refine them — Update-mode consumers key on click_id and keep the
    * latest emission (prefer finalized, then max n_seen; n_seen is
    * monotone per user, and equal-n_seen emissions are computed from
    * the same admitted set, so the rule is value-safe). The final
    * rows match the batch operator exactly for any arrival order
    * whose lateness stays inside [[LatenessHorizon]].
    *
    * EventTimeTimeout (unlike [[sessionCounts]]'s NoTimeout): a group
    * with a non-empty buffer arms a wake-up at its EARLIEST buffered
    * instant, so when the global watermark (advanced by ANY key's
    * traffic) passes a buffered click, the group re-runs with an empty
    * batch and finalizes it — a user who goes silent after clicking
    * still gets the `finalized` flip at the lateness horizon instead
    * of waiting for their own next event. The timeout invocation runs
    * the SAME fold on an empty arrival set, so it can only move
    * buffered events into the durable carry exactly as a data-driven
    * invocation at that watermark would — stream≡batch is unaffected,
    * latency-to-finalized improves. */
  def lastTouchStream(events: DataFrame)(implicit spark: SparkSession)
      : Dataset[ClickAttribution] = {
    import spark.implicits._
    val evs = events
      .where(col("event_type").isin("view", "click"))
      .withColumn("ts", col("ts").cast(TimestampType)) // watermarks need an instant
      .withWatermark("ts", LatenessHorizon)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_id"), col("event_type"), col("ts"))
      .as[AttrEv]
    evs.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, batch: Iterator[AttrEv], state: GroupState[LastTouchState]) => {
        val wmMs = state.getCurrentWatermarkMs()
        val wm = wmMs * 1000L
        val st = state.getOption.getOrElse(
          LastTouchState(0L, Long.MinValue, Long.MinValue, Nil))
        // A timeout invocation carries no data — it re-runs the fold at
        // the advanced watermark so buffered events graduate on time.
        val arrived =
          if (state.hasTimedOut) Nil
          else batch
            .map(e => AttrBufEv(e.tsMicros, e.event_id, e.event_type == "view"))
            .filter(_.tsMicros >= wm).toSeq
        val nSeen = st.nSeen + arrived.size
        val (safe, held) = (st.buf ++ arrived).partition(_.tsMicros < wm)
        val (vUs, vId, finals) =
          foldLastTouch(user, st.viewUs, st.viewId, safe, nSeen, fin = true)
        state.update(LastTouchState(nSeen, vUs, vId, held))
        if (held.nonEmpty) {
          // Wake when the watermark passes the earliest buffered event;
          // must be strictly ahead of the current watermark. A stale
          // wake-up on an already-drained buffer folds nothing — safe.
          val wake = math.max(held.map(_.tsMicros).min / 1000L + 1L, wmMs + 1L)
          state.setTimeoutTimestamp(wake)
        }
        val (_, _, prov) = foldLastTouch(user, vUs, vId, held, nSeen, fin = false)
        (finals ++ prov).iterator
      })
  }

  /** Streaming anomaly gate: score each arriving event against a
    * PRECOMPUTED per-type baseline (n, Σv, Σv² from
    * [[graft.ops.Sessions.anomalyStats]] over a reference corpus) and
    * pass only |z| > [[graft.ops.Sessions.AnomalyZ]].
    *
    * This is the production shape of anomaly detection: moments are
    * trained on a batch snapshot (types-count rows — a broadcast
    * dimension), the live stream is a stateless map-side join + filter
    * per micro-batch — no stream-side aggregation, no state store, no
    * watermark needed for correctness. The z arithmetic is the SAME
    * shared expression as the batch operator, so the batch oracle that
    * checks `events_anomaly` pins this filter too (spec: streaming the
    * corpus against its own baseline reproduces the batch rows). */
  def anomalyFilter(events: DataFrame, stats: DataFrame,
      passUnknownTypes: Boolean = false): DataFrame = {
    // Default: inner join — only types the baseline can SCORE pass the
    // gate, the exact arithmetic the batch oracle pins. But an inner
    // join silently swallows a never-before-seen event type (no
    // baseline row -> no z -> dropped), which for some deployments is
    // the most anomalous signal there is: passUnknownTypes=true left-
    // joins and forwards unscored types with z = null, so the caller
    // routes them instead of losing them.
    val joined =
      if (passUnknownTypes) events.join(broadcast(stats), Seq("event_type"), "left_outer")
      else events.join(broadcast(stats), "event_type")
    // The unscorable-pass clause exists ONLY in the opt-in mode: the
    // default gate must keep the batch operator's exact row set (where
    // a null z — degenerate stats — drops, as SQL comparison semantics
    // dictate).
    val gate =
      if (passUnknownTypes)
        col("z").isNull || abs(col("z")) > graft.ops.Sessions.AnomalyZ
      else abs(col("z")) > graft.ops.Sessions.AnomalyZ
    joined
      .withColumn("z", graft.ops.Sessions.zExpr)
      .where(gate)
      .select(events.columns.map(col) :+ round(col("z"), 6).as("z"): _*)
  }

  /** Drain to an in-memory table (test/debug sink). */
  def runToMemory(df: DataFrame, name: String): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Drain an append-mode (watermarked) stream to parquet. */
  def runAppendToParquet(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery = {
    val q = df.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
