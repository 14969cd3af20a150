package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, TimestampType}

/** Event-time operators over the `events` table (event_id, ts, user_id,
  * event_type, value, props): lag-gap sessionization and tumbling-window
  * aggregation. These are the batch-shaped duals of the Structured
  * Streaming operators in `graft.streaming` — same semantics, so the
  * DuckDB oracle that checks these also pins the streaming logic.
  *
  * Scale: both shuffle exactly once on their natural key (user_id /
  * window bucket); sessionization's windows are per-user ordered scans,
  * never a global sort.
  */
object Sessions {

  val SessionGapMicros: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** The events fixture has shipped with two physical `ts` shapes across
    * generations: TIMESTAMP(NANOS) — a parquet type Spark rejects unless
    * `nanosAsLong` maps it to a raw long (session-scoped in
    * [[graft.GraftSession]] — NOT mutated here: a `conf.set` inside a
    * query builder would side-effect every subsequently planned query) —
    * and plain timestamp[us], which Spark reads natively as
    * TIMESTAMP_NTZ. [[normalizeTs]] dispatches on the dtype actually
    * read, so both generations land on the same micro-precision NTZ
    * column. For the nanos shape the rebuild uses integer division (a
    * double division would lose precision above 2^53 ns); DuckDB
    * truncates ns→us identically, so the oracle sees the same instants
    * either way. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(IndexStore.table(spark, dir, "events"))

  /** Normalize the `ts` column to micro-precision TIMESTAMP_NTZ whatever
    * the fixture generation delivered: raw nanos-as-long, NTZ (naive
    * timestamp[us] — already exact), or instant TIMESTAMP (cast is a
    * rename under the UTC session zone GraftSession pins). */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampNTZType => df
      case TimestampType => df.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other => throw new IllegalArgumentException(
        s"events.ts read as unsupported type $other (expected long nanos, " +
          "timestamp, or timestamp_ntz; a TIMESTAMP(NANOS) file needs " +
          "graft.GraftSession's spark.sql.legacy.parquet.nanosAsLong)")
    }
  }

  /** Lag-gap sessionization: a new session starts where the gap to the
    * previous event of the same user exceeds 30 minutes. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val us = unix_micros(col("ts").cast(TimestampType))
    val withGap = events(spark, dir)
      .withColumn("us", us)
      .withColumn("new_s",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > SessionGapMicros, 1).otherwise(0))
      .withColumn("session_nr", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // Aggregate in DECIMAL (order-independent, exact) but emit the final
    // column as DOUBLE: the driver's compare hashes dtypes, and DuckDB's
    // DECIMAL surfaces differently from parquet decimal even when every
    // value is equal. Same decimal → same nearest double, deterministically.
    withGap.groupBy(col("user_id"), col("session_nr"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .cast("double").as("sum_value"))
      .orderBy("user_id", "session_nr")
  }

  val sessionizeOracle: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, ts, value,
       |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $SessionGapMicros
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                             ROWS UNBOUNDED PRECEDING) AS session_nr
       |  FROM g)
       |SELECT user_id, CAST(session_nr AS BIGINT) AS session_nr,
       |       min(ts) AS session_start, max(ts) AS session_end,
       |       count(*) AS n_events,
       |       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
       |FROM s GROUP BY user_id, session_nr ORDER BY user_id, session_nr""".stripMargin

  /** Spark-native sessionization: `session_window(ts, gap)` is a single
    * merging aggregation — no lag window, no running-sum window, one
    * shuffle on user_id — and is the batch twin of the streaming
    * session-window operator, so it is the preferred 100 TB shape
    * (the lag-gap [[sessionize]] stays as the reference formulation
    * the oracle mirrors; both are oracle-checked against the SAME
    * brute-force CTE). Boundary semantics: session_window closes at
    * gap >= 30 min, lag-gap at gap > 30 min — identical unless two
    * events sit EXACTLY 30:00.000000 apart (absent from the fixture,
    * and a measure-zero case on real event streams). */
  def sessionizeNative(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts").cast(TimestampType), "30 minutes").as("w"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .cast("double").as("sum_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  val sessionizeNativeOracle: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, ts, value,
       |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $SessionGapMicros
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                             ROWS UNBOUNDED PRECEDING) AS session_nr
       |  FROM g)
       |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |       count(*) AS n_events,
       |       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
       |FROM s GROUP BY user_id, session_nr ORDER BY user_id, session_start""".stripMargin

  /** Tumbling 1-hour event-time window per event type. */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .cast("double").as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("min_value"), col("max_value"))
      .orderBy("window_start", "event_type")

  val eventsWindowOracle: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |       count(*) AS n_events,
      |       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Per-user activity profile: event counts pivoted by type + total —
    * conditional aggregation, one shuffle on user_id. */
  def userActivity(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggs = count(lit(1)).as("n_events") +: types.map(tp =>
      sum(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"n_$tp"))
    events(spark, dir).groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("user_id")
  }

  val userActivityOracle: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** JSON-function coverage over the `props` column: extract a typed
    * value from the JSON payload, aggregate per event type. The
    * average derives from the EXACT integer sum on both sides (one
    * double division each) — never from a float accumulation, whose
    * order would differ between engines. */
  def eventsJsonProps(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(LongType)
    // The JSON walk is the one heavy PRE-shuffle compute in the events
    // family (the sessionize/window queries shuffle raw rows first and
    // compute after), and the groupBy exchange here carries only a few
    // partially-aggregated rows — so at bench scale the whole parse
    // lands on the scan's single split. Fan the narrow (event_type,
    // props) projection out first (same collapse/fix as the document
    // signature stages; no-op at production split counts).
    val narrow = events(spark, dir).select(col("event_id"), col("event_type"), col("props"))
    Similarity.fanOut(spark, dir, "events", narrow, col("event_id"))
      .select(col("event_type"), k.as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n_events"))
      .orderBy("event_type")
  }

  val eventsJsonPropsOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
      |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** `events_funnel`: per-user ordered conversion funnel
    * view → click → purchase. Stage k's timestamp is the EARLIEST
    * event of that type at-or-after the previous stage's timestamp
    * (>=, not >: a click logged in the same microsecond as the first
    * view still converts — event streams batch-flush with equal
    * timestamps routinely), so the funnel is order-respecting, not a
    * mere per-type existence check.
    *
    * Scale shape: every aggregation and join in the chain keys on
    * user_id, so the plan needs one logical hash partitioning — the
    * filtered click/purchase branches re-shuffle only their own slim
    * (user_id, ts) projections, and below the broadcast threshold the
    * stage frames (one row per converting user) broadcast instead.
    * Sequential-pattern state never materializes: no per-user event
    * array, no window sort — each stage is a partial-agg min. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val base = ev.groupBy("user_id").agg(
      count(lit(1)).cast(LongType).as("n_events"),
      min(when(col("event_type") === "view", col("ts"))).as("view_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .join(base.select(col("user_id"), col("view_ts")), "user_id")
      .where(col("ts") >= col("view_ts"))
      .groupBy("user_id").agg(min("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .where(col("ts") >= col("click_ts"))
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    def reached(c: Column) = when(c.isNotNull, 1).otherwise(0)
    base.join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"),
        col("view_ts"), col("click_ts"), col("purchase_ts"),
        (reached(col("view_ts")) + reached(col("click_ts")) +
          reached(col("purchase_ts"))).cast(IntegerType).as("stage"))
      .orderBy("user_id")
  }

  val eventsFunnelOracle: String =
    """WITH b AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |         min(CASE WHEN event_type = 'view' THEN ts END) AS view_ts
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts
      |  FROM events e JOIN b ON e.user_id = b.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= b.view_ts
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
      |  GROUP BY e.user_id)
      |SELECT b.user_id, b.n_events, b.view_ts, c.click_ts, p.purchase_ts,
      |       CAST((CASE WHEN b.view_ts IS NOT NULL THEN 1 ELSE 0 END)
      |          + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
      |          + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS stage
      |FROM b LEFT JOIN c ON b.user_id = c.user_id
      |       LEFT JOIN p ON b.user_id = p.user_id
      |ORDER BY b.user_id""".stripMargin

  /** Rank tolerance for the approx-sketch gate in [[eventsQuantiles]].
    * GK-style sketches bound RANK error (~1/accuracy), not value
    * error — a value-space compare against the INTERPOLATED exact
    * percentile fails spuriously wherever adjacent order statistics
    * sit >tol apart (observed on the fixture's p95 tail). The gate
    * therefore checks rank: the returned value v spans the empirical
    * rank interval (cdf(< v), cdf(<= v)], and the sketch meets its
    * contract iff that interval comes within tol of the target
    * quantile — BOTH bounds matter, because under heavy ties a single
    * v can legitimately span ranks far on either side of q, where a
    * one-sided |cdf(<= v) - q| check would fail a correct sketch.
    * 0.5% rank at accuracy 10000 is loose enough to never flake,
    * tight enough to catch any wiring mistake. */
  val QuantileApproxRankTol = 0.005

  /** `events_quantiles`: per-type exact p50/p95 of `value`, plus an
    * oracle-visible gate that the mergeable percentile SKETCH lands
    * within [[QuantileApproxRankTol]] rank error.
    *
    * The exact percentile is the oracle-checkable formulation but the
    * wrong 100 TB shape — it buffers every group member for the
    * interpolated rank. `percentile_approx` is the scale path: a
    * single-pass, mergeable, bounded-memory sketch (partial-agg
    * combine works across 1000 executors). Emitting both with the
    * agreement gate makes the scale path oracle-visible — the same
    * pattern as `q_approx_distinct` (HLL) and `similarity_ann_recall`
    * (IVF): the approximate operator ships gated by its exact twin,
    * not unchecked. The exact and sketch aggregates are SEPARATE
    * subplans each referenced once — a single shared aggregate fed to
    * both the CDF pass and the final join would run its exact-
    * percentile merge (the step that buffers every group member)
    * twice; the scan/shuffle below them dedups via ReuseExchange. */
  def eventsQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val sketch = ev.groupBy("event_type").agg(
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)).as("ap"))
      .select(col("event_type"), col("ap")(0).as("v50"), col("ap")(1).as("v95"))
    rankGate(ev, sketch, QuantileApproxRankTol, "approx_ok")
  }

  /** The shared rank-interval gate behind every gated quantile sketch
    * ([[eventsQuantiles]], [[eventsQuantilesKllDaily]],
    * [[eventsKllRange]]): given (event_type, value) rows and a small
    * per-type estimate frame (columns `v50`, `v95`), emit the exact
    * per-type n/p50/p95 (the oracle-pinned columns) beside one boolean
    * `gateName` — both estimates' empirical rank intervals
    * (cdf(<v), cdf(<=v)] within `tol` of their targets (tie-safe; see
    * [[QuantileApproxRankTol]]). The exact and estimate aggregates stay
    * SEPARATE subplans each referenced once — a single shared aggregate
    * fed to both the CDF pass and the final join would run the exact-
    * percentile merge (the step that buffers every group member) twice;
    * the scan/shuffle below them dedups via ReuseExchange. */
  private def rankGate(ev: DataFrame, est: DataFrame, tol: Double,
      gateName: String): DataFrame = {
    val exact = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      percentile(col("value"), lit(0.5)).as("ex50"),
      percentile(col("value"), lit(0.95)).as("ex95"))
    val cdfAt = ev.join(broadcast(est), "event_type")
      .groupBy("event_type").agg(
        avg(when(col("value") <  col("v50"), 1.0d).otherwise(0.0d)).as("cdf50lo"),
        avg(when(col("value") <= col("v50"), 1.0d).otherwise(0.0d)).as("cdf50hi"),
        avg(when(col("value") <  col("v95"), 1.0d).otherwise(0.0d)).as("cdf95lo"),
        avg(when(col("value") <= col("v95"), 1.0d).otherwise(0.0d)).as("cdf95hi"))
    def near(lo: Column, hi: Column, q: Double) =
      lo - tol <= q && hi + tol >= q
    exact.join(cdfAt, "event_type")
      .select(col("event_type"), col("n"),
        round(col("ex50"), 6).as("p50"), round(col("ex95"), 6).as("p95"),
        (near(col("cdf50lo"), col("cdf50hi"), 0.5) &&
          near(col("cdf95lo"), col("cdf95hi"), 0.95)).as(gateName))
      .orderBy("event_type")
  }

  val eventsQuantilesOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       round(quantile_cont(value, 0.5), 6) AS p50,
      |       round(quantile_cont(value, 0.95), 6) AS p95,
      |       CAST(TRUE AS BOOLEAN) AS approx_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** `events_retention`: weekly cohort retention — users grouped by the
    * week of their FIRST event (cohort), counted distinct in every
    * later week they were active, keyed by week offset k. The
    * engagement-analysis primitive behind "what fraction of week-W
    * signups were still active k weeks later".
    *
    * Both engines truncate weeks to Monday 00:00, so `week_k` is an
    * exact multiple-of-7-days division, never a boundary-crossing
    * count (DuckDB's `date_diff('week', ...)` counts crossings — the
    * oracle deliberately uses day-diff // 7 to mean the same thing
    * Spark's `datediff div 7` means).
    *
    * Scale shape: first-event week is a partial-agg min on user_id;
    * the join back rides the same user_id partitioning; the
    * per-(cohort, k) distinct-user count is Spark's standard two-phase
    * distinct aggregate. No window sorts, no per-user arrays. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    // date_trunc yields an instant TIMESTAMP; cast back to NTZ (identity
    // under the UTC session zone GraftSession pins) so the output dtype
    // matches the oracle's naive timestamp in the driver's
    // dtype-sensitive hash.
    import org.apache.spark.sql.types.TimestampNTZType
    val ev = events(spark, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast(TimestampNTZType).as("wk"))
    val cohorts = ev.groupBy("user_id").agg(min("wk").as("cohort_week"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        expr("datediff(wk, cohort_week) div 7").cast(IntegerType).as("week_k"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_k")
  }

  val eventsRetentionOracle: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
      |c AS (
      |  SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id)
      |SELECT c.cohort_week,
      |       CAST(date_diff('day', c.cohort_week, e.wk) // 7 AS INTEGER) AS week_k,
      |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
      |FROM e JOIN c ON e.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Z-score threshold for [[eventsAnomaly]]. */
  val AnomalyZ = 3.0

  /** `events_anomaly`: events whose `value` sits more than
    * [[AnomalyZ]] sample standard deviations from their type's mean —
    * the metric-outlier primitive.
    *
    * Moments are computed from EXACT decimal sums (Σv, Σv²) and only
    * then converted to double: Spark's `stddev_samp` merges central
    * moments in partition order, which is nondeterministic across
    * runs and engines in the low bits — and a low-bit flicker under an
    * `abs(z) > 3` cutoff moves borderline ROWS in and out of the
    * result, not just digits. Exact sums are order-independent, so
    * the derived mean/variance/z are bit-stable and the oracle
    * replays the identical double arithmetic from the identical sums.
    * (Same decimal-aggregation convention as `sessionize`'s
    * sum_value.)
    *
    * 100 TB shape: one partial-agg pass for the per-type sums (a
    * types-count row result — broadcast), one map-side join + filter
    * pass for the z-scores. The textbook Σv² − (Σv)²/n cancellation
    * caveat is bounded here by the decimal exactness of both sums. */
  /** Per-type exact moment sums (n, Σv, Σv²) — the trained baseline
    * the z-filter scores against. Shared by the batch operator and
    * the streaming dual ([[graft.streaming.EventStream]]), where it is
    * the precomputed static side of a stream-static broadcast join. */
  private[graft] def anomalyStats(ev: DataFrame): DataFrame =
    ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("value").cast(DecimalType(28, 2))).cast("double").as("s1"),
      sum((col("value") * col("value")).cast(DecimalType(28, 4)))
        .cast("double").as("s2"))

  /** z of `value` against the joined (n, s1, s2) stats columns.
    * nullif guards, not bare division: this runtime is default-ANSI
    * (Spark 4) where even DOUBLE division by zero THROWS — an
    * event_type with exactly one event (n-1 = 0) or zero variance
    * (sd = 0) would otherwise kill the whole query, while the DuckDB
    * oracle yields NULL z and the |z| filter silently drops the row.
    * The null propagates through the comparison to the same drop. */
  private[graft] def zExpr: Column = {
    val mean = col("s1") / col("n")
    val sd = sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
      nullif(col("n") - 1, lit(0L)))
    (col("value") - mean) / nullif(sd, lit(0.0))
  }

  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.join(broadcast(anomalyStats(ev)), "event_type")
      .select(col("event_id"), col("event_type"), col("value"), zExpr.as("z"))
      .where(abs(col("z")) > AnomalyZ)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z"))
      .orderBy("event_id")
  }

  val eventsAnomalyOracle: String =
    s"""WITH s AS (
       |  SELECT event_type, count(*) AS n,
       |         CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS s1,
       |         CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS s2
       |  FROM events GROUP BY 1),
       |z AS (
       |  SELECT e.event_id, e.event_type, e.value,
       |         (e.value - s.s1 / s.n)
       |           / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) AS z
       |  FROM events e JOIN s USING (event_type))
       |SELECT event_id, event_type, value, round(z, 6) AS z
       |FROM z WHERE abs(z) > $AnomalyZ ORDER BY event_id""".stripMargin

  // ----------------------------------------------- sequence path mining

  /** Top-K size for [[eventsTopPaths]]. */
  val PathTopK = 20

  /** `events_top_paths`: the K most common 3-step event-type paths
    * (behavioral sequence mining — the "what do users do before
    * purchasing" primitive). A path is three consecutive events of one
    * user in (ts, event_id) order; the event_id tiebreak makes
    * equal-timestamp sequences deterministic across engines. Total
    * order (count desc, path asc) pins ties at the cut.
    *
    * 100 TB shape: one shuffle on user_id for the lead() window
    * (partition-local sort within each user's slice), then a
    * partially-aggregated count whose shuffle carries one row per
    * distinct path per task (path cardinality = |event_types|³ — tiny),
    * then `orderBy.limit` plans as TakeOrderedAndProject so the global
    * sort never materializes. The final row_number window runs over K
    * rows, not the stream. */
  def eventsTopPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val paths = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      // All three steps non-null: concat_ws silently SKIPS nulls
      // (a null middle step would collapse 'a>NULL>c' to 'a>c'),
      // while the oracle's || propagates them — filter both engines
      // identically so a null event_type can never fork the counts.
      .where(col("e3").isNotNull && col("e2").isNotNull &&
        col("event_type").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
    val counted = paths.groupBy("path").agg(count(lit(1)).as("n"))
    val rw = Window.orderBy(col("n").desc, col("path"))
    counted.orderBy(col("n").desc, col("path")).limit(PathTopK)
      .withColumn("rank", row_number().over(rw).cast(IntegerType))
      .select(col("rank"), col("path"), col("n"))
  }

  val eventsTopPathsOracle: String =
    s"""WITH s AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         lead(event_type, 1) OVER w AS e2,
       |         lead(event_type, 2) OVER w AS e3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path
       |      FROM s WHERE e3 IS NOT NULL AND e2 IS NOT NULL
       |        AND event_type IS NOT NULL),
       |c AS (SELECT path, count(*) AS n FROM p GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS INTEGER) AS rank,
       |       path, CAST(n AS BIGINT) AS n
       |FROM c ORDER BY n DESC, path LIMIT $PathTopK""".stripMargin

  // ------------------------------------------------- value histograms

  /** Bucket width for [[eventsHistogram]]. */
  val HistWidth = 5.0

  /** `events_histogram`: fixed-width value histogram per event type —
    * the distribution-profiling primitive (drift monitoring, outlier
    * triage, approx-quantile sanity checks). Bucket index is
    * `floor(value / width)` on IEEE doubles: both engines perform the
    * identical divide-then-floor, so borderline values land in the
    * same bucket bit-for-bit; negative values floor toward −∞ (bucket
    * −1 covers [−width, 0)) rather than truncating toward zero, which
    * would double-width the zero bucket.
    *
    * 100 TB shape: a single partially-aggregated groupBy — map-side
    * combine reduces the shuffle to one row per (type, bucket) per
    * task, and bucket cardinality is value-range/width, independent
    * of row count. No window, no second pass. */
  def eventsHistogram(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        floor(col("value") / HistWidth).cast(LongType).as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        (col("bucket") * HistWidth).as("bucket_lo"), col("n"))
      .orderBy("event_type", "bucket")

  val eventsHistogramOracle: String =
    s"""WITH b AS (
       |  SELECT event_type,
       |         CAST(floor(value / $HistWidth) AS BIGINT) AS bucket
       |  FROM events)
       |SELECT event_type, bucket,
       |       CAST(bucket * $HistWidth AS DOUBLE) AS bucket_lo,
       |       count(*) AS n
       |FROM b GROUP BY event_type, bucket
       |ORDER BY event_type, bucket""".stripMargin

  // ------------------------------------------------- rolling actives

  /** Trailing window width for [[eventsRollingActives]], in days. */
  val RollingDays = 7

  /** `events_rolling_actives`: DAU + trailing-7-day WAU per day — the
    * engagement primitive every event pipeline reports. A day's WAU is
    * the distinct users active in `[day-6, day]`.
    *
    * 100 TB shape: the event log collapses FIRST to the distinct
    * (day, user) activity table — one partial-agg shuffle, output
    * bounded by users x days, the standard DAU fact. Each activity row
    * then fans out map-side to the <=7 window days it contributes to
    * (explode over a 7-element date sequence — cost scales with the
    * ACTIVITY table, never the raw log), a broadcast semi-join against
    * the tiny day dimension drops window days past the data's end, and
    * WAU is a standard two-phase distinct aggregate per day. The
    * rejected alternative — a 7-row range window over per-day user
    * sets — would hold collect_set state per day and sort; this shape
    * has no windows and no per-group arrays. */
  def eventsRollingActives(spark: SparkSession, dir: String): DataFrame = {
    val du = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = du.select(col("day")).distinct()
    val contrib = du.select(
      explode(sequence(col("day"), date_add(col("day"), RollingDays - 1)))
        .as("day"),
      col("user_id"))
    val wau = contrib.join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day").agg(countDistinct(col("user_id")).as("active_7d"))
    val dau = du.groupBy("day").agg(count(lit(1)).as("active_1d"))
    dau.join(wau, Seq("day")).orderBy("day")
  }

  val eventsRollingActivesOracle: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       |days AS (SELECT DISTINCT day FROM du),
       |contrib AS (
       |  SELECT d.day, u.user_id
       |  FROM days d JOIN du u ON d.day BETWEEN u.day AND u.day + ${RollingDays - 1}),
       |wau AS (SELECT day, count(DISTINCT user_id) AS active_7d
       |        FROM contrib GROUP BY day),
       |dau AS (SELECT day, count(*) AS active_1d FROM du GROUP BY day)
       |SELECT d.day AS day, dau.active_1d, wau.active_7d
       |FROM days d JOIN dau ON dau.day = d.day JOIN wau ON wau.day = d.day
       |ORDER BY day""".stripMargin

  /** Relative-error gate for [[eventsSketchActives]]. Datasketches HLL
    * at the default lgK=12 carries ~1.6% relative standard error; 5%
    * is ~3 standard errors — the same gated-approx pattern as
    * `q_approx_distinct` / the ANN recall entries. */
  val SketchActivesBound = 0.05

  /** `events_sketch_actives`: trailing-7-day actives via MERGEABLE HLL
    * sketches — the 100 TB form of [[eventsRollingActives]]. The event
    * log is touched ONCE (a partially-aggregated per-day
    * `hll_sketch_agg` — sketches merge map-side like any partial agg);
    * every window then derives from UNIONS of the tiny per-day sketch
    * table (days x ~1.5 KB), never re-exploding per-user activity.
    * That mergeability is the point: the daily sketch table is the
    * stored artifact, and WAU/MAU/arbitrary ranges all reaggregate
    * from it without re-touching the log — the exact operator's
    * explode cost scales with users x days, this one's with days.
    * Emits the exact WAU next to the estimate's gate (estimate
    * within [[SketchActivesBound]]), so the oracle pins the exact
    * column and the gate is oracle-visible. */
  def eventsSketchActives(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val days = daily.select(col("day"))
    val est = daily.select(
        explode(sequence(col("day"), date_add(col("day"), RollingDays - 1)))
          .as("day"),
        col("sk"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    eventsRollingActives(spark, dir).select(col("day"), col("active_7d"))
      .join(est, Seq("day"))
      .select(col("day"), col("active_7d"),
        (abs(col("est") - col("active_7d")).cast("double") / col("active_7d")
          <= SketchActivesBound).as("sketch_within_bound"))
      .orderBy("day")
  }

  val eventsSketchActivesOracle: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       |days AS (SELECT DISTINCT day FROM du),
       |contrib AS (
       |  SELECT d.day, u.user_id
       |  FROM days d JOIN du u ON d.day BETWEEN u.day AND u.day + ${RollingDays - 1}),
       |wau AS (SELECT day, count(DISTINCT user_id) AS active_7d
       |        FROM contrib GROUP BY day)
       |SELECT day, active_7d, CAST(TRUE AS BOOLEAN) AS sketch_within_bound
       |FROM wau ORDER BY day""".stripMargin

  /** Theta geometry for [[eventsRetentionSketch]]: Spark's built-in
    * DataSketches `theta_sketch_agg` at lgNomEntries = 10, i.e. 1024
    * nominal entries. That keeps the per-day sketch EXACT at the verify
    * scale (sf0.01 has ~134 distinct users/day; even sf0.1's ~1336 only
    * just exceeds it) while still a few KB — and at web scale bounds
    * state at ~8 KB/day regardless of user count. The 10% gate is ~3
    * standard errors of the intersection estimator at this size and the
    * fixture's day-over-day overlap (RSE ≈ sqrt(|A ∪ B| / (k·|A ∩ B|))
    * ≈ 3.4% at |∪|/|∩| ≈ 1.2), the [[SketchActivesBound]] discipline. */
  val ThetaLgNomEntries = 10
  val ThetaRetentionBound = 0.10

  /** `events_retention_sketch`: day-over-day retained users via
    * INTERSECTABLE theta sketches — the set-operation query the HLL
    * lane ([[eventsSketchActives]]) cannot express: HLL sketches union
    * but never intersect, so "users active on BOTH day d and d+1" from
    * two per-day blobs needs theta's comparable hash samples (Spark's
    * built-in `theta_intersection`). The event log is touched ONCE
    * into per-day sketches (a partially-aggregated `theta_sketch_agg` —
    * map-side combined like any partial agg, ~8 KB each); every
    * consecutive-day estimate then reads off the tiny sketch table via
    * a self-join on adjacent days — at 100 TB the retention matrix
    * costs days² sketch comparisons of a few KB each, ZERO log
    * re-reads, where the exact form's distinct-pair self-join
    * re-shuffles user×day rows for every pair. The exact side here
    * powers the oracle-pinned `retained` column and the gate (estimate
    * within [[ThetaRetentionBound]]), the standard gated-approx
    * discipline. */
  def eventsRetentionSketch(spark: SparkSession, dir: String): DataFrame = {
    val du = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = du.groupBy("day")
      .agg(theta_sketch_agg(col("user_id"), ThetaLgNomEntries).as("sk"))
    val nextDay = daily.select(date_sub(col("day"), 1).as("day"), col("sk").as("sk_next"))
    val est = daily.join(nextDay, Seq("day"))
      .select(col("day"),
        theta_sketch_estimate(theta_intersection(col("sk"), col("sk_next"))).as("est"))
    val exact = du.dropDuplicates("day", "user_id").as("a")
      .join(du.dropDuplicates("day", "user_id").as("b"),
        col("b.day") === date_add(col("a.day"), 1) &&
          col("a.user_id") === col("b.user_id"))
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("retained"))
    exact.join(est, Seq("day"))
      .select(col("day"), col("retained"),
        (abs(col("est") - col("retained")) / col("retained")
          <= ThetaRetentionBound).as("sketch_within_bound"))
      .orderBy("day")
  }

  val eventsRetentionSketchOracle: String =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
      |SELECT a.day AS day, count(*) AS retained,
      |       CAST(TRUE AS BOOLEAN) AS sketch_within_bound
      |FROM du a JOIN du b ON b.day = a.day + 1 AND a.user_id = b.user_id
      |GROUP BY a.day ORDER BY a.day""".stripMargin

  /** Gate for [[eventsChurnSketch]]. The difference estimator's RSE
    * scales with sqrt(|A ∪ B| / (k·|A \ B|)) — churned users are the
    * SMALL slice of a day's actives on this fixture (sf0.1: ~146
    * churned of ~1336 actives/day), so at the same k the relative
    * error runs wider than retention's. Measured at sf0.1: max 13.95% /
    * mean 3.6% over 29 day pairs (tools/ChurnProbe). The margin to 15%
    * is thin but deterministic — DataSketches hashes with a fixed seed,
    * so the same data always draws the same sample; sf0.001/0.01 are
    * below capacity and exact. */
  val ThetaChurnBound = 0.15

  /** `events_churn_sketch`: day-over-day CHURNED users (active on day d,
    * gone on day d+1) via theta set-DIFFERENCE — the third set operation
    * off the same per-day sketch table whose intersection powers
    * [[eventsRetentionSketch]]: union (actives), intersect (retention),
    * a-not-b (churn) now all read from one stored artifact. The log is
    * touched once into per-day sketches (partial-agg map-side combine,
    * ~8 KB each); every consecutive-day churn estimate is one
    * `theta_difference` of two blobs — at 100 TB the whole churn
    * series costs days sketch comparisons and ZERO log re-reads, where
    * the exact form re-shuffles user×day rows per day pair. The exact
    * side powers the oracle-pinned `churned` column and the gate
    * (estimate within [[ThetaChurnBound]]), the standard gated-approx
    * discipline.
    * Days whose successor day has no events at all drop (no sketch to
    * difference against — same edge as the retention sketch's inner
    * join), as do all-retained days (the exact inner count group). */
  def eventsChurnSketch(spark: SparkSession, dir: String): DataFrame =
    eventsChurnDetail(spark, dir)
      .select(col("day"), col("churned"),
        (abs(col("est") - col("churned")) / col("churned")
          <= ThetaChurnBound).as("sketch_within_bound"))
      .orderBy("day")

  /** (day, churned, est) — the query above minus the gate projection,
    * shared with tools/ChurnProbe so the measured headroom prices THIS
    * pipeline, never a drifted copy. */
  private[graft] def eventsChurnDetail(spark: SparkSession, dir: String): DataFrame = {
    val du = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = du.groupBy("day")
      .agg(theta_sketch_agg(col("user_id"), ThetaLgNomEntries).as("sk"))
    val nextDay = daily.select(date_sub(col("day"), 1).as("day"), col("sk").as("sk_next"))
    val est = daily.join(nextDay, Seq("day"))
      .select(col("day"),
        theta_sketch_estimate(theta_difference(col("sk"), col("sk_next"))).as("est"))
    val du1 = du.dropDuplicates("day", "user_id")
    val nextUsers = du1.select(date_sub(col("day"), 1).as("day"), col("user_id"))
    val exact = du1
      .join(nextUsers, Seq("day", "user_id"), "left_anti")
      .groupBy("day").agg(count(lit(1)).as("churned"))
    exact.join(est, Seq("day"))
  }

  val eventsChurnSketchOracle: String =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
      |SELECT a.day AS day, count(*) AS churned,
      |       CAST(TRUE AS BOOLEAN) AS sketch_within_bound
      |FROM du a
      |WHERE EXISTS (SELECT 1 FROM du d WHERE d.day = a.day + 1)
      |  AND NOT EXISTS (SELECT 1 FROM du b
      |                  WHERE b.day = a.day + 1 AND b.user_id = a.user_id)
      |GROUP BY a.day ORDER BY a.day""".stripMargin

  /** Gap of [[eventsRetentionRange]]'s day pair: first range day vs
    * the day a week later. */
  val RetentionRangeGapDays = 7

  /** `events_retention_range`: week-apart retained users answered from
    * the STORED daily theta sketch table — the payoff
    * [[eventsRetentionSketch]] promises, and the set-operation twin of
    * [[eventsKllRange]]. The per-day sketch table persists as a
    * content-fingerprinted [[IndexStore]] artifact (load-not-rebuild
    * across processes, like the KLL daily table and the ANN
    * codebooks); this query then intersects exactly TWO ~8 KB blobs —
    * at 100 TB any day-pair retention question is two blob reads and
    * one `theta_intersection`, ZERO log reads, where the exact form
    * re-shuffles both days' user sets per question. The range bounds
    * ride as a broadcast single-row scalar (min day — no driver
    * action); the exact side re-reads the log only to power the
    * oracle-pinned `retained` column and the gate, the standard
    * gated-approx discipline. */
  def eventsRetentionRange(spark: SparkSession, dir: String): DataFrame = {
    val daily = IndexStore.loadOrBuild(spark, dir, "events", "theta_daily_v2") {
      events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy("day").agg(theta_sketch_agg(col("user_id"), ThetaLgNomEntries).as("sk"))
    }
    val bounds = broadcast(daily.agg(min(col("day")).as("day_lo"))
      .select(col("day_lo"),
        date_add(col("day_lo"), RetentionRangeGapDays).as("day_hi")))
    // two broadcast equi-joins pick the two blobs; aggregating the (0 or
    // 1 row) pair keeps the output one row even when day_hi has no
    // sketch — no events that day means the true intersection is 0, and
    // the coalesce makes the estimate say so instead of going null
    val est = daily.join(bounds, col("day") === col("day_lo"))
      .select(col("sk").as("sk_lo"))
      .crossJoin(daily.join(bounds, col("day") === col("day_hi"))
        .select(col("sk").as("sk_hi")))
      .agg(coalesce(
        max(theta_sketch_estimate(theta_intersection(col("sk_lo"), col("sk_hi")))),
        lit(0L)).as("est"))
    val du = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .dropDuplicates("day", "user_id")
    val exact = du.join(bounds, col("day") === col("day_lo")).select(col("user_id"))
      .join(du.join(bounds, col("day") === col("day_hi")).select(col("user_id")),
        Seq("user_id"))
      .agg(count(lit(1)).as("retained"))
    // zero-retained day pairs are representable here (this agg always
    // emits one row, unlike eventsRetentionSketch's inner join): the
    // gate then demands an exactly-zero estimate — no common sample
    // hash exists without a common user — rather than dividing by zero
    exact.crossJoin(broadcast(est)).crossJoin(bounds)
      .select(col("day_lo"), col("day_hi"), col("retained"),
        when(col("retained") === 0, col("est") === 0L)
          .otherwise(abs(col("est") - col("retained")) / col("retained")
            <= ThetaRetentionBound).as("sketch_within_bound"))
  }

  val eventsRetentionRangeOracle: String =
    s"""WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo FROM events),
       |u1 AS (SELECT DISTINCT e.user_id FROM events e, b
       |       WHERE CAST(e.ts AS DATE) = b.lo),
       |u2 AS (SELECT DISTINCT e.user_id FROM events e, b
       |       WHERE CAST(e.ts AS DATE) = b.lo + $RetentionRangeGapDays)
       |SELECT b.lo AS day_lo, b.lo + $RetentionRangeGapDays AS day_hi,
       |       (SELECT count(*) FROM u1 JOIN u2 USING (user_id)) AS retained,
       |       CAST(TRUE AS BOOLEAN) AS sketch_within_bound
       |FROM b""".stripMargin

  /** KLL geometry for [[eventsQuantilesKllDaily]]: Spark's built-in
    * DataSketches `kll_sketch_agg_double` at k=256 concentrates rank
    * error well inside ±1%; the gate allows 1.5% — the same ~3-sigma
    * headroom [[SketchActivesBound]] gives HLL, loose enough to never
    * flake under the sketch's randomized compaction and partial-merge
    * order, tight enough to catch any wiring mistake. */
  val KllK = 256
  val KllRankTol = 0.015

  /** `events_quantiles_kll_daily`: per-type quantiles via a DURABLE
    * mergeable KLL sketch table — the 100 TB form of
    * [[eventsQuantiles]]'s inline `percentile_approx`, and the
    * quantile twin of [[eventsSketchActives]]'s daily HLL table. The
    * event log is touched once into per-(type, day) sketches (Spark's
    * built-in `kll_sketch_agg_double`, ~KB each, map-side combined like
    * any partial agg); the per-type quantile then reads off a MERGE of
    * the daily blobs — the stored sketch table answers arbitrary date
    * ranges later without re-touching the log, which the built-in
    * `percentile_approx` (sketch confined to one query's buffer)
    * cannot. Emits the exact p50/p95 (oracle-pinned) next to the
    * sketch's rank-interval gate: the returned value v spans empirical
    * ranks (cdf(<v), cdf(<=v)], and the sketch meets its contract iff
    * that interval comes within [[KllRankTol]] of the target — the
    * [[QuantileApproxRankTol]] discipline, both bounds, tie-safe. */
  def eventsQuantilesKllDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("ts"), col("value"))
    val daily = ev
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy("event_type", "day")
      .agg(kll_sketch_agg_double(col("value"), KllK).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(kll_merge_agg_double(col("sk")).as("sk"))
      .select(col("event_type"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("v50"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.95)).as("v95"))
    rankGate(ev.select(col("event_type"), col("value")), merged,
      KllRankTol, "kll_within_bound")
  }

  val eventsQuantilesKllOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       round(quantile_cont(value, 0.5), 6) AS p50,
      |       round(quantile_cont(value, 0.95), 6) AS p95,
      |       CAST(TRUE AS BOOLEAN) AS kll_within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Day count of [[eventsKllRange]]'s re-aggregated window. */
  val KllRangeDays = 7

  /** `events_kll_range`: an arbitrary date-range quantile answered
    * from the STORED daily sketch table — the payoff
    * [[eventsQuantilesKllDaily]] promises. The per-(type, day) KLL
    * table persists as a content-fingerprinted [[IndexStore]] artifact
    * (load-not-rebuild across processes, like the BPE merges and ANN
    * codebooks); this query then merges only the first
    * [[KllRangeDays]]-day window's blobs per type — at 100 TB the
    * sketch side of any range query is a few KB per (type, day)
    * touched, ZERO log reads. The range bound rides as a broadcast
    * single-row scalar (min day — no driver action, no re-shuffle).
    * The exact side re-reads the log only to power the oracle-pinned
    * columns and the rank-interval gate, the standard gated-approx
    * discipline. */
  def eventsKllRange(spark: SparkSession, dir: String): DataFrame = {
    val daily = IndexStore.loadOrBuild(spark, dir, "events", "kll_daily_v2") {
      events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy("event_type", "day")
        .agg(kll_sketch_agg_double(col("value"), KllK).as("sk"))
    }
    val bounds = broadcast(daily.agg(min(col("day")).as("lo"))
      .select(col("lo"), date_add(col("lo"), KllRangeDays - 1).as("hi")))
    val merged = daily
      .join(bounds, col("day").between(col("lo"), col("hi")))
      .groupBy("event_type").agg(kll_merge_agg_double(col("sk")).as("sk"))
      .select(col("event_type"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("v50"),
        kll_sketch_get_quantile_double(col("sk"), lit(0.95)).as("v95"))
    val ev = events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .join(bounds, col("day").between(col("lo"), col("hi")))
      .select(col("event_type"), col("value"))
    rankGate(ev, merged, KllRankTol, "kll_within_bound")
  }

  val eventsKllRangeOracle: String =
    s"""WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo FROM events),
       |e AS (SELECT event_type, value FROM events, b
       |      WHERE CAST(ts AS DATE) BETWEEN b.lo AND b.lo + ${KllRangeDays - 1})
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |       round(quantile_cont(value, 0.5), 6) AS p50,
       |       round(quantile_cont(value, 0.95), 6) AS p95,
       |       CAST(TRUE AS BOOLEAN) AS kll_within_bound
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Value-partition count for the salted exact-distinct shape. 16
    * bounds the final merge at 16 rows per group key while splitting a
    * hot key's distinct-value stream 16 ways; at a real cluster scale
    * this dial rises toward the executor count. */
  val DistinctSaltN = 16

  /** `events_distinct_salted`: EXACT distinct users per event type via
    * the two-phase SALTED aggregation — the skew-handling shape the
    * 100 TB design calls for when a group key is hot. Spark's own
    * distinct rewrite already dedups on (key, value) with partial
    * combine, but its SECOND phase concentrates every distinct value
    * of a key onto that key's single reducer: a key with a billion
    * distinct users makes one straggler task. Salting by
    * hash(value) % [[DistinctSaltN]] splits exactly that stream —
    * each (key, salt) reducer dedups a disjoint 1/N of the key's
    * values (disjoint BY VALUE, so per-salt counts add up exactly;
    * any salt function of the value gives the same final result,
    * which is why Spark's non-portable hash() is fine under a DuckDB
    * value oracle) — and the final merge is [[DistinctSaltN]] tiny
    * rows per key. The same two-phase rewrite is how every algebraic
    * skew-salting works; count-distinct is the demonstrator because
    * its built-in plan genuinely has the hot-reducer phase. */
  def eventsDistinctSalted(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"), col("user_id"),
        pmod(hash(col("user_id")), lit(DistinctSaltN)).as("salt"))
      .groupBy("event_type", "salt")
      .agg(countDistinct(col("user_id")).as("pu"))
      .groupBy("event_type")
      .agg(sum(col("pu")).as("distinct_users"))
      .orderBy("event_type")

  val eventsDistinctSaltedOracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS distinct_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Attribution window of [[eventsAttribution]] in hours — clicks
    * credit a view up to this far back. 6 h keeps the pair set
    * non-trivial at every fixture SF (25 / 246 / 2171 pairs). */
  val AttribWindowHours = 6

  /** `events_attribution`: view→click attribution — every (view,
    * click) pair of the same user where the click lands within
    * [[AttribWindowHours]] after the view, the canonical two-stream
    * interval join of ad/event pipelines (and the batch dual of
    * [[graft.streaming.EventStream.attributionStream]]'s watermarked
    * stream-stream join).
    *
    * 100 TB shape: an EQUI join on user_id with the time range as a
    * residual predicate — both sides shuffle once on the key, per-key
    * work is views×clicks of that user inside the window (bounded by
    * user activity, AQE skew-split applicable), and no nested-loop
    * plan can form because the equality key exists. The streaming twin
    * runs the identical condition with watermarks bounding both
    * sides' state to the window + lateness horizon — the property
    * that makes the join runnable forever. */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    v.join(c, Seq("user_id"))
      .where(col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $AttribWindowHours HOURS"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
      .orderBy("view_id", "click_id")
  }

  val eventsAttributionOracle: String =
    s"""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       |       v.ts AS view_ts, c.ts AS click_ts
       |FROM events v JOIN events c
       |  ON v.user_id = c.user_id
       | AND v.event_type = 'view' AND c.event_type = 'click'
       | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL $AttribWindowHours HOUR
       |ORDER BY view_id, click_id""".stripMargin

  /** `events_attribution_last_touch`: each click credits ONLY the
    * latest view at or before it within [[AttribWindowHours]] — the
    * production attribution shape. Where [[eventsAttribution]] is
    * contract-quadratic per user (ALL qualifying pairs: one bot user
    * with 10⁴ views × 10⁴ clicks in-window emits 10⁸ rows from one
    * key), last-touch is linear by construction: exactly one output
    * row per click, attributed or not.
    *
    * Built on [[AsOf.asofJoin]] — the single-shuffle union-window
    * log-merge, so the 100 TB plan has ONE exchange on user_id and
    * per-key state of one carried row; no pair set ever materializes,
    * no inequality join exists in the plan. The window bound applies
    * AFTER the as-of attach: the latest view ≤ click is the latest
    * in-window view whenever it is in-window, and no view qualifies
    * otherwise — so (view_id, view_ts) null out atomically past the
    * horizon. Views are deduped to one row per (user, instant) with
    * the max view_id (ties at an instant are unspecified in both
    * engines' as-of, so the rule is made explicit and replayed by the
    * oracle verbatim). */
  def eventsAttributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts").as("view_ts"))
      .agg(max(col("event_id")).as("view_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val inWin = col("view_ts").isNotNull &&
      col("view_ts") >= col("click_ts") - expr(s"INTERVAL $AttribWindowHours HOURS")
    AsOf.asofJoin(c, v, Seq("user_id"), "click_ts", "view_ts")
      .select(col("user_id"), col("click_id"), col("click_ts"),
        when(inWin, col("view_id")).as("view_id"),
        when(inWin, col("view_ts")).as("view_ts"))
      .orderBy("click_id")
  }

  val eventsAttributionLastTouchOracle: String =
    s"""WITH v AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_id
       |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
       |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
       |      FROM events WHERE event_type = 'click')
       |SELECT c.user_id, c.click_id, c.click_ts,
       |  CASE WHEN v.view_ts >= c.click_ts - INTERVAL $AttribWindowHours HOUR
       |       THEN v.view_id END AS view_id,
       |  CASE WHEN v.view_ts >= c.click_ts - INTERVAL $AttribWindowHours HOUR
       |       THEN v.view_ts END AS view_ts
       |FROM c ASOF LEFT JOIN v
       |  ON c.user_id = v.user_id AND c.click_ts >= v.view_ts
       |ORDER BY click_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_attribution" -> (eventsAttribution _),
    "events_attribution_last_touch" -> (eventsAttributionLastTouch _),
    "events_distinct_salted" -> (eventsDistinctSalted _),
    "events_sessionize" -> (sessionize _),
    "events_sessionize_native" -> (sessionizeNative _),
    "events_window" -> (eventsWindow _),
    "events_user_activity" -> (userActivity _),
    "events_json_props" -> (eventsJsonProps _),
    "events_funnel" -> (eventsFunnel _),
    "events_quantiles" -> (eventsQuantiles _),
    "events_quantiles_kll_daily" -> (eventsQuantilesKllDaily _),
    "events_kll_range" -> (eventsKllRange _),
    "events_retention" -> (eventsRetention _),
    "events_retention_sketch" -> (eventsRetentionSketch _),
    "events_churn_sketch" -> (eventsChurnSketch _),
    "events_retention_range" -> (eventsRetentionRange _),
    "events_anomaly" -> (eventsAnomaly _),
    "events_top_paths" -> (eventsTopPaths _),
    "events_histogram" -> (eventsHistogram _),
    "events_rolling_actives" -> (eventsRollingActives _),
    "events_sketch_actives" -> (eventsSketchActives _),
  )

  def oracleSql: Map[String, String] = Map(
    "events_attribution" -> eventsAttributionOracle,
    "events_attribution_last_touch" -> eventsAttributionLastTouchOracle,
    "events_distinct_salted" -> eventsDistinctSaltedOracle,
    "events_sessionize" -> sessionizeOracle,
    "events_sessionize_native" -> sessionizeNativeOracle,
    "events_window" -> eventsWindowOracle,
    "events_user_activity" -> userActivityOracle,
    "events_json_props" -> eventsJsonPropsOracle,
    "events_funnel" -> eventsFunnelOracle,
    "events_quantiles" -> eventsQuantilesOracle,
    "events_quantiles_kll_daily" -> eventsQuantilesKllOracle,
    "events_kll_range" -> eventsKllRangeOracle,
    "events_retention" -> eventsRetentionOracle,
    "events_retention_sketch" -> eventsRetentionSketchOracle,
    "events_churn_sketch" -> eventsChurnSketchOracle,
    "events_retention_range" -> eventsRetentionRangeOracle,
    "events_anomaly" -> eventsAnomalyOracle,
    "events_top_paths" -> eventsTopPathsOracle,
    "events_histogram" -> eventsHistogramOracle,
    "events_rolling_actives" -> eventsRollingActivesOracle,
    "events_sketch_actives" -> eventsSketchActivesOracle,
  )
}
