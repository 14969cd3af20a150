package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Session-construction defaults shared by every graft entry point
  * (Verify, Bench, Cli, tests, tools).
  *
  * `spark.sql.legacy.parquet.nanosAsLong` lives HERE, not inside a
  * query builder: the events fixture carries TIMESTAMP(NANOS), a
  * parquet type Spark rejects outright unless the conf is on, and the
  * conf is read at scan time — so it must be session-scoped, set once
  * at construction, never mutated mid-plan (a `conf.set` inside a
  * query builder is a global side effect on every subsequently planned
  * query).
  */
object GraftSession {

  /** Apply graft's required session confs to a builder.
    *
    * `InferFiltersFromGenerate` is excluded: it plants a
    * `size(generatorInput) > 0` filter under every explode, and when
    * the generator input is a computed array (the dedup shingle sets,
    * LSH band arrays, IVF probe lists — all non-empty BY CONSTRUCTION)
    * the filter substitutes the whole array expression — interpreted
    * higher-order functions included — into a per-row scan filter,
    * evaluating it twice. Measured: dedup_minhash 7.5s -> 1.6s,
    * corpus_clean 7.2s -> 1.7s at sf0.1/8 cores. The rule only pays
    * off for stored array columns that are frequently empty, which
    * this engine does not have. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // TypedImperativeAggregates run in ObjectHashAggregateExec, which
      // abandons the hash map and SORTS its whole input once a task
      // sees >threshold distinct groups — and the default is 128. The
      // engine's object aggregates ([[graft.functions.TopK]]) hold
      // BOUNDED k-entry buffers (~150 B/group), so hash mode at 4096
      // groups is ~600 KB of task state, while the sort fallback
      // re-sorts millions of scored pairs: measured on similarity_topk
      // at sf0.1 (2k queries/task), 128 -> 4096 cut the query 3.8 ->
      // 2.7 s. Unbounded-state aggs (collect_list) still get the
      // fallback, 32x later — acceptable for 4 KB rows, and those
      // queries group by low-cardinality keys here.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.ui.enabled", "false")

  /** Standard local session for mains: `local[cores]`, shuffle
    * parallelism = cores (not the 200 default — sized to the machine;
    * on a real cluster this is cores×executors, set by the submitter). */
  def local(cores: Int, appName: String): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // SQL surface on by default in every engine entry point; a session
    // built elsewhere gets it via spark.sql.extensions=graft.GraftExtensions
    // (getOrCreate may return an existing session, where the
    // construction-time extension hook can no longer run — live
    // registration covers both).
    GraftExtensions.register(s)
    s
  }

  /** The session's Hadoop conf as ONE broadcast per job (Spark's own
    * `broadcastedHadoopConf` shape) for executor-side FileSystem use,
    * so fs.defaultFS and object-store credentials reach the tasks. A
    * closure-captured `SerializableConfiguration` (~1k properties) is
    * serialized into the task binary and deserialized again by EVERY
    * task (~10 ms each on a 4-vCPU VM); a broadcast is deserialized
    * once per executor, and under `local[N]` tasks read the driver's
    * copy. The conf is copied first, so later driver-side edits never
    * reach a running job. Callers that own the job `destroy()` it
    * afterwards; a lazily returned plan leaves it to the
    * ContextCleaner. */
  def broadcastHadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(
      new Configuration(spark.sparkContext.hadoopConfiguration)))
}
