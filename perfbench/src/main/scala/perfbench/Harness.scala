package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Cli, GraftSession, SparkEntry}
import graft.ops.IndexStore
import graft.parse.FixedWidthParser
import graft.registry.{InMemorySchemaRegistry, SchemaRegistryClient}
import graft.schema.FixedSchema
import graft.sinks.KafkaStage
import graft.sources.{FixedWidth, KafkaConsume, Ocf}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The measured process: one JVM, one `local[4]` session, one client
  * issuing one pass at a time (closed loop).
  *
  * {{{
  * perfbench.Harness --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *   --input <dir> --work <dir> --result <file> --budget-s <s> [--first-only 1]
  * }}}
  *
  * `--first-only 1` stops after the first pass: one more sample of
  * setup_s and first_pass_s, each from a fresh JVM.
  *
  * Untraced (`--trace 0`) it times a first pass and then warm passes
  * for `--seconds`, and checks the last pass's output; weblog_ocf then
  * stages the corpus once on the Kafka path and times its decode. Traced it
  * attaches a [[Probe]], alternates untraced and traced passes (their
  * difference is the tracing overhead), times a ladder of prefix calls
  * into the program's public functions to split a pass into layers,
  * and times one pass on `local[1]`. The result is one JSON object in
  * `--result`. */
object Harness {

  val Cores = 4
  val Queries: Seq[String] = Seq(
    "similarity_ann_ivfpq_filtered", "similarity_topk",
    "corpus_lm_score", "doc_tfidf", "text_pii_scrub",
    "corpus_clean_clustered", "dedup_embedding", "dedup_minhash",
    "events_retention_sketch", "events_quantiles_kll_daily",
    "q1_pricing")
  val ToolkitTables: Seq[String] = Seq("documents", "embeddings", "events", "lineitem")
  val WarmupS = 3.0

  /** Metric name → (value, unit), in insertion order. */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  }

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def has(k: String): Boolean = m.contains(k)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(cores: Int, work: File): SparkSession = {
    val s = GraftSession.local(cores, s"perfbench-local$cores")
    // Index artifacts of this run only: every run's first pass builds
    // them, as a process over a fresh snapshot does.
    s.conf.set(IndexStore.RootConf, new File(work, "index").getAbsolutePath)
    s.sparkContext.hadoopConfiguration.set("fs.nullfs.impl", classOf[NullFs].getName)
    s
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = new Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)
    val work = new File(args("work"))
    val workload = args("workload")
    val spark = session(Cores, work)
    val input = Input.locate(workload, new File(args("input")))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val result = new java.util.LinkedHashMap[String, AnyRef]()
    result.put("machine", Machine.capture())
    val run = new Run(spark, workload, input, work, args("seed").toLong,
      args("seconds").toDouble, args("trace") == "1",
      System.nanoTime() + (args("budget-s").toDouble * 1e9).toLong)
    try {
      run.metrics("setup_s", "s") = setupS
      if (args.has("first-only")) run.firstPassOnly(result) else run.execute(result)
    } finally {
      Files.writeString(new File(args("result")).toPath, new ObjectMapper().writeValueAsString(result))
      run.spark.stop()
    }
  }

  /** Located inputs of one workload. */
  final case class Input(dir: File, manifest: com.fasterxml.jackson.databind.JsonNode) {
    def dataDir: String = new File(dir, "data").getAbsolutePath
    def schemaFile: String = new File(dir, "schema.json").getAbsolutePath
    def schema: FixedSchema = FixedSchema.fromFile(schemaFile)
    /** Input bytes, and data lines (toolkit_mix: rows of the mix's tables). */
    def bytes: Long = manifest.path("bytes").asLong
    def lines: Long = manifest.path("data_lines").asLong
    def rowHashes: Array[Long] = Gen.readHashes(new File(dir, "rowhashes.bin"))
  }

  object Input {
    def locate(workload: String, dir: File): Input = {
      val m = new File(dir, "manifest.json")
      require(m.isFile, s"no manifest in $dir — run the generator first")
      val node = new ObjectMapper().readTree(m)
      require(node.path("workload").asText == workload,
        s"$dir holds inputs of '${node.path("workload").asText}', not '$workload'")
      val in = Input(dir, node)
      if (workload == "toolkit_mix")
        ToolkitTables.foreach(t => require(new File(dir, s"$t.parquet").isFile, s"missing $t.parquet"))
      else require(new File(in.dataDir).isDirectory && new File(in.schemaFile).isFile, s"incomplete corpus $dir")
      in
    }
  }

  /** Registry wrapper counting schema lookups by id. */
  final class CountingRegistry(underlying: SchemaRegistryClient) extends SchemaRegistryClient {
    val lookups = new java.util.concurrent.atomic.AtomicLong
    override def register(subject: String, schemaJson: String): Int = underlying.register(subject, schemaJson)
    override def getById(id: Int): String = { lookups.incrementAndGet(); underlying.getById(id) }
  }

  /** One pass: its time, and how many of its operations (data lines or
    * queries) were expected and how many failed. */
  final case class Pass(totalS: Double, expected: Long, failedOps: Long,
      querySeconds: Map[String, Double] = Map.empty)

  final class Run(var spark: SparkSession, workload: String, in: Input, work: File,
      seed: Long, seconds: Double, trace: Boolean, deadlineNs: Long) {

    private val tracer = new Tracer
    private val probe = new Probe(spark)
    val metrics = new Metrics
    private val errors = ArrayBuffer.empty[String]
    private var attempted, failed = 0L
    private var passNo = 0
    private val ocfDir = new File(work, "ocf")
    // Where Cli stages the Kafka frame: its default lies outside the run.
    private val stageDir = new File(sys.env.getOrElse("GRAFT_STAGE_DIR",
      throw new IllegalStateException("GRAFT_STAGE_DIR must name the Kafka stage directory")))
    private val registry = new CountingRegistry(new InMemorySchemaRegistry)
    /** Ids of the Kafka rungs' subjects. `Cli`'s `mem:` registry
      * registers the key subject first, like this one, so `valueId`
      * is the id its own registry gives the value subject — `Cli`
      * frames values with the id it is handed. */
    private val (keyId, valueId) =
      if (workload == "weblog_ocf") KafkaStage.registerSubjects(registry, "weblog", in.schema) else (-1, -1)
    if (valueId > 0)
      require(registry.getById(valueId) == in.schema.avroJson, s"schema id $valueId is not the value schema")

    private def timeLeft: Double = (deadlineNs - System.nanoTime()) / 1e9

    def execute(result: java.util.Map[String, AnyRef]): Unit = {
      // toolkit_mix's first pass writes each result for the oracle
      // check, as one invocation of the query registry (graft.Verify)
      // does; every later pass uses the noop sink.
      val first = firstPass()
      // The JIT keeps optimizing for a few passes after the first one
      // (measured: the 2nd pass ~40% slower than the 6th on weblog_ocf);
      // those passes run unreported. An untraced toolkit_mix run reports
      // its second pass: one pass of the mix is long enough to be about
      // past that, and a run has no time for more.
      val warmup = ArrayBuffer.empty[Double]
      val tw = System.nanoTime()
      while ((workload != "toolkit_mix" || trace) && secondsSince(tw) < WarmupS) warmup += runPass().totalS
      result.put("warmup_pass_s", java.util.List.of(warmup.map(Double.box).toSeq: _*))
      val untraced = ArrayBuffer.empty[Pass]
      if (!trace) {
        // The last pass's output stays for the check.
        val t0 = System.nanoTime()
        val minPasses = if (workload == "toolkit_mix") 1 else 3
        var more = true
        while (more) {
          untraced += runPass(keep = true)
          more = untraced.size < minPasses || (secondsSince(t0) < seconds && timeLeft > 2 * first.totalS)
          if (more) cleanup()
        }
        endToEnd(untraced.toSeq)
      } else {
        // Untraced and traced passes alternate, in both orders, so a
        // pass time still drifting down does not pass for overhead.
        val traced = ArrayBuffer.empty[(Pass, SparkCounts, Double, Span)]
        val pairs = if (workload == "toolkit_mix") 2 else 4
        for (i <- 0 until pairs * 2) {
          if (i % 4 == 0 || i % 4 == 3) untraced += runPass()
          else {
            probe.attach()
            val faults0 = Machine.majorFaults()
            val span = tracer.begin(-1, "pass")
            val (p, counts) = tracedPass(span)
            tracer.end(span)
            val faults = (Machine.majorFaults() - faults0).toDouble
            if (workload != "toolkit_mix") childSpans(span, counts)
            probe.detach()
            traced += ((p, counts, faults, span))
          }
        }
        metrics("trace.overhead_s", "s") =
          median(traced.map(_._1.totalS).toSeq) - median(untraced.map(_.totalS).toSeq)
        sparkLayer(traced.map(t => (t._2, t._4)).toSeq)
        metrics("os.major_faults", "count") = median(traced.map(_._3).toSeq)
        if (workload == "toolkit_mix") opsLayer(traced.map(_._1).toSeq)
        else {
          probe.attach()
          ladder()
          probe.detach()
        }
      }
      check()
      if (trace) scaling(median(untraced.map(_.totalS).toSeq))
      metrics("peak_rss_mb", "MB") = Machine.peakRssMb()
      result.put("warm_pass_s", java.util.List.of(untraced.map(p => Double.box(p.totalS)).toSeq: _*))
      report(result)
      if (trace) {
        val f = new File(work, s"trace-$workload-seed$seed.json")
        Files.writeString(f.toPath, tracer.toJson)
        val self = new java.util.TreeMap[String, AnyRef]()
        tracer.selfSeconds.foreach { case (k, v) => self.put(k, Double.box(v)) }
        result.put("trace_file", f.getPath)
        result.put("self_s", self)
      }
    }

    /** The first pass only (`--first-only`). */
    def firstPassOnly(result: java.util.Map[String, AnyRef]): Unit = {
      firstPass()
      report(result)
    }

    private def report(result: java.util.Map[String, AnyRef]): Unit = {
      result.put("metrics", toJava(metrics))
      result.put("attempted", Long.box(attempted))
      result.put("failed", Long.box(failed))
      result.put("correct", Boolean.box(failed == 0 && errors.isEmpty))
      result.put("errors", java.util.List.of(errors.toSeq: _*))
    }

    // ------------------------------------------------------------ passes

    /** The first pass in the fresh session. */
    private def firstPass(): Pass = {
      val p = runPass(writeResults = workload == "toolkit_mix")
      metrics("first_pass_s", "s") = p.totalS
      p
    }

    /** One pass; its outputs are deleted afterwards unless `keep`.
      * toolkit_mix only: `writeResults` writes each result to parquet
      * for the oracle check instead of the noop sink, and `around`
      * wraps each query. */
    private def runPass(keep: Boolean = false, writeResults: Boolean = false,
        around: (String, () => Unit) => Unit = (_, f) => f()): Pass = {
      passNo += 1
      val p = workload match {
        case "weblog_ocf" => weblogPass()
        case "toolkit_mix" => toolkitPass(passNo, if (writeResults) Some(checkDir) else None, around)
      }
      if (!keep) cleanup()
      attempted += p.expected
      failed += p.failedOps
      p
    }

    private val checkDir = new File(work, "check")

    /** Deletes pass outputs: written files would otherwise reach the
      * disk during later passes. */
    private def cleanup(): Unit = {
      Gen.deleteRecursively(ocfDir)
      Gen.deleteRecursively(stageDir)
    }

    private def tracedPass(pass: Span): (Pass, SparkCounts) = workload match {
      case "toolkit_mix" =>
        // One bucket per query, so each query's jobs, exchanges and
        // planning time are its own; the pass total is their sum.
        val perQuery = ArrayBuffer.empty[(String, SparkCounts)]
        val p = runPass(around = (q, f) => {
          val span = tracer.begin(pass.id, s"ops.$q")
          f()
          tracer.end(span)
          val c = probe.take()
          childSpans(span, c)
          perQuery += ((q, c))
        })
        queryCounts += perQuery.toList
        (p, sum(perQuery.map(_._2).toSeq))
      case _ =>
        val p = runPass()
        (p, probe.take())
    }

    private val queryCounts = ArrayBuffer.empty[List[(String, SparkCounts)]]

    private def sum(cs: Seq[SparkCounts]): SparkCounts = cs.reduce((a, b) => SparkCounts(
      a.jobs + b.jobs, a.stages + b.stages, a.tasks + b.tasks, a.taskFailures + b.taskFailures,
      a.executorCpuS + b.executorCpuS, a.executorRunS + b.executorRunS, a.gcS + b.gcS,
      a.schedulerDelayS + b.schedulerDelayS, a.shuffleReadBytes + b.shuffleReadBytes,
      a.shuffleWriteBytes + b.shuffleWriteBytes, a.spillBytes + b.spillBytes,
      a.exchanges + b.exchanges, a.planningS + b.planningS,
      a.jobIntervalsMs ++ b.jobIntervalsMs, a.stageIntervalsMs ++ b.stageIntervalsMs))

    private def weblogPass(): Pass = {
      val t0 = System.nanoTime()
      val (rows, _) = Cli.run(spark, Array(ocfDir.getPath, "mem:", in.schemaFile, "1",
        "weblog", Cores.toString, in.dataDir))
      Pass(secondsSince(t0), in.lines, math.abs(in.lines - rows))
    }

    /** `Cli.run` arguments of the Kafka path, framing values with the
      * value subject's id. */
    private def kafkaArgs: Array[String] = Array("http://localhost:9092", "mem:", in.schemaFile,
      valueId.toString, "weblog", Cores.toString, in.dataDir)

    /** Checks the staged Kafka frame: every value frame carries magic
      * byte 0 and the value subject's id, and the frame decodes to
      * exactly the source rows. Returns (messages, value bytes). */
    private def checkKafka(): (Long, Long) = {
      val (msgs, badFrames, valueBytes) = Check.frames(spark.read.parquet(stageDir.getPath), valueId)
      if (badFrames > 0) errors += s"$badFrames of $msgs value frames lack magic 0 / schema id $valueId"
      attempted += in.lines
      failed += badFrames
      verdict("kafka decode", Check.rows(decode(), in.schema, in.rowHashes))
      (msgs, valueBytes)
    }

    private def decode(): DataFrame =
      KafkaConsume.decode(spark.read.parquet(stageDir.getPath), registry, in.schema, Seq(valueId))

    /** Rows of `df`, written to the noop sink. */
    private def noopCount(df: DataFrame): Long = {
      val obs = Observation("rows")
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      obs.get("n").asInstanceOf[Long]
    }

    /** The mix in a seed- and pass-dependent order, into the noop sink
      * or, with `results`, into one parquet directory per query;
      * `around` wraps each query (traced runs give each query its own
      * span and bucket). */
    private def toolkitPass(n: Int, results: Option[File],
        around: (String, () => Unit) => Unit): Pass = {
      val order = new scala.util.Random(seed * 7919 + n).shuffle(Queries)
      val times = mutable.LinkedHashMap.empty[String, Double]
      var bad = 0L
      val t0 = System.nanoTime()
      order.foreach { q =>
        around(q, () => {
          val tq = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, in.dir.getAbsolutePath)
          try results match {
            case None => df.write.format("noop").mode("overwrite").save()
            case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(new File(dir, q).getPath)
          } catch { case e: Exception => bad += 1; errors += s"$q: $e" }
          times(q) = secondsSince(tq)
        })
      }
      Pass(secondsSince(t0), Queries.size, bad, times.toMap)
    }

    // ------------------------------------------------- end-to-end metrics

    private var passS = Double.NaN

    private def endToEnd(warm: Seq[Pass]): Unit = {
      passS = median(warm.map(_.totalS))
      metrics("pass_s", "s") = passS
      metrics("mb_per_s_per_core", "MB/s") = in.bytes / 1e6 / passS / Cores
      metrics("lines_per_s_per_core", "lines/s") = in.lines / passS / Cores
    }

    // ------------------------------------------------------------- check

    /** Checks the kept output of the last pass (traced runs, which keep
      * none, make one more pass first). */
    private def check(): Unit = workload match {
      case "weblog_ocf" =>
        if (!ocfDir.isDirectory) runPass(keep = true)
        verdict("ocf", Check.ocf(ocfDir, in.schema, in.rowHashes))
        val outBytes = ocfDir.listFiles().filter(_.getName.endsWith(".avro")).map(_.length).sum
        metrics("out_bytes_per_in_byte", "ratio") = outBytes.toDouble / in.bytes
        Gen.deleteRecursively(ocfDir)
        if (!trace) {
          // The consumer side: the same corpus staged once by Cli.run on
          // the Kafka path (checked like the OCF output), then decoded by
          // KafkaConsume.decode; median of five decodes after one warm-up.
          Cli.run(spark, kafkaArgs)
          checkKafka()
          noopCount(decode())
          val reads = Seq.fill(5) {
            val t0 = System.nanoTime()
            val n = noopCount(decode())
            (n, secondsSince(t0))
          }
          metrics("consume_records_per_s", "records/s") = reads.head._1 / median(reads.map(_._2))
          cleanup()
        }
      case "toolkit_mix" =>
        // The first pass wrote every result; the DuckDB oracle
        // comparison runs after this process exits.
        var rows, outBytes = 0L
        Queries.foreach { q =>
          val out = new File(checkDir, q)
          if (!out.isDirectory) errors += s"no result written for $q"
          else {
            rows += spark.read.parquet(out.getPath).count()
            outBytes += out.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
          }
        }
        if (!trace) metrics("consume_records_per_s", "records/s") = rows / passS
        metrics("out_bytes_per_in_byte", "ratio") = outBytes.toDouble / in.bytes
    }

    private def verdict(what: String, v: Verdict): Unit = {
      if (!v.ok) errors += s"$what: ${v.missing} source rows missing, ${v.extra} unexpected records " +
        v.errors.mkString("; ")
      failed += v.failedLines
    }

    // ------------------------------------------------------------ layers

    private def childSpans(parent: Span, c: SparkCounts): Unit = {
      c.jobIntervalsMs.foreach { case (s, e) => tracer.add(parent.id, "spark.job", s, e) }
      c.stageIntervalsMs.foreach { case (s, e) => tracer.add(parent.id, "spark.stage", s, e) }
    }

    private def sparkLayer(passes: Seq[(SparkCounts, Span)]): Unit = {
      def m(name: String, unit: String)(f: SparkCounts => Double): Unit =
        metrics(s"spark.$name", unit) = median(passes.map(p => f(p._1)))
      m("jobs", "count")(_.jobs)
      m("stages", "count")(_.stages)
      m("tasks", "count")(_.tasks)
      m("task_failures", "count")(_.taskFailures)
      m("executor_cpu_s", "s")(_.executorCpuS)
      m("executor_run_s", "s")(_.executorRunS)
      m("gc_s", "s")(_.gcS)
      m("scheduler_delay_s", "s")(_.schedulerDelayS)
      m("shuffle_read_bytes", "bytes")(_.shuffleReadBytes.toDouble)
      m("shuffle_write_bytes", "bytes")(_.shuffleWriteBytes.toDouble)
      m("spill_bytes", "bytes")(_.spillBytes.toDouble)
      metrics("spark.driver_gap_s", "s") = median(passes.map { case (c, span) =>
        val covered = Probe.unionMs(c.jobIntervalsMs.map { case (s, e) =>
          (math.max(s, span.startMs), math.min(e, span.endMs)) })
        (span.endMs - span.startMs - covered) / 1e3
      })
    }

    private def opsLayer(passes: Seq[Pass]): Unit = Queries.foreach { q =>
      metrics(s"ops.$q.s", "s") = median(passes.map(_.querySeconds(q)))
      val cs = queryCounts.map(_.find(_._1 == q).get._2).toSeq
      metrics(s"ops.$q.jobs", "count") = median(cs.map(_.jobs.toDouble))
      metrics(s"ops.$q.exchanges", "count") = median(cs.map(_.exchanges.toDouble))
      metrics(s"ops.$q.planning_s", "s") = median(cs.map(_.planningS))
    }

    /** Prefix calls over the same input, each one layer longer than the
      * last; a layer's time is the difference of adjacent rungs. Then
      * the Kafka path over the same corpus, checked like the OCF one. */
    private def ladder(): Unit = {
      val reps = 3
      val ladderSpan = tracer.begin(-1, "ladder")
      val times = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      val counts = mutable.Map.empty[String, SparkCounts]
      def lines: DataFrame = FixedWidth.lines(spark, in.dataDir)
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      def rung(name: String)(f: => Unit): Unit = {
        probe.take()
        val span = tracer.begin(ladderSpan.id, name)
        f
        tracer.end(span)
        val c = probe.take()
        childSpans(span, c)
        counts(name) = c
        times.getOrElseUpdate(name, ArrayBuffer.empty) += span.seconds
      }
      val schema = in.schema
      var consumed = 0L
      for (_ <- 1 to reps) {
        cleanup()
        rung("linescan")(noop(lines))
        rung("fixedslice")(noop(FixedWidthParser.parse(lines, schema)))
        rung("fixedavro")(noop(FixedWidthParser.toAvro(lines, schema, -1)))
        rung("ocf.encode")(Ocf.writeFixed(lines, schema, "nullfs:///ocf"))
        rung("ocf.write")(Ocf.writeFixed(lines, schema, ocfDir.getPath))
        rung("kafkastage")(noop(KafkaStage.stage(FixedWidthParser.parse(lines, schema),
          schema, valueId, "weblog", keyId)))
        rung("cli.kafka")(Cli.run(spark, kafkaArgs))
        rung("kafkaconsume") {
          registry.lookups.set(0)
          consumed = noopCount(decode())
        }
      }
      tracer.end(ladderSpan)
      def med(name: String): Double = median(times(name).toSeq)
      metrics("linescan.busy_s", "s") = med("linescan")
      metrics("linescan.lines", "count") = lines.count().toDouble
      metrics("linescan.tasks", "count") = counts("linescan").tasks
      metrics("fixedslice.busy_s", "s") = med("fixedslice") - med("linescan")
      metrics("fixedavro.busy_s", "s") = med("fixedavro") - med("linescan")
      metrics("fixedavro.out_bytes", "bytes") = FixedWidthParser.toAvro(lines, schema, -1)
        .selectExpr("sum(octet_length(value))").first().getLong(0)
      metrics("ocf.busy_s", "s") = med("ocf.encode") - med("fixedavro")
      metrics("ocf.sink_s", "s") = med("ocf.write") - med("ocf.encode")
      val files = ocfDir.listFiles().filter(_.getName.endsWith(".avro"))
      metrics("ocf.out_bytes", "bytes") = files.map(_.length).sum
      metrics("ocf.files", "count") = files.length
      // Typed parse, encode and framing as the Kafka path fuses them
      // (no typed rows are materialized, so not "minus fixedslice").
      metrics("kafkastage.busy_s", "s") = med("kafkastage") - med("linescan")
      metrics("cli.stage_write_s", "s") = med("cli.kafka") - med("kafkastage")
      metrics("kafkaconsume.busy_s", "s") = med("kafkaconsume")
      metrics("kafkaconsume.records", "count") = consumed
      metrics("kafkaconsume.dropped", "count") = in.lines - consumed
      metrics("registry.lookups", "count") = registry.lookups.get
      val (msgs, valueBytes) = checkKafka()
      metrics("kafkastage.messages", "count") = msgs
      metrics("kafkastage.value_bytes", "bytes") = valueBytes
      cleanup()
    }

    /** One untraced pass on a fresh `local[1]` session against the
      * median untraced `local[4]` pass: speed-up divided by 4. */
    private def scaling(fourCoreS: Double): Unit = {
      spark.stop()
      spark = session(1, work)
      metrics("scaling.efficiency_1to4", "ratio") = runPass().totalS / fourCoreS / Cores
    }
  }

  private def toJava(m: Metrics): java.util.Map[String, AnyRef] = {
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    m.values.foreach { case (k, (v, u)) =>
      val e = new java.util.LinkedHashMap[String, AnyRef]()
      e.put("value", Double.box(v))
      e.put("unit", u)
      out.put(k, e)
    }
    out
  }
}

/** Machine state recorded beside each run (not a metric), so a slow run
  * can be told apart from a slow program. */
object Machine {
  @volatile private var sink = 0L

  /** Single-thread calibration: MB/s of a fixed integer hashing loop
    * over 8 MiB, median of five passes after one warm-up. */
  def cpuCalibration(): Double = {
    val buf = Array.tabulate[Long](1 << 20)(i => Digest.mix(i.toLong))
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0L
      var i = 0
      while (i < buf.length) { h = Digest.mix(h ^ buf(i)); i += 1 }
      sink ^= h
      buf.length * 8 / 1e6 / Harness.secondsSince(t0)
    }
    once()
    Harness.median(Seq.fill(5)(once()))
  }

  def loadavg(): Double =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Exception => -1 }

  /** Other `java` processes on the machine. */
  def siblingJvms(): Int =
    try {
      val self = ProcessHandle.current().pid()
      Option(new File("/proc").listFiles()).getOrElse(Array.empty[File]).count { d =>
        d.getName.forall(_.isDigit) && d.getName.toLong != self &&
          (try new String(Files.readAllBytes(d.toPath.resolve("comm"))).trim == "java"
          catch { case _: Exception => false })
      }
    } catch { case _: Exception => -1 }

  /** Major page faults of this process so far (/proc/self/stat). */
  def majorFaults(): Long = {
    val s = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
    s.substring(s.lastIndexOf(')') + 2).split(" ")(9).toLong
  }

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  def capture(): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("cpucal_mb_per_s", Double.box(cpuCalibration()))
    m.put("loadavg", Double.box(loadavg()))
    m.put("sibling_jvms", Int.box(siblingJvms()))
    m
  }
}
