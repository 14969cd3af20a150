package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 for a root span. Times are epoch
  * milliseconds with sub-millisecond precision; `endMs` is NaN while
  * the span is open. */
final class Span(val id: Int, val parent: Int, val name: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  def seconds: Double = (endMs - startMs) / 1e3
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val base = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]

  def nowMs: Double = base + (System.nanoTime() - baseNs) / 1e6

  def add(parent: Int, name: String, startMs: Double, endMs: Double): Span = synchronized {
    val s = new Span(spans.size, parent, name, startMs)
    s.endMs = endMs
    spans += s
    s
  }

  def begin(parent: Int, name: String): Span = add(parent, name, nowMs, Double.NaN)

  def end(s: Span): Span = { s.endMs = nowMs; s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: duration minus the union of its
    * children's intervals (clipped to the span). */
  def selfSeconds: Map[String, Double] = {
    val all = this.all
    val children = all.filter(_.parent >= 0).groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Probe.unionMs(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        (s.endMs - s.startMs - covered) / 1e3
      }.sum
    }
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** What the Spark layer did during one traced unit of work. */
final case class SparkCounts(
    jobs: Int, stages: Int, tasks: Int, taskFailures: Int,
    executorCpuS: Double, executorRunS: Double, gcS: Double, schedulerDelayS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    exchanges: Int, planningS: Double,
    jobIntervalsMs: Seq[(Double, Double)], stageIntervalsMs: Seq[(Double, Double)])

/** Benchmark-owned Spark and query-execution listener. Events
  * accumulate into one bucket; [[take]] drains the listener bus and
  * returns (and clears) the bucket, so each traced unit of work — a
  * pass, a ladder rung, one query — gets exactly its own events. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, taskFailures, exchanges = 0
  private var cpuNs, runMs, gcMs, delayMs, shRead, shWrite, spill, planMs = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Double, Double)]
  private val stageIntervals = ArrayBuffer.empty[(Double, Double)]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    take()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s.toDouble, e.time.toDouble)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageIntervals += ((s.toDouble, c.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = query(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = query(qe)

  private def query(qe: QueryExecution): Unit = {
    val ex = Probe.exchanges(qe.executedPlan)
    val pl = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { exchanges += ex; planMs += pl }
  }

  def take(): SparkCounts = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val c = SparkCounts(jobs, stages, tasks, taskFailures, cpuNs / 1e9, runMs / 1e3, gcMs / 1e3,
        delayMs / 1e3, shRead, shWrite, spill, exchanges, planMs / 1e3,
        jobIntervals.toList, stageIntervals.toList)
      jobs = 0; stages = 0; tasks = 0; taskFailures = 0; exchanges = 0
      cpuNs = 0; runMs = 0; gcMs = 0; delayMs = 0; shRead = 0; shWrite = 0; spill = 0; planMs = 0
      jobIntervals.clear(); stageIntervals.clear()
      c
    }
  }
}

object Probe {
  /** Exchange operators in an executed plan, looking through adaptive
    * wrappers, query stages and subqueries. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match { case _: Exchange => 1; case _ => 0 }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    own + inner.map(exchanges).sum
  }

  /** Total length of the union of intervals. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Hadoop FileSystem whose files discard their bytes. Writing OCF to a
  * `nullfs:` directory runs the container encoder (blocks, snappy,
  * sync markers) without the file write, so the two can be timed
  * apart through the public `Ocf.writeFixed`. */
final class NullFs extends org.apache.hadoop.fs.FileSystem {
  import org.apache.hadoop.fs._
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  private var uri = java.net.URI.create("nullfs:///")
  override def initialize(name: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    uri = java.net.URI.create(s"${name.getScheme}:///")
  }
  override def getUri: java.net.URI = uri
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    new FSDataOutputStream(java.io.OutputStream.nullOutputStream(), null)
  override def open(f: Path, bufferSize: Int): FSDataInputStream = unsupported
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = unsupported
  override def rename(src: Path, dst: Path): Boolean = unsupported
  override def delete(f: Path, recursive: Boolean): Boolean = true
  override def listStatus(f: Path): Array[FileStatus] = Array.empty
  override def setWorkingDirectory(dir: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path(uri)
  override def mkdirs(f: Path, permission: FsPermission): Boolean = true
  override def getFileStatus(f: Path): FileStatus = throw new java.io.FileNotFoundException(f.toString)
  private def unsupported: Nothing = throw new UnsupportedOperationException("nullfs is write-only")
}
