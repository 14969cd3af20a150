package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native chunk-aligned distributed line scan over local files — the
  * Spark re-expression of the reference's own chunking model
  * (`ParalizeChunks` + `FindLastNL`, `common/fixed.go:150-210`): split
  * each file into byte-range chunks, align every chunk to line
  * boundaries, and read each chunk's lines in one pass.
  *
  * Exists because the stock `spark.read.text` path routes every line
  * through Hadoop's `LineRecordReader`: a per-line `Text` copy, a
  * `UTF8String` copy of that, and an UnsafeRow copy — plus a per-byte
  * readLine state machine. Here each chunk is mmap'd (page-cache
  * backed, zero heap buffers, zero copies — the reference's whole-file-
  * in-memory model, `common/fixed.go:166-178`) and terminators are found
  * word-at-a-time (SWAR); rows are zero-copy `UTF8String` views over the
  * mapping, which stays referenced until task end (every row crossing a
  * stage or leaving the task is copied by Spark's unsafe projection
  * first, so no view outlives its mapping). Only the local filesystem
  * can be mapped; [[FixedWidth.lines]] reads every other filesystem with
  * `spark.read.text`.
  *
  * Line semantics are Hadoop's, pinned by `LineScanSpec` against
  * `spark.read.text` on adversarial fixtures: terminators are LF, CRLF,
  * or lone CR, none included in the value; a final unterminated line is
  * a record; a trailing terminator does NOT produce an empty record;
  * interior empty lines do. Chunk ownership is Hadoop's too: a chunk
  * `(start, end]` owns the lines whose first byte position s satisfies
  * `start < s <= end` (`s == 0` belongs to the first chunk); the partial
  * line a chunk lands in is skipped — its owner is the previous chunk,
  * which reads past its own `end` to finish it.
  */
object LineScan {

  /** 128 MiB: HDFS-block-scale chunks. Smaller chunks pay ~1 ms of
    * scheduler overhead per task (measured: 1 MiB chunks → 4400 tasks →
    * +4.7 s on a 4.4 GB corpus), and mmap makes the per-chunk memory
    * cost virtual, so there is no reason to go fine-grained. */
  val DefaultChunkBytes: Long = 128L << 20

  private[graft] case class Chunk(file: String, start: Long, end: Long, fileLen: Long)

  private val schema = StructType(Seq(StructField("value", StringType, nullable = false)))

  /** Whether [[read]] can serve `path`: it is on the local filesystem
    * (the only one whose files can be mapped) and the mapping address is
    * reachable ([[addressField]]). Resolved on the driver. */
  private[graft] def handles(spark: SparkSession, path: String): Boolean =
    addressField.isDefined &&
      (new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
        case _: LocalFileSystem | _: RawLocalFileSystem => true
        case _ => false
      })

  /** Top-level data files of `root` (minus _SUCCESS/._* markers), in
    * stable path order. The stock source's handling of nested layouts
    * is modal: plain visible subdirs are silently IGNORED (pinned by
    * LineScanSpec against `spark.read.text` itself), while `key=value`
    * subdirs trigger partition discovery and their files ARE read. The
    * native scan matches the first case exactly (skip, like stock) and
    * fails loudly on the second — silently reading FEWER rows than the
    * stock source it replaces is the one unacceptable outcome, so that
    * divergence is an error that names the stock route. The listing is
    * `listStatus`: the stock `listLocatedStatus` copies each file's
    * permission, which forks an `ls -ld` per file when the native Hadoop
    * library is not loaded (8 files on a 4-vCPU VM: 30 ms vs 0.5 ms). */
  private[graft] def listDataFiles(fs: FileSystem, root: FileStatus): Seq[FileStatus] = {
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    if (root.isFile) Seq(root) // a file lists as itself
    else {
      // ONE listing serves both the partition-dir guard and the data
      // files, so a partition dir appearing between two listings can
      // never slip past the guard into a silently-smaller row set.
      val kids = fs.listStatus(root.getPath).toSeq.filter(s => visible(s.getPath.getName))
      kids.find(d => d.isDirectory && d.getPath.getName.contains('=')).foreach { d =>
        throw new IllegalArgumentException(
          s"LineScan does not do partition discovery, found ${d.getPath}; read " +
          "partitioned layouts with FixedWidthParser.parse(spark.read.text(dir), schema)")
      }
      kids.filter(_.isFile).sortBy(_.getPath.toString)
    }
  }

  def read(spark: SparkSession, dir: String,
      chunkBytes: Long = DefaultChunkBytes): DataFrame = {
    // Upper bound keeps every Int-typed size downstream exact: a
    // region's chunk+tail mapping must stay below Int.MaxValue.
    require(chunkBytes > 0 && chunkBytes <= Int.MaxValue / 2,
      s"chunkBytes must be in (0, ${Int.MaxValue / 2}], got $chunkBytes")
    require(handles(spark, dir), s"LineScan maps local files only; read $dir with spark.read.text")
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listDataFiles(fs, fs.getFileStatus(rootPath))
    // Adaptive chunk size, exactly FilePartition's sizing rule: cap at
    // `chunkBytes`, but shrink toward totalBytes/parallelism (floor
    // 4 MiB ≈ the open cost) so a small corpus still fans out across
    // the cluster instead of landing in one 128 MiB chunk — a single
    // 63 MB file must parse as ~16 tasks, not 1.
    val totalBytes = files.map(_.getLen).sum
    val openCost = 4L << 20
    val bytesPerCore =
      (totalBytes + files.length * openCost) / math.max(1, spark.sparkContext.defaultParallelism)
    val effChunk = math.min(chunkBytes, math.max(openCost, bytesPerCore))
    // Equal-size chunks per file (ceil(len/effChunk) of len/k bytes
    // each), not effChunk-strided: striding a 131 MB file at 128 MB
    // leaves a 3 MB sliver chunk — at 34 files that is 34 full tasks
    // racing 34 slivers, a ragged two-wave schedule. Ownership is
    // `(start, end]`, valid for any split points.
    val chunks = files.flatMap { st =>
      val len = st.getLen
      val k = math.max(1L, (len + effChunk - 1) / effChunk)
      // bound()'s i*(len%k) term stays below k^2, which is only
      // overflow-safe while k <= floor(sqrt(2^63-1)) ~ 3.03e9. Past it
      // the wrapped boundaries would be garbage chunks that the
      // `end > start` filter silently DROPS — row loss. Only reachable
      // with a tiny public chunkBytes on a multi-GB file; refuse loudly.
      require(k <= 3037000499L,
        s"${st.getPath}: ${len}B file at ${effChunk}B effective chunks " +
        s"needs $k chunks, past the overflow-safe boundary-arithmetic " +
        "range; raise chunkBytes")
      // i-th boundary is floor(i*len/k), computed overflow-safe: the
      // naive i*len product wraps past 2^63 for multi-TiB single files
      // (where the garbage chunks would be FILTERED, silently dropping
      // rows). Both terms here stay below len and k^2 respectively.
      def bound(i: Long): Long = i * (len / k) + i * (len % k) / k
      (0L until k).map(i => Chunk(st.getPath.toString, bound(i), bound(i + 1), len))
    }.filter(c => c.end > c.start)
    // Bin-pack chunks into tasks the way FilePartition packs file
    // splits: a directory of MANY SMALL files must not fan out as one
    // task per file (512 x 8 MB part files on 32 cores would be 512
    // tiny tasks; packed at 128 MB they schedule as ~47). Chunks are
    // packed in path order, closing a task when it reaches effChunk
    // bytes (+ openCost per chunk for the per-file open overhead) —
    // the same threshold rule as Spark's own packing, so files bigger
    // than ~half of effChunk still go one per task, exactly like the
    // stock source.
    val packed = Seq.newBuilder[Seq[Chunk]]
    var group = Vector.empty[Chunk]
    var groupBytes = 0L
    chunks.foreach { c =>
      val sz = (c.end - c.start) + openCost
      if (group.nonEmpty && groupBytes + sz > effChunk + openCost) {
        packed += group; group = Vector.empty; groupBytes = 0L
      }
      group :+= c; groupBytes += sz
    }
    if (group.nonEmpty) packed += group
    val tasks = packed.result()
    val rdd =
      if (tasks.isEmpty) spark.sparkContext.emptyRDD[InternalRow]
      else spark.sparkContext.makeRDD(tasks, tasks.size)
        .mapPartitions(_.flatMap(_.iterator.flatMap(readChunk)))
    org.apache.spark.sql.graftbridge.ColumnBridge.internalDataFrame(spark, rdd, schema)
  }

  /** `java.nio.Buffer.address` — the mapped region's native address.
    * Reflection under the build's `--add-opens java.base/java.nio`
    * (present for every Spark 4 launch); avoids a compile-time
    * dependency on `sun.nio.ch.DirectBuffer`. None when the module is
    * not opened in some exotic launcher — then [[handles]] is false and
    * [[FixedWidth.lines]] reads with `spark.read.text` instead. */
  private lazy val addressField: Option[java.lang.reflect.Field] =
    try {
      val f = classOf[java.nio.Buffer].getDeclaredField("address")
      f.setAccessible(true)
      Some(f)
    } catch { case _: Throwable => None }

  /** A chunk's bytes, mmap'd: zero-copy, page-cache backed. The byte at
    * `c.start` sits at native address `off`, `limit` bytes are mapped,
    * and `extend()` maps more until `eof`. Every mapping created for the
    * chunk is pinned in `mappings` until task end, so zero-copy rows can
    * never outlive their mapping. Pages are demand-faulted: a cold-corpus
    * A/B (r14) measured both preloading variants
    * (`MappedByteBuffer.load()`, and a `read()` pass to fill the page
    * cache) as no faster, cold or warm. */
  private final class Region(c: Chunk) {
    var off: Long = _
    var limit: Int = 0
    var eof: Boolean = false
    private val ch = java.nio.channels.FileChannel.open(
      new java.io.File(new Path(c.file).toUri.getPath).toPath, java.nio.file.StandardOpenOption.READ)
    private val mappings = scala.collection.mutable.ListBuffer.empty[java.nio.MappedByteBuffer]
    private var tail: Long = 1L << 20
    remap()

    private def remap(): Unit = {
      // Mapping size is Int-addressed downstream; cap at Int.MaxValue
      // and fail LOUDLY if a single line still doesn't fit — a heap
      // buffer could not hold it either (arrays are Int-sized), so
      // there is no fallback that helps, only a clear error.
      val want = math.min(math.min(c.fileLen - c.start, (c.end - c.start) + tail),
        Int.MaxValue.toLong)
      if (want.toInt == limit && !eof)
        throw new IllegalStateException(s"${c.file}: line starting in chunk at " +
          s"${c.start} extends more than ${Int.MaxValue} bytes past the chunk start")
      val mbb = ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY, c.start, want)
      mappings += mbb // keep EVERY mapping alive until task end
      off = addressField.get.getLong(mbb)
      limit = want.toInt
      eof = c.start + want >= c.fileLen
    }

    def extend(): Unit = if (!eof) { tail *= 4; remap() }
    def byteAt(i: Int): Byte = Platform.getByte(null, off + i)
    // close() runs at task end (completion listener), AFTER the stage
    // has copied every emitted row into UnsafeRows — so the mappings
    // can be unmapped EXPLICITLY (StorageUtils.dispose via the bridge
    // invokes the buffer cleaner). Relying on GC instead would let a
    // long-lived executor churning thousands of chunks between
    // collections creep toward vm.max_map_count.
    def close(): Unit = {
      ch.close()
      mappings.foreach(m =>
        org.apache.spark.sql.graftbridge.ColumnBridge.disposeBuffer(m))
      mappings.clear()
    }
  }

  /** All lines of one chunk, one pass. Runs inside a task only: the
    * task's completion listener releases the region, which pins the
    * mappings for as long as any zero-copy row can exist in that task. */
  private[graft] def readChunk(c: Chunk): Iterator[InternalRow] = {
    val taskCtx = org.apache.spark.TaskContext.get()
    require(taskCtx != null, s"${c.file}: LineScan chunks are read inside a task")
    val region = new Region(c)
    taskCtx.addTaskCompletionListener[Unit](_ => region.close())

    /** Relative index of the first LF/CR at-or-after `from`, extending
      * the region on demand; -1 when the chunk's data ends first. */
    def findTerm(from: Int): Int = {
      var i = from
      while (true) {
        val off = region.off
        val limit = region.limit
        while (i + 8 <= limit) {
          val w = Platform.getLong(null, off + i)
          // SWAR zero-byte test on w XOR pattern, for \n and \r at once
          val xn = w ^ 0x0A0A0A0A0A0A0A0AL
          val xr = w ^ 0x0D0D0D0D0D0D0D0DL
          val hit = (((xn - 0x0101010101010101L) & ~xn) |
            ((xr - 0x0101010101010101L) & ~xr)) & 0x8080808080808080L
          if (hit != 0L) {
            var j = i
            while (j < i + 8) {
              val b = Platform.getByte(null, off + j)
              if (b == '\n' || b == '\r') return j
              j += 1
            }
          }
          i += 8
        }
        while (i < limit) {
          val b = Platform.getByte(null, off + i)
          if (b == '\n' || b == '\r') return i
          i += 1
        }
        if (region.eof) return -1
        region.extend()
      }
      -1 // unreachable
    }

    /** Position after the terminator at `t` (consumes CRLF as one). */
    def afterTerm(t: Int): Int = {
      if (region.byteAt(t) == '\n') return t + 1
      // lone CR or CRLF: need one byte of lookahead
      if (t + 1 >= region.limit && !region.eof) region.extend()
      if (t + 1 < region.limit && region.byteAt(t + 1) == '\n') t + 2 else t + 1
    }

    // Skip the partial line this chunk lands in (owned by the previous
    // chunk, which reads past its end) — Hadoop's exact rule, including
    // the subtlety that a line starting exactly AT c.start is skipped
    // here and owned by the previous chunk (whose `s <= end` keeps it).
    var pos =
      if (c.start == 0) 0
      else findTerm(0) match {
        case -1 => -1 // no terminator until EOF: nothing owned here
        case t  => afterTerm(t)
      }

    new Iterator[InternalRow] {
      // ONE mutable row + value slot per chunk, overwritten per line —
      // the reference's one-reused-record-per-chunk model
      // (`common/fixed.go:53-64`) and the same reuse contract Spark's
      // own file sources rely on: the consumer is RDDScanExec, whose
      // per-row UnsafeProjection copies the value out before the next
      // next(). Replaces a per-line GenericInternalRow + Array[Any]
      // allocation (41 M lines on the narrow-row corpus = ~3 GB of
      // young-gen churn per pass, the r11 narrow-row finding).
      private val slot = new Array[Any](1)
      private val row = new GenericInternalRow(slot)
      // owned iff the line STARTS at absolute position <= c.end, and a
      // trailing terminator at EOF yields no empty record
      override def hasNext: Boolean =
        !(pos < 0 || c.start + pos > c.end || (pos >= region.limit && region.eof))
      override def next(): InternalRow = {
        val t = findTerm(pos)
        val lineEnd = if (t < 0) region.limit else t
        slot(0) = UTF8String.fromAddress(null, region.off + pos, lineEnd - pos)
        pos = if (t < 0) -1 else afterTerm(t)
        row
      }
    }
  }
}
