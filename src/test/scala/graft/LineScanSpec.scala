package graft

import graft.sources.LineScan
import org.scalatest.funsuite.AnyFunSuite

/** The native chunk-aligned line scan must produce EXACTLY the records
  * `spark.read.text` produces — same values, same multiset — for every
  * terminator convention (LF, CRLF, lone CR), empty lines, final
  * unterminated lines, multibyte content, multiple files, and chunk
  * sizes small enough that every boundary case (chunk landing inside a
  * line, on a terminator, inside a CRLF pair, at a line start) occurs. */
class LineScanSpec extends SparkSpec {

  private def fixture(files: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-linescan").toString
    files.zipWithIndex.foreach { case (content, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"part-$i%03d.txt"),
        content.getBytes("UTF-8"))
    }
    dir
  }

  private def stock(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq.sorted

  private def scan(dir: String, chunk: Long): Seq[String] =
    LineScan.read(spark, dir, chunk).collect().map(_.getString(0)).toSeq.sorted

  private def check(files: Seq[String], chunks: Seq[Long]): Unit = {
    val dir = fixture(files)
    val expect = stock(dir)
    Seq("false", "true").foreach { forceStream => // mmap region AND stream fallback
      spark.conf.set("spark.graft.linescan.forceStream", forceStream)
      try chunks.foreach { cb =>
        val got = scan(dir, cb)
        assert(got == expect, s"chunkBytes=$cb forceStream=$forceStream diverges " +
          s"from spark.read.text\nexpect=$expect\ngot=$got")
      } finally spark.conf.unset("spark.graft.linescan.forceStream")
    }
  }

  // every boundary class: 1-byte (chunk inside CRLF pairs and multibyte
  // runes), small odd, word-size, huge; the exhaustive sweep lives in
  // tools/FuzzOnce (200 corpora) to keep the committed suite fast
  private val smallChunks = Seq(1L, 3L, 7L, 64L, 1 << 20)

  test("LF lines, trailing newline present and absent") {
    check(Seq("aa\nbbb\ncccc\n", "d\nee"), smallChunks)
  }

  test("empty lines interior; no empty record after trailing terminator") {
    check(Seq("\n\na\n\nb\n\n", "\n", ""), smallChunks)
  }

  test("CRLF and lone-CR terminators, incl. chunk landing inside a CRLF pair") {
    check(Seq("ab\r\ncd\r\nef\r", "x\ry\r\nz", "\r\n\r\n"), smallChunks)
  }

  test("multibyte content with multibyte bytes straddling chunk boundaries") {
    check(Seq("αβγ\nδεζ\n", "日本語\nτιμή", "é\né\né\n"), smallChunks)
  }

  test("single unterminated line and one-byte files") {
    check(Seq("x", "y\n", "zz"), smallChunks)
  }

  test("long lines spanning many chunks (tail extension / remap growth)") {
    // chunk << line length forces repeated region extension; 1-byte
    // chunks over long lines would mean thousands of tasks for no new
    // coverage (chunk=1 is exercised on the short fixtures above)
    val long1 = "a" * 3000
    val long2 = "β" * 1500
    check(Seq(s"$long1\n$long2\nshort\n"), Seq(7L, 100L, 4096L))
  }

  test("randomized fuzz: random content x random chunk sizes ≡ spark.read.text") {
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val nFiles = 1 + rnd.nextInt(3)
      val files = Seq.fill(nFiles) {
        val n = rnd.nextInt(400)
        val sb = new StringBuilder
        (0 until n).foreach { _ =>
          rnd.nextInt(8) match {
            case 0 => sb.append('\n')
            case 1 => sb.append("\r\n")
            case 2 => sb.append('\r')
            case 3 => sb.append('λ')
            case _ => sb.append(('a' + rnd.nextInt(26)).toChar)
          }
        }
        sb.toString
      }
      check(files, Seq(1L + rnd.nextInt(5), 8L + rnd.nextInt(60), 1 << 16))
    }
  }

  test("single-file path (not a directory) reads like a dir of one") {
    val dir = fixture(Seq("p\nq\nr"))
    val one = new java.io.File(dir).listFiles().head.getAbsolutePath
    assert(scan(one, 2L) == Seq("p", "q", "r"))
  }

  test("nested subdirectories: plain skipped like stock, key=value fails loudly") {
    // spark.read.text's nested handling is modal: plain subdirs are
    // silently IGNORED (verified against stock below — the native scan
    // matches), while key=value subdirs trigger partition discovery and
    // their files ARE read — the native scan must refuse those rather
    // than silently return fewer rows than the source it replaces.
    val dir = fixture(Seq("top1\ntop2\n"))
    val sub = java.nio.file.Paths.get(dir, "sub")
    java.nio.file.Files.createDirectory(sub)
    java.nio.file.Files.write(sub.resolve("part-xyz.txt"), "nested\n".getBytes("UTF-8"))
    assert(stock(dir) == Seq("top1", "top2")) // stock: plain subdir ignored
    assert(scan(dir, 4L) == Seq("top1", "top2")) // native: same
    // hidden subdirs (_temporary and friends) equally skipped
    val hid = java.nio.file.Paths.get(dir, "_temporary")
    java.nio.file.Files.createDirectory(hid)
    assert(scan(dir, 4L) == Seq("top1", "top2"))
    // partition-style subdir: stock would read sub files — refuse loudly
    val part = java.nio.file.Paths.get(dir, "ds=2026-08-13")
    java.nio.file.Files.createDirectory(part)
    val e = intercept[IllegalArgumentException] { scan(dir, 4L) }
    assert(e.getMessage.contains("partition") && e.getMessage.contains(LineScan.Conf))
  }

  test("local listing ≡ listLocatedStatus: paths, lengths, block offsets/lengths") {
    // The local filesystem lists with listStatus + a null-permission
    // LocatedFileStatus (no `ls -ld` per file); the result must equal
    // the stock located listing, with the same files skipped.
    import org.apache.hadoop.fs.{LocalFileSystem, LocatedFileStatus, Path}
    val dir = fixture(Seq("a\n", "bb\nbb\n", "c" * 5000))
    Seq("_SUCCESS", "._meta", ".hidden").foreach(n =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, n), "x\n".getBytes("UTF-8")))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "sub"))
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[LocalFileSystem])
    def shape(s: LocatedFileStatus) = (s.getPath.toString, s.getLen,
      s.getBlockLocations.toSeq.map(b => (b.getOffset, b.getLength, b.getHosts.toSeq)))
    val stockIt = fs.listLocatedStatus(root)
    val stock = Iterator.continually(stockIt).takeWhile(_.hasNext).map(_.next()).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString).map(shape)
    assert(stock.map(_._1.split('/').last) == Seq("part-000.txt", "part-001.txt", "part-002.txt"))
    val raw = fs.asInstanceOf[LocalFileSystem].getRawFileSystem
    Seq(fs, raw).foreach { f =>
      assert(LineScan.listDataFiles(f, f.getFileStatus(root)).map(shape) == stock)
    }
    val one = new Path(root, "part-001.txt")
    assert(LineScan.listDataFiles(fs, fs.getFileStatus(one)).map(shape) ==
      stock.filter(_._1.endsWith("part-001.txt")))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "ds=1"))
    val e = intercept[IllegalArgumentException](
      LineScan.listDataFiles(fs, fs.getFileStatus(root)))
    assert(e.getMessage.contains("partition") && e.getMessage.contains(LineScan.Conf))
  }

  test("chunk iterator reuses ONE row instance (no per-line allocation)") {
    // The narrow-row regression fix: the per-chunk iterator must emit
    // the SAME mutable row object for every line (consumers copy via
    // RDDScanExec's per-row unsafe projection). A fresh row per line —
    // ~3 GB of young-gen churn per pass over a 41 M-line corpus —
    // would make this identity check fail immediately.
    val dir = fixture(Seq("one\ntwo\nthree\n"))
    val file = new java.io.File(dir).listFiles().filter(_.isFile).head.getAbsolutePath
    val it = LineScan.readChunkForTest(spark, file, 0L, new java.io.File(file).length())
    assert(it.hasNext)
    val r1 = it.next()
    val v1 = r1.getUTF8String(0).toString
    assert(it.hasNext)
    val r2 = it.next()
    assert(r1 eq r2, "per-chunk row must be reused, not allocated per line")
    assert(v1 == "one" && r2.getUTF8String(0).toString == "two")
    assert(it.next().getUTF8String(0).toString == "three" && !it.hasNext)
  }

  test("adaptive chunking fans a single small file out across cores") {
    // The regression class: a fixed chunk cap turned one 63 MB file
    // into ONE task. With the FilePartition-style sizing, a file much
    // smaller than the cap must still split toward parallelism.
    val dir = fixture(Seq(("x" * 99 + "\n") * 200000)) // ~20 MB, one file
    val parts = LineScan.read(spark, dir).rdd.getNumPartitions
    assert(parts > 1, s"small single file collapsed to $parts partition(s)")
  }

  test("many small files bin-pack into few tasks, not one task per file") {
    // The opposite regression class: a directory of many files far
    // smaller than the chunk size must pack several files per task
    // (FilePartition's rule) — per-file tasks at 100 TB would mean
    // millions of tiny tasks. 64 x ~100 KB files with a 1 MiB-floored
    // effective chunk must land well under 64 tasks, while reading
    // exactly the stock row multiset.
    val dir = fixture(Seq.fill(64)(("y" * 99 + "\n") * 1000)) // 64 x 100 KB
    val parts = LineScan.read(spark, dir).rdd.getNumPartitions
    assert(parts < 32, s"64 tiny files fanned out as $parts tasks (no packing)")
    assert(scan(dir, 1L << 20) == stock(dir))
  }

  test("task preferred hosts: block hosts weighted by overlap bytes, top 3, no localhost") {
    // The HDFS locality hint (Spark's FilePartition shape): a task's
    // hosts are its chunks' block hosts ranked by contributed bytes.
    // Synthetic blocks, no filesystem: file f has 3 x 100-byte blocks
    // on (h1,h2) / (h2,h3) / (h3,h4); a chunk covering bytes 50-250
    // overlaps them 50/100/50, so h2=150, h3=150, h1=50, h4=50 —
    // ranked h2,h3 (ties by name) then h1 (cap 3 drops h4's twin... h1
    // and h4 tie at 50; name order keeps h1).
    import org.apache.hadoop.fs.BlockLocation
    def block(off: Long, len: Long, hosts: String*) =
      new BlockLocation(hosts.map(h => s"$h:9866").toArray, hosts.toArray, off, len)
    val blocks = Map("f" -> Array(
      block(0, 100, "h1", "h2"), block(100, 100, "h2", "h3"), block(200, 100, "h3", "h4")))
    val task = Seq(LineScan.Chunk("f", 50, 250, 300))
    assert(LineScan.taskHosts(task, blocks) == Seq("h2", "h3", "h1"))
    // localhost (every LocalFileSystem block) is dropped like Spark
    // drops it — meaningless as a cluster locality hint
    val local = Map("f" -> Array(block(0, 100, "localhost")))
    assert(LineScan.taskHosts(Seq(LineScan.Chunk("f", 0, 100, 100)), local).isEmpty)
    // a chunk outside every block contributes nothing
    assert(LineScan.taskHosts(Seq(LineScan.Chunk("f", 300, 400, 400)), blocks).isEmpty)
  }

  test("chunk count past the overflow-safe bound() range fails loudly") {
    // bound()'s i*(len%k) boundary product wraps past k ~ 3.03e9; the
    // wrapped boundaries would be garbage chunks the end>start filter
    // silently DROPS (row loss). A sparse 4 GB file at chunkBytes=1
    // needs ~4.3e9 chunks — the guard must refuse before planning, not
    // emit a row-dropping scan.
    val dir = java.nio.file.Files.createTempDirectory("graft-sparse").toString
    val f = new java.io.RandomAccessFile(new java.io.File(dir, "part-000.txt"), "rw")
    try f.setLength(4L << 30) // sparse: no disk actually written
    finally f.close()
    val e = intercept[IllegalArgumentException](LineScan.read(spark, dir, chunkBytes = 1L))
    assert(e.getMessage.contains("chunkBytes"))
  }

  test("driver-side iterator abandoned mid-chunk releases its stream on close()") {
    // The r12 exhaustion-only close left an abandoned iterator's input
    // stream open until GC. The iterator is now Closeable; close() must
    // release the fd deterministically (observed via /proc/self/fd) and
    // be a no-op after exhaustion.
    val dir = fixture(Seq("one\ntwo\nthree\n"))
    val file = new java.io.File(dir).listFiles().filter(_.isFile).head.getAbsolutePath
    def fdsOnFile: Int = {
      val fdDir = new java.io.File("/proc/self/fd")
      if (!fdDir.isDirectory) -1 // non-Linux: skip the fd observation
      else fdDir.listFiles().count { l =>
        try java.nio.file.Files.readSymbolicLink(l.toPath).toString == file
        catch { case _: Throwable => false }
      }
    }
    // chunkEnd strictly inside the file: a whole-file chunk hits eof at
    // construction and the region pre-closes its own stream, which
    // would make this test vacuous.
    val it = LineScan.readChunkForTest(spark, file, 0L, 4L)
    assert(it.next().getUTF8String(0).toString == "one")
    if (fdsOnFile != -1) assert(fdsOnFile > 0, "stream region should hold the file open")
    it.close() // abandon mid-chunk
    if (fdsOnFile != -1) assert(fdsOnFile == 0, s"close() left the file open")
    it.close() // idempotent
  }
}
