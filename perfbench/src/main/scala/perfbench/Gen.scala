package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import graft.schema.FixedSchema

/** Input generator, run as its own process before the measured one.
  *
  * {{{
  * perfbench.Gen weblog <seed> <bytes> <outDir>
  * perfbench.Gen oracle-sql <outFile>
  * }}}
  *
  * The first form renders the weblog_ocf corpus in the reference shape
  * (graft.Bench's 30-column, 528-rune weblog schema, ASCII):
  * `<outDir>/data/part-NNNNN.txt` (each ending in one footer line),
  * `schema.json`, `rowhashes.bin` (sorted [[Digest]] row hashes of the
  * data lines) and `manifest.json`; the same arguments always give
  * byte-identical files. The second writes the registry's DuckDB
  * oracle SQL of the toolkit_mix queries as JSON. */
object Gen {

  val PartFiles = 8

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "oracle-sql") {
      val sql = new java.util.TreeMap[String, String]()
      Harness.Queries.foreach(q => sql.put(q, graft.SparkEntry.oracleSql(q)))
      new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new File(args(1)), sql)
      return
    }
    if (args.length != 4 || args(0) != "weblog") {
      System.err.println("usage: perfbench.Gen weblog <seed> <bytes> <outDir> | oracle-sql <outFile>")
      sys.exit(2)
    }
    render(args(1).toLong, args(2).toLong, new File(args(3)))
  }

  /** Render into a sibling temp directory, then rename it into place,
    * so a reader never sees a half-written corpus. */
  def render(seed: Long, targetBytes: Long, out: File): Unit = {
    val json = graft.Bench.weblogSchemaJson
    val schema = FixedSchema.fromJson(json)
    val tmp = new File(out.getParentFile, s".${out.getName}.tmp")
    deleteRecursively(tmp)
    val data = new File(tmp, "data")
    require(data.mkdirs(), s"cannot create $data")
    val rows = math.max(PartFiles.toLong, targetBytes / (schema.rowRuneLen + 1))
    val rng = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L)
    val line = new LineRenderer(schema)
    val hashes = new Array[Long](rows.toInt)
    var bytes = 0L
    var r = 0
    for (f <- 0 until PartFiles) {
      val os = new BufferedOutputStream(new FileOutputStream(new File(data, f"part-$f%05d.txt")), 1 << 20)
      try {
        val end = ((f + 1) * rows / PartFiles).toInt
        while (r < end) {
          val n = line.next(rng)
          os.write(line.buf, 0, n)
          os.write('\n')
          bytes += n + 1
          hashes(r) = line.hash
          r += 1
        }
        val footer = f"************ END OF part-$f%05d".getBytes(UTF_8)
        os.write(footer)
        os.write('\n')
        bytes += footer.length + 1
      } finally os.close()
    }
    java.util.Arrays.sort(hashes)
    writeHashes(new File(tmp, "rowhashes.bin"), hashes)
    Files.writeString(new File(tmp, "schema.json").toPath, json)
    Files.writeString(new File(tmp, "manifest.json").toPath,
      s"""{"workload": "weblog_ocf", "seed": $seed, "bytes": $bytes, "data_lines": $rows, """ +
        s""""footer_lines": $PartFiles, "files": $PartFiles, """ +
        s""""digest": "${Digest.summary(hashes)}"}""" + "\n")
    deleteRecursively(out)
    Files.move(tmp.toPath, out.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def writeHashes(f: File, hashes: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(hashes.length * 8)
    hashes.foreach(bb.putLong)
    Files.write(f.toPath, bb.array())
  }

  def readHashes(f: File): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(Files.readAllBytes(f.toPath))
    Array.fill(bb.remaining / 8)(bb.getLong)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789-./_".getBytes(UTF_8)
  private val Pow10 = Array.iterate(1L, 19)(_ * 10)
  // 2020-01-01T00:00:00Z .. +5 years, in micros.
  private val TsBase = 1577836800L * 1000000L
  private val TsRange = 5L * 365 * 86400 * 1000000L

  /** Renders one random row at a time into `buf`, hashing the typed
    * values exactly as the strict parse must deliver them. */
  final class LineRenderer(schema: FixedSchema) {
    private val fields = schema.fields.toArray
    val buf = new Array[Byte](schema.rowRuneLen)
    var hash = 0L
    private val hasher = new Digest.RowHasher
    private val digits = new Array[Byte](20)

    def next(rng: java.util.SplittableRandom): Int = {
      var o = 0
      var i = 0
      while (i < fields.length) {
        val f = fields(i)
        val w = f.runeLen
        f.parseType match {
          case "long" =>
            val v = rng.nextLong(Pow10(math.min(w - 1, 18)))
            o = rightAligned(o, w, v, -1); hasher.long(v)
          case "int" =>
            val v = rng.nextLong(Pow10(math.min(w - 1, 9)))
            o = rightAligned(o, w, v, -1); hasher.long(v)
          case "double" =>
            val cents = rng.nextLong(Pow10(math.min(w - 2, 15)))
            o = rightAligned(o, w, cents, 2); hasher.double(cents / 100.0)
          case "timestamp-micros" =>
            val v = TsBase + rng.nextLong(TsRange)
            o = timestamp(o, w, v); hasher.long(v)
          case "string" =>
            val start = o
            val n = 1 + rng.nextInt(w)
            while (o < start + w) {
              buf(o) = if (o < start + n) Alphabet(rng.nextInt(Alphabet.length)) else ' '
              o += 1
            }
            hasher.bytes(buf, start, w)
          case other => throw new IllegalArgumentException(s"generator has no values for '$other'")
        }
        i += 1
      }
      hash = hasher.finish()
      o
    }

    /** `v` right-aligned in `w` columns, space-padded; `frac` > 0 puts
      * a decimal point before the last `frac` digits. */
    private def rightAligned(o: Int, w: Int, v: Long, frac: Int): Int = {
      var n = 0
      var x = v
      do {
        if (n == frac) { digits(n) = '.'; n += 1 }
        digits(n) = ('0' + x % 10).toByte; n += 1; x /= 10
      } while (x > 0 || n <= frac)
      var p = o
      while (p < o + w - n) { buf(p) = ' '; p += 1 }
      while (n > 0) { n -= 1; buf(p) = digits(n); p += 1 }
      p
    }

    /** `yyyy-MM-dd-HH.mm.ss.SSSSSS`, the reference timestamp layout. */
    private def timestamp(o: Int, w: Int, micros: Long): Int = {
      val t = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), 0, java.time.ZoneOffset.UTC)
      var p = o
      while (p < o + w - 26) { buf(p) = ' '; p += 1 }
      def put(v: Long, n: Int, sep: Char): Unit = {
        var k = n - 1
        var x = v
        while (k >= 0) { buf(p + k) = ('0' + x % 10).toByte; x /= 10; k -= 1 }
        p += n
        if (sep != 0) { buf(p) = sep.toByte; p += 1 }
      }
      put(t.getYear, 4, '-'); put(t.getMonthValue, 2, '-'); put(t.getDayOfMonth, 2, '-')
      put(t.getHour, 2, '.'); put(t.getMinute, 2, '.'); put(t.getSecond, 2, '.')
      put(Math.floorMod(micros, 1000000L), 6, 0)
      p
    }
  }
}
