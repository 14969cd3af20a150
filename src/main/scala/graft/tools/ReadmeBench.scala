package graft.tools

import com.fasterxml.jackson.databind.JsonNode

/** Regenerates README.md's measured-figures block from the latest
  * `bench_details.json` — mechanically, so the README's performance
  * claims can never go stale against the most recent bench record
  * (three rounds of hand-bracketed ranges were falsified by the next
  * driver run; this emitter is the fix).
  *
  * The block lives between the `BENCH:BEGIN` / `BENCH:END` marker
  * comments. [[graft.Bench]] calls [[rewrite]] best-effort at the end
  * of every run, so the day a new record lands the README reflects it;
  * this main exists for manual regeneration from any artifact.
  *
  * Every figure is printed NEXT TO the calibration of the run that
  * produced it (cpucal/devcal session medians, and per-run `cal@min` —
  * the single-thread throughput the machine gave the minimum-time run —
  * where the artifact carries it), so a reader attributes
  * machine-versus-engine without leaving the table.
  */
object ReadmeBench {

  val Begin = "<!-- BENCH:BEGIN -- generated from bench_details.json by graft.tools.ReadmeBench; do not hand-edit -->"
  val End = "<!-- BENCH:END -->"

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)
  private def d(n: JsonNode, field: String): Option[Double] =
    opt(n, field).map(_.asDouble)
  private def fmt(x: Double, dec: Int = 2): String = {
    val s = s"%.${dec}f".format(x)
    if (s.endsWith("." + "0" * dec)) s.dropRight(dec + 1) else s
  }

  /** One parse-leg row: corpus label, medians/mins, per-core rates at
    * the min leg, and per-run calibration context. */
  private def parseRow(label: String, p: JsonNode, cores: Int): String = {
    val bytes = d(p, "bytes").getOrElse(0.0)
    val lines = d(p, "lines").getOrElse(0.0)
    val med = d(p, "parse_s").getOrElse(Double.NaN)
    val min = d(p, "parse_min_s").getOrElse(med)
    val mbCoreMin = if (min > 0) bytes / 1e6 / min / cores else Double.NaN
    val klinesCoreMin = if (min > 0) lines / min / cores / 1000 else Double.NaN
    val calAtMin = d(p, "cal_at_min").map(v => fmt(v, 0)).getOrElse("—")
    s"| $label | ${fmt(med)} | ${fmt(min)} | ${fmt(mbCoreMin)} | " +
      s"${fmt(klinesCoreMin, 0)}k | $calAtMin |"
  }

  def render(root: JsonNode): String = {
    val cores = opt(root, "cores").map(_.asInt).getOrElse(32)
    val sf = opt(root, "sf").map(_.asText).getOrElse("?")
    val cpucal = d(root, "cpucal_mb_per_s").map(v => fmt(v, 0)).getOrElse("—")
    val devcal = d(root, "devcal_mb_per_s").map(v => fmt(v, 0)).getOrElse("—")
    val calMax = opt(root, "parsed").flatMap(d(_, "cal_max")).map(v => fmt(v, 0))
    val total = d(root, "value").map(fmt(_)).getOrElse("—")
    val totalMin = d(root, "total_min").map(fmt(_)).getOrElse("—")
    val sb = new StringBuilder
    sb ++= s"### Measured figures — latest bench record\n\n"
    sb ++= s"_Regenerated mechanically from `bench_details.json` " +
      s"(sf `$sf`, $cores cores). Machine calibration for this record: " +
      s"cpucal **$cpucal MB/s** single-thread (builder-idle days measure " +
      s"~1000), devcal **$devcal MB/s** sequential write" +
      calMax.map(m => s", session-best per-leg micro-cal **$m MB/s**").getOrElse("") +
      s". Figures are only comparable ACROSS records after scaling by " +
      s"these; the per-leg `cal@min` column prices the machine during " +
      s"the min-time run itself (an em-dash cell means the artifact " +
      s"predates the r14 telemetry)._\n\n"
    sb ++= "| parse leg | med s | min s | MB/s/core @min | lines/s/core @min | cal@min MB/s |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    opt(root, "parsed").foreach(p =>
      sb ++= parseRow("narrow-row (11 cols, 104 runes)", p, cores) + "\n")
    opt(root, "parsed_weblog").foreach(p =>
      sb ++= parseRow("weblog (30 cols, 528 runes)", p, cores) + "\n")
    opt(root, "parsed_weblog_mb").foreach(p =>
      sb ++= parseRow("weblog multibyte twin", p, cores) + "\n")
    sb ++= "\n"
    for (p <- opt(root, "parsed_weblog"); st <- opt(root, "stages_weblog")) {
      val lines = d(p, "lines").getOrElse(0.0)
      def leg(name: String, medF: String, minF: String): Option[String] =
        d(st, medF).map { med =>
          val min = d(st, minF).getOrElse(med)
          s"| $name | ${fmt(med)} | ${fmt(min)} | " +
            s"${fmt(lines / min / cores / 1000, 0)}k |"
        }
      sb ++= "| weblog stage | med s | min s | lines/s/core @min |\n|---|---|---|---|\n"
      leg("toAvro encode (fused)", "encode", "encode").foreach(sb ++= _ + "\n")
      leg("OCF write (tmpfs)", "ocf_write_ram", "ocf_write_ram_min").foreach(sb ++= _ + "\n")
      leg("OCF cpu-only (sink discarded)", "ocf_cpu", "ocf_cpu_min").foreach(sb ++= _ + "\n")
      sb ++= "\n"
    }
    sb ++= s"Query sweep total: **$total s** median / $totalMin s min-of-runs"
    opt(root, "queries").foreach { qs =>
      val it = qs.fields()
      var xs = List.empty[(String, Double)]
      while (it.hasNext) { val e = it.next(); xs ::= (e.getKey, e.getValue.asDouble) }
      val top = xs.sortBy(-_._2).take(5)
        .map { case (k, v) => s"`$k` ${fmt(v)}" }.mkString(", ")
      sb ++= s" across ${xs.size} queries; slowest: $top"
    }
    sb ++= ".\n"
    sb.result()
  }

  /** Splice the rendered block between the markers; returns false (and
    * changes nothing) when either marker is absent or inputs are
    * unreadable. Never throws — callers run this best-effort after a
    * bench. */
  def rewrite(readmePath: String = "README.md",
      detailPath: String = "bench_details.json"): Boolean =
    try {
      val readme = java.nio.file.Paths.get(readmePath)
      val text = new String(java.nio.file.Files.readAllBytes(readme), "UTF-8")
      val b = text.indexOf(Begin); val e = text.indexOf(End)
      if (b < 0 || e < 0 || e < b) return false
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(detailPath))
      val out = text.substring(0, b + Begin.length) + "\n\n" + render(root) +
        "\n" + text.substring(e)
      java.nio.file.Files.write(readme, out.getBytes("UTF-8"))
      true
    } catch {
      case scala.util.control.NonFatal(ex) =>
        System.err.println(s"[readme-bench] skipped: $ex")
        false
    }

  def main(args: Array[String]): Unit = {
    val readme = if (args.length > 0) args(0) else "README.md"
    val detail = if (args.length > 1) args(1) else "bench_details.json"
    val ok = rewrite(readme, detail)
    println(s"[readme-bench] ${if (ok) "rewrote" else "SKIPPED"} $readme from $detail")
    if (!ok) sys.exit(1)
  }
}
