package graft.tools

import graft.ops.Pipeline
import graft.parse.{Compat, FixedWidthParser, Strict}
import org.apache.spark.sql.DataFrame

/** Dev probe: where does fixedwidth_compat's time go — regex guards,
  * parse, render, or sort scaffolding? */
object ProbeCompat {
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def t(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def runs(label: String)(f: => Unit): Unit = {
    System.gc(); Thread.sleep(200)
    val xs = Seq.fill(3)(t(f))
    println(f"[probe] $label: " + xs.map(x => f"$x%.3f").mkString(" "))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "probe-compat")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val rendered = graft.ops.Pipeline.lineitem(spark, sf)
      .transform(df => graft.sources.FixedWidth.render(df, Pipeline.lineitemFixed, zeroPadNumerics = true))
      .repartition(32)
    rendered.cache().count()
    val compat = FixedWidthParser.parse(rendered, Pipeline.lineitemFixed, Compat, dropFooter = false)
    val strict = FixedWidthParser.parse(rendered, Pipeline.lineitemFixed, Strict, dropFooter = false)
    force(compat); force(strict)
    runs("compat_parse")(force(compat))
    runs("strict_parse")(force(strict))
    runs("compat_sorted")(force(compat.orderBy("l_orderkey", "l_linenumber", "l_partkey")))
    runs("full_query")(force(Pipeline.compatParse(spark, sf)))
    spark.stop()
  }
}

/** Dev probe: decompose the render scaffolding cost shared by the
  * roundtrip queries: parquet scan vs render vs barrier shuffle. */
object ProbeRender {
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def t(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def runs(label: String)(f: => Unit): Unit = {
    System.gc(); Thread.sleep(200)
    println(f"[probe] $label: " + Seq.fill(3)(t(f)).map(x => f"$x%.3f").mkString(" "))
  }
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "probe-render")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val li = graft.ops.Pipeline.lineitem(spark, sf)
    val rendered = graft.sources.FixedWidth.render(li, graft.ops.Pipeline.lineitemFixed)
    val barriered = rendered.repartition(spark.sparkContext.defaultParallelism)
    force(barriered)
    runs("parquet_scan")(force(li))
    runs("scan_render")(force(rendered))
    runs("scan_render_barrier")(force(barriered))
    spark.stop()
  }
}

/** Dev probe: round-robin vs hash repartition as the render barrier. */
object ProbeBarrier {
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def t(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def runs(label: String)(f: => Unit): Unit = {
    System.gc(); Thread.sleep(200)
    println(f"[probe] $label: " + Seq.fill(3)(t(f)).map(x => f"$x%.3f").mkString(" "))
  }
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "probe-barrier")
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.1"
    val li = graft.ops.Pipeline.lineitem(spark, sf)
    val rendered = graft.sources.FixedWidth.render(li, graft.ops.Pipeline.lineitemFixed)
    val n = spark.sparkContext.defaultParallelism
    val rr = rendered.repartition(n)
    val hash = rendered.repartition(n, col("value"))
    force(rr); force(hash)
    runs("barrier_roundrobin")(force(rr))
    runs("barrier_hash_value")(force(hash))
    spark.stop()
  }
}

/** Dev probe: LineScan chunk-size sensitivity (GC/humongous diagnosis). */
object ProbeLineScan {
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def t(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "probe-linescan")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/tmp/graft-bench-corpus/_root_testdata_sf0.1-weblog-4g"
    val stock = spark.read.text(dir)
    force(stock)
    println(f"[probe] stock: " + Seq.fill(3)({System.gc(); t(force(stock))}).map(x => f"$x%.3f").mkString(" "))
    for (mb <- Seq(1, 4, 8, 32, 96)) {
      val df = graft.sources.LineScan.read(spark, dir, mb.toLong << 20)
      force(df)
      println(f"[probe] chunk=${mb}MB: " + Seq.fill(3)({System.gc(); t(force(df))}).map(x => f"$x%.3f").mkString(" "))
    }
    spark.stop()
  }
}

/** Dev probe: filescan regression — write + read-back, stock vs LineScan. */
object ProbeFilescan {
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def t(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "probe-filescan")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val fixed = graft.ops.Pipeline.lineitemFixed
    val out = "/tmp/graft-probe-fw"
    println(f"[probe] write: " + Seq.fill(3)(t(
      graft.sources.FixedWidth.write(graft.ops.Pipeline.lineitem(spark, sf), fixed, out)
    )).map(x => f"$x%.3f").mkString(" "))
    val stockLines = spark.read.text(out)
    val scanLines = graft.sources.LineScan.read(spark, out)
    force(stockLines); force(scanLines)
    println(f"[probe] lines_stock: " + Seq.fill(3)(t(force(stockLines))).map(x => f"$x%.3f").mkString(" "))
    println(f"[probe] lines_scan: " + Seq.fill(3)(t(force(scanLines))).map(x => f"$x%.3f").mkString(" "))
    import graft.parse.{FixedWidthParser, Strict}
    val pStock = FixedWidthParser.parse(stockLines, fixed, Strict)
    val pScan = FixedWidthParser.parse(scanLines, fixed, Strict)
    force(pStock); force(pScan)
    println(f"[probe] parse_stock: " + Seq.fill(3)(t(force(pStock))).map(x => f"$x%.3f").mkString(" "))
    println(f"[probe] parse_scan: " + Seq.fill(3)(t(force(pScan))).map(x => f"$x%.3f").mkString(" "))
    val cols = fixed.fields.map(f => org.apache.spark.sql.functions.col(f.name))
    println(f"[probe] sorted_stock: " + Seq.fill(3)(t(force(pStock.orderBy(cols: _*)))).map(x => f"$x%.3f").mkString(" "))
    println(f"[probe] sorted_scan: " + Seq.fill(3)(t(force(pScan.orderBy(cols: _*)))).map(x => f"$x%.3f").mkString(" "))
    spark.stop()
  }
}

/** Dev probe: plan + stage shape of parse over stock vs LineScan input. */
object ProbePlans2 {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "probe-plans2")
    spark.sparkContext.setLogLevel("ERROR")
    val fixed = graft.ops.Pipeline.lineitemFixed
    val out = "/tmp/graft-probe-fw"
    import graft.parse.{FixedWidthParser, Strict}
    val pStock = FixedWidthParser.parse(spark.read.text(out), fixed, Strict)
    val pScan = FixedWidthParser.parse(graft.sources.LineScan.read(spark, out), fixed, Strict)
    println("[probe] STOCK PLAN:\n" + pStock.queryExecution.executedPlan.toString.take(1200))
    println("[probe] SCAN PLAN:\n" + pScan.queryExecution.executedPlan.toString.take(1200))
    println("[probe] scan partitions: " + pScan.rdd.getNumPartitions +
      " stock partitions: " + pStock.rdd.getNumPartitions)
    spark.stop()
  }
}
