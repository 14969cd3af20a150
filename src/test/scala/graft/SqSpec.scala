package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** SQ8 scalar-quantization lane. The encode and retrieval arithmetic
  * is value-checked end-to-end by the DuckDB oracles (embedding_sq,
  * similarity_sq_topk); these specs pin the properties the oracle
  * cannot see: the exhaustive reduction identity, an independent
  * recompute of the encode (so the fused expression and the SQL
  * formulation can't share a bug), clamp semantics for out-of-range
  * delta vectors under frozen stats, and the plan shape.
  */
class SqSpec extends SparkSpec {

  private def gridded = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * Similarity.PqScale).cast(LongType)).as("vq"))

  test("exhaustive shortlist reduces SQ retrieval to the exact baseline") {
    // A corpus-sized shortlist keeps every ADC candidate, so the exact
    // rerank IS the exact baseline — row-for-row, ties included. The
    // production budget only PRUNES this computation.
    val n = Similarity.corpusCount(spark, sf).toInt
    val exhaustive = Similarity.SqTopk.copy(shortlist = Some(n)).run(spark, sf).collect().toSeq
    val exact = Similarity.ExactTopk.run(spark, sf).collect().toSeq
    assert(exhaustive == exact)
  }

  test("encode matches an independent Scala recompute (codes + distortion)") {
    val vqs = gridded.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val dim = vqs.values.head.length
    // Stats recomputed independently of sqStats/IndexStore.
    val mns = Array.tabulate(dim)(i => vqs.values.map(_(i)).min)
    val mxs = Array.tabulate(dim)(i => vqs.values.map(_(i)).max)
    val out = Similarity.embeddingSq(spark, sf).collect()
    assert(out.length == vqs.size)
    out.foreach { r =>
      val vq = vqs(r.getLong(0))
      val hex = new StringBuilder
      var dist = 0L
      for (i <- 0 until dim) {
        val rng = mxs(i) - mns(i)
        val q = if (rng == 0L) 0 else (((vq(i) - mns(i)) * (Similarity.SqLevels - 1)) / rng).toInt
        val recon = mns(i) + q * rng / (Similarity.SqLevels - 1)
        val err = vq(i) - recon
        dist += err * err
        hex.append(f"$q%02x")
      }
      assert(r.getString(1) == hex.toString, s"codes for vec ${r.getLong(0)}")
      assert(r.getLong(2) == dist, s"distortion for vec ${r.getLong(0)}")
    }
  }

  test("sq_adc_l2 equals reconstruct-then-L2 on the encoded corpus") {
    import spark.implicits._
    val mnmx = Similarity.sqStats(spark, sf)
    val (mns, mxs) = mnmx
    val coded = gridded
      .withColumn("sc", graft.functions.VectorOps.sq_encode(col("vq"), mns, mxs, Similarity.SqLevels))
      .select(col("vec_id"), col("vq"), col("sc.codes").as("codes"))
      .limit(50).collect()
    // Pair every collected row against one fixed query vector.
    val y = coded.head.getSeq[Long](1).toArray
    val rows = coded.map(r => (r.getSeq[Int](2).toArray.toSeq, y.toSeq)).toSeq
      .toDF("codes", "y")
    val got = rows.select(graft.functions.VectorOps.sq_adc_l2(
      col("codes"), col("y"), mns, mxs, Similarity.SqLevels).as("d")).collect().map(_.getLong(0))
    val want = coded.map { r =>
      val codes = r.getSeq[Int](2).toArray
      codes.indices.map { i =>
        val rng = mxs(i) - mns(i)
        val recon = mns(i) + codes(i).toLong * rng / (Similarity.SqLevels - 1)
        val t = recon - y(i)
        t * t
      }.sum
    }
    assert(got.toSeq == want.toSeq)
  }

  test("out-of-range vectors clamp and surface the error in distortion") {
    import spark.implicits._
    // Frozen stats [0, 100] per dim; a delta vector outside the range
    // (index maintenance under frozen stats) must clamp to the edge
    // code — never a negative or overflowing code — and its distortion
    // must price the clamp against the UNCLAMPED input.
    val mns = Array(0L, 0L)
    val mxs = Array(100L, 100L)
    val df = Seq((1L, Seq(-40L, 250L))).toDF("vec_id", "vq")
      .select(graft.functions.VectorOps.sq_encode(col("vq"), mns, mxs, 256).as("sc"))
      .select(col("sc.codes").as("codes"), col("sc.distortion").as("d"))
    val r = df.head()
    assert(r.getSeq[Int](0) == Seq(0, 255))
    // recon = (0, 100); err = (-40 - 0, 250 - 100)
    assert(r.getLong(1) == 40L * 40L + 150L * 150L)
  }

  test("constant dimension (mx == mn) encodes to code 0 with exact recon") {
    import spark.implicits._
    val mns = Array(7L, -3L)
    val mxs = Array(7L, 9L)
    val r = Seq((1L, Seq(7L, 9L))).toDF("vec_id", "vq")
      .select(graft.functions.VectorOps.sq_encode(col("vq"), mns, mxs, 256).as("sc"))
      .select(col("sc.codes").as("codes"), col("sc.distortion").as("d")).head()
    assert(r.getSeq[Int](0).head == 0)
    assert(r.getLong(1) == 0L) // 7 reconstructs exactly; 9 = -3 + 255*12/255
  }

  test("retrieval contract: schema, K rows per query, no self-pairs") {
    val out = Similarity.SqTopk.run(spark, sf)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == Similarity.K))
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 0L)
  }

  test("candidate stage never degrades to a nested-loop/cartesian plan") {
    val plan = Similarity.SqTopk.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in SQ plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in SQ plan")
  }

  test("recall gate holds at the fixture") {
    val r = Similarity.queries("similarity_sq_recall")(spark, sf).head()
    assert(r.getBoolean(0), s"SQ recall under floor ${r.getDouble(1)}")
  }

  test("the O(N·Q) ADC scorer stays inside whole-stage codegen") {
    // Execute first: under AQE the pre-execution plan string carries
    // no WSCG markers (the MinHashFuseSpec discipline). Only the PAIR
    // stage is pinned: the once-per-row encode projections carry the
    // grid cast (`transform`, a higher-order function = codegen
    // fallback) and legitimately sit outside WSCG — N-scale, not the
    // hot path.
    val df = Similarity.SqTopk.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val scorer = plan.linesIterator.filter(_.contains("sq_adc_l2")).toSeq
    assert(scorer.nonEmpty, "ADC scorer missing from plan")
    assert(scorer.exists(_.contains("*(")),
      s"ADC pair stage out of codegen:\n${scorer.mkString("\n")}")
  }
}
