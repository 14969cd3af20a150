package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization coverage. The codebook-training arithmetic is
  * value-checked by the DuckDB oracle (embedding_pq); these specs pin
  * the encode against a driver-side argmin recompute, the pack/unpack
  * round-trip, and the retrieval-quality gate.
  */
class PqSpec extends SparkSpec {

  /** Round half away from zero — the engine/oracle shared convention. */
  private def q(x: Double): Long =
    (math.signum(x) * math.floor(math.abs(x) * Similarity.PqScale + 0.5)).toLong

  test("embedding_pq codes match a driver-side argmin over the trained codebook") {
    val cb = Similarity.pqCodebook(spark, sf)
    assert(cb.length == Similarity.PqCodewords)
    // Fixture vec_ids are dense, so every residue class is inhabited
    // and classes come out sorted 0..15.
    assert(cb.map(_._1).toSeq == (0 until Similarity.PqCodewords))
    assert(cb.forall(_._2.length == Similarity.PqM * Similarity.PqDims))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(f => q(f.toDouble)).toArray)
      .toMap
    val expected = vecs.map { case (id, vq) =>
      var code = 0L
      var distortion = 0L
      for (s <- 0 until Similarity.PqM) {
        var bestD = Long.MaxValue
        var bestJ = -1
        // cb is sorted by cls, so strict < reproduces the engine's
        // (d, cls) struct-min tie-break.
        cb.foreach { case (cls, cw) =>
          var d = 0L
          for (p <- 0 until Similarity.PqDims) {
            val i = s * Similarity.PqDims + p
            val diff = vq(i) - cw(i)
            d += diff * diff
          }
          if (d < bestD) { bestD = d; bestJ = cls }
        }
        code += bestJ.toLong << (4 * s)
        distortion += bestD
      }
      id -> ((code, distortion))
    }
    val got = Similarity.embeddingPq(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (c, d) = expected(r.getLong(0))
      assert(r.getAs[Long]("pq_code") == c, s"code for vec ${r.getLong(0)}")
      assert(r.getAs[Long]("distortion") == d, s"distortion for vec ${r.getLong(0)}")
    }
  }

  test("PQ encode stage runs inside whole-stage codegen (fused argmin expression)") {
    // r17: the composed m×16-candidate struct-min projection ran
    // OUTSIDE whole-stage codegen (interpreted eval, every codeword a
    // separate plan literal); the fused PqCodeArgmin keeps plan and
    // generated code constant-size. Execute first — AQE renders *(n)
    // spans only on the final plan.
    val df = Similarity.embeddingPq(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span:\n${plan.take(600)}")
    assert(plan.contains("pq_code_argmin"), plan.take(600))
  }

  test("pq_code packs 4-bit codes: every nibble < PqCodewords") {
    Similarity.embeddingPq(spark, sf).collect().foreach { r =>
      val code = r.getAs[Long]("pq_code")
      assert(code >= 0L && code < (1L << (4 * Similarity.PqM)))
      for (s <- 0 until Similarity.PqM)
        assert(((code >> (4 * s)) & 0xF) < Similarity.PqCodewords)
    }
  }

  test("similarity_pq_topk has the exact baseline's schema and K rows per query") {
    val out = Similarity.PqTopk.run(spark, sf)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == Similarity.K))
    // no self-matches
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 0L)
  }

  test("vec_l2sq_long equals the declarative zip_with/aggregate fold") {
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(transform(col("embedding"),
        x => round(x.cast("double") * Similarity.PqScale).cast("long")).as("vq"))
    val shifted = v.select(col("vq"),
      transform(col("vq"), x => x + lit(3L)).as("wq"))
    val cmp = shifted.select(
      graft.functions.VectorOps.vec_l2sq_long(col("vq"), col("wq")).as("native"),
      aggregate(zip_with(col("vq"), col("wq"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x).as("declarative"))
    assert(cmp.where(col("native") =!= col("declarative")).count() == 0L)
    // mismatched lengths → null, not a wrong number
    val bad = shifted.select(graft.functions.VectorOps.vec_l2sq_long(
      col("vq"), slice(col("wq"), 1, 7)).as("d"))
    assert(bad.where(col("d").isNotNull).count() == 0L)
  }

  test("ADC join never degrades to a nested-loop/cartesian plan") {
    val plan = Similarity.PqTopk.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in ADC plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in ADC plan")
  }

  test("LUT ADC equals the reconstruct-then-L2 reference row-for-row") {
    // The per-subspace table entries sum to exactly the integer L2
    // over the concatenated reconstruction, so the two formulations
    // must agree on every row including all tie-breaks.
    val lut = Similarity.PqTopk.run(spark, sf).collect().toSeq
    val rec = Similarity.PqTopk.copy(code = Similarity.PqRecon).run(spark, sf).collect().toSeq
    assert(lut == rec)
  }

  /** Deterministic synthetic corpus with a chosen embedding dim. */
  private def writeCorpus(dim: Int, n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft-pq$dim-").toString
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((i * 31 + d * 17) % 23 - 11).toFloat / 7f))
    }.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("PQ geometry derives from the embedding dimension (32-dim corpus)") {
    val dir = writeCorpus(dim = 32, n = 40)
    assert(Similarity.pqSubDims(spark, dir) == 32 / Similarity.PqM)
    val coded = Similarity.embeddingPq(spark, dir).collect()
    assert(coded.length == 40)
    coded.foreach { r =>
      val code = r.getAs[Long]("pq_code")
      assert(code >= 0L && code < (1L << (4 * Similarity.PqM)))
    }
    val topk = Similarity.PqTopk.run(spark, dir)
    assert(topk.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    assert(topk.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == Similarity.K))
  }

  test("PQ fails loudly on an embedding dim not divisible by PqM") {
    val dir = writeCorpus(dim = 30, n = 8)
    val e = intercept[IllegalArgumentException] {
      Similarity.pqSubDims(spark, dir)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("PQ recall gate holds on the fixture (and the row says so)") {
    val row = Similarity.queries("similarity_pq_recall")(spark, sf).head()
    assert(row.getBoolean(0), "recall_ok")
    assert(row.getDouble(1) == Similarity.PqRecallFloor)
  }
}
