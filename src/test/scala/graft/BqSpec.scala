package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** BQ (1-bit-per-dimension) lane. The DuckDB oracles value-check the
  * thresholds, bits, and retrieval end-to-end; these pin what the
  * oracle cannot: the exhaustive reduction identity, an independent
  * recompute of the median selection and the packing, and the
  * balanced-bits property the median thresholds exist for. */
class BqSpec extends SparkSpec {

  private def gridded = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * Similarity.PqScale).cast(LongType)).as("vq"))

  test("exhaustive shortlist reduces BQ retrieval to the exact baseline") {
    val n = Similarity.corpusCount(spark, sf).toInt
    val exhaustive = Similarity.BqTopk.copy(shortlist = Some(n)).run(spark, sf).collect().toSeq
    val exact = Similarity.ExactTopk.run(spark, sf).collect().toSeq
    assert(exhaustive == exact)
  }

  test("thresholds are the exact lower medians; bits match a recompute") {
    val vqs = gridded.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val dim = vqs.values.head.length
    val n = vqs.size
    val medRank = (n + 1) / 2
    val meds = Array.tabulate(dim) { i =>
      vqs.values.map(_(i)).toArray.sorted.apply(medRank - 1)
    }
    assert(Similarity.bqThresholds(spark, sf).toSeq == meds.toSeq)
    val got = Similarity.embeddingBq(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    vqs.foreach { case (id, vq) =>
      val want = vq.indices.foldLeft(0L) { (acc, i) =>
        if (vq(i) > meds(i)) acc | (1L << i) else acc
      }
      assert(got(id) == want, s"bits for vec $id")
    }
  }

  test("median thresholds balance the bits: no bit set in more than half the corpus") {
    val n = Similarity.corpusCount(spark, sf)
    val bits = Similarity.embeddingBq(spark, sf).collect().map(_.getLong(1))
    val dim = Similarity.bqThresholds(spark, sf).length
    (0 until dim).foreach { i =>
      val ones = bits.count(b => ((b >> i) & 1L) == 1L)
      assert(ones <= n / 2, s"bit $i set in $ones of $n rows — threshold is not a median")
    }
  }

  test("retrieval contract: schema, K rows per query, no self-pairs") {
    val out = Similarity.BqTopk.run(spark, sf)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == Similarity.K))
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 0L)
  }

  test("candidate stage never degrades to a nested-loop/cartesian plan") {
    val plan = Similarity.BqTopk.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in BQ plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in BQ plan")
  }

  test("recall gate holds at the fixture") {
    val r = Similarity.queries("similarity_bq_recall")(spark, sf).head()
    assert(r.getBoolean(0), s"BQ recall under floor ${r.getDouble(1)}")
  }

  test("the O(N·Q) Hamming scorer stays inside whole-stage codegen") {
    // Execute first (AQE shows WSCG markers only post-execution). The
    // pair stage — bit_count(xor) — is the pinned hot path; the
    // once-per-row pack projections carry the grid cast (`transform`
    // = codegen fallback) and legitimately sit outside WSCG.
    val df = Similarity.BqTopk.run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val scorer = plan.linesIterator
      .filter(l => l.contains("bit_count") && l.contains("negd")).toSeq
    assert(scorer.nonEmpty, "Hamming scorer missing from plan")
    assert(scorer.exists(_.contains("*(")),
      s"Hamming pair stage out of codegen:\n${scorer.mkString("\n")}")
  }
}
