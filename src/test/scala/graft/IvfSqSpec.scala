package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF × SQ8 composite. The construction is value-checked end-to-end
  * by the DuckDB oracle (similarity_ann_ivfsq — the IVFADC oracle's
  * IVF prefix spliced with the SQ encode CTEs); these pin the
  * reduction identity, the output contract, the plan shape, and the
  * gate. */
class IvfSqSpec extends SparkSpec {

  test("exhaustive dials reduce the composite to the exact baseline") {
    val k = Similarity.ivfCells(spark, sf)
    val n = Similarity.corpusCount(spark, sf)
    val exhaustive =
      Similarity.AnnIvfSq.copy(coarse = Similarity.Ivf(Some(k)),
        shortlist = Some(n.toInt)).run(spark, sf).collect().toSeq
    val exact = Similarity.ExactTopk.run(spark, sf).collect().toSeq
    assert(exhaustive == exact)
  }

  test("composite has the exact baseline's schema and K rows per query") {
    val out = Similarity.AnnIvfSq.run(spark, sf)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == Similarity.K))
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 0L)
  }

  test("candidate stage never degrades to a nested-loop/cartesian plan") {
    val plan = Similarity.AnnIvfSq.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in IVF-SQ plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in IVF-SQ plan")
  }

  test("recall gate holds at the fixture") {
    val r = Similarity.queries("similarity_ann_ivfsq_recall")(spark, sf).head()
    assert(r.getBoolean(0), s"IVF-SQ recall under floor ${r.getDouble(1)}")
  }
}
