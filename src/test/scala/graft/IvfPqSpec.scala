package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-PQ composite (IVFADC) coverage. The construction arithmetic is
  * value-checked end-to-end by the DuckDB oracle
  * (similarity_ann_ivfpq); these specs pin the reduction identity that
  * makes the composite trustworthy (exhaustive dials ⇒ the exact
  * baseline), the output contract, the shortlist budget arithmetic,
  * and the plan shape of the candidate stage.
  */
class IvfPqSpec extends SparkSpec {

  test("exhaustive dials reduce the composite to the exact baseline") {
    // nProbe = k probes every cell (the ADC stage sees every pair) and
    // a corpus-sized shortlist keeps every candidate, so the exact
    // rerank IS the exact baseline — row-for-row, ties included. This
    // is the identity that justifies calling the production dials
    // "approximate": they only PRUNE this computation, never change
    // its arithmetic.
    val k = Similarity.ivfCells(spark, sf)
    val n = Similarity.corpusCount(spark, sf)
    val exhaustive =
      Similarity.AnnIvfPq.copy(coarse = Similarity.Ivf(Some(k)),
        shortlist = Some(n.toInt)).run(spark, sf).collect().toSeq
    val exact = Similarity.ExactTopk.run(spark, sf).collect().toSeq
    assert(exhaustive == exact)
  }

  test("composite has the exact baseline's schema and K rows per query") {
    val out = Similarity.AnnIvfPq.run(spark, sf)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == Similarity.K))
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 0L)
  }

  test("shortlist budget: probe-scaled fraction, floored at K, capped") {
    // Tiny corpus: the fraction would starve the output contract.
    assert(Similarity.ivfPqShortlist(1L) == Similarity.K)
    // Mid: ceil(n · ProbeFrac · PqShortlistFrac), left-associated.
    val n = 1000L
    val expect = math.ceil(
      n * Similarity.ProbeFrac * Similarity.PqShortlistFrac).toInt
    assert(Similarity.ivfPqShortlist(n) == expect)
    // Huge corpus: the hard ceiling, same as the flat PQ path.
    assert(Similarity.ivfPqShortlist(Long.MaxValue / 2) ==
      Similarity.PqShortlistMax)
  }

  test("candidate stage never degrades to a nested-loop/cartesian plan") {
    val plan = Similarity.AnnIvfPq.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in IVFADC plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in IVFADC plan")
  }

  test("staged retrieval over the persisted index equals the inline form") {
    val inline0 = Similarity.AnnIvfPq.run(spark, sf).collect().toSeq
    val staged = Similarity.AnnIvfPqStaged.run(spark, sf).collect().toSeq
    assert(staged == inline0)
    // And the artifact is really on disk: a second staged run loads
    // without paying a build.
    val b0 = graft.ops.IndexStore.builds.get()
    val l0 = graft.ops.IndexStore.loads.get()
    val again = Similarity.AnnIvfPqStaged.run(spark, sf).collect().toSeq
    assert(again == inline0)
    assert(graft.ops.IndexStore.builds.get() == b0, "staged re-run rebuilt the index")
    assert(graft.ops.IndexStore.loads.get() > l0, "staged re-run did not load the artifact")
  }

  test("composite recall gate holds on the fixture (and the row says so)") {
    val row = Similarity.queries("similarity_ann_ivfpq_recall")(spark, sf).head()
    assert(row.getBoolean(0), "recall_ok")
    assert(row.getDouble(1) == Similarity.IvfPqRecallFloor)
  }

  test("filtered composite: exhaustive dials reduce to the exact filtered baseline") {
    val k = Similarity.ivfCells(spark, sf)
    val n = Similarity.corpusCount(spark, sf)
    val exhaustive =
      Similarity.AnnIvfPqFiltered.copy(coarse = Similarity.Ivf(Some(k)),
        shortlist = Some(n.toInt)).run(spark, sf).collect().toSeq
    val exact = Similarity.FilteredTopk.run(spark, sf).collect().toSeq
    assert(exhaustive == exact)
  }

  test("filtered retrieval: every emitted pair shares the query's label") {
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    def labelViolations(out: org.apache.spark.sql.DataFrame): Long =
      out.join(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "ql"), "query_id")
        .join(labels.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "nl"), "neighbor_id")
        .where(col("ql") =!= col("nl")).count()
    assert(labelViolations(Similarity.FilteredTopk.run(spark, sf)) == 0L)
    assert(labelViolations(Similarity.AnnIvfPqFiltered.run(spark, sf)) == 0L)
    // and both still produce K rows per query (every fixture label has
    // far more than K members)
    assert(Similarity.AnnIvfPqFiltered.run(spark, sf)
      .groupBy("query_id").count().collect().forall(_.getLong(1) == Similarity.K))
  }

  test("filtered recall gate holds on the fixture (and the row says so)") {
    val row = Similarity.queries("similarity_ann_ivfpq_filtered_recall")(spark, sf).head()
    assert(row.getBoolean(0), "recall_ok")
    assert(row.getDouble(1) == Similarity.FilteredRecallFloor)
  }
}
