package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Residual-encoding IVFADC (`similarity_ann_ivfpq_res`) coverage.
  * The construction arithmetic is value-checked end-to-end by the
  * DuckDB oracle; these specs pin the reduction identity (exhaustive
  * dials ⇒ the exact baseline), the residual-grid expression's
  * arithmetic and corruption conventions, the output contract, the
  * plan shape, and the recall gate.
  */
class IvfPqResSpec extends SparkSpec {

  test("exhaustive dials reduce the residual composite to the exact baseline") {
    // nProbe = k probes every cell (a residual LUT exists for every
    // (query, cell) pair) and a corpus-sized shortlist keeps every
    // candidate, so the exact rerank IS the exact baseline — the same
    // identity as the raw-code parent: production dials only PRUNE
    // this computation, never change its arithmetic.
    val k = Similarity.ivfCells(spark, sf)
    val n = Similarity.corpusCount(spark, sf)
    val exhaustive =
      Similarity.AnnIvfPqRes.copy(coarse = Similarity.Ivf(Some(k)),
        shortlist = Some(n.toInt)).run(spark, sf).collect().toSeq
    val exact = Similarity.ExactTopk.run(spark, sf).collect().toSeq
    assert(exhaustive == exact)
  }

  test("residual composite has the exact baseline's schema and K rows per query") {
    val out = Similarity.AnnIvfPqRes.run(spark, sf)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == Similarity.K))
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 0L)
  }

  test("vec_residual_grid: exact rounding against a Scala recompute") {
    import spark.implicits._
    val centroids = Array(
      Array(0.25, -1.5, 0.000001),
      Array(-0.5, 0.5, 2.0))
    val rows = Seq(
      (Seq(0.1234567, -0.5, 0.0005), 0L),
      (Seq(0.1234567, -0.5, 0.0005), 1L),
      // half-way cases: HALF_UP must round away from zero like DuckDB
      (Seq(0.2505, -1.4995, 0.0), 0L))
    val df = rows.toDF("v", "cell")
      .select(graft.functions.VectorOps.vec_residual_grid(
        col("v").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
        col("cell"), centroids, 1000).as("rq"))
    val got = df.collect().map(_.getSeq[Long](0).toSeq)
    val want = rows.map { case (v, cell) =>
      v.zip(centroids(cell.toInt)).map { case (x, c) =>
        java.math.BigDecimal.valueOf((x - c) * 1000)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }
    }
    assert(got.toSeq == want)
  }

  test("vec_residual_grid: corruption conventions (bad cell, bad dim, null element)") {
    import spark.implicits._
    val centroids = Array(Array(1.0, 2.0))
    def run(v: Seq[java.lang.Double], cell: Long) =
      Seq((v, cell)).toDF("v", "cell")
        .select(graft.functions.VectorOps.vec_residual_grid(
          col("v").cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
          col("cell"), centroids, 1000).as("rq"))
        .head()
    // out-of-range cell index → null result (never an exception)
    assert(run(Seq(1.0, 2.0), 5L).isNullAt(0))
    assert(run(Seq(1.0, 2.0), -1L).isNullAt(0))
    // wrong dimension → null result
    assert(run(Seq(1.0), 0L).isNullAt(0))
    // null element passes through as null, others computed
    val r = run(Seq(1.5, null), 0L).getSeq[Any](0)
    assert(r == Seq(500L, null))
  }

  test("residual codes actually differ from raw codes on the fixture") {
    // Degenerate-lane guard: if the residual grid or the residual
    // codebook silently fell back to the raw machinery, the two index
    // row sets would coincide and the lane would be a copy of the
    // parent wearing a new name.
    val raw = Similarity.AnnIvfPq.indexRows(spark, sf)
      .select(col("neighbor_id"), col("codes"))
    val res = Similarity.AnnIvfPqRes.indexRows(spark, sf)
      .select(col("neighbor_id"), col("codes"))
    val differing = raw.join(res, "neighbor_id")
      .where(raw("codes") =!= res("codes")).count()
    assert(differing > 0, "residual codes are identical to raw codes")
  }

  test("candidate stage never degrades to a nested-loop/cartesian plan") {
    val plan = Similarity.AnnIvfPqRes.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in residual-IVFADC plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in residual-IVFADC plan")
  }

  test("probe-side LUT sits behind a Generate barrier (no per-pair recompute)") {
    // Without the barrier, whole-stage codegen fuses the LUT projection
    // into the candidate join's stage and defers the expression into
    // the per-match loop — the full residual+table computation re-ran
    // once per PAIR (measured 75 CPU-s vs 8.6 at sf0.1).
    // The barrier's signature in the plan: the lut-carrying struct
    // exploded between the probe exchange and the join.
    val plan = Similarity.resProbeLuts(spark, sf,
      Similarity.normedOver(spark.read.parquet(s"$sf/embeddings.parquet")),
      Similarity.ivfProbes(Similarity.ivfCells(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("explode(filter(array(struct(query_id"),
      "lut materialization barrier missing — codegen may defer the " +
        s"table computation into the pair loop:\n$plan")
    // and the expensive expression appears exactly once in the plan
    assert("pq_query_lut".r.findAllIn(plan).length == 1,
      "pq_query_lut duplicated in the physical plan")
  }

  test("staged retrieval over the persisted residual index equals the inline form") {
    val inline0 = Similarity.AnnIvfPqRes.run(spark, sf).collect().toSeq
    val staged = Similarity.AnnIvfPqResStaged.run(spark, sf).collect().toSeq
    assert(staged == inline0)
    val b0 = graft.ops.IndexStore.builds.get()
    val l0 = graft.ops.IndexStore.loads.get()
    val again = Similarity.AnnIvfPqResStaged.run(spark, sf).collect().toSeq
    assert(again == inline0)
    assert(graft.ops.IndexStore.builds.get() == b0, "staged re-run rebuilt the index")
    assert(graft.ops.IndexStore.loads.get() > l0, "staged re-run did not load the artifact")
  }

  test("residual recall gate holds on the fixture (and the row says so)") {
    val row = Similarity.queries("similarity_ann_ivfpq_res_recall")(spark, sf).head()
    assert(row.getBoolean(0), "recall_ok")
    assert(row.getDouble(1) == Similarity.IvfPqResRecallFloor)
  }
}
