package graft

import graft.ops.{IndexStore, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}

/** Physical-plan shape of the retrieval queries: the count of shuffle
  * exchanges (by origin), broadcast exchanges and joins (by type and
  * build side) in the planned — not yet executed — plan. Every
  * retrieval lane is one [[Similarity.AnnIndex]] value over a shared
  * candidate stage and rerank tail, so a change to that shared code
  * moves many lanes' plans at once; these pins catch it per query. */
class AnnPlanShapeSpec extends SparkSpec {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def shape(df: DataFrame): Map[String, Int] =
    nodes(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeExec => s"Shuffle(${s.shuffleOrigin})"
      case _: BroadcastExchangeExec => "BroadcastExchange"
      case j: BroadcastHashJoinExec => s"BroadcastHashJoin(${j.joinType},${j.buildSide})"
      case j: SortMergeJoinExec => s"SortMergeJoin(${j.joinType})"
      case j: ShuffledHashJoinExec => s"ShuffledHashJoin(${j.joinType})"
      case j: BroadcastNestedLoopJoinExec => s"BroadcastNestedLoopJoin(${j.joinType})"
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  private def pins(bhjLeft: Int, bhjRight: Int, broadcasts: Int, fanOuts: Int): Map[String, Int] =
    Map("Shuffle(ENSURE_REQUIREMENTS)" -> 2, "Shuffle(REPARTITION_BY_NUM)" -> fanOuts,
      "BroadcastExchange" -> broadcasts,
      "BroadcastHashJoin(Inner,BuildLeft)" -> bhjLeft,
      "BroadcastHashJoin(Inner,BuildRight)" -> bhjRight).filter(_._2 > 0)

  // Blocked exact: the pinned query broadcast, the corpus fan-out, the
  // top-k aggregate's exchange and the output sort's.
  private val exactBlocked = pins(1, 0, 1, 1)
  // Blocked code lanes: + the two rerank re-attach joins.
  private val codeBlocked = pins(1, 2, 3, 1)
  // IVF lanes: probe-pair broadcast, query-payload broadcast (+ rerank).
  private val ivfExact = pins(1, 1, 2, 1)
  private val ivfCoded = pins(1, 3, 4, 1)
  // Residual IVFADC: the per-cell LUT frame is repartitioned, not
  // broadcast, and carries the payload itself.
  private val ivfResidual = pins(0, 3, 3, 2)

  private val expected = Map(
    "similarity_topk" -> exactBlocked,
    "similarity_filtered_topk" -> exactBlocked,
    "similarity_pq_topk" -> codeBlocked,
    "similarity_sq_topk" -> codeBlocked,
    "similarity_bq_topk" -> codeBlocked,
    "similarity_ann_ivf" -> ivfExact,
    "similarity_ann_ivfsq" -> ivfCoded,
    "similarity_ann_ivfpq" -> ivfCoded,
    "similarity_ann_ivfpq_staged" -> ivfCoded,
    "similarity_ann_ivfpq_filtered" -> ivfCoded,
    "similarity_ann_ivfpq_res" -> ivfResidual,
    "similarity_ann_ivfpq_res_staged" -> ivfResidual)

  test("the 12 retrieval queries keep their exchange and join counts") {
    val actual = expected.keys.toSeq.sorted.map(n => n -> shape(Similarity.queries(n)(spark, sf)))
    val wrong = actual.filter { case (n, s) => s != expected(n) }
    assert(wrong.isEmpty, wrong.map { case (n, s) =>
      s"$n: expected ${expected(n).toSeq.sorted} got ${s.toSeq.sorted}" }.mkString("\n"))
  }

  test("a staged index fans out on its artifact's split count, not the corpus scan's") {
    // Split the raw corpus into >= parallelism splits while the small
    // index artifact stays below it: the staged probe stage needs its
    // own fan-out exchange no matter which query primed the memo.
    val confs = Map("spark.sql.files.maxPartitionBytes" -> "32768",
      "spark.sql.files.openCostInBytes" -> "1024",
      "spark.sql.files.minPartitionNum" -> "1")
    val fanOut =
      "hashpartitioning\\(cell#\\d+L?, (vec_id|neighbor_id)#\\d+L?, \\d+\\), REPARTITION_BY_NUM".r
    def stagedFansOut(): Boolean = fanOut.findFirstIn(
      Similarity.AnnIvfPqStaged.run(spark, sf).queryExecution.executedPlan.toString).isDefined
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      IndexStore.clearMemos()
      val corpusSplits = spark.read.parquet(s"$sf/embeddings.parquet").rdd.getNumPartitions
      assert(corpusSplits >= spark.sparkContext.defaultParallelism,
        s"fixture corpus must scan as >= parallelism splits here (got $corpusSplits)")
      assert(stagedFansOut(), "staged plan lost its fan-out on a cold memo")
      IndexStore.clearMemos()
      Similarity.ExactTopk.run(spark, sf) // primes the corpus scan's split count
      assert(stagedFansOut(), "staged plan inherited the corpus scan's split count")
    } finally {
      confs.keys.foreach(spark.conf.unset)
      IndexStore.clearMemos()
    }
  }
}
