package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.scalatest.funsuite.AnyFunSuite

/** Regression net for the r18 alias-filter trap: predicate pushdown
  * rewrites a filter on a projected alias by substituting the aliased
  * expression into the pushed predicate — an expensive expression
  * (signature, argmax, pair scorer) then evaluates two or three times
  * per row, and the pushed copy can land below the fan-out exchange,
  * single-core on a one-split scan. The dedup family silently tripled
  * that way (bisected from the canonical bench); these specs pin the
  * physical-plan OCCURRENCE COUNT of each expensive custom expression
  * so a reintroduced filter-on-alias (or a lost fusion) fails loudly
  * at test time instead of surfacing as a bench regression a round
  * later.
  *
  * Counts are exact-expected, not upper bounds: a DROP below the
  * expected count would mean a stage stopped using the fused
  * expression at all (the other failure mode worth catching).
  */
class PlanSingleEvalSpec extends SparkSpec {

  private def occurrences(df: org.apache.spark.sql.DataFrame, needle: String): Int =
    needle.r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("minhash cascade evaluates the signature exactly once") {
    assert(occurrences(Dedup.dedupMinhash(spark, sf), "minhash64") == 1)
  }

  test("minhash verify evaluates the set intersect exactly once") {
    assert(occurrences(Dedup.dedupMinhash(spark, sf), "array_intersect") == 1)
  }

  test("simhash cascade: one signature for bands, two verify re-attaches") {
    // bands + sa + sb: the two verify sides re-derive the (2-long)
    // signature rather than shuffling it — AQE stage reuse dedups the
    // shared scan at runtime (an explicit exchange was A/B'd at no
    // gain; tools/ProbeVerify18). A 4th occurrence = the old
    // filter-on-alias substitution is back.
    assert(occurrences(Dedup.dedupSimhash(spark, sf), "simhash64") == 3)
  }

  test("embedding dedup evaluates the pair dot exactly once") {
    assert(occurrences(Dedup.dedupEmbedding(spark, sf), "vec_dot") == 1)
  }

  test("cluster assignment evaluates the centroid matrix exactly once") {
    assert(occurrences(Similarity.embeddingCluster(spark, sf), "centroid_sims") == 1)
  }

  test("IVFADC: one code argmin for the corpus, two centroid stages") {
    val df = Similarity.AnnIvfPq.run(spark, sf)
    assert(occurrences(df, "pq_code_argmin") == 1)
    // corpus-side cell assignment + query-side probe ranking: two
    // DIFFERENT stages by design, not a re-evaluation.
    assert(occurrences(df, "centroid_sims") == 2)
  }

  test("SQ retrieval: one encode pass, one ADC scorer") {
    val df = Similarity.SqTopk.run(spark, sf)
    assert(occurrences(df, "sq_encode") == 1)
    assert(occurrences(df, "sq_adc_l2") == 1)
  }

  test("BQ retrieval: one pack pass per side") {
    // query side + corpus side: two different projections by design.
    assert(occurrences(Similarity.BqTopk.run(spark, sf), "bitpack_gt") == 2)
  }

  test("ngram counting tokenizes exactly once") {
    assert(occurrences(TextAnalysis.corpusNgramCounts(spark, sf), "filter\\(split") == 1)
    assert(occurrences(TextAnalysis.corpusRepetition(spark, sf), "filter\\(split") == 1)
  }
}
