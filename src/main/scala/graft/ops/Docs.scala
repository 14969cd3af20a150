package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared accessors/expressions for the `documents` fixture table
  * (doc_id, text, lang, source, n_chars).
  *
  * Tokenization is the one definition every text operator shares:
  * whitespace-split, empty tokens dropped. Kept identical to the DuckDB
  * oracle form `list_filter(string_split(text,' '), t -> len(t)>0)` so
  * token counts agree exactly.
  */
object Docs {
  def documents(spark: SparkSession, dir: String): DataFrame =
    IndexStore.table(spark, dir, "documents")

  /** [[documents]] with the scan fanned out to cluster parallelism via
    * an explicit doc_id exchange ([[Similarity.fanOut]] — a no-op once
    * the scan itself has >= defaultParallelism splits, the 100 TB
    * case). Every text family computes its signatures map-side BEFORE
    * its first shuffle (shingling, minhash mins, simhash bit votes,
    * winnowing, quality metrics, media decode) — and a sub-128 MB
    * documents parquet scans as ONE split, so without this the whole
    * signature stage lands on a single core: the same collapse the
    * embedding joins had (r12/r13). Keying the exchange by doc_id
    * also lets downstream per-doc groupBys reuse the partitioning
    * instead of adding a shuffle of their own. The table tag keys the
    * split-count memo so this scan never inherits another table's
    * cached count. */
  def fanned(spark: SparkSession, dir: String): DataFrame =
    Similarity.fanOut(spark, dir, "documents",
      documents(spark, dir), col("doc_id"))

  /** Whitespace tokens of a text column, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Distinct word 3-gram shingles; docs shorter than 3 tokens fall back
    * to a single whole-doc shingle (mirrors the oracle's CASE arm).
    *
    * IMPORTANT: pass an ATTRIBUTE (a materialized `toks` column, e.g.
    * via [[shingled]]), not the tokens expression itself — `element_at`
    * re-evaluates its array operand per call, so an inline
    * `filter(split(...))` would be recomputed ~3x per shingle. */
  def shingles3(toks: Column): Column = shinglesN(toks, 3)

  /** (doc_id, sh): shingle sets with the token array materialized in its
    * own projection first. The multi-reference of a non-cheap alias
    * stops Catalyst's projection collapse from inlining the tokenizer
    * into every element_at. */
  def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingles3(col("toks")).as("sh"))

  /** Distinct word n-gram shingles for arbitrary n (same contract as
    * [[shingles3]]: docs shorter than n tokens fall back to one
    * whole-doc shingle; pass a materialized `toks` attribute). The
    * decontamination operator uses n = 8 — the published benchmark-
    * decontam granularity (8-13 word n-grams), long enough that
    * incidental phrase reuse cannot collide. */
  def shinglesN(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))

  /** [[shinglesN]] in DuckDB SQL: CTE body over `documents` producing
    * `sN`(doc_id, sh). */
  def shinglesNSql(n: Int, cte: String = "sN"): String =
    s"""w AS (SELECT doc_id, list_filter(string_split(text,' '), t -> len(t)>0) AS ws FROM documents),
       |$cte AS (SELECT doc_id,
       |  CASE WHEN len(ws) >= $n
       |       THEN list_distinct(list_transform(range(1, len(ws)-${n - 2}),
       |              i -> array_to_string(list_slice(ws, i, i+${n - 1}), ' ')))
       |       ELSE [array_to_string(ws, ' ')] END AS sh FROM w)""".stripMargin

  /** Word-bigram OCCURRENCES (non-distinct, order-preserving) of a
    * materialized `toks` attribute — the granularity the frequency
    * operators (`corpus_ngram_counts`, `corpus_repetition`) count at,
    * as opposed to the distinct shingle SETS the dedup family hashes.
    * Callers must pre-filter `size(toks) >= 2`. */
  def wordBigrams(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))

  /** [[wordBigrams]] in DuckDB SQL over a list expression `toks`. */
  def wordBigramsSql(toks: String): String =
    s"list_transform(range(1, len($toks)), i -> $toks[i] || ' ' || $toks[i+1])"

  /** The same shingle definition in DuckDB SQL, as a CTE body over
    * `documents` producing (doc_id, sh). */
  val shinglesSql: String = shinglesNSql(3, cte = "s")
}
