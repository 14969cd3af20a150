package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Text-analysis operators over the `documents` table: per-document
  * statistics, n-gram-heuristic language ID, a quality score, and a
  * winnowing-style document fingerprint.
  *
  * All pure built-in expressions (one codegen'd projection, no UDFs, no
  * shuffle except the deterministic output sort) — the 100 TB shape is a
  * single map-side pass over the corpus. Every formula is mirrored
  * operation-for-operation in the DuckDB oracle so double arithmetic is
  * bit-identical.
  */
object TextAnalysis {

  /** Marker stopword lists for the language-ID heuristic. Deliberately
    * tiny: the heuristic is argmax of marker hits with a fixed priority
    * (en > de > fr > es) and 'xx' when no marker hits. */
  val En = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val De = Seq("der", "die", "das", "und", "ist", "ein")
  val Fr = Seq("le", "les", "et", "est", "dans", "une")
  val Es = Seq("el", "los", "y", "es", "por", "una")

  private def sqlList(ws: Seq[String]): String = ws.map("'" + _ + "'").mkString(", ")

  /** Per-document stats + language guess + quality score. */
  def textAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.fanned(spark, dir)
    val toks = Docs.tokens(col("text"))
    val d = docs.select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
    val nTokens = size(col("toks"))
    def hits(ws: Seq[String]) = size(filter(col("toks"), t => t.isin(ws: _*)))
    val cEn = hits(En); val cDe = hits(De); val cFr = hits(Fr); val cEs = hits(Es)
    val nChars = length(col("text"))
    val punct = length(regexp_replace(col("text"), "[^.,;:!?]", ""))
    // nullif like the sibling ratios: an empty text (n_chars = 0)
    // under this default-ANSI runtime would otherwise THROW
    // DIVIDE_BY_ZERO and kill the query; DuckDB yields NULL.
    val punctRatio = punct.cast(DoubleType) / nullif(nChars, lit(0))
    val stopRatio = cEn.cast(DoubleType) / nullif(nTokens, lit(0))
    d.select(
      col("doc_id"),
      col("lang"),
      nChars.cast(LongType).as("n_chars_m"),
      nTokens.cast(LongType).as("n_tokens"),
      size(array_distinct(col("toks"))).cast(LongType).as("n_types"),
      size(expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)")).cast(LongType).as("n_word_runs"),
      // BPE-ish piece count: letter runs / digit runs / punctuation runs
      // (the pre-tokenization split BPE vocabularies are trained over) —
      // the corpus-level token-budget estimator. The whitespace class is
      // spelled out as [ \t\n\f\r] because Java's \s includes vertical
      // tab (\x0B) while RE2's does not — with the explicit class the
      // pattern means the same thing in both engines on ANY corpus.
      size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\\\t\\\\n\\\\f\\\\r]+', 0)"))
        .cast(LongType).as("n_bpe_pieces"),
      // LongType fold, the corpusQualityFilter convention: the Int
      // accumulator is unreachable-overflow in practice (2 GB string
      // cap) but two folds of the same sum on different conventions
      // invite a divergent future edit.
      (aggregate(transform(col("toks"), t => length(t).cast(LongType)),
        lit(0L), (acc, x) => acc + x)
        .cast(DoubleType) / nullif(nTokens, lit(0))).as("avg_token_len"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stop_ratio"),
      when(greatest(cEn, cDe, cFr, cEs) === 0, "xx")
        .when(cEn >= cDe && cEn >= cFr && cEn >= cEs, "en")
        .when(cDe >= cFr && cDe >= cEs, "de")
        .when(cFr >= cEs, "fr")
        .otherwise("es").as("lang_guess"),
      round(lit(0.5) * (least(nTokens, lit(100)) / lit(100.0))
        + lit(0.3) * stopRatio + lit(0.2) * (lit(1.0) - punctRatio), 6).as("quality"))
      .orderBy("doc_id")
  }

  val textAnalysisOracle: String = {
    def hitsSql(ws: Seq[String]) = s"len(list_filter(toks, t -> t IN (${sqlList(ws)})))"
    s"""WITH d AS (
       |  SELECT doc_id, lang, text,
       |         list_filter(string_split(text,' '), t -> len(t)>0) AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang, text, toks,
       |         len(toks) AS n_tokens,
       |         ${hitsSql(En)} AS c_en, ${hitsSql(De)} AS c_de,
       |         ${hitsSql(Fr)} AS c_fr, ${hitsSql(Es)} AS c_es,
       |         length(text) AS n_chars_m,
       |         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
       |  FROM d)
       |SELECT doc_id, lang,
       |       CAST(n_chars_m AS BIGINT) AS n_chars_m,
       |       CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_word_runs,
       |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]+')) AS BIGINT) AS n_bpe_pieces,
       |       CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / nullif(n_tokens, 0) AS avg_token_len,
       |       CAST(punct AS DOUBLE) / n_chars_m AS punct_ratio,
       |       CAST(c_en AS DOUBLE) / nullif(n_tokens, 0) AS stop_ratio,
       |       CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'xx'
       |            WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
       |            WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
       |            WHEN c_fr >= c_es THEN 'fr'
       |            ELSE 'es' END AS lang_guess,
       |       round(0.5 * (least(n_tokens, 100) / 100.0)
       |             + 0.3 * (CAST(c_en AS DOUBLE) / nullif(n_tokens, 0))
       |             + 0.2 * (1.0 - CAST(punct AS DOUBLE) / n_chars_m), 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Winnowing-style fingerprint: the minimum hash over all 8-char
    * sliding windows of the text. Robust to local edits (an edit only
    * perturbs 8 windows). md5 keeps the hash portable to the oracle; at
    * scale swap in xxhash64 (same plan shape, one expression change).
    *
    * Computed by the one-pass codegen'd [[graft.functions.Winnow]]
    * expression — the declarative
    * `array_min(transform(sequence, i -> md5(substr)))` materializes an
    * n-element hex array per document through interpreted lambdas
    * (measured ~3x slower); a spec pins the two forms equal. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.fanned(spark, dir)
    val n = length(col("text"))
    docs.select(col("doc_id"),
      graft.functions.Winnow.winnow_fingerprint(col("text"), 8).as("fingerprint"),
      when(n >= 8, n - 7).otherwise(1).cast(LongType).as("n_windows"))
      .orderBy("doc_id")
  }

  /** The declarative formulation, kept as the spec's cross-check. */
  private[graft] def docFingerprintDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.documents(spark, dir)
    val n = length(col("text"))
    val windows = when(n >= 8,
      transform(sequence(lit(1), n - 7), i => md5(col("text").substr(i, lit(8)))))
      .otherwise(array(md5(col("text"))))
    docs.select(col("doc_id"), array_min(windows).as("fingerprint"),
      size(windows).cast(LongType).as("n_windows"))
      .orderBy("doc_id")
  }

  val docFingerprintOracle: String =
    """WITH f AS (
      |  SELECT doc_id,
      |         CASE WHEN length(text) >= 8
      |              THEN list_transform(range(1, length(text)-6), i -> md5(substr(text, i, 8)))
      |              ELSE [md5(text)] END AS windows
      |  FROM documents)
      |SELECT doc_id, list_min(windows) AS fingerprint,
      |       CAST(len(windows) AS BIGINT) AS n_windows
      |FROM f ORDER BY doc_id""".stripMargin

  /** Deterministic, leakage-free train/val/test assignment: the split
    * is a fixed function of the CONTENT hash (first two hex chars of
    * md5(text): `< "fa"` → train ~97.7%, `< "fd"` → val ~1.2%, else
    * test ~1.2%), so exact duplicates and re-crawls always land in the
    * SAME split — no train/test leakage through duplicated text — and
    * the assignment is reproducible across engines, runs, and cluster
    * sizes with no RNG, seed, or sampling state to coordinate.
    *
    * 100 TB shape: a pure map-side projection over the corpus scan
    * (one md5 per row — like dedup_exact, too cheap to fan out); no
    * shuffle except the verification orderBy, which a production
    * pipeline drops. Lexicographic hex-prefix thresholds are the
    * whole contract: DuckDB states them verbatim. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    val b = substring(md5(col("text")), 1, 2)
    Docs.documents(spark, dir)
      .select(col("doc_id"),
        when(b < "fa", "train").when(b < "fd", "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  val corpusSplitOracle: String =
    """SELECT doc_id,
      |  CASE WHEN substring(md5(text),1,2) < 'fa' THEN 'train'
      |       WHEN substring(md5(text),1,2) < 'fd' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- hashed embeddings

  /** Dimensionality of [[docEmbed]]. 16 keeps the oracle's explicit
    * per-bucket columns readable; the operator shape is dim-agnostic
    * (a 256- or 4096-bucket production run changes only this constant
    * — the aggregate stays one partial-agg row of dim longs per doc). */
  val EmbedDim = 16

  /** Feature-hashed bag-of-words document embedding (the "hashing
    * trick", Weinberger et al. 2009 — the standard trained-model-free
    * baseline that gives every text-only corpus an embedding column
    * for the cosine dedup/similarity family): each token hashes to a
    * bucket with a pseudo-random sign, the doc vector is the
    * L2-normalized signed bucket counts.
    *
    * The hash is md5-derived (bucket = first 8 hex digits mod dim,
    * sign = parity of the 9th) rather than Spark's murmur `hash` for
    * one reason: md5 exists bit-identically in DuckDB, so the oracle
    * can recompute the embedding value-for-value instead of
    * rows-only. Deterministic, no RNG state, portable across engines.
    *
    * 100 TB shape: tokenize+hash is map-side behind [[Docs.fanned]];
    * the groupBy partially aggregates [[EmbedDim]] narrow sums, so the
    * only shuffle is one id-keyed row of dim longs per doc — the same
    * metadata-scale exchange as the minhash signature stage. The
    * normalize/round is a final map-side projection. */
  def docEmbed(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("t"))
    val bucket = conv(substring(h, 1, 8), 16, 10).cast(LongType) % EmbedDim
    val sign = when(conv(substring(h, 9, 1), 16, 10).cast(LongType) % 2 === 0, 1L)
      .otherwise(-1L)
    val sums = Docs.fanned(spark, dir)
      .select(col("doc_id"), explode(Docs.tokens(col("text"))).as("t"))
      .select(col("doc_id"), bucket.as("b"), sign.as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("b") === 0, col("s")).otherwise(0L)).as("r0"),
        (1 until EmbedDim).map(k =>
          sum(when(col("b") === k, col("s")).otherwise(0L)).as(s"r$k")): _*)
    // exact integer norm² then ONE double sqrt/divide — deterministic
    // and identical to the oracle's arithmetic; an all-cancelled doc
    // (norm 0) maps to the zero vector, not NaN
    val normSq = (0 until EmbedDim).map(k => col(s"r$k") * col(s"r$k")).reduce(_ + _)
    val nrm = sqrt(normSq.cast(DoubleType))
    sums.select(col("doc_id") +: (0 until EmbedDim).map(k =>
      round(when(nrm === 0d, 0d)
        .otherwise(col(s"r$k").cast(DoubleType) / nrm), 6).as(s"e$k")): _*)
      .orderBy("doc_id")
  }

  val docEmbedOracle: String = {
    // fold of the first 8 md5 hex digits to an int, 1-indexed strpos
    val fold = (1 to 8).map { j =>
      s"(strpos('0123456789abcdef', substr(md5(t),$j,1))-1)*${1L << (4 * (8 - j))}"
    }.mkString(" + ")
    val rCols = (0 until EmbedDim).map(k =>
      s"sum(CASE WHEN b = $k THEN s ELSE 0 END) AS r$k").mkString(",\n       ")
    val normSq = (0 until EmbedDim).map(k => s"r$k*r$k").mkString(" + ")
    val eCols = (0 until EmbedDim).map(k =>
      s"round(CASE WHEN nrm = 0 THEN 0.0 ELSE CAST(r$k AS DOUBLE)/nrm END, 6) AS e$k")
      .mkString(",\n       ")
    s"""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> len(t)>0)) AS t
       |            FROM documents),
       |b AS (SELECT doc_id, CAST(($fold) % $EmbedDim AS BIGINT) AS b,
       |             CASE WHEN (strpos('0123456789abcdef', substr(md5(t),9,1))-1) % 2 = 0
       |                  THEN 1 ELSE -1 END AS s
       |      FROM tk),
       |r AS (SELECT doc_id, $rCols FROM b GROUP BY doc_id),
       |n AS (SELECT *, sqrt(CAST($normSq AS DOUBLE)) AS nrm FROM r)
       |SELECT doc_id, $eCols FROM n ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------- sequence packing

  /** Tokens per training sequence in [[corpusPack]]. */
  val PackBudget = 512

  /** Sequence-packing manifest — the concatenate-then-chunk layout
    * GPT-style pretraining uses (documents joined by an EOS token into
    * one stream per pack group, the stream cut into fixed
    * [[PackBudget]]-token sequences; document boundaries do NOT align
    * with sequence boundaries). The manifest gives a data loader, for
    * every document: its token offset in the group's stream
    * (`tok_start`, each doc contributing n_tokens + 1 for its EOS) and
    * the first/last sequence its content lands in (`seq_first` /
    * `seq_last` — a doc straddles sequences when the cut falls inside
    * it, exactly like the real layout).
    *
    * 100 TB shape: the stream order must be deterministic but packing
    * needs NO global order — the stream is per `source` (one window
    * partition each, ordered by doc_id), so groups pack in parallel
    * and one group's manifest never depends on another's. A production
    * corpus keys the group finer ((source, shard-date) etc.) to bound
    * partition width; the window is a single running sum either way —
    * one shuffle on the group key, no global sort. */
  def corpusPack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Docs.fanned(spark, dir)
      .select(col("doc_id"), col("source"),
        size(Docs.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("tok_start",
        sum(col("n_tokens") + 1).over(w) - (col("n_tokens") + 1))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tok_start"),
        // `div`: exact integer division (a double `/` would round past
        // 2^53 — never reachable here, but exact beats almost-exact)
        expr(s"tok_start div $PackBudget").as("seq_first"),
        expr(s"(tok_start + n_tokens - 1) div $PackBudget").as("seq_last"))
      .orderBy("doc_id")
  }

  val corpusPackOracle: String =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len(list_filter(string_split(text,' '), x -> len(x)>0)) AS BIGINT) AS n_tokens
       |           FROM documents),
       |c AS (SELECT *,
       |        -- CAST: DuckDB widens sum() OVER to HUGEINT; the engine emits
       |        -- BIGINT and the row hash is type-sensitive
       |        CAST(sum(n_tokens + 1) OVER (PARTITION BY source ORDER BY doc_id
       |                                     ROWS UNBOUNDED PRECEDING) - (n_tokens + 1)
       |             AS BIGINT) AS tok_start
       |      FROM t)
       |SELECT doc_id, source, n_tokens, tok_start,
       |       tok_start // $PackBudget AS seq_first,
       |       (tok_start + n_tokens - 1) // $PackBudget AS seq_last
       |FROM c ORDER BY doc_id""".stripMargin

  /** Fixture BPE merge vocabulary for the tokenizer-true lane (r18):
    * a fixed rank-ordered byte-level merge list (common English
    * digraphs + space-fused word tails, the shape a real learned
    * vocabulary has at tiny size). A production pipeline ships its
    * tokenizer's learned merges here — the operator takes any list;
    * this one exists so the oracle can replay tokenization exactly
    * ([[graft.functions.Bpe]]): each rule is one `replace()` in a
    * recursive CTE, so determinism needs nothing beyond the list
    * itself. Rank order is load-bearing: later rules may consume
    * tokens earlier rules create ("t"+"h" → "th", "th"+"e" → "the",
    * "the"+" " → "the "). */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "the" -> " ",
    "i" -> "n", "a" -> "n", "an" -> "d", "and" -> " ",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n",
    "o" -> "r", "e" -> "s", "i" -> "s", "o" -> "u", "a" -> "l",
    "in" -> "g", "ing" -> " ", "er" -> " ", "es" -> " ",
    "is" -> " ", "on" -> " ", "at" -> " ", "en" -> " ", "or" -> " ",
    "e" -> " ", "s" -> " ", "t" -> " ", "d" -> " ", "n" -> " ", "y" -> " ",
    " " -> "t", " " -> "a", " " -> "s", " " -> "w", " " -> "o", " " -> "c")

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The merge list as SQL VALUES rows `(rank, pattern, replacement)` —
    * ONE definition shared by engine and oracle. */
  private[graft] val bpeMergesValues: String =
    BpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"($i, chr(2)||${sqlLit(a)}||chr(3)||chr(2)||${sqlLit(b)}||chr(3), " +
        s"chr(2)||${sqlLit(a + b)}||chr(3))"
    }.mkString(", ")

  /** `corpus_pack_bpe`: the [[corpusPack]] manifest with the token
    * budget measured in BPE TOKENS ([[graft.functions.Bpe]], the
    * [[BpeMerges]] fixture vocabulary) instead of the whitespace-token
    * proxy — tokenizer-true sequence packing, what the data loader of
    * a real pretraining run actually consumes. Same packing law
    * (per-source stream, n_tokens + 1 EOS each, [[PackBudget]]-token
    * cuts); only the measure changes. Same 100 TB shape as
    * [[corpusPack]]: tokenization is map-side (vocabulary as a codegen
    * reference object), one window shuffle on the group key. */
  def corpusPackBpe(spark: SparkSession, dir: String): DataFrame =
    corpusPackBpeWith(spark, dir, BpeMerges)

  /** The packing manifest under ANY merge vocabulary — shared by the
    * fixture-vocab lane and the corpus-trained lane
    * ([[corpusPackBpeLearned]]). */
  private[graft] def corpusPackBpeWith(spark: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Docs.fanned(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.Bpe.bpe_token_count(col("text"), merges).as("n_tokens"))
      .withColumn("tok_start",
        sum(col("n_tokens") + 1).over(w) - (col("n_tokens") + 1))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tok_start"),
        expr(s"tok_start div $PackBudget").as("seq_first"),
        expr(s"(tok_start + n_tokens - 1) div $PackBudget").as("seq_last"))
      .orderBy("doc_id")
  }

  /** Oracle replay of the BPE tokenization: seed each document as its
    * code-point sequence with every character wrapped chr(2)..chr(3)
    * ((?s): '.' must match newlines), then one recursive-CTE step per
    * merge rank applies that rule as a literal `replace` — DuckDB's
    * left-to-right non-overlapping replace is exactly the engine's
    * `String.replace`, and the wrappers anchor each pattern to whole
    * adjacent tokens — and the surviving chr(2) count is the token
    * count. The packing tail is [[corpusPackOracle]]'s. */
  val corpusPackBpeOracle: String =
    s"""WITH RECURSIVE m(rk, pat, rep) AS (VALUES $bpeMergesValues),
       |init AS (
       |  SELECT doc_id, source,
       |         regexp_replace(text, '(?s)(.)', chr(2) || '\\1' || chr(3), 'g') AS s
       |  FROM documents),
       |steps AS (
       |  SELECT doc_id, source, s, 0 AS i FROM init
       |  UNION ALL
       |  SELECT st.doc_id, st.source, replace(st.s, m.pat, m.rep), st.i + 1
       |  FROM steps st JOIN m ON m.rk = st.i),
       |t AS (
       |  SELECT doc_id, source,
       |         CAST(length(s) - length(replace(s, chr(2), '')) AS BIGINT) AS n_tokens
       |  FROM steps WHERE i = ${BpeMerges.size}),
       |c AS (SELECT *,
       |        CAST(sum(n_tokens + 1) OVER (PARTITION BY source ORDER BY doc_id
       |                                     ROWS UNBOUNDED PRECEDING) - (n_tokens + 1)
       |             AS BIGINT) AS tok_start
       |      FROM t)
       |SELECT doc_id, source, n_tokens, tok_start,
       |       tok_start // $PackBudget AS seq_first,
       |       (tok_start + n_tokens - 1) // $PackBudget AS seq_last
       |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- BPE vocabulary training

  /** Merge ranks learned by `corpus_bpe_train`. Constant so the oracle
    * (an unrolled CTE chain, one stage per rank) stays a fixed string;
    * a production run dials this to its vocabulary size. */
  val BpeTrainRanks = 12

  /** Rank threshold past which training switches from the per-rank
    * distributed loop to the collected single-pass trainer
    * ([[bpeTrainedMergesLocal]]). The distributed loop costs 2+
    * driver-coordinated Spark jobs PER RANK (pair count + argmax
    * collect + dictionary rewrite) — fine at fixture scale, wall-clock
    * death at a production 32k–100k-merge vocabulary (~10⁵ sequential
    * jobs no cluster size can hide). But the (word, count) dictionary
    * the loop iterates on is VOCABULARY-bounded, not corpus-bounded:
    * past this threshold it is collected once (one distributed
    * shuffle — the only corpus-scale work training has) and the merge
    * loop runs as a single driver pass with incrementally-maintained
    * pair counts, the shape every production BPE trainer uses. Below
    * the threshold the distributed form is kept so the fixture-rank
    * oracle (an unrolled CTE chain) replays the exact same engine
    * path it always has; the two paths are spec-pinned identical at
    * fixture ranks ([[graft.BpeTrainSpec]]). */
  val BpeLocalRankThreshold = 16

  private val bpeTrainCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, String, Long)]]()

  /** Test hook: drop the in-memory memo so a spec can simulate a fresh
    * process against a persisted artifact (the IndexStoreSpec
    * discipline). */
  private[graft] def clearBpeTrainCache(): Unit = bpeTrainCache.clear()

  /** Learn [[BpeTrainRanks]] BPE merges from the corpus — the TRAINING
    * side of the tokenizer lane ([[corpusPackBpe]] applies a shipped
    * vocabulary; this builds one). Classic Sennrich et al. 2016: train
    * on the WORD-FREQUENCY dictionary, not the corpus — the corpus
    * collapses to (word, count) once (one shuffle, the dictionary
    * trick that makes iterative training tractable: at 100 TB the
    * distinct-word table is millions of rows, bounded by vocabulary
    * growth, not corpus size), then each rank counts adjacent token
    * pairs weighted by word count, takes the argmax (count desc, then
    * lexicographic — fully deterministic), and applies that ONE merge
    * to the dictionary. Merges are within-word by construction (pairs
    * never cross the word boundary), so the learned rules compose with
    * the full-text [[graft.functions.Bpe.BpeTokenCount]] applier
    * unchanged — a space-free pattern can only match inside a word.
    *
    * Per-rank work: one bounded-table pair count (explode + sum), one
    * single-row collect (the argmax — metadata scale, the audited
    * pattern), one map-side replace. The token-list transform uses
    * higher-order functions deliberately: this is an index-BUILD pass
    * over the bounded dictionary, not a per-query corpus scan, and the
    * HOF forms are shared verbatim with the oracle's list_transform.
    * Tokenization state is the SAME wrapped representation
    * [[graft.functions.Bpe]] defines, so DuckDB's `replace`/`trim`
    * replay every step exactly. */
  /** Fixture-rank merges, memoized AND IndexStore-persisted (r19):
    * BPE training is index CONSTRUCTION — the dictionary shuffle is a
    * full corpus pass, the result is ranks×3 values — so it follows
    * the same durable-artifact doctrine as the IVF centroids and PQ
    * codebooks: a fresh process over an already-trained snapshot loads
    * the merge table instead of re-paying the corpus pass. */
  private[graft] def bpeTrainedMerges(spark: SparkSession,
      dir: String): Seq[(String, String, Long)] = {
    // the dictionary dial changes what was trained — it must key both
    // the memo and the artifact, or a dialed session would serve
    // default-trained merges (and vice versa)
    val mc = bpeMinWordCount(spark)
    val dial = if (mc <= 1L) "" else s"_mc$mc"
    bpeTrainCache.computeIfAbsent(s"$dir#$dial", _ => {
      import spark.implicits._
      val artifact = IndexStore.loadOrBuild(spark, dir, "documents",
          s"bpe_merges_r$BpeTrainRanks$dial") {
        bpeTrainedMergesN(spark, dir, BpeTrainRanks).zipWithIndex
          .map { case ((a, b, c), i) => (i, a, b, c) }
          .toDF("rank", "lhs", "rhs", "cnt")
      }
      artifact.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    })
  }

  /** Rank-parameterized trainer: distributed per-rank loop at or below
    * [[BpeLocalRankThreshold]], collected single-pass past it. The two
    * paths are exact-identical by construction (same pair counting,
    * same deterministic tie-break, same left-to-right merge) and
    * spec-pinned so. */
  private[graft] def bpeTrainedMergesN(spark: SparkSession, dir: String,
      ranks: Int): Seq[(String, String, Long)] =
    if (ranks <= BpeLocalRankThreshold) bpeTrainedMergesDistributed(spark, dir, ranks)
    else bpeTrainedMergesLocal(spark, dir, ranks)

  /** Conf dial pruning the training dictionary to words seen at least
    * this often (`spark.graft.bpe.minWordCount`, default 1 = exact —
    * what every oracle replays). The standard web-scale mitigation:
    * a 100 TB corpus's distinct-word table is dominated by a hapax
    * tail (typos, URLs, junk tokens) that contributes near-zero pair
    * mass but all of the dictionary's cardinality — production
    * trainers prune min_frequency before training (HF tokenizers'
    * `min_frequency`), bounding both the distributed per-rank
    * iteration table and the single-pass path's driver collect. */
  val BpeMinWordCountConf = "spark.graft.bpe.minWordCount"

  /** Ceiling on the dictionary cardinality [[bpeTrainedMergesLocal]]
    * will collect to the driver (`spark.graft.bpe.maxDictWords`). At
    * true web scale the UNPRUNED distinct-word dictionary is hundreds
    * of millions of strings and the collect would kill the driver with
    * a generic OOM long after the corpus shuffle completed; this guard
    * counts first (on the persisted shuffle output — no recompute) and
    * fails loudly, naming the [[BpeMinWordCountConf]] dial that prunes
    * the hapax tail. Default sized for a multi-GB driver heap. */
  val BpeMaxDictWordsConf = "spark.graft.bpe.maxDictWords"
  val BpeMaxDictWordsDefault = 20000000L

  private def bpeMinWordCount(spark: SparkSession): Long = {
    val v = spark.conf.get(BpeMinWordCountConf, "1").toLong
    require(v >= 1L, s"$BpeMinWordCountConf must be >= 1, got $v")
    v
  }

  /** The corpus → (word, count) dictionary: the ONLY corpus-scale work
    * in training, shared by both trainer paths (so the dial applies to
    * each identically). One explode + one shuffle; output is bounded
    * by the distinct-word vocabulary, prunable via
    * [[BpeMinWordCountConf]]. */
  private def bpeWordCounts(spark: SparkSession, dir: String): DataFrame = {
    val base = Docs.fanned(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val mc = bpeMinWordCount(spark)
    if (mc <= 1L) base else base.where(col("cnt") >= mc)
  }

  private[graft] def bpeTrainedMergesDistributed(spark: SparkSession,
      dir: String, ranks: Int): Seq[(String, String, Long)] = {
      val open = graft.functions.Bpe.Open.toString
      val close = graft.functions.Bpe.Close.toString
      val words0 = bpeWordCounts(spark, dir)
        // $1: Java regex replacement group, the engine half of the
        // oracle's '\1' — both wrap every code point.
        .withColumn("s", regexp_replace(col("w"), "(?s)(.)", s"$open$$1$close"))
      var cur = words0.persist()
      cur.count()
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var r = 0
      var exhausted = false
      try {
        while (r < ranks && !exhausted) {
          val best = cur
            .select(col("cnt"),
              transform(split(col("s"), s"$close$open"),
                x => trim(x, open + close)).as("tk"))
            .where(size(col("tk")) >= 2)
            .select(col("cnt"), explode(expr(
              "transform(sequence(1, size(tk) - 1), i -> " +
                "struct(element_at(tk, i) AS a, element_at(tk, i + 1) AS b))")).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum(col("cnt")).as("pc"))
            .orderBy(col("pc").desc, col("a").asc, col("b").asc)
            .limit(1).collect()
          if (best.isEmpty) exhausted = true
          else {
            val (a, b, pc) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
            out += ((a, b, pc))
            val next = cur.withColumn("s",
              regexp_replace(col("s"),
                lit(java.util.regex.Pattern.quote(open + a + close + open + b + close)),
                lit(java.util.regex.Matcher.quoteReplacement(open + a + b + close))))
              .persist()
            next.count()
            cur.unpersist()
            cur = next
            r += 1
          }
        }
      } finally cur.unpersist()
      out.toSeq
  }

  /** Single-pass trainer: collect the vocabulary-bounded dictionary
    * once, then run the whole merge loop on the driver with
    * incrementally-maintained pair counts — job count is CONSTANT in
    * the rank count (one shuffle + one collect), where the distributed
    * loop pays 2+ jobs per rank.
    *
    * Exact-equivalence contract with [[bpeTrainedMergesDistributed]]
    * (every clause spec-pinned at fixture ranks):
    *  - pair counts are POSITION-based (a word [a,a,a] contributes 2
    *    to (a,a)) — the explode-over-adjacent-positions semantics;
    *  - the argmax tie-break is (count desc, lhs asc, rhs asc) under
    *    UTF-8 BYTE order — what Spark's `orderBy` on strings
    *    (UTF8String binary compare) and DuckDB both use; Scala's
    *    String ordering (UTF-16 code units) would misorder
    *    supplementary code points;
    *  - merge application is left-to-right non-overlapping, never
    *    rescanning replacement output — `regexp_replace`'s global
    *    literal-replace semantics;
    *  - training stops early when no adjacent pair remains.
    *
    * Per rank: O(#distinct pairs) for the argmax scan plus O(tokens
    * of affected words) for the rewrite — both vocabulary-bounded,
    * zero Spark jobs. A 100k-rank production vocabulary is ~10⁵ driver
    * loop iterations over an in-memory dictionary, not ~10⁵ cluster
    * round-trips. */
  private[graft] def bpeTrainedMergesLocal(spark: SparkSession, dir: String,
      ranks: Int): Seq[(String, String, Long)] = {
    val dict = bpeWordCounts(spark, dir).persist()
    try {
      val bound = spark.conf
        .get(BpeMaxDictWordsConf, BpeMaxDictWordsDefault.toString).toLong
      val n = dict.count() // reads the persisted shuffle output, not the corpus
      require(n <= bound,
        s"BPE training dictionary has $n distinct words, above the " +
          s"$BpeMaxDictWordsConf bound of $bound: the driver-side collect " +
          s"would OOM. Raise $BpeMinWordCountConf (currently " +
          s"${bpeMinWordCount(spark)}) to prune the hapax tail, or raise " +
          s"the bound if the driver heap allows.")
      val words = dict.collect().map(r => (r.getString(0), r.getLong(1)))
      bpeTrainOnDict(words, ranks)
    } finally dict.unpersist()
  }

  /** UTF-8 byte-order comparison — Spark UTF8String / DuckDB collation. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** The in-memory merge loop over a (word, count) dictionary. */
  private[graft] def bpeTrainOnDict(words: Array[(String, Long)],
      ranks: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    // One code-point per initial token — `(?s)(.)` matches code points.
    val toks: Array[Array[String]] = words.map { case (w, _) =>
      val out = mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    val cnts: Array[Long] = words.map(_._2)

    val pairCount = mutable.HashMap[(String, String), Long]()
    val pairWords = mutable.HashMap[(String, String), mutable.HashSet[Int]]()
    @inline def addPairs(idx: Int, ts: Array[String], sign: Long): Unit = {
      var i = 0
      while (i + 1 < ts.length) {
        val p = (ts(i), ts(i + 1))
        val nv = pairCount.getOrElse(p, 0L) + sign * cnts(idx)
        if (nv == 0L) pairCount.remove(p) else pairCount.update(p, nv)
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.HashSet[Int]()) += idx
        i += 1
      }
      if (sign < 0) {
        // membership cleanup after decrement: drop idx from pairs the
        // rewritten word no longer contains (done by the caller adding
        // the new pairs back — here we just clear stale sets lazily)
        i = 0
        while (i + 1 < ts.length) {
          val p = (ts(i), ts(i + 1))
          pairWords.get(p).foreach { s => s -= idx; if (s.isEmpty) pairWords.remove(p) }
          i += 1
        }
      }
    }
    var idx = 0
    while (idx < toks.length) { addPairs(idx, toks(idx), 1L); idx += 1 }

    val out = mutable.ArrayBuffer[(String, String, Long)]()
    var r = 0
    var exhausted = false
    while (r < ranks && !exhausted) {
      if (pairCount.isEmpty) exhausted = true
      else {
        var bestA: String = null; var bestB: String = null; var bestC = Long.MinValue
        for (((a, b), c) <- pairCount) {
          if (c > bestC ||
              (c == bestC && (utf8Lt(a, bestA) ||
                (a == bestA && utf8Lt(b, bestB))))) {
            bestA = a; bestB = b; bestC = c
          }
        }
        out += ((bestA, bestB, bestC))
        val merged = bestA + bestB
        val affected = pairWords.get((bestA, bestB)).map(_.toArray).getOrElse(Array.emptyIntArray)
        var k = 0
        while (k < affected.length) {
          val wIdx = affected(k)
          val old = toks(wIdx)
          addPairs(wIdx, old, -1L)
          val nb = mutable.ArrayBuffer[String]()
          var i = 0
          while (i < old.length) {
            if (i + 1 < old.length && old(i) == bestA && old(i + 1) == bestB) {
              nb += merged; i += 2
            } else { nb += old(i); i += 1 }
          }
          toks(wIdx) = nb.toArray
          addPairs(wIdx, toks(wIdx), 1L)
          k += 1
        }
        r += 1
      }
    }
    out.toSeq
  }

  /** `corpus_bpe_train`: the learned merge table — (rank, lhs, rhs,
    * cnt), cnt the winning pair's weighted count at the time it won.
    * Value oracle: the whole training loop unrolled as one CTE stage
    * per rank (pair count → argmax → dictionary rewrite), every step
    * exact (integer counts, deterministic tie-break, literal
    * replaces). */
  def corpusBpeTrain(spark: SparkSession, dir: String): DataFrame =
    corpusBpeTrainN(spark, dir, BpeTrainRanks)

  /** Rank-dialed training entry for production vocabularies: past
    * [[BpeLocalRankThreshold]] this runs the single-pass collected
    * trainer (constant job count), so a 32k-merge vocabulary is one
    * shuffle + one collect + a driver loop, not ~10⁵ sequential jobs. */
  def corpusBpeTrainN(spark: SparkSession, dir: String, ranks: Int): DataFrame = {
    import spark.implicits._
    val merges = if (ranks == BpeTrainRanks) bpeTrainedMerges(spark, dir)
                 else bpeTrainedMergesN(spark, dir, ranks)
    merges.zipWithIndex
      .map { case ((a, b, c), i) => (i, a, b, c) }
      .toDF("rank", "lhs", "rhs", "cnt")
      .orderBy("rank")
  }

  val corpusBpeTrainOracle: String = {
    // Every dictionary stage is AS MATERIALIZED: w{r+1} reads w{r}
    // through TWO paths (directly, and through the argmax b{r}), so
    // plain CTE inlining re-expands the whole chain per path — 2^ranks
    // plan blowup (measured: 418 s at sf0.001; materialized: ~1 s).
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT w, cnt, regexp_replace(w, '(?s)(.)', chr(2) || '\\1' || chr(3), 'g') AS s
         |  FROM (SELECT x AS w, CAST(count(*) AS BIGINT) AS cnt
         |        FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
         |        WHERE len(x) > 0 GROUP BY x)),
         |""".stripMargin)
    for (r <- 0 until BpeTrainRanks) {
      sb.append(
        s"""t$r AS (
           |  SELECT cnt, list_transform(string_split(s, chr(3) || chr(2)),
           |           x -> trim(x, chr(2) || chr(3))) AS tk
           |  FROM w$r),
           |p$r AS (
           |  SELECT tk[u.i] AS a, tk[u.i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS pc
           |  FROM t$r, unnest(generate_series(1, len(tk) - 1)) AS u(i)
           |  GROUP BY 1, 2),
           |b$r AS MATERIALIZED (SELECT a, b, pc FROM p$r ORDER BY pc DESC, a, b LIMIT 1),
           |w${r + 1} AS MATERIALIZED (
           |  SELECT w.w, w.cnt,
           |         CASE WHEN b.a IS NOT NULL
           |              THEN replace(w.s, chr(2) || b.a || chr(3) || chr(2) || b.b || chr(3),
           |                           chr(2) || b.a || b.b || chr(3))
           |              ELSE w.s END AS s
           |  FROM w$r w LEFT JOIN b$r b ON TRUE),
           |""".stripMargin)
    }
    // Drop the trailing CTE comma: the union tail is the main query.
    sb.setLength(sb.lastIndexOf(","))
    sb.append("\n")
    sb.append((0 until BpeTrainRanks).map(r =>
        s"SELECT $r AS rank, a AS lhs, b AS rhs, pc AS cnt FROM b$r")
      .mkString("", "\nUNION ALL\n", "\nORDER BY rank"))
    sb.toString
  }

  /** `corpus_pack_bpe_learned`: [[corpusPackBpe]]'s packing manifest
    * under the CORPUS-TRAINED vocabulary — train ([[bpeTrainedMerges]],
    * a metadata-scale collect of ≤ [[BpeTrainRanks]] rules) then
    * tokenize and pack the corpus with the learned rules, the
    * end-to-end shape of a real pretraining pipeline (tokenizer fit on
    * the data it will budget). The oracle composes the training CTE
    * chain with the recursive tokenize/pack replay, so a drift in
    * EITHER half fails the value check. */
  def corpusPackBpeLearned(spark: SparkSession, dir: String): DataFrame =
    corpusPackBpeWith(spark, dir,
      bpeTrainedMerges(spark, dir).map { case (a, b, _) => (a, b) })

  val corpusPackBpeLearnedOracle: String = {
    // Textual derivation from the two parents (the ivfsq/filtered
    // splice discipline): the training chain replaces the fixture
    // VALUES vocabulary, and the tokenize/pack tail is
    // corpusPackBpeOracle's verbatim with the merge count read from
    // the learned table.
    val trainPrefix = {
      val t = corpusBpeTrainOracle
      val tail = t.indexOf("SELECT 0 AS rank")
      require(tail > 0, "pack_bpe_learned oracle: train anchor drifted")
      val union = t.substring(tail).replace("\nORDER BY rank", "")
      require(t.startsWith("WITH "), "pack_bpe_learned oracle: WITH anchor drifted")
      val pre0 = t.substring(0, tail).stripPrefix("WITH ").trim
      (if (pre0.endsWith(",")) pre0 else pre0 + ",") + "\n" +
        "m AS (\n  SELECT rank AS rk, chr(2) || lhs || chr(3) || chr(2) || rhs || chr(3) AS pat,\n" +
        "         chr(2) || lhs || rhs || chr(3) AS rep\n  FROM (" +
        union.replace("\n", "\n        ") + ")),\n"
    }
    val parent = corpusPackBpeOracle
    val anchor = s"WITH RECURSIVE m(rk, pat, rep) AS (VALUES $bpeMergesValues),\n"
    require(parent.startsWith(anchor), "pack_bpe_learned oracle: parent vocab anchor drifted")
    val swapped = "WITH RECURSIVE " + trainPrefix + parent.substring(anchor.length)
    val out = swapped.replace(s"WHERE i = ${BpeMerges.size}",
      "WHERE i = (SELECT count(*) FROM m)")
    require(out != swapped, "pack_bpe_learned oracle: merge-count anchor drifted")
    out
  }

  // --------------------------------------------------- stratified sampling

  /** Deterministic stratified corpus sampling: per-language keep rates
    * stated as 2-hex-digit md5-prefix thresholds (en 128/256, zh
    * 64/256, others 32/256), with the inverse rate emitted as a
    * `weight` column so downstream statistics stay unbiased
    * (Horvitz-Thompson). The hash is salted ('smp:' prefix) so the
    * sampling coin is independent of [[corpusSplit]]'s coin on the
    * same text, and it is CONTENT-keyed: exact duplicates are sampled
    * in or out together, so a dedup before or after this operator
    * yields the same corpus.
    *
    * 100 TB shape: pure map-side filter+projection over the corpus
    * scan, no RNG/seed state to coordinate across 1000 executors, no
    * shuffle except the verification orderBy (a production pipeline
    * drops it). Changing rates = changing thresholds; the operator
    * stays one pass. */
  def corpusSample(spark: SparkSession, dir: String): DataFrame = {
    val b = substring(md5(concat(lit("smp:"), col("text"))), 1, 2)
    val thresh = when(col("lang") === "en", "80")
      .when(col("lang") === "zh", "40").otherwise("20")
    val weight = when(col("lang") === "en", 2.0)
      .when(col("lang") === "zh", 4.0).otherwise(8.0)
    Docs.documents(spark, dir)
      .where(b < thresh)
      .select(col("doc_id"), col("lang"), col("source"), weight.as("weight"))
      .orderBy("doc_id")
  }

  val corpusSampleOracle: String =
    """WITH s AS (SELECT doc_id, lang, source,
      |                  substring(md5('smp:' || text), 1, 2) AS b
      |           FROM documents)
      |SELECT doc_id, lang, source,
      |       -- CAST: a bare 2.0 literal is DECIMAL in DuckDB; the engine
      |       -- emits DOUBLE and the row hash is type-sensitive
      |       CAST(CASE WHEN lang = 'en' THEN 2.0 WHEN lang = 'zh' THEN 4.0
      |            ELSE 8.0 END AS DOUBLE) AS weight
      |FROM s
      |WHERE b < (CASE WHEN lang = 'en' THEN '80' WHEN lang = 'zh' THEN '40'
      |                ELSE '20' END)
      |ORDER BY doc_id""".stripMargin

  /** Per-stratum quota of [[corpusSampleStratified]]: sized so the
    * fixture exercises BOTH quota regimes — most languages carry more
    * than 70 documents (genuine selection) while the smallest stratum
    * at sf0.01 (fr, 64 docs) undersatisfies and emits whole. */
  val StratifiedK = 70

  /** `corpus_sample_stratified`: exact per-language QUOTA sampling —
    * the third sampling family member (rate-based [[corpusSample]],
    * size-weighted [[corpusSampleWeighted]], and now per-stratum
    * balanced): keep exactly [[StratifiedK]] documents per language
    * (all of them when a stratum runs short), selected by a
    * content-keyed deterministic uniform so the same corpus always
    * yields the same sample on any cluster — the "balance the training
    * mix across languages/domains" primitive.
    *
    * 100 TB shape: ONE partial-aggregated `topk_by_score` per stratum —
    * each task keeps a bounded k-heap per language map-side and only
    * those heaps shuffle (strata count × k rows), where the textbook
    * `row_number() OVER (PARTITION BY lang ORDER BY …)` form the
    * oracle replays would shuffle and sort the ENTIRE corpus. Score =
    * first 32 md5 bits as a double (≤ 2³² — exact in both engines, no
    * tolerance), doc_id ascending tie-break in both. */
  def corpusSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopK.topk_by_score
    val v = conv(substring(md5(concat(lit("ssmp:"), col("text"))), 1, 8), 16, 10)
      .cast(LongType)
    Docs.documents(spark, dir)
      .select(col("lang"), col("doc_id"), v.cast("double").as("score"))
      .groupBy("lang")
      .agg(topk_by_score(col("score"), col("doc_id"), StratifiedK).as("picks"))
      .select(col("lang"), posexplode(col("picks")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("lang", "rk")
  }

  val corpusSampleStratifiedOracle: String = {
    val fold = (1 to 8).map { j =>
      s"(strpos('0123456789abcdef', substr(m,$j,1))-1)*${1L << (4 * (8 - j))}"
    }.mkString(" + ")
    s"""WITH h AS (SELECT doc_id, lang, md5('ssmp:' || text) AS m FROM documents),
       |p AS (SELECT doc_id, lang, CAST(($fold) AS DOUBLE) AS score FROM h),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY lang ORDER BY score DESC, doc_id) AS rk FROM p)
       |SELECT lang, rk, doc_id, score
       |FROM r WHERE rk <= $StratifiedK
       |ORDER BY lang, rk""".stripMargin
  }

  /** Sample size of [[corpusSampleWeighted]]. */
  val SampleWeightedK = 100

  /** `corpus_sample_weighted`: PRIORITY SAMPLING (Duffield, Lund,
    * Thorup — JACM 2007) of the corpus, weighted by document length —
    * the importance-sampling primitive behind "keep a k-document
    * training subsample where longer/higher-quality documents are
    * proportionally likelier, with unbiased subset-sum weights".
    * Each document draws priority q = w / u (u uniform in (0,1],
    * w = n_chars); the k highest priorities are the sample, and each
    * kept document's estimator weight is w_hat = max(w, tau) with tau
    * the (k+1)-th priority — the DLT threshold that makes
    * sum(w_hat · x) unbiased for any subset sum.
    *
    * Determinism (the property a DISTRIBUTED sampler needs anyway —
    * re-running the pipeline must select the same sample): u is
    * content-keyed, the first 32 bits of md5("wsmp:" || text), so the
    * draw replays bit-identically in both engines. Exact-replay
    * arithmetic: q = w·2³² / (v+1) — w·2³² is exact in a double
    * (≤ 2⁵³), the division is one correctly-rounded IEEE op, so Spark
    * and DuckDB rank the identical doubles and the top-k sets match
    * value-for-value with no tolerance.
    *
    * 100 TB shape: the priority is a map-side projection over the
    * corpus scan; top-(k+1) is a bounded TakeOrderedAndProject (each
    * task keeps k+1 rows, one merge) — no corpus-scale sort, no RNG
    * state to coordinate; the window/threshold arithmetic runs on the
    * 101-row result. */
  def corpusSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = conv(substring(md5(concat(lit("wsmp:"), col("text"))), 1, 8), 16, 10)
      .cast(LongType)
    val q = lit(4294967296.0) * col("n_chars") / (v + lit(1L))
    val ranked = Docs.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), q.as("q"))
      .orderBy(col("q").desc, col("doc_id")).limit(SampleWeightedK + 1)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("q").desc, col("doc_id"))))
    val tau = ranked.where(col("rk") === SampleWeightedK + 1)
      .select(col("q").as("tau"), lit(1).as("k"))
    ranked.where(col("rk") <= SampleWeightedK)
      .withColumn("k", lit(1))
      .join(broadcast(tau), Seq("k"), "left_outer").drop("k", "rk")
      .select(col("doc_id"), col("lang"), col("n_chars").as("weight"),
        round(col("q"), 6).as("priority"),
        round(greatest(col("n_chars").cast("double"),
          coalesce(col("tau"), lit(0.0))), 6).as("w_hat"))
      .orderBy(col("priority").desc, col("doc_id"))
  }

  val corpusSampleWeightedOracle: String = {
    val fold = (1 to 8).map { j =>
      s"(strpos('0123456789abcdef', substr(m,$j,1))-1)*${1L << (4 * (8 - j))}"
    }.mkString(" + ")
    s"""WITH h AS (SELECT doc_id, lang, n_chars,
       |                  md5('wsmp:' || text) AS m FROM documents),
       |p AS (SELECT doc_id, lang, n_chars,
       |             CAST(4294967296 AS DOUBLE) * n_chars /
       |               (CAST(($fold) AS BIGINT) + 1) AS q
       |      FROM h),
       |r AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rk FROM p),
       |tau AS (SELECT q AS tau FROM r WHERE rk = ${SampleWeightedK + 1})
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
       |       round(q, 6) AS priority,
       |       round(greatest(CAST(n_chars AS DOUBLE),
       |             coalesce((SELECT tau FROM tau), 0.0)), 6) AS w_hat
       |FROM r WHERE rk <= $SampleWeightedK
       |ORDER BY priority DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------- PII scrub

  /** PII patterns shared by engine and oracle — restricted to syntax
    * Java regex and DuckDB's RE2 interpret identically (character
    * classes, bounded repeats, \b word boundaries, non-capturing
    * groups; no backrefs, no lookaround). */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIp = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PiiPhone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** `text_pii_scrub`: redact emails / IPv4s / phone numbers to typed
    * placeholder tokens and count each redaction class. The fixture
    * corpus carries no PII, so the query first APPENDS deterministic
    * synthetic PII derived from doc_id (same expression in the oracle)
    * — the scrub then provably removes it. Counts are taken on the
    * pre-scrub text; the three patterns cannot overlap (the email
    * pattern requires an alphabetic TLD, the IP/phone patterns are
    * digit-only), so count-then-replace is order-independent.
    *
    * 100 TB shape: one codegen'd map-side projection (regexp_replace /
    * regexp_count are native expressions), no shuffle except the
    * verification orderBy. [[Docs.fanned]] (r16): six regex passes per
    * document are the heaviest per-row compute in the text family —
    * on the single split a sub-128 MB parquet scans as, the whole
    * scrub ran on ONE core, the exact collapse fanned exists to fix. */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or 10.0."),
      col("doc_id") % 256, lit(".7 tel 415-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(aug, PiiEmail, "<EMAIL>"),
        PiiIp, "<IP>"),
      PiiPhone, "<PHONE>")
    Docs.fanned(spark, dir)
      .select(col("doc_id"), clean.as("clean"),
        regexp_count(aug, lit(PiiEmail)).cast(LongType).as("n_email"),
        regexp_count(aug, lit(PiiIp)).cast(LongType).as("n_ip"),
        regexp_count(aug, lit(PiiPhone)).cast(LongType).as("n_phone"))
      .orderBy("doc_id")
  }

  val textPiiScrubOracle: String = {
    // Scala's PiiEmail value holds single backslashes (\.), which a
    // DuckDB single-quoted string passes through verbatim to RE2.
    val email = PiiEmail
    s"""WITH a AS (SELECT doc_id,
       |             text || ' contact user' || doc_id || '@example.com or 10.0.' ||
       |             (doc_id % 256) || '.7 tel 415-555-' ||
       |             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
       |           FROM documents)
       |SELECT doc_id,
       |       regexp_replace(regexp_replace(regexp_replace(aug,
       |         '$email', '<EMAIL>', 'g'),
       |         '$PiiIp', '<IP>', 'g'),
       |         '$PiiPhone', '<PHONE>', 'g') AS clean,
       |       CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_email,
       |       CAST(len(regexp_extract_all(aug, '$PiiIp')) AS BIGINT) AS n_ip,
       |       CAST(len(regexp_extract_all(aug, '$PiiPhone')) AS BIGINT) AS n_phone
       |FROM a ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- vocabulary heavy hitters

  /** Top-K size for [[corpusNgramCounts]]. */
  val VocabTopK = 100

  /** `corpus_ngram_counts`: the K most frequent word bigrams with
    * deterministic total order (count desc, then ngram — ties at the
    * cut are stable across engines). The vocabulary-building /
    * boilerplate-detection primitive: high-frequency n-grams are
    * where template text and tokenizer merge candidates live.
    *
    * 100 TB shape: explode → partially-aggregated count (map-side
    * combine makes the shuffle carry one row per distinct ngram per
    * task, not per occurrence) → `TakeOrderedAndProject` for the
    * limit, so the global sort never materializes — every executor
    * sends its local top-K and the driver merges K rows. The final
    * row_number window runs over K rows, not the corpus. */
  def corpusNgramCounts(spark: SparkSession, dir: String): DataFrame = {
    // Short-doc guard INSIDE the generator (`when` with no otherwise →
    // null → explode drops the row): a `.where(size(col("toks")) >= 2)`
    // on the tokens alias is pushdown-substituted and re-runs the
    // tokenizer below the fan-out exchange (the minhashSigs trap).
    val grams = Docs.fanned(spark, dir)
      .select(Docs.tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
        Docs.wordBigrams(col("toks")))).as("ngram"))
    val counted = grams.groupBy("ngram").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("ngram"))
    counted.orderBy(col("n").desc, col("ngram")).limit(VocabTopK)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("rank"), col("ngram"), col("n"))
  }

  val corpusNgramCountsOracle: String =
    s"""WITH t AS (SELECT list_filter(string_split(text,' '), x -> len(x)>0) AS toks
       |           FROM documents),
       |b AS (SELECT unnest(${Docs.wordBigramsSql("toks")}) AS ngram
       |      FROM t WHERE len(toks) >= 2),
       |c AS (SELECT ngram, count(*) AS n FROM b GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY n DESC, ngram) AS BIGINT) AS rank,
       |       ngram, CAST(n AS BIGINT) AS n
       |FROM c ORDER BY n DESC, ngram LIMIT $VocabTopK""".stripMargin

  // ------------------------------------ heavy hitters via count-min sketch

  /** CMS geometry for [[corpusHeavyHittersSketch]]: ε = 0.001 of total
    * gram mass per-estimate overshoot bound, confidence 0.99, fixed
    * seed so the sketch — and therefore the gate — is fully
    * deterministic (CMS update/merge is counter addition, commutative
    * across any partitioning). Sketch size is CONSTANT in corpus size:
    * depth×width counters ≈ 100 KB here. */
  val CmsEps = 0.001
  val CmsConfidence = 0.99
  val CmsSeed = 42

  /** `corpus_heavy_hitters_sketch`: the exact vocabulary heavy-hitters
    * ([[corpusNgramCounts]]) with a COUNT-MIN-SKETCH gate — the
    * missing member of the engine's sketch family (HLL distinct,
    * approx percentile, Bloom membership, MinHash/SimHash similarity;
    * CMS is the frequency one). The corpus's bigrams aggregate into
    * ONE mergeable ~100 KB sketch (map-side combined like any partial
    * agg — at 100 TB this replaces a vocabulary-cardinality count
    * table wherever only heavy-hitter frequencies matter: the sketch
    * is the shippable artifact, constant-size, unionable across
    * shards/days exactly like the HLL daily table). Each exact top-K
    * ngram's CMS estimate is then checked against the CMS contract —
    * never an undercount, overshoot ≤ ε·totalCount — driver-side over
    * the K=100 items (metadata scale), with totalCount read from the
    * sketch itself (no extra corpus pass). The exact columns are
    * oracle-pinned; the gate is oracle-visible, the
    * `events_sketch_actives` discipline. */
  def corpusHeavyHittersSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Docs.fanned(spark, dir)
      .select(Docs.tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
        Docs.wordBigrams(col("toks")))).as("ngram"))
    val skBytes = grams
      .agg(count_min_sketch(col("ngram"), lit(CmsEps), lit(CmsConfidence),
        lit(CmsSeed)).as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val overshoot = math.ceil(CmsEps * cms.totalCount()).toLong
    val exact = corpusNgramCounts(spark, dir).collect()
    exact.map { r =>
      val (rank, ngram, n) = (r.getLong(0), r.getString(1), r.getLong(2))
      val est = cms.estimateCount(ngram)
      (rank, ngram, n, est >= n && est <= n + overshoot)
    }.toSeq.toDF("rank", "ngram", "n", "cms_within_bound")
      .orderBy("rank")
  }

  val corpusHeavyHittersSketchOracle: String =
    s"""WITH t AS (SELECT list_filter(string_split(text,' '), x -> len(x)>0) AS toks
       |           FROM documents),
       |b AS (SELECT unnest(${Docs.wordBigramsSql("toks")}) AS ngram
       |      FROM t WHERE len(toks) >= 2),
       |c AS (SELECT ngram, count(*) AS n FROM b GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY n DESC, ngram) AS BIGINT) AS rank,
       |       ngram, CAST(n AS BIGINT) AS n,
       |       CAST(TRUE AS BOOLEAN) AS cms_within_bound
       |FROM c ORDER BY n DESC, ngram LIMIT $VocabTopK""".stripMargin

  // ------------------------------------------- repetition quality signals

  /** `corpus_repetition`: per-document n-gram repetition signals, the
    * Gopher-style quality filters (Rae et al. 2021, §A1.1) that catch
    * boilerplate and degenerate generation loops which per-token stats
    * (length, stopword ratio) miss entirely:
    *   - `top_frac`  — fraction of bigram occurrences claimed by the
    *     single most frequent bigram ("top n-gram coverage"),
    *   - `dup_frac`  — fraction of bigram occurrences whose bigram
    *     appears more than once ("duplicate n-gram fraction").
    * Tie-break for the top bigram is (count desc, bigram asc), pinned
    * identically in both engines via a lexicographic struct min.
    *
    * 100 TB shape: explode → two partially-aggregated groupBys, first
    * on (doc_id, ngram) then on doc_id — map-side combine means the
    * first shuffle carries one row per distinct in-doc bigram per
    * task and the second one row per doc. No per-doc O(n²) lambda
    * (the `filter(toks, x -> count...)` formulation is quadratic in
    * document length — fatal on book-length documents), no window
    * sort. Short documents (< 2 tokens) surface with n_bigrams = 0
    * and null signals rather than dropping out. */
  def corpusRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.fanned(spark, dir)
    // Short-doc guard inside the generator — see corpusNgramCounts:
    // a filter on the tokens alias re-runs the tokenizer in the
    // pushed predicate below the fan-out.
    val grams = docs
      .select(col("doc_id"), Docs.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 2,
        Docs.wordBigrams(col("toks")))).as("ngram"))
    val perGram = grams.groupBy("doc_id", "ngram").agg(count(lit(1)).as("n"))
    val perDoc = perGram.groupBy("doc_id").agg(
      sum("n").as("tot"),
      // (-n, ngram) struct min = (count desc, ngram asc) argmax — the
      // deterministic top bigram without a per-doc window sort.
      min(struct((-col("n")).as("neg"), col("ngram").as("ngram"))).as("top"),
      coalesce(sum(when(col("n") > 1, col("n"))), lit(0L)).as("dup"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tot"), lit(0L)).cast(LongType).as("n_bigrams"),
        col("top.ngram").as("top_ngram"),
        (-col("top.neg")).cast(LongType).as("top_n"),
        ((-col("top.neg")).cast(DoubleType) / col("tot")).as("top_frac"),
        (col("dup").cast(DoubleType) / col("tot")).as("dup_frac"))
      .orderBy("doc_id")
  }

  val corpusRepetitionOracle: String =
    s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> len(x)>0) AS toks
      |           FROM documents),
      |b AS (SELECT doc_id, unnest(${Docs.wordBigramsSql("toks")}) AS ngram
      |      FROM t WHERE len(toks) >= 2),
      |g AS (SELECT doc_id, ngram, count(*) AS n FROM b GROUP BY 1, 2),
      |d AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS tot,
      |             coalesce(CAST(sum(CASE WHEN n > 1 THEN n END) AS BIGINT), 0) AS dup
      |      FROM g GROUP BY 1),
      |top AS (SELECT doc_id, ngram AS top_ngram, CAST(n AS BIGINT) AS top_n
      |        FROM (SELECT doc_id, ngram, n,
      |                     row_number() OVER (PARTITION BY doc_id
      |                                        ORDER BY n DESC, ngram) AS rk
      |              FROM g) WHERE rk = 1)
      |SELECT t.doc_id, coalesce(d.tot, 0) AS n_bigrams, top.top_ngram, top.top_n,
      |       CAST(top.top_n AS DOUBLE) / d.tot AS top_frac,
      |       CAST(d.dup AS DOUBLE) / d.tot AS dup_frac
      |FROM t LEFT JOIN d USING (doc_id) LEFT JOIN top USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- TF-IDF top terms

  /** Top-K terms per document for [[docTfidf]]. */
  val TfidfTopK = 5

  /** `doc_tfidf`: the K most characteristic terms per document by
    * smoothed TF-IDF (sklearn's `ln((N+1)/(df+1)) + 1` — never
    * negative, never divides by zero), tie-broken (score desc, term
    * asc). The keyword-extraction / topic-labeling primitive — and the
    * inverse of [[corpusNgramCounts]]: that surfaces what the CORPUS
    * repeats, this surfaces what a DOCUMENT uses that the corpus
    * doesn't.
    *
    * 100 TB shape: tf aggregates partially on (doc_id, term); the
    * document-frequency table derives FROM tf (one row per distinct
    * doc-term — never re-scans the corpus) and is vocabulary-scale, so
    * it broadcasts and the heavy tf frame is never reshuffled for the
    * join; the corpus-size scalar rides in as a broadcast single row
    * (no driver action). The final top-K is a per-document window —
    * partition-local sorts over vocabulary-bounded groups, not a
    * global sort, and not the Long-id TopK aggregate (terms are
    * strings; hashing them to fit it would put the hash, not the
    * term, into the oracle-visible tie-break). */
  def docTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.fanned(spark, dir)
    val terms = docs.select(col("doc_id"),
      explode(Docs.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(docFreq), "term").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * (log((col("n_docs") + lit(1.0d)) / (col("df") + lit(1.0d)))
          + lit(1.0d))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf").cast(LongType).as("tf"), round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  val docTfidfOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> len(x)>0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |s AS (
       |  SELECT tf.doc_id, tf.term, tf.tf,
       |         tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |r AS (
       |  SELECT doc_id, term, tf, score,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, term) AS rk
       |  FROM s)
       |SELECT doc_id, CAST(rk AS INTEGER) AS rank, term,
       |       CAST(tf AS BIGINT) AS tf, round(score, 6) AS score
       |FROM r WHERE rk <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------------- RAG chunking

  /** Tokens per chunk for [[textChunk]]. */
  val ChunkSize = 32
  /** Token stride between chunk starts (overlap = ChunkSize − stride). */
  val ChunkStride = 24

  /** `text_chunk`: split each document into overlapping fixed-token
    * windows — the retrieval/RAG indexing primitive ([[corpusPack]] is
    * its training-side sibling: packing concatenates ACROSS documents,
    * chunking windows WITHIN one). Chunk i covers tokens
    * [i·stride, i·stride+size); the chunk count
    * `1 + ceil(max(0, n − size) / stride)` is pure integer arithmetic
    * so both engines derive the identical manifest, and the final
    * chunk is allowed to run short rather than re-reading earlier
    * tokens (re-padding would double-weight document tails).
    *
    * 100 TB shape: tokens + chunk manifest are computed in one
    * map-side projection and the explode multiplies rows ~n/stride
    * without any shuffle — the only exchange is the verification
    * orderBy. Chunk provenance (doc_id, tok_start) rides each row so
    * a retriever can cite back into the source document. */
  def textChunk(spark: SparkSession, dir: String): DataFrame = {
    val d = Docs.fanned(spark, dir)
      .select(col("doc_id"), Docs.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .withColumn("k", lit(1) + when(col("n") <= ChunkSize, lit(0))
        .otherwise(expr(s"(n - $ChunkSize + $ChunkStride - 1) div $ChunkStride")))
    d.select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("k") - 1)).as("chunk_id"))
      .withColumn("tok_start", col("chunk_id") * ChunkStride)
      .withColumn("n_chunk_toks", least(lit(ChunkSize), col("n") - col("tok_start")))
      .select(col("doc_id"),
        col("chunk_id").cast(LongType).as("chunk_id"),
        col("tok_start").cast(LongType).as("tok_start"),
        col("n_chunk_toks").cast(LongType).as("n_chunk_toks"),
        concat_ws(" ", slice(col("toks"), col("tok_start") + 1, col("n_chunk_toks")))
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  val textChunkOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text,' '), x -> len(x)>0) AS toks
       |  FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
       |k AS (SELECT *, CASE WHEN n <= $ChunkSize THEN 1
       |                     ELSE 1 + (n - $ChunkSize + $ChunkStride - 1) // $ChunkStride
       |                END AS k FROM n),
       |c AS (SELECT doc_id, toks, n,
       |             unnest(generate_series(0, k - 1)) AS chunk_id
       |      FROM k),
       |m AS (SELECT doc_id, chunk_id, chunk_id * $ChunkStride AS tok_start,
       |             least($ChunkSize, n - chunk_id * $ChunkStride) AS n_chunk_toks,
       |             toks
       |      FROM c)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |       CAST(tok_start AS BIGINT) AS tok_start,
       |       CAST(n_chunk_toks AS BIGINT) AS n_chunk_toks,
       |       array_to_string(list_slice(toks, tok_start + 1, tok_start + n_chunk_toks), ' ')
       |         AS chunk_text
       |FROM m ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------- quality-rule filter

  /** Minimum token count before [[corpusQualityFilter]]'s too-short
    * rule fires. */
  val QfMinTokens = 10

  /** `corpus_quality_filter`: C4/Gopher-style rule filter with an
    * auditable reasons bitmask — every document is emitted with the
    * set of rules it violates (bit per rule) and the keep verdict, so
    * downstream can both filter (`keep`) and audit per-rule kill
    * rates. [[textAnalysis]] reports the raw signals; this operator
    * is the POLICY over them. Thresholded in integer arithmetic
    * (`sum_len < 2·n` instead of `sum_len/n < 2.0`) so no
    * double-rounding flickers a borderline document across engines.
    *
    * Rules (public C4/Gopher heuristics): b0 too short; b1 mean token
    * length outside [2, 12]; b2 punctuation-heavy (>10% of chars);
    * b3 no English stopword hit (C4's English-corpus rule — expected
    * to fire on non-English docs, which is why it is a BIT, not a
    * hard drop composed into `keep` blindly); b4 repetitive (type/
    * token ratio < 1/2).
    *
    * 100 TB shape: one codegen'd map-side projection over the corpus,
    * no shuffle except the verification orderBy. */
  def corpusQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val toks = Docs.tokens(col("text"))
    val d = Docs.fanned(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast(LongType).as("n"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_types"),
        // Fold in LongType end-to-end: an Int accumulator would wrap on
        // a >2^31-char document while the oracle's list_sum widens to
        // BIGINT — the 100 TB framing assumes unbounded doc sizes.
        aggregate(transform(col("toks"), t => length(t).cast(LongType)),
          lit(0L), (a, x) => a + x).as("sum_len"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast(LongType).as("punct"),
        size(filter(col("toks"), t => t.isin(En: _*))).cast(LongType).as("c_en"))
    val reasons =
      when(col("n") < QfMinTokens, 1L).otherwise(0L) +
      when(col("sum_len") < col("n") * 2 || col("sum_len") > col("n") * 12, 2L).otherwise(0L) +
      when(col("punct") * 10 > col("n_chars_m"), 4L).otherwise(0L) +
      when(col("c_en") === 0, 8L).otherwise(0L) +
      when(col("n_types") * 2 < col("n"), 16L).otherwise(0L)
    d.select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
        reasons.as("reasons"))
      .withColumn("keep", col("reasons") === 0L)
      .orderBy("doc_id")
  }

  val corpusQualityFilterOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, text,
       |         list_filter(string_split(text,' '), x -> len(x)>0) AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang,
       |         CAST(len(toks) AS BIGINT) AS n,
       |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       |         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
       |         CAST(length(text) AS BIGINT) AS n_chars_m,
       |         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct,
       |         CAST(len(list_filter(toks, t -> t IN (${sqlList(En)}))) AS BIGINT) AS c_en
       |  FROM d),
       |r AS (
       |  SELECT doc_id, lang, n AS n_tokens,
       |         CAST(CASE WHEN n < $QfMinTokens THEN 1 ELSE 0 END
       |            + CASE WHEN sum_len < n * 2 OR sum_len > n * 12 THEN 2 ELSE 0 END
       |            + CASE WHEN punct * 10 > n_chars_m THEN 4 ELSE 0 END
       |            + CASE WHEN c_en = 0 THEN 8 ELSE 0 END
       |            + CASE WHEN n_types * 2 < n THEN 16 ELSE 0 END AS BIGINT) AS reasons
       |  FROM m)
       |SELECT doc_id, lang, n_tokens, reasons, reasons = 0 AS keep
       |FROM r ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- per-source cap

  /** Per-source document cap. */
  val DomainCapK = 10

  /** `corpus_domain_cap`: RefinedWeb/CCNet-style per-source (domain)
    * cap — keep at most [[DomainCapK]] documents per source, preferring
    * longer documents (n_chars DESC, doc_id ASC tiebreak), so no single
    * domain dominates the training mix. Emits the kept docs with their
    * within-source rank.
    *
    * 100 TB shape: groupBy(source) + the bounded [[graft.functions.TopK]]
    * aggregate — every stage (update, map-side partial, shuffle, merge)
    * holds at most K entries per source, so the exchange moves
    * O(sources·K) rows, not the corpus. The window formulation
    * (row_number over source) would shuffle EVERY document to its
    * source's partition and sort there — the oracle states it that way
    * because DuckDB has no bounded top-k aggregate, not because that is
    * the plan to run. TopK's (score DESC, id ASC) total order is
    * exactly the (n_chars DESC, doc_id ASC) policy, so no tie salt is
    * needed; n_chars rides back out of the aggregate as the score
    * (exact: BIGINT < 2^53 in a double). */
  def corpusDomainCap(spark: SparkSession, dir: String): DataFrame =
    Docs.documents(spark, dir)
      .groupBy(col("source"))
      .agg(graft.functions.TopK.topk_by_score(
        col("n_chars").cast("double"), col("doc_id"), DomainCapK).as("nn"))
      .select(col("source"), posexplode(col("nn")).as(Seq("pos", "s")))
      .select(col("source"), col("s.id").as("doc_id"),
        col("s.score").cast(LongType).as("n_chars"),
        (col("pos") + 1).cast(org.apache.spark.sql.types.IntegerType).as("rank"))
      .orderBy("source", "rank")

  val corpusDomainCapOracle: String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents)
       |SELECT source, doc_id, n_chars, CAST(rk AS INTEGER) AS rank
       |FROM r WHERE rk <= $DomainCapK ORDER BY source, rank""".stripMargin

  // --------------------------------------------------- mixture planning

  /** Chars-per-token proxy for the mix budget (integer divide — no
    * tokenizer in the loop, the budget is a planning estimate). */
  val MixCharsPerToken = 4

  /** `corpus_mix`: budgeted source-mixture selection — the Pile/DoReMi
    * "training mix" step. Each source gets a token QUOTA proportional
    * to its target weight (fixture rule: even-numbered sources weight
    * 3, odd weight 1 — a real pipeline passes its mix table), out of a
    * total budget of half the corpus's tokens; within a source,
    * documents are admitted in doc_id order while the running token
    * sum stays inside the quota. Emits the admitted rows with their
    * per-source running totals, so the output IS the reproducible
    * training manifest.
    *
    * All arithmetic is INTEGER (token proxy = n_chars div 4, quota =
    * ((total div 2) · w) div Σw, truncating division spelled
    * identically in both engines) so admission can never flicker on a
    * rounding ulp. 100 TB shape: one partial-agg pass for the
    * per-source counts and the corpus total (both broadcast back as
    * metadata-scale frames), then ONE window shuffle on source for the
    * running sum — the same partitioning the output naturally wants;
    * nothing corpus-scale moves twice. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        // `div`, not `/`: Spark's `/` on longs is DOUBLE division — the
        // cast back would agree for positive values but the invariant
        // here is integer arithmetic END TO END, not by-coincidence.
        expr(s"n_chars div $MixCharsPerToken").as("doc_tokens"))
    // Fixture mix table: srcN -> weight 3 (even N) / 1 (odd N). A real
    // deployment joins its curated (source, weight) dimension here.
    // TRY_CAST, matching the oracle's: this runtime is default-ANSI
    // (Spark 4), where a plain CAST on a non-numeric source suffix
    // THROWS mid-query — try_cast nulls it, null % 2 = 0 is null
    // (falsy), and the source lands in the weight-1 lane both engines
    // agree on.
    val weights = docs.select(col("source")).distinct()
      .withColumn("w",
        when(expr("TRY_CAST(substr(source, 4) AS INT)") % 2 === 0, 3L).otherwise(1L))
    val totals = docs.agg(sum(col("doc_tokens")).as("total_tokens"))
    val sumW = weights.agg(sum(col("w")).as("sum_w"))
    val quotas = weights.crossJoin(broadcast(totals)).crossJoin(broadcast(sumW))
      .select(col("source"), col("w"),
        expr(s"((total_tokens div 2) * w) div sum_w").as("quota_tokens"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.join(broadcast(quotas), "source")
      .withColumn("cum_tokens", sum(col("doc_tokens")).over(win))
      .where(col("cum_tokens") <= col("quota_tokens"))
      .select(col("source"), col("doc_id"), col("doc_tokens"),
        col("cum_tokens"), col("quota_tokens"))
      .orderBy("source", "doc_id")
  }

  val corpusMixOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         CAST(n_chars // $MixCharsPerToken AS BIGINT) AS doc_tokens
       |  FROM documents),
       |wt AS (
       |  -- TRY_CAST on BOTH sides: plain CAST throws on a non-numeric
       |  -- suffix in DuckDB AND in this default-ANSI Spark build;
       |  -- try semantics null it -> weight-1 lane, agreed
       |  SELECT DISTINCT source,
       |         CAST(CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 2 = 0
       |              THEN 3 ELSE 1 END AS BIGINT) AS w
       |  FROM d),
       |tot AS (SELECT sum(doc_tokens) AS total_tokens FROM d),
       |sw AS (SELECT sum(w) AS sum_w FROM wt),
       |q AS (
       |  -- CAST: DuckDB widens sum() to HUGEINT and // propagates it;
       |  -- the engine's quota is BIGINT (the corpus_pack lesson)
       |  SELECT source,
       |         CAST(((total_tokens // 2) * w) // sum_w AS BIGINT) AS quota_tokens
       |  FROM wt, tot, sw),
       |c AS (
       |  SELECT d.source, d.doc_id, d.doc_tokens, q.quota_tokens,
       |         CAST(sum(d.doc_tokens) OVER (PARTITION BY d.source
       |           ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM d JOIN q USING (source))
       |SELECT source, doc_id, doc_tokens, cum_tokens, quota_tokens
       |FROM c WHERE cum_tokens <= quota_tokens
       |ORDER BY source, doc_id""".stripMargin

  // ------------------------------------------- statistical LM filter

  /** Fixed-point probability scale for [[corpusLmScore]]: trigram
    * conditional probabilities become integers in [0, LmProbScale]. */
  val LmProbScale = 1000000L

  /** Percentile the keep threshold is drawn at: the bottom
    * [[LmDropPct]] percent of documents (by floored integer score
    * `score_sum div n_tri`) are dropped. r17 used a fixed scaled-score
    * constant (`LmKeepAvg = 645000`, hand-read off the fixture's
    * distribution); r18 derives the threshold from the corpus itself
    * in the SAME exact-integer arithmetic as the rest of the filter —
    * rank r = (N·[[LmDropPct]]) div 100 + 1, threshold = the r-th
    * smallest integer score, keep iff score ≥ threshold — so the dial
    * is self-calibrating across corpora (CCNet's own head/middle/tail
    * split is a percentile cut for the same reason) and admission
    * still can never flicker on a rounding ulp: every quantity in the
    * selection is an exact integer both engines agree on. */
  val LmDropPct = 8L

  /** `corpus_lm_score`: statistical language-model quality filter —
    * the model-based sibling of the rule-based
    * [[corpusQualityFilter]] (CCNet filters on LM perplexity; this is
    * that architecture with a corpus-self-trained character-trigram
    * model and an exactness twist). Each document is scored by the
    * mean conditional probability of its character trigrams,
    * P(c₃ | c₁c₂) ≈ count(tri) / count(prefix-bigram at trigram
    * starts), estimated from the corpus itself — garbage/atypical text
    * (mojibake, random ids, wrong-language fragments) scores low
    * because its trigrams are rare continuations of their prefixes.
    *
    * Exactness: probabilities live on a fixed-point integer grid —
    * `p(tri) = (LmProbScale · c3) div c2` (both counts exact, floor
    * division identical in both engines) — and the keep rule is an
    * integer comparison, so the whole filter is DuckDB-replayable
    * value-for-value. A true log-space perplexity would hinge on
    * cross-engine `ln` ulps; the linear-space mean is monotone enough
    * for filtering and stays exact — the documented deviation.
    * `avg_score` is one double division of two exact integers
    * (IEEE-exact), rounded to 1e-6.
    *
    * 100 TB shape: trigram extraction is a map-side explode (one row
    * per character, the shingle-family cost); the two count tables are
    * partial-agg passes whose size is bounded by the OBSERVED trigram
    * vocabulary (≤ |charset|³ — a few MB even at web scale), so the
    * score table broadcasts back onto the exploded stream and the
    * per-document sum is one partial-agg shuffle on doc_id. The
    * percentile threshold adds NO corpus-scale stage: the per-doc
    * integer scores live on the [0, LmProbScale] grid, so their
    * histogram (groupBy score → ≤ 1M+1 rows regardless of N) is
    * grid-bounded, the running-count window runs over that bounded
    * table (never the corpus), and the selected threshold broadcasts
    * back. Nothing corpus×corpus, no corpus-wide sort. Documents
    * shorter than 3 characters have no trigrams and are out of the
    * filter's domain (absent from the output; the oracle's WHERE
    * mirrors it). */
  def corpusLmScore(spark: SparkSession, dir: String): DataFrame = {
    // r21 REWORK (guide §2.3/§2.4): the old plan evaluated the trigram
    // explode FOUR times — under c3 (exchange on tri), under c2
    // (exchange on the 2-char prefix of the full occurrence stream),
    // and TWICE under the per-doc scoring join (the threshold histogram
    // and the final projection both consume perDoc, which has no
    // exchange of its own to reuse) — with zero exchange reuse: per-
    // branch column pruning makes each copy's exchange non-canonical-
    // equal. The fix, result-identical: c2 derives from c3 (every
    // occurrence of a trigram contributes to its prefix's count, so
    // Σ c3 per prefix is the same sum) — that removes one full explode
    // AND one occurrence-scale shuffle, replacing them with a
    // |distinct trigrams| shuffle; c3's own exchange is referenced
    // twice with identical columns, so the second reference rides a
    // ReusedExchange. The histogram and the final projection each
    // evaluate perDoc: sharing it through a full-row reuse-point
    // exchange measured as a wash (2.72 vs 2.70 s, r21). Net: three
    // corpus passes → down from four, one occurrence-scale shuffle →
    // down from two. Oracle unchanged.
    val t = Docs.fanned(spark, dir)
      .where(length(col("text")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("text")) - 2),
        i => col("text").substr(i, lit(3)))).as("tri"))
    val c3 = t.groupBy("tri").agg(count(lit(1)).as("c3"))
    val c2 = c3.groupBy(substring(col("tri"), 1, 2).as("pre"))
      .agg(sum(col("c3")).as("c2"))
    // trigram → scaled conditional probability; every trigram's prefix
    // exists in c2 by construction (counted over the same rows), so
    // the join is total and the division denominator never 0
    val sc = c3.join(c2, substring(col("tri"), 1, 2) === col("pre"))
      .select(col("tri"), expr(s"($LmProbScale * c3) div c2").as("p"))
    val perDoc = t.join(broadcast(sc), "tri")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum(col("p")).as("score_sum"))
      .withColumn("si", expr("score_sum div n_tri"))
    // Exact percentile selection on the integer grid: histogram of the
    // floored scores (grid-bounded), running count, threshold = the
    // smallest score whose cumulative count reaches rank
    // (N·LmDropPct) div 100 + 1 — i.e. the r-th smallest score.
    val hist = perDoc.groupBy("si").agg(count(lit(1)).as("cnt"))
    val cumWin = org.apache.spark.sql.expressions.Window.orderBy("si")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val nDocs = hist.agg(sum(col("cnt")).as("n_docs"))
    val thr = hist.withColumn("cum", sum(col("cnt")).over(cumWin))
      .crossJoin(broadcast(nDocs))
      .where(col("cum") >= expr(s"(n_docs * $LmDropPct) div 100 + 1"))
      .agg(min(col("si")).as("thr"))
    perDoc.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tri"), col("score_sum"),
        round(col("score_sum").cast(DoubleType) / col("n_tri"), 6).as("avg_score"),
        (col("si") >= col("thr")).as("keep"))
      .orderBy("doc_id")
  }

  val corpusLmScoreOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(text)-2),
       |    i -> substr(text, i, 3))) AS tri
       |  FROM documents WHERE len(text) >= 3),
       |c3 AS (SELECT tri, count(*) AS c3 FROM t GROUP BY tri),
       |c2 AS (SELECT substr(tri,1,2) AS pre, count(*) AS c2 FROM t GROUP BY 1),
       |sc AS (
       |  SELECT c3.tri, ($LmProbScale * c3.c3) // c2.c2 AS p
       |  FROM c3 JOIN c2 ON c2.pre = substr(c3.tri,1,2)),
       |d AS (
       |  SELECT t.doc_id, count(*) AS n_tri, sum(sc.p) AS score_sum,
       |         sum(sc.p) // count(*) AS si
       |  FROM t JOIN sc USING (tri) GROUP BY t.doc_id),
       |nn AS (SELECT count(*) AS n_docs FROM d),
       |thr AS (
       |  -- the r-th smallest integer score, r = (N*$LmDropPct)//100 + 1:
       |  -- same exact rank selection the engine does over the score
       |  -- histogram (min score whose cumulative count reaches r)
       |  SELECT min(si) AS thr FROM (
       |    SELECT si, row_number() OVER (ORDER BY si, doc_id) AS rk FROM d) q, nn
       |  WHERE rk >= (n_docs * $LmDropPct) // 100 + 1)
       |SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri,
       |       CAST(score_sum AS BIGINT) AS score_sum,
       |       round(CAST(score_sum AS DOUBLE) / n_tri, 6) AS avg_score,
       |       si >= thr.thr AS keep
       |FROM d, thr ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- text_normalize

  /** `text_normalize`: canonical text normalization — the CCNet/
    * RefinedWeb step that runs BEFORE any shingling or hashing so
    * encoding accidents (decomposed accents, CRLF, tab runs) cannot
    * split identical content across dedup buckets. NFC composition,
    * Unicode lowercase, C0/DEL → space, space-run collapse, trim —
    * one codegen'd map-side expression
    * ([[graft.functions.TextNorm.NormalizeText]]), zero shuffle
    * beyond the verification sort. Emits the normalized text, its
    * length, and whether normalization changed the document (the
    * audit column a cleaning pipeline logs). */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Docs.fanned(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextNorm.normalize_text(col("text")).as("norm_text"),
        col("text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).cast("long").as("n_chars_norm"),
        (col("norm_text") =!= col("text")).as("changed"))
      .orderBy("doc_id")

  val textNormalizeOracle: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |         trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
      |           '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
      |  FROM documents)
      |SELECT doc_id, norm_text,
      |       CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
      |       norm_text <> text AS changed
      |FROM n ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_lm_score" -> (corpusLmScore _),
    "text_analysis" -> (textAnalysis _),
    "doc_fingerprint" -> (docFingerprint _),
    "corpus_split" -> (corpusSplit _),
    "doc_embed" -> (docEmbed _),
    "corpus_pack" -> (corpusPack _),
    "corpus_pack_bpe" -> (corpusPackBpe _),
    "corpus_bpe_train" -> (corpusBpeTrain _),
    "corpus_pack_bpe_learned" -> (corpusPackBpeLearned _),
    "corpus_sample" -> (corpusSample _),
    "corpus_sample_weighted" -> (corpusSampleWeighted _),
    "corpus_sample_stratified" -> (corpusSampleStratified _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_normalize" -> (textNormalize _),
    "corpus_ngram_counts" -> (corpusNgramCounts _),
    "corpus_heavy_hitters_sketch" -> (corpusHeavyHittersSketch _),
    "corpus_repetition" -> (corpusRepetition _),
    "doc_tfidf" -> (docTfidf _),
    "text_chunk" -> (textChunk _),
    "corpus_quality_filter" -> (corpusQualityFilter _),
    "corpus_domain_cap" -> (corpusDomainCap _),
    "corpus_mix" -> (corpusMix _),
  )

  def oracleSql: Map[String, String] = Map(
    "corpus_lm_score" -> corpusLmScoreOracle,
    "text_analysis" -> textAnalysisOracle,
    "doc_fingerprint" -> docFingerprintOracle,
    "corpus_split" -> corpusSplitOracle,
    "doc_embed" -> docEmbedOracle,
    "corpus_pack" -> corpusPackOracle,
    "corpus_pack_bpe" -> corpusPackBpeOracle,
    "corpus_bpe_train" -> corpusBpeTrainOracle,
    "corpus_pack_bpe_learned" -> corpusPackBpeLearnedOracle,
    "corpus_sample" -> corpusSampleOracle,
    "corpus_sample_weighted" -> corpusSampleWeightedOracle,
    "corpus_sample_stratified" -> corpusSampleStratifiedOracle,
    "text_pii_scrub" -> textPiiScrubOracle,
    "text_normalize" -> textNormalizeOracle,
    "corpus_ngram_counts" -> corpusNgramCountsOracle,
    "corpus_heavy_hitters_sketch" -> corpusHeavyHittersSketchOracle,
    "corpus_repetition" -> corpusRepetitionOracle,
    "doc_tfidf" -> docTfidfOracle,
    "text_chunk" -> textChunkOracle,
    "corpus_quality_filter" -> corpusQualityFilterOracle,
    "corpus_domain_cap" -> corpusDomainCapOracle,
    "corpus_mix" -> corpusMixOracle,
  )
}
