package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE vocabulary training (`corpus_bpe_train`) coverage. The training
  * loop is value-checked end-to-end by the unrolled-CTE DuckDB oracle;
  * these specs pin the algorithm against an INDEPENDENT Scala
  * reference trainer (token-level, no string representation shared
  * with the engine), the determinism/ordering contract, and the
  * learned-vocabulary packing lane's consistency with the applier.
  */
class BpeTrainSpec extends SparkSpec {

  /** Reference trainer: classic Sennrich BPE over a word-frequency
    * map, tokens as Vector[String] — no wrapped-string representation,
    * so a representation bug in the engine (aliasing, wrapper leaks)
    * cannot cancel out. */
  private def referenceTrain(words: Map[String, Long],
      ranks: Int): Seq[(String, String, Long)] = {
    var dict: Map[Vector[String], Long] =
      words.groupMapReduce(w => w._1.map(_.toString).toVector)(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    for (_ <- 0 until ranks) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((toks, cnt) <- dict; i <- 0 until toks.length - 1)
        counts((toks(i), toks(i + 1))) = counts.getOrElse((toks(i), toks(i + 1)), 0L) + cnt
      if (counts.nonEmpty) {
        val ((a, b), pc) = counts.minBy { case ((a, b), pc) => (-pc, a, b) }
        out += ((a, b, pc))
        dict = dict.groupMapReduce { case (toks, _) =>
          // left-to-right non-overlapping merge of (a, b)
          val r = Vector.newBuilder[String]
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
              r += (a + b); i += 2
            } else { r += toks(i); i += 1 }
          }
          r.result()
        }(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  test("learned merges equal an independent token-level reference trainer") {
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = referenceTrain(words, TextAnalysis.BpeTrainRanks)
    val got = TextAnalysis.bpeTrainedMerges(spark, sf)
    assert(got == want)
  }

  test("corpus_bpe_train output contract: dense ranks, positive counts, descending-ish") {
    val rows = TextAnalysis.corpusBpeTrain(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq, "ranks not dense from 0")
    assert(rows.forall(_.getLong(3) > 0), "non-positive pair count")
    // Counts need not be monotone (a merge can create a NEW frequent
    // pair), but the first rank must be the global max pair count.
    assert(rows.head.getLong(3) == rows.map(_.getLong(3)).max)
    // And at least one learned rule must build on an earlier merge —
    // the hierarchy that distinguishes BPE from a bigram count.
    val singles = rows.map(r => (r.getString(1), r.getString(2)))
    assert(singles.exists { case (a, b) => a.length > 1 || b.length > 1 },
      "no hierarchical merge learned — trainer degenerated to bigram counting")
  }

  test("learned-vocab packing is consistent with the shipped-vocab applier") {
    // corpus_pack_bpe_learned must equal corpusPackBpe run with the
    // learned merges passed as a shipped vocabulary — the training
    // lane feeds the SAME applier, no parallel tokenizer.
    val learned = TextAnalysis.corpusPackBpeLearned(spark, sf).collect().toSeq
    val merges = TextAnalysis.bpeTrainedMerges(spark, sf).map { case (a, b, _) => (a, b) }
    val viaApplier = TextAnalysis.corpusPackBpeWith(spark, sf, merges).collect().toSeq
    assert(learned == viaApplier)
    // learned-vocab token counts differ from the fixture vocab's on at
    // least one doc (different merges ⇒ different budget) — the lane
    // is not silently reusing BpeMerges.
    val fixture = TextAnalysis.corpusPackBpe(spark, sf)
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lrn = TextAnalysis.corpusPackBpeLearned(spark, sf)
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixture.exists { case (id, n) => lrn(id) != n },
      "learned vocabulary produced identical token counts to the fixture vocabulary")
  }

  test("single-pass collected trainer ≡ per-rank distributed trainer at fixture ranks") {
    val dist = TextAnalysis.bpeTrainedMergesDistributed(spark, sf, TextAnalysis.BpeTrainRanks)
    val local = TextAnalysis.bpeTrainedMergesLocal(spark, sf, TextAnalysis.BpeTrainRanks)
    assert(local == dist)
  }

  test("≥256-rank training: constant job count, reference-identical, prefix-stable") {
    import spark.implicits._
    // The fixture vocabulary (31 words) exhausts at ~107 merges, so a
    // genuine 256-rank run needs a larger synthetic vocabulary: 2000
    // deterministic pseudo-words, counts varied so ties are rare.
    val rnd = new scala.util.Random(1234)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = (0 until 2000).map { i =>
      val len = 6 + rnd.nextInt(10)
      (0 until len).map(_ => letters(rnd.nextInt(letters.length))).mkString
    }.distinct
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-bigvocab").toString
    vocab.zipWithIndex.map { case (w, i) =>
      (i.toLong, (w + " ") * (i % 7 + 1), "syn", w.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    def trainCountingJobs(tag: String, ranks: Int): (Seq[(String, String, Long)], Int) = {
      spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
      try {
        val m = TextAnalysis.bpeTrainedMergesLocal(spark, dir, ranks)
        (m, spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length)
      } finally spark.sparkContext.clearJobGroup()
    }
    // The first read of new table content infers its schema (one job,
    // once per content); pay it here so both counts are the trainer's.
    graft.ops.Docs.documents(spark, dir)
    val (m256, j256) = trainCountingJobs("bpe-train-256", 256)
    val (m320, j320) = trainCountingJobs("bpe-train-320", 320)
    assert(m256.length == 256 && m320.length == 320,
      s"vocabulary exhausted early: ${m256.length}/${m320.length} merges")
    // Job count must be independent of the rank count — the whole
    // point of the collected path (the distributed loop costs 2+ jobs
    // per rank; 320 ranks would be 600+).
    assert(j256 == j320, s"job count grew with rank count: $j256 vs $j320")
    assert(j256 <= 6,
      s"collected trainer ran $j256 jobs — expected dictionary shuffle + " +
        "cardinality guard + collect only")
    // Greedy training is deterministic, so the longer run's prefix is
    // exactly the shorter run.
    assert(m320.take(256) == m256)
    // And the result matches the independent token-level reference.
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m256 == referenceTrain(words, 256))
  }

  test("minWordCount dial prunes the dictionary identically on both trainer paths") {
    import org.apache.spark.sql.functions._
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minC = 950L
    val pruned = words.filter(_._2 >= minC)
    assert(pruned.nonEmpty && pruned.size < words.size,
      s"pick a minCount that actually prunes (kept ${pruned.size}/${words.size})")
    spark.conf.set(TextAnalysis.BpeMinWordCountConf, minC.toString)
    try {
      val want = referenceTrain(pruned, TextAnalysis.BpeTrainRanks)
      val dist = TextAnalysis.bpeTrainedMergesDistributed(spark, sf, TextAnalysis.BpeTrainRanks)
      val local = TextAnalysis.bpeTrainedMergesLocal(spark, sf, TextAnalysis.BpeTrainRanks)
      assert(dist == want && local == want,
        "dial-pruned training drifted between paths or from the reference")
      assert(want != referenceTrain(words, TextAnalysis.BpeTrainRanks),
        "cut too shallow to observe — raise minC so pruning changes the merges")
      // the memoized/persisted entry is DIAL-KEYED: the dialed result…
      assert(TextAnalysis.bpeTrainedMerges(spark, sf) == want)
    } finally spark.conf.unset(TextAnalysis.BpeMinWordCountConf)
    // …must not leak into the default path once the dial is unset
    assert(TextAnalysis.bpeTrainedMerges(spark, sf)
      == referenceTrain(words, TextAnalysis.BpeTrainRanks))
  }

  test("maxDictWords guard trips loudly pre-collect, and a dialed prune passes it") {
    import org.apache.spark.sql.functions._
    val distinctWords = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Bound below the unpruned cardinality: the collect must be refused
    // with an error that names the pruning dial, not a driver OOM.
    val bound = 3L
    assert(distinctWords.size > bound)
    spark.conf.set(TextAnalysis.BpeMaxDictWordsConf, bound.toString)
    try {
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.bpeTrainedMergesLocal(spark, sf, TextAnalysis.BpeTrainRanks)
      }
      assert(e.getMessage.contains(TextAnalysis.BpeMinWordCountConf),
        s"guard error must name the pruning dial: ${e.getMessage}")
      assert(e.getMessage.contains(TextAnalysis.BpeMaxDictWordsConf))
      // Dialing minWordCount up prunes the dictionary under the bound;
      // the same call then trains, and exactly on the pruned reference.
      // smallest cutoff whose kept set fits the bound (tie-safe)
      val minC = distinctWords.values.toSeq.distinct
        .sorted(Ordering[Long].reverse)
        .filter(c => distinctWords.count(_._2 >= c) <= bound)
        .lastOption.getOrElse(fail("no cutoff fits the bound — raise it"))
      val pruned = distinctWords.filter(_._2 >= minC)
      assert(pruned.nonEmpty && pruned.size <= bound)
      spark.conf.set(TextAnalysis.BpeMinWordCountConf, minC.toString)
      try {
        val got = TextAnalysis.bpeTrainedMergesLocal(spark, sf, TextAnalysis.BpeTrainRanks)
        assert(got == referenceTrain(pruned, TextAnalysis.BpeTrainRanks))
      } finally spark.conf.unset(TextAnalysis.BpeMinWordCountConf)
    } finally spark.conf.unset(TextAnalysis.BpeMaxDictWordsConf)
  }

  test("trained merges persist as an IndexStore artifact: fresh process loads, not rebuilds") {
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-store").toString
    spark.conf.set(graft.ops.IndexStore.RootConf, root)
    try {
      graft.ops.IndexStore.clearMemos()
      val b0 = graft.ops.IndexStore.builds.get()
      val m1 = TextAnalysis.bpeTrainedMerges(spark, sf)
      assert(graft.ops.IndexStore.builds.get() == b0 + 1,
        "cold training must write exactly one artifact")
      graft.ops.IndexStore.clearMemos() // simulate a fresh process
      val l0 = graft.ops.IndexStore.loads.get()
      val m2 = TextAnalysis.bpeTrainedMerges(spark, sf)
      assert(graft.ops.IndexStore.loads.get() > l0, "warm pass must load the artifact")
      assert(graft.ops.IndexStore.builds.get() == b0 + 1, "warm pass must not rebuild")
      assert(m2 == m1, "loaded merges drifted from trained ones")
    } finally {
      spark.conf.unset(graft.ops.IndexStore.RootConf)
      graft.ops.IndexStore.clearMemos()
    }
  }

  test("trainer stops early when pairs are exhausted (degenerate corpus)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-degenerate").toString
    // every word single-character: no adjacent pair anywhere
    Seq((0L, "a b c", "s0", 5L), (1L, "d e", "s0", 3L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val merges = TextAnalysis.bpeTrainedMerges(spark, dir)
    assert(merges.isEmpty)
    assert(TextAnalysis.corpusBpeTrain(spark, dir).count() == 0L)
  }
}
