package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the LLM-pipeline operator family. The value-level
  * correctness gate is the DuckDB oracle (driver-run); these specs pin
  * the properties the oracle can't express: LSH recall against planted
  * duplicates, ANN recall vs the exact baseline, and structural
  * invariants of each output.
  */
class LlmOpsSpec extends SparkSpec {

  test("dedup_exact groups every document (fixture has no exact dupes)") {
    val out = Dedup.dedupExact(spark, sf).collect()
    val nDocs = ops.Docs.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_copies")).sum == nDocs)
    assert(out.forall(_.getAs[Long]("n_copies") >= 1L))
  }

  test("dedup_minhash finds planted near-dups and only verified pairs") {
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
    assert(pairs.nonEmpty, "fixture plants near-duplicate documents")
    // every reported pair is exact-verified ≥ threshold, ordered a < b
    pairs.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= Dedup.JaccardThreshold)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("minhash LSH recall = 1.0 on this corpus vs brute-force jaccard") {
    import spark.implicits._
    val docs = ops.Docs.shingled(ops.Docs.documents(spark, sf))
    val brute = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .filter(col("j") >= Dedup.JaccardThreshold)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute, s"LSH missed ${(brute -- lsh).size} / extra ${(lsh -- brute).size}")
  }

  test("simhash banding is exact for hamming <= 3 (pigeonhole over 4 bands)") {
    import spark.implicits._
    val sig = Dedup.simhashSig(spark, sf)
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi"))) +
          bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo")))).as("h"))
      .filter(col("h") <= Dedup.HammingMax)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    val banded = Dedup.dedupSimhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("embedding LSH candidates reach every pair >= cosine threshold") {
    import spark.implicits._
    val lsh = Dedup.dedupEmbedding(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // brute-force truth
    val e = Dedup.embeddings(spark, sf).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val n = e.withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    val brute = n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        (Dedup.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("c"))
      .filter(col("c") >= Dedup.CosineThreshold)
      .select(col("a.vec_id"), col("b.vec_id")).as[(Long, Long)].collect().toSet
    assert(lsh == brute, s"missed=${(brute -- lsh).size} extra=${(lsh -- brute).size}")
  }

  test("similarity_topk: k rows per query, descending sim, no self-match") {
    val out = Similarity.ExactTopk.run(spark, sf).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.values.forall(_.length == Similarity.K))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
  }

  test("similarity_ann_ivf recall@5 >= 0.9 vs exact baseline") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.ExactTopk.run(spark, sf))
    val ann = pairs(Similarity.AnnIvf.run(spark, sf))
    val recall = (exact & ann).size.toDouble / exact.size
    // Lloyd-refined centroids at 12/16 probes measure 0.94 here; the
    // floor matches the oracle-visible similarity_ann_recall gate.
    assert(recall >= Similarity.AnnRecallFloor, s"recall@5 = $recall")
    assert(ann.nonEmpty && ann.size <= exact.size)
  }

  test("corpus_decontam drops exactly the docs sharing an 8-gram with the eval set") {
    // independent recomputation, deliberately NOT the engine's shape:
    // driver-side token windows over the collected corpus
    def grams(text: String): Set[String] = {
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      if (toks.size >= Dedup.DecontamNgram)
        toks.sliding(Dedup.DecontamNgram).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val docs = ops.Docs.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val evalGrams = docs.filter(_._1 % Dedup.EvalIdMod == 0).flatMap(d => grams(d._2)).toSet
    val corpus = docs.filter(_._1 % Dedup.EvalIdMod != 0)
    val expectClean = corpus.filter(d => grams(d._2).intersect(evalGrams).isEmpty)
      .map(_._1).toSet
    val got = Dedup.corpusDecontam(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expectClean,
      s"engine kept ${got.size}, expected ${expectClean.size}; " +
        s"diff=${(got diff expectClean) ++ (expectClean diff got)}")
    // the fixture actually exercises the operator: something is dropped,
    // and no eval doc ever appears in the training output
    assert(expectClean.size < corpus.length, "fixture must plant contamination")
    assert(got.forall(_ % Dedup.EvalIdMod != 0))
  }

  test("doc_embed: unit-norm feature-hash vectors matching a driver-side recompute") {
    val rows = TextAnalysis.docEmbed(spark, sf).collect()
    val dim = TextAnalysis.EmbedDim
    rows.foreach { r =>
      val norm = math.sqrt((1 to dim).map(i => math.pow(r.getDouble(i), 2)).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"doc ${r.getLong(0)} norm $norm")
    }
    // independent recompute (MessageDigest, not SQL expressions)
    val md = java.security.MessageDigest.getInstance("MD5")
    def embed(text: String): Array[Double] = {
      val counts = new Array[Long](dim)
      text.split(" ").filter(_.nonEmpty).foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        md.reset()
        val b = (java.lang.Long.parseLong(hex.take(8), 16) % dim).toInt
        val s = if (Integer.parseInt(hex.substring(8, 9), 16) % 2 == 0) 1L else -1L
        counts(b) += s
      }
      val n = math.sqrt(counts.map(c => c.toDouble * c).sum)
      counts.map(c => if (n == 0) 0.0 else
        BigDecimal(c / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val docs = ops.Docs.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(10).foreach { r =>
      val want = embed(docs(r.getLong(0)))
      (0 until dim).foreach { k =>
        assert(r.getDouble(k + 1) == want(k),
          s"doc ${r.getLong(0)} e$k: got ${r.getDouble(k + 1)}, want ${want(k)}")
      }
    }
  }

  test("corpus_pack: contiguous per-source token streams, straddling sequences correct") {
    val rows = TextAnalysis.corpusPack(spark, sf).collect()
    val docs = ops.Docs.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length == docs.length)
    // independent recompute: per-source streams in doc_id order
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      var off = 0L
      ds.sortBy(_._1).toSeq.map { case (id, _, text) =>
        val n = text.split(" ").count(_.nonEmpty).toLong
        val r = (id, src, n, off, off / TextAnalysis.PackBudget,
          (off + n - 1) / TextAnalysis.PackBudget)
        off += n + 1 // doc + EOS
        r
      }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == expect, s"diff=${(got diff expect).take(3)} / ${(expect diff got).take(3)}")
    // the fixture actually exercises straddling: some doc crosses a cut
    assert(rows.exists(r => r.getLong(4) != r.getLong(5)),
      "no doc straddles a sequence boundary — packing untested")
  }

  test("text_analysis invariants: ratios in [0,1], counts consistent") {
    val out = TextAnalysis.textAnalysis(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
      val pr = r.getAs[Double]("punct_ratio")
      val sr = r.getAs[Double]("stop_ratio")
      assert(pr >= 0.0 && pr <= 1.0)
      assert(sr >= 0.0 && sr <= 1.0)
      assert(Set("en", "de", "fr", "es", "xx").contains(r.getAs[String]("lang_guess")))
    }
  }

  test("doc_fingerprint is stable under suffix append beyond the window") {
    import spark.implicits._
    // winnowing property: appending text only ADDS windows — the min can
    // only move down; equal or smaller fingerprint, never larger.
    val base = Seq((1L, "abcdefgh ijklmnop qrstuvwx")).toDF("doc_id", "text")
    val ext = Seq((1L, "abcdefgh ijklmnop qrstuvwx APPENDED")).toDF("doc_id", "text")
    def fp(df: org.apache.spark.sql.DataFrame): String = {
      val n = length(col("text"))
      val windows = transform(sequence(lit(1), n - 7), i => md5(col("text").substr(i, lit(8))))
      df.select(array_min(windows)).as[String].head()
    }
    assert(fp(ext) <= fp(base))
  }

  test("winnow_fingerprint ≡ declarative array_min(md5 windows) form") {
    // the one-pass expression against the built-in formulation, on the
    // fixture plus multibyte / shorter-than-window edge rows
    import spark.implicits._
    val fast = TextAnalysis.docFingerprint(spark, sf).collect().toSeq
    val slow = TextAnalysis.docFingerprintDeclarative(spark, sf).collect().toSeq
    assert(fast == slow)
    val edge = Seq((1L, "短い"), (2L, "ascii-and-日本語のテキストです"), (3L, "exactly8"))
      .toDF("doc_id", "text")
    val n = length(col("text"))
    val windows = when(n >= 8,
      transform(sequence(lit(1), n - 7), i => md5(col("text").substr(i, lit(8)))))
      .otherwise(array(md5(col("text"))))
    val viaExpr = edge.select(col("doc_id"),
      graft.functions.Winnow.winnow_fingerprint(col("text"), 8).as("fp")).collect().toSeq
    val viaHof = edge.select(col("doc_id"), array_min(windows).as("fp")).collect().toSeq
    assert(viaExpr == viaHof)
  }

  test("connectedComponents: chains merge transitively, disjoint stay apart") {
    import spark.implicits._
    // chain 1-2, 2-3 plus disjoint pair 10-11 plus a triangle 20-21-22
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    val got = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // force the >bound distributed min-label loop on the same graph —
    // both paths must agree label-for-label
    val viaLoop = Dedup.connectedComponents(edges, "doc_a", "doc_b", 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLoop == expected)
  }

  test("connectedComponents: 150-hop chain converges via large-star/small-star") {
    import spark.implicits._
    val n = 150
    val chain = (1 until n).map(i => (i.toLong, (i + 1).toLong))
    val edges = (chain ++ Seq((500L, 600L))).toDF("doc_a", "doc_b")
    val expected = ((1 to n).map(_.toLong -> 1L) ++
      Seq(500L -> 500L, 600L -> 500L)).toMap
    // the star contraction directly: a diameter-149 path labels as one
    // component in O(log n) rounds
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val direct = Dedup.ccLargeSmallStar(sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct == expected)
    // integration: the distributed dispatch with a tiny iteration guard
    // must hand off to the star contraction instead of throwing (r15
    // hard-failed here)
    val viaDispatch = Dedup.connectedComponents(edges, "doc_a", "doc_b",
        0L, maxIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDispatch == expected)
    // and the union-find path agrees label-for-label on the same graph
    val viaUf = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUf == expected)
  }

  test("ccLargeSmallStar frees each round's checkpoint blocks (storage stays flat)") {
    import spark.implicits._
    // a 300-hop chain needs ~log2(300) star rounds; before the
    // freeLocalCheckpoint fix every round's edge frame stayed
    // persisted until ContextCleaner GC — O(rounds) leaked RDDs.
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (1 until 300).map(i => (i.toLong, (i + 1).toLong))
    val edges = chain.toDF("doc_a", "doc_b")
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val out = Dedup.ccLargeSmallStar(sym).collect()
    assert(out.forall(_.getLong(1) == 1L))
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the returned labeling's backing blocks (final round + node
    // set) may remain — NOT one frame per round
    assert(after - before <= 2,
      s"star rounds leaked checkpoint RDDs: $before -> $after persistent RDDs")
  }

  test("connectedComponents: all three paths cover self-loop-only nodes identically") {
    import spark.implicits._
    // node 7 appears ONLY as a self-loop; 1-2 is a normal pair. Every
    // path must emit (7, 7) — the star contraction used to drop it.
    val edges = Seq((1L, 2L), (7L, 7L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 7L -> 7L)
    for ((name, got) <- Seq(
      "union-find" -> Dedup.connectedComponents(edges, "doc_a", "doc_b"),
      "min-label" -> Dedup.connectedComponents(edges, "doc_a", "doc_b", 0L),
      "star" -> Dedup.connectedComponents(edges, "doc_a", "doc_b", 0L, maxIters = 1)))
      assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected,
        s"path $name disagrees on self-loop coverage")
  }

  test("dedup_clusters: every verified pair lands in one cluster, id = min member") {
    import spark.implicits._
    val clusters = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val pairs = Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the smallest member of its component
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
    }
    // exactly the paired docs appear
    assert(clusters.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("corpus_ngram_counts: dense ranks, nonincreasing counts, deterministic") {
    val rows = TextAnalysis.corpusNgramCounts(spark, sf).collect()
    assert(rows.length == TextAnalysis.VocabTopK)
    val ranks = rows.map(_.getAs[Long]("rank"))
    assert(ranks.toSeq == (1L to TextAnalysis.VocabTopK.toLong))
    val counts = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("n"))
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y })
    val again = TextAnalysis.corpusNgramCounts(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}
