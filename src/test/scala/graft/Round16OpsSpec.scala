package graft

import graft.ops.{Dedup, Docs, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-16 additions: SemDeDup-style semantic dedup
  * (cluster-then-prune) and the per-source domain cap. Value-level
  * gates are the DuckDB oracles; these specs pin the structural
  * contracts a value compare can't state. */
class Round16OpsSpec extends SparkSpec {

  test("dedup_semantic: dup_of is an earlier same-cluster member above threshold") {
    val out = Similarity.dedupSemantic(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.length == n, "every vector is emitted exactly once")
    val cluster = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val dupOf = Option(r.get(2)).map(_.asInstanceOf[Long])
      assert(r.getAs[Boolean]("kept") == dupOf.isEmpty)
      dupOf.foreach { d =>
        assert(d < id, s"keep-min-id policy: dup_of $d must precede $id")
        assert(cluster(d) == cluster(id), "dup_of must share the cluster")
      }
    }
    // The fixture plants near-dups; the operator must find some of them
    assert(out.exists(r => !r.getAs[Boolean]("kept")), "no duplicates found at all")
  }

  test("dedup_semantic agrees with a brute-force within-cluster sweep") {
    // Brute force: exact cosine over every within-cluster (b < a) pair.
    val asg = Similarity.dedupSemantic(spark, sf)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.keys.map { id =>
      val ds = vecs.keys.filter(b => b < id && asg(b) == asg(id) &&
        cos(vecs(id), vecs(b)) >= Similarity.SemDedupThreshold)
      id -> (if (ds.isEmpty) None else Some(ds.min))
    }.toMap
    Similarity.dedupSemantic(spark, sf).collect().foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val dupOf = Option(r.get(2)).map(_.asInstanceOf[Long])
      assert(dupOf == expected(id), s"vec $id")
    }
  }

  test("winnow_sampled_spans == declarative per-window md5 sweep") {
    val docs = Docs.documents(spark, sf).select("doc_id", "text")
      .collect().take(50).map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val w = Dedup.SpanWidth
    val expected = docs.map { case (id, t) =>
      id -> (if (t.length < w) Seq.empty
      else (0 to t.length - w).flatMap { i =>
        val h = md5hex(t.substring(i, i + w))
        if (h.startsWith("0")) Some((i + 1, h)) else None
      })
    }.toMap
    val got = Docs.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.Winnow.winnow_sampled_spans(col("text"), w).as("s"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getString(1))))
      .toMap
    expected.foreach { case (id, exp) => assert(got(id) == exp, s"doc $id") }
  }

  test("corpus_shared_spans: self-consistent hashes, df >= 2, sampled nibble") {
    val out = Dedup.corpusSharedSpans(spark, sf).collect()
    assert(out.nonEmpty, "the planted near-dups must share literal spans")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    out.foreach { r =>
      val h = r.getAs[String]("h")
      assert(h.startsWith("0"), "only sampled (first-nibble-0) windows may appear")
      assert(md5hex(r.getAs[String]("span")) == h,
        "emitted span text must hash to its own h")
      assert(r.getAs[Long]("n_docs") >= 2L)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
    }
  }

  test("corpus_domain_cap: at most K per source, ranks contiguous, longest first") {
    val out = TextAnalysis.corpusDomainCap(spark, sf).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    val total = Docs.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, rows) =>
      assert(rows.length <= TextAnalysis.DomainCapK)
      assert(rows.length == math.min(total(src), TextAnalysis.DomainCapK.toLong),
        s"cap must keep min(count, K) for $src")
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length),
        s"ranks must be contiguous from 1 for $src")
      val lens = sorted.map(_.getAs[Long]("n_chars")).toSeq
      assert(lens == lens.sorted.reverse, s"rank order must be n_chars DESC for $src")
    }
    // n_chars round-trips exactly through the aggregate's double score
    val truth = Docs.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getAs[Long]("n_chars") == truth(r.getAs[Long]("doc_id"))))
  }

  test("corpus_mix: quota-maximal prefix per source, 3:1 even/odd budget") {
    val out = TextAnalysis.corpusMix(spark, sf).collect()
    assert(out.nonEmpty)
    val all = Docs.documents(spark, sf)
      .selectExpr("doc_id", "source", s"n_chars div ${TextAnalysis.MixCharsPerToken} as t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = out.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rows) =>
      val quota = rows.head.getAs[Long]("quota_tokens")
      assert(rows.forall(_.getAs[Long]("quota_tokens") == quota))
      val kept = rows.map(_.getAs[Long]("doc_id")).toSet
      val srcDocs = all.filter(_._2 == src).sortBy(_._1)
      // kept set = maximal doc_id-ordered prefix whose cumsum fits
      var cum = 0L
      srcDocs.foreach { case (id, _, t) =>
        cum += t
        assert(kept.contains(id) == (cum <= quota),
          s"$src doc $id: cum=$cum quota=$quota kept=${kept.contains(id)}")
      }
      val sumKept = rows.map(_.getAs[Long]("doc_tokens")).sum
      assert(sumKept == rows.map(_.getAs[Long]("cum_tokens")).max)
      assert(sumKept <= quota)
    }
    // even-numbered sources get 3x the quota of odd-numbered ones
    val quotas = bySource.map { case (src, rows) =>
      src.drop(3).toInt -> rows.head.getAs[Long]("quota_tokens") }
    val even = quotas.collect { case (n, q) if n % 2 == 0 => q }
    val odd = quotas.collect { case (n, q) if n % 2 == 1 => q }
    if (even.nonEmpty && odd.nonEmpty)
      assert(math.abs(even.head.toDouble / odd.head - 3.0) < 0.01)
  }

  test("similarity candidate joins pin BuildLeft (queries broadcast, corpus streamed)") {
    // The r16 PQ regression class: a projection slimming the corpus
    // side flips Catalyst's broadcast heuristic to streaming the
    // one-split query scan, single-coring the quadratic stage. The
    // explicit broadcast() pins must hold in the executed plan.
    for ((name, df, key) <- Seq(
      ("similarity_topk", Similarity.ExactTopk.run(spark, sf), "blk"),
      ("similarity_ann_ivf", Similarity.AnnIvf.run(spark, sf), "cell"),
      ("pq_adc_lut", Similarity.PqTopk.candidates(spark, sf), "blk"),
      ("pq_adc_recon",
        Similarity.PqTopk.copy(code = Similarity.PqRecon).candidates(spark, sf), "blk"))) {
      val plan = df.queryExecution.executedPlan.toString
      val joins = plan.split("\n").filter(_.contains("BroadcastHashJoin"))
      // the candidate join is the one keyed on the block/cell column
      val cand = joins.filter(_.contains(s"[$key#"))
      assert(cand.nonEmpty, s"$name: expected a broadcast hash join on $key:\n$plan")
      assert(cand.forall(_.contains("BuildLeft")),
        s"$name: candidate join must broadcast the query side:\n${cand.mkString("\n")}")
    }
    // the r17 slimmed IVF additionally re-attaches the query vectors in
    // a SECOND broadcast join keyed on query_id — its build side is the
    // broadcast vector frame on the RIGHT (the pair stream stays
    // streamed); a BuildLeft here would broadcast the pair stream.
    val ivfPlan = Similarity.AnnIvf.run(spark, sf)
      .queryExecution.executedPlan.toString
    val attach = ivfPlan.split("\n")
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("[query_id#"))
    assert(attach.nonEmpty && attach.forall(_.contains("BuildRight")),
      s"query-vector attach must broadcast the vector side:\n${attach.mkString("\n")}")
  }

  test("corpus_domain_cap plan: bounded aggregate, not a window sort") {
    val plan = TextAnalysis.corpusDomainCap(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("topk_by_score"), "must use the bounded TopK aggregate")
    assert(!plan.contains("RunningWindowFunction") && !"Window \\[".r.findFirstIn(plan).isDefined,
      s"the cap must not plan as a window over the whole corpus:\n$plan")
  }
}
