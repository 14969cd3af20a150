package graft

import graft.functions.{RefTimestamp, VectorOps, Winnow, TopK}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.functions._

/** The SQL function surface ([[GraftExtensions]]) must reach the same
  * expressions as the Column API: every registered function is checked
  * SQL-vs-Column on real data, no registered name replaces a Spark
  * built-in, constant parameters reject non-literal arguments at
  * analysis time, and the `withExtensions` construction path (the
  * `spark.sql.extensions` hook) registers the same list. */
class ExtensionsSpec extends SparkSpec {

  private lazy val registered: SparkSession = {
    GraftExtensions.register(spark)
    spark
  }

  test("vector functions via SQL == Column API") {
    val s = registered
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 2.0)))
      .toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val sql = s.sql(
      "SELECT vec_dot(a, b) AS d, vec_norm(a) AS n FROM vecs").head()
    val api = df.select(
      VectorOps.vec_dot(col("a"), col("b")).as("d"),
      VectorOps.vec_norm(col("a")).as("n")).head()
    assert(sql == api)
    val lsql = s.sql(
      "SELECT vec_l2sq_long(array(1L,2L), array(4L,6L)) AS l").head().getLong(0)
    assert(lsql == 9L + 16L)
  }

  test("pq_adc via SQL == lookup arithmetic") {
    val s = registered
    // 2 subspaces x 4 codewords; codes pick entries 1 and 6
    val v = s.sql(
      "SELECT pq_adc(array(1, 2), array(10L,20L,30L,40L, 50L,60L,70L,80L)) AS d")
      .head().getLong(0)
    assert(v == 20L + 70L)
  }

  test("simhash64 via SQL == Column API == the declarative ±1 counter formulation") {
    val s = registered
    import s.implicits._
    val df = Seq(
      (1L, Seq("the", "quick", "brown", "fox", "the")), // duplicate votes twice
      (2L, Seq("lorem")),
      (3L, Seq("a", "b", "c", "d", "e", "f", "g", "h"))).toDF("doc_id", "toks")
    df.createOrReplaceTempView("simdocs")
    val sql = s.sql(
      "SELECT doc_id, simhash64(toks).sim_hi AS hi, simhash64(toks).sim_lo AS lo " +
        "FROM simdocs ORDER BY doc_id").collect()
    val api = df.select(col("doc_id"),
        graft.functions.SimHash.simhash64(col("toks")).as("sg"))
      .select(col("doc_id"), col("sg.sim_hi").as("hi"), col("sg.sim_lo").as("lo"))
      .orderBy("doc_id").collect()
    assert(sql.toSeq == api.toSeq)
    // bit-identity with the declarative chain the expression replaced:
    // explode → md5 halves via conv(substring) → 64 sum(±1) counters →
    // sign-pack (the r16 dedup_simhash formulation, verbatim)
    val toksE = df.select(col("doc_id"), explode(col("toks")).as("t"))
    val hx = toksE.select(col("doc_id"),
      conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(col("t")), 9, 8), 16, 10).cast("long").as("lo"))
    val counters =
      (0 until 32).map(k =>
        sum(when(shiftright(col("hi"), k).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"h$k")) ++
      (0 until 32).map(k =>
        sum(when(shiftright(col("lo"), k).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"l$k"))
    val sums = hx.groupBy("doc_id").agg(counters.head, counters.tail: _*)
    def pack(prefix: String) =
      (0 until 32).map(k => when(col(s"$prefix$k") > 0, lit(1L << k)).otherwise(lit(0L)))
        .reduce(_ + _)
    val legacy = sums.select(col("doc_id"), pack("h").as("hi"), pack("l").as("lo"))
      .orderBy("doc_id").collect()
    assert(api.toSeq == legacy.toSeq)
  }

  test("ref timestamp functions via SQL round-trip") {
    val s = registered
    val row = s.sql(
      """SELECT parse_ref_timestamp('2024-03-01-12.30.45.123456') AS ts,
        |       format_ref_timestamp(parse_ref_timestamp('2024-03-01-12.30.45.123456')) AS str
        |""".stripMargin).head()
    // parse_ref_timestamp yields TimestampNTZ (LocalDateTime externally)
    assert(row.getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 45, 123456000))
    assert(row.getString(1) == "2024-03-01-12.30.45.123456")
    val api = s.range(1).select(
      RefTimestamp.parse_ref_timestamp(lit("2024-03-01-12.30.45.123456")).as("ts"))
      .head().getAs[java.time.LocalDateTime]("ts")
    assert(row.getAs[java.time.LocalDateTime]("ts") == api)
  }

  test("winnow functions via SQL == Column API on the corpus") {
    val s = registered
    val docs = s.read.parquet(s"$sf/documents.parquet").limit(50)
    docs.createOrReplaceTempView("ext_docs")
    val sql = s.sql(
      "SELECT doc_id, winnow_fingerprint(text, 16) AS fp FROM ext_docs ORDER BY doc_id")
      .collect().toSeq
    val api = docs.select(col("doc_id"),
      Winnow.winnow_fingerprint(col("text"), 16).as("fp"))
      .orderBy("doc_id").collect().toSeq
    assert(sql == api)
    val spansSql = s.sql(
      "SELECT doc_id, winnow_sampled_spans(text, 24) AS sp FROM ext_docs ORDER BY doc_id")
      .collect().toSeq
    val spansApi = docs.select(col("doc_id"),
      Winnow.winnow_sampled_spans(col("text"), 24).as("sp"))
      .orderBy("doc_id").collect().toSeq
    assert(spansSql == spansApi)
  }

  test("topk_by_score aggregate via SQL == Column API") {
    val s = registered
    val events = graft.ops.Sessions.events(s, sf)
    events.createOrReplaceTempView("ext_events")
    val sql = s.sql(
      """SELECT event_type, topk_by_score(value, event_id, 3) AS nn
        |FROM ext_events GROUP BY event_type ORDER BY event_type""".stripMargin)
      .collect().toSeq
    val api = events.groupBy("event_type")
      .agg(TopK.topk_by_score(col("value"), col("event_id"), 3).as("nn"))
      .orderBy("event_type").collect().toSeq
    assert(sql == api)
  }

  test("capped_sorted_ids aggregate via SQL == Column API") {
    val s = registered
    val events = graft.ops.Sessions.events(s, sf)
    events.createOrReplaceTempView("ext_events_cap")
    val sql = s.sql(
      """SELECT event_type, capped_sorted_ids(event_id, 5) AS bkt
        |FROM ext_events_cap GROUP BY event_type ORDER BY event_type""".stripMargin)
      .collect().toSeq
    val api = events.groupBy("event_type")
      .agg(graft.functions.CappedCollect.capped_sorted_ids(col("event_id"), 5).as("bkt"))
      .orderBy("event_type").collect().toSeq
    assert(sql == api)
    // the event-type groups are far wider than 5: width carries the
    // true count, ids empty — the capped contract through SQL
    assert(sql.forall { r =>
      val bkt = r.getStruct(1)
      bkt.getLong(0) > 5 && bkt.getSeq[Long](1).isEmpty
    })
  }

  test("avro + confluent functions via SQL round-trip the framing") {
    val s = registered
    val schema = """{"type":"record","name":"r","fields":[{"name":"x","type":"long"}]}"""
    s.sql("SELECT 7L AS x").createOrReplaceTempView("ext_avro_in")
    val row = s.sql(
      s"""SELECT confluent_has_magic(framed) AS magic,
         |       confluent_schema_id(framed) AS sid,
         |       confluent_payload(framed) AS body
         |FROM (SELECT confluent_frame(avro_encode(struct(x), '$schema'), 42) AS framed
         |      FROM ext_avro_in)""".stripMargin).head()
    assert(row.getBoolean(0) && row.getInt(1) == 42)
    // zig-zag varint 7 -> byte 0x0e
    assert(row.getAs[Array[Byte]](2).toSeq == Seq(0x0e.toByte))
  }

  test("SQL-surface type coercion: wrong-typed inputs cast or fail at analysis, never CCE") {
    val s = registered
    // aggregate with INT score / INT id coerces (was a mid-query CCE)
    s.sql("SELECT * FROM VALUES (1, 10), (2, 20), (3, 5) AS t(v, id)")
      .createOrReplaceTempView("ext_coerce")
    val nn = s.sql(
      "SELECT topk_by_score(v, id, 2) AS nn FROM ext_coerce").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(nn.map(_.getLong(0)) == Seq(5L, 20L)) // ids of the top-2 scores (3, 2)
    // FILTER clause resolves (builder returns the bare AggregateFunction)
    val filtered = s.sql(
      "SELECT topk_by_score(v, id, 2) FILTER (WHERE v < 3) AS nn FROM ext_coerce")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(filtered.map(_.getLong(0)) == Seq(20L, 10L))
    // string functions coerce non-string inputs (Spark convention)
    assert(s.sql("SELECT winnow_fingerprint(12345678, 4) AS fp").head().getString(0) != null)
    // format_ref_timestamp rejects a STRING at analysis (coercing would
    // reinterpret micros as seconds)
    val e = intercept[Exception] {
      s.sql("SELECT format_ref_timestamp('abc')").collect()
    }
    assert(e.getMessage.contains("format_ref_timestamp requires"), e.getMessage)
    // out-of-Int-range constant rejected, not wrapped
    val e2 = intercept[Exception] {
      s.sql("SELECT winnow_fingerprint('abcdef', 4294967312)").collect()
    }
    assert(e2.getMessage.contains("Int-range"), e2.getMessage)
  }

  test("no graft SQL function shadows a Spark built-in") {
    val shadowing = GraftExtensions.descriptors.map(_._1)
      .filter(FunctionRegistry.builtin.functionExists)
    assert(shadowing.isEmpty, s"graft would replace Spark built-ins: $shadowing")
  }

  test("DESCRIBE FUNCTION shows usage for registered functions") {
    val s = registered
    val desc = s.sql("DESCRIBE FUNCTION vec_dot").collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("vec_dot(a, b) - dot product"), desc)
  }

  test("constant parameters reject non-literal arguments at analysis time") {
    val s = registered
    s.sql("SELECT 1 AS k").createOrReplaceTempView("ext_k")
    val e = intercept[Exception] {
      s.sql("SELECT winnow_fingerprint('abc', k) FROM ext_k").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
    val e2 = intercept[Exception] {
      s.sql("SELECT vec_norm(array(1.0), array(2.0))").collect()
    }
    assert(e2.getMessage.contains("expects 1 arguments"), e2.getMessage)
  }

  test("withExtensions construction path registers the same functions") {
    // getOrCreate returns the existing session and IGNORES extensions;
    // clearing active+default forces a fresh SparkSession over the same
    // SparkContext with the extension hook applied — the programmatic
    // twin of spark.sql.extensions=graft.GraftExtensions.
    val before = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = GraftSession.configure(SparkSession.builder()
        .master("local[2]").appName("graft-ext-test")
        .withExtensions(new GraftExtensions)).getOrCreate()
      assert(fresh ne before, "must be a new session, not the shared one")
      assert(fresh.sql("SELECT vec_norm(array(3.0, 4.0)) AS n").head().getDouble(0) == 5.0)
    } finally {
      SparkSession.setActiveSession(before)
      SparkSession.setDefaultSession(before)
    }
  }
}
