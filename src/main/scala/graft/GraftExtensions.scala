package graft

import graft.functions.{AvroCodec, Confluent, RefTimestamp, SimHash, TopK, VectorOps, Winnow}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Conv, EqualTo, Expression, ExpressionInfo, Hex, Literal, Substring}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, StringType}

/** SQL surface for the engine's custom expressions: `spark.sql("SELECT
  * vec_norm(embedding) ...")` instead of the Column API — the packaging
  * a Spark-native library ships so `spark.sql`-only callers (notebooks,
  * JDBC, SQL files) reach the same codegen'd expressions.
  *
  * Two registration paths, same descriptor list:
  *  - `spark.sql.extensions=graft.GraftExtensions` (or
  *    `builder.withExtensions(new GraftExtensions)`) at session
  *    construction — the standard Spark extension hook;
  *  - [[GraftExtensions.register]] on a LIVE session (tests, REPLs).
  *
  * Constant parameters (a top-k's k, a winnow width, an Avro schema)
  * must be FOLDABLE literal arguments: they parameterize codegen /
  * buffer layout, so a per-row value is unimplementable, and the
  * builder rejects it at analysis time rather than letting a cast
  * fail mid-query. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Register the SQL functions into an already-constructed session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      ColumnBridge.registerFunction(spark, id, info, builder)
    }

  // ------------------------------------------------------------ helpers

  private def arity(fn: String, usage: String, es: Seq[Expression], n: Int): Unit =
    if (es.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments: $usage; got ${es.length}")

  /** Constant-int parameter: evaluated at analysis, never per-row. */
  private def intLit(fn: String, arg: String, e: Expression): Int = e match {
    case e if e.foldable => e.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an Int-range integer literal, got " +
          (if (other == null) "NULL" else other.toString))
    }
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable integer literal, got ${e.sql}")
  }

  private def strLit(fn: String, arg: String, e: Expression): String = e match {
    case e if e.foldable && e.dataType == StringType =>
      val v = e.eval()
      if (v == null) throw new IllegalArgumentException(s"$fn: $arg must not be null")
      v.toString
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable string literal, got ${e.sql}")
  }

  // Usage strings are written in the builtin _FUNC_ docstring form
  // (the usage-bearing ExpressionInfo constructors validate it), so
  // DESCRIBE FUNCTION shows real usage.
  private def fn(name: String, usage: String)(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.GraftExtensions", null, name, usage, ""),
      builder)

  // --------------------------------------------------------- descriptors

  /** Every SQL-callable function. Names mirror the Column API 1:1. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(

    fn("vec_dot", "_FUNC_(a, b) - dot product of two double arrays") { es =>
      arity("vec_dot", "(a, b)", es, 2)
      VectorOps.DotProduct(es(0), es(1))
    },
    fn("vec_norm", "_FUNC_(a) - L2 norm of a double array") { es =>
      arity("vec_norm", "(a)", es, 1)
      VectorOps.L2Norm(es(0))
    },
    fn("vec_l2sq_long", "_FUNC_(a, b) - integer squared L2 distance of two long arrays") { es =>
      arity("vec_l2sq_long", "(a, b)", es, 2)
      VectorOps.L2SqLong(es(0), es(1))
    },
    fn("pq_adc", "_FUNC_(codes, lut) - ADC distance: sum lut[s*C + codes[s]] over subspaces") { es =>
      arity("pq_adc", "(codes, lut)", es, 2)
      VectorOps.AdcLookup(es(0), es(1))
    },
    fn("parse_ref_timestamp",
      "_FUNC_(s) - 'yyyy-MM-dd-HH.mm.ss.ffffff' to TIMESTAMP_NTZ (null if malformed)") { es =>
      arity("parse_ref_timestamp", "(s)", es, 1)
      RefTimestamp.ParseRefTimestamp(es(0))
    },
    fn("format_ref_timestamp",
      "_FUNC_(ts) - micros BIGINT / TIMESTAMP[_NTZ] to 'yyyy-MM-dd-HH.mm.ss.ffffff'") { es =>
      arity("format_ref_timestamp", "(us)", es, 1)
      RefTimestamp.FormatRefTimestamp(es(0))
    },
    fn("winnow_fingerprint",
      "_FUNC_(text, width) - winnowing min-hash fingerprint over sliding windows") { es =>
      arity("winnow_fingerprint", "(text, width)", es, 2)
      Winnow.WinnowFingerprint(es(0), intLit("winnow_fingerprint", "width", es(1)))
    },
    fn("winnow_sampled_spans",
      "_FUNC_(text, width) - (pos, md5) of content-sampled windows (first nibble 0)") { es =>
      arity("winnow_sampled_spans", "(text, width)", es, 2)
      Winnow.WinnowSampledSpans(es(0), intLit("winnow_sampled_spans", "width", es(1)))
    },
    fn("simhash64",
      "_FUNC_(tokens) - 64-bit SimHash of a token array as struct<sim_hi,sim_lo>") { es =>
      arity("simhash64", "(tokens)", es, 1)
      SimHash.SimHash64(es(0))
    },
    fn("normalize_text",
      "_FUNC_(s) - NFC + lowercase + controls->space + collapse spaces + trim") { es =>
      arity("normalize_text", "(s)", es, 1)
      graft.functions.TextNorm.NormalizeText(es(0))
    },
    fn("minhash64",
      "_FUNC_(shingles) - 64 MinHash permutation minima (engine coefficients) as array<bigint>") { es =>
      arity("minhash64", "(shingles)", es, 1)
      graft.functions.MinHash.MinHash64(es(0),
        graft.ops.Dedup.minHashA, graft.ops.Dedup.minHashB, graft.ops.Dedup.MinHashP)
    },
    fn("topk_by_score",
      "_FUNC_(score, id, k) - aggregate: k best (score DESC, id ASC) as array<struct<id,score>>") { es =>
      arity("topk_by_score", "(score, id, k)", es, 3)
      // Bare AggregateFunction, NOT .toAggregateExpression(): the
      // analyzer's ResolveFunctions does the wrapping, and that is
      // what carries FILTER (WHERE ...) / DISTINCT into the
      // AggregateExpression — a pre-wrapped one fails both syntaxes
      // with FUNCTION_WITH_UNSUPPORTED_SYNTAX.
      TopK.TopKByScore(es(0), es(1), intLit("topk_by_score", "k", es(2)))
    },
    fn("capped_sorted_ids",
      "_FUNC_(id, cap) - aggregate: struct<width, ids> with the sorted id array " +
        "complete iff width <= cap; aggregation state bounded at cap ids") { es =>
      arity("capped_sorted_ids", "(id, cap)", es, 2)
      graft.functions.CappedCollect.CappedSortedIds(
        es(0), intLit("capped_sorted_ids", "cap", es(1)))
    },
    // The confluent_* builders restate graft.functions.Confluent's
    // Column compositions as direct catalyst trees: a builder returning
    // a Column-derived expression hands the analyzer an opaque
    // ColumnNodeExpression it never converts (codegen INTERNAL_ERROR).
    fn("avro_encode",
      "_FUNC_(data, schemaJson) - serialize a struct to Avro binary (writer schema literal)") { es =>
      arity("avro_encode", "(data, schemaJson)", es, 2)
      AvroCodec.AvroEncode(es(0), strLit("avro_encode", "schemaJson", es(1)))
    },
    fn("confluent_frame",
      "_FUNC_(body, schemaId) - prefix Avro bytes with [0x00][id BE]") { es =>
      arity("confluent_frame", "(body, schemaId)", es, 2)
      Concat(Seq(
        Literal(Confluent.prefixBytes(intLit("confluent_frame", "schemaId", es(1)))),
        es(0)))
    },
    fn("confluent_schema_id",
      "_FUNC_(framed) - big-endian schema id of a Confluent-framed message") { es =>
      arity("confluent_schema_id", "(framed)", es, 1)
      Cast(Conv(Hex(Substring(es(0), Literal(2), Literal(4))),
        Literal(16), Literal(10)), IntegerType)
    },
    fn("confluent_has_magic",
      "_FUNC_(framed) - true iff the first byte is the Confluent magic byte") { es =>
      arity("confluent_has_magic", "(framed)", es, 1)
      EqualTo(Substring(es(0), Literal(1), Literal(1)),
        Literal(Array(Confluent.MagicByte)))
    },
    fn("confluent_payload",
      "_FUNC_(framed) - strip the 5-byte Confluent header") { es =>
      arity("confluent_payload", "(framed)", es, 1)
      Substring(es(0), Literal(6), Literal(Int.MaxValue))
    },
  )
}
