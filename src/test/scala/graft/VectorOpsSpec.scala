package graft

import graft.functions.VectorOps._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every vector expression evaluates to the same value, or the same
  * null, interpreted (`eval`) and generated (a compiled
  * `UnsafeProjection`), over valid vectors, null elements and every
  * corruption its contract maps to null: wrong dimension, out-of-range
  * codes and cells, zero norms. And the four per-pair kernels allocate
  * nothing per call on the generated path. No Spark session: the
  * expressions run over bound input rows. */
class VectorOpsSpec extends AnyFunSuite {

  private val dArr = ArrayType(DoubleType, containsNull = true)
  private val lArr = ArrayType(LongType, containsNull = true)
  private val iArr = ArrayType(IntegerType, containsNull = true)

  private def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  /** Scala values → the UnsafeRow a whole-stage stage would hand over. */
  private def row(types: Seq[DataType], values: Seq[Any]): InternalRow = {
    val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    val internal = CatalystTypeConverters.createToCatalystConverter(schema)(Row.fromSeq(values))
    UnsafeProjection.create(schema).apply(internal.asInstanceOf[InternalRow]).copy()
  }

  /** `GenerateUnsafeProjection.generate` compiles or throws: unlike
    * `UnsafeProjection.create` it never falls back to interpretation. */
  private def agree(e: Expression, cases: Seq[Any]*): Unit = {
    val types = e.children.map(_.dataType)
    val generated = GenerateUnsafeProjection.generate(Seq(e))
    val wrap = UnsafeProjection.create(Array(e.dataType))
    cases.foreach { vs =>
      val r = row(types, vs)
      val want = wrap(InternalRow(e.eval(r))).copy()
      val got = generated(r).copy()
      def show(u: InternalRow) =
        if (u.isNullAt(0)) "null" else CatalystTypeConverters.convertToScala(u.get(0, e.dataType), e.dataType)
      assert(want == got, s"${e.prettyName} on $vs: interpreted ${show(want)}, generated ${show(got)}")
    }
  }

  private val v3 = Seq(0.5, -1.25, 2.0)
  private val planes = Array(Array(1.0, 0.0, 0.0), Array(0.0, -1.0, 1.0),
    Array(-0.5, 0.5, 0.25), Array(0.0, 0.0, -1.0))
  private val centroids = Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 0.0),
    Array(0.5, -1.0, 2.0), Array(-1.0, 1.0, 0.0), Array(0.25, 0.25, 0.25))
  private val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
  private val classes = Array(0, 2, 3)
  private val codewords = Array(Array(0L, 0L, 5L, 5L), Array(10L, -3L, 1L, 1L), Array(-4L, 4L, 9L, 0L))
  private val mins = Array(-10L, 0L, 5L)
  private val maxs = Array(10L, 100L, 5L)

  test("vec_dot, vec_norm, vec_l2sq_long: interpreted ≡ generated") {
    agree(DotProduct(in(0, dArr), in(1, dArr)),
      Seq(v3, Seq(1.0, 2.0, 3.0)), Seq(Seq(1.0, null, 3.0), v3),
      Seq(v3, Seq(1.0, 2.0)), Seq(Seq.empty[Double], Seq.empty[Double]), Seq(null, v3))
    agree(L2Norm(in(0, dArr)), Seq(v3), Seq(Seq(3.0, null, 4.0)), Seq(Seq.empty[Double]), Seq(null))
    agree(L2SqLong(in(0, lArr), in(1, lArr)),
      Seq(Seq(1L, -2L, 3L), Seq(4L, 4L, -4L)), Seq(Seq(1L, null, 3L), Seq(0L, 0L, 0L)),
      Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)), Seq(Seq(1L), null))
  }

  test("vec_lsh_bands, vec_centroid_sims, centroid_argmax_two_level: interpreted ≡ generated") {
    agree(HyperplaneSignBands(in(0, dArr), planes, 2),
      Seq(v3), Seq(Seq(-1.0, null, 0.0)), Seq(Seq(1.0, 2.0)), Seq(Seq(1.0, 2.0, 3.0, 4.0)), Seq(null))
    agree(CentroidSims(in(0, dArr), in(1, DoubleType), centroids, norms),
      Seq(v3, 2.5), Seq(Seq(1.0, null, 1.0), 1.0), Seq(v3, 0.0),
      Seq(Seq(1.0, 2.0), 1.0), Seq(v3, null))
    Seq((2, 1), (2, 3), (1, 5)).foreach { case (groupSize, probe) =>
      agree(CentroidArgmaxTwoLevel(in(0, dArr), in(1, DoubleType), centroids, norms, groupSize, probe),
        Seq(v3, 2.5), Seq(Seq(-1.0, 1.0, null), 1.0), Seq(v3, 0.0),
        Seq(Seq(1.0, 2.0), 1.0), Seq(null, 1.0))
    }
    // Every probed fine centroid zero-norm: the null result.
    agree(CentroidArgmaxTwoLevel(in(0, dArr), in(1, DoubleType),
      Array(Array(0.0, 0.0), Array(1.0, 1.0)), Array(0.0, math.sqrt(2.0)), 1, 1),
      Seq(Seq(-1.0, -1.0), 1.0), Seq(Seq(1.0, 1.0), 1.0))
  }

  test("pq_code_argmin, pq_query_lut, pq_adc: interpreted ≡ generated") {
    val v = Seq(3L, -1L, 7L, 2L)
    agree(PqCodeArgmin(in(0, lArr), classes, codewords, 2, 2),
      Seq(v), Seq(Seq(3L, null, 7L, 2L)), Seq(Seq(1L, 2L, 3L)), Seq(null))
    agree(PqQueryLut(in(0, lArr), classes, codewords, 2, 2, 4),
      Seq(v), Seq(Seq(null, -1L, 7L, 2L)), Seq(Seq(1L, 2L, 3L, 4L, 5L)), Seq(null))
    val lut = Seq(1L, 2L, 3L, 4L, 10L, 20L, 30L, 40L)
    agree(AdcLookup(in(0, iArr), in(1, lArr)),
      Seq(Seq(3, 0), lut), Seq(Seq(null, 2), lut), Seq(Seq(1, 2, 3), lut),
      Seq(Seq(-1, 0), lut), Seq(Seq(0, 4), lut), Seq(Seq.empty[Int], lut),
      Seq(Seq(0, 1), Seq(1L, null, 3L, 4L)), Seq(Seq(0, 1), null))
  }

  test("vec_grid, vec_residual_grid: interpreted ≡ generated") {
    agree(VecGrid(in(0, dArr), 1000),
      Seq(Seq(0.0005, -0.0005, 12345.6785)), Seq(Seq(1.0, null, -2.5)), Seq(Seq.empty[Double]), Seq(null))
    agree(VecResidualGrid(in(0, dArr), in(1, LongType), centroids, 1000),
      Seq(v3, 2L), Seq(Seq(0.1, null, 0.3), 0L), Seq(v3, -1L), Seq(v3, 5L),
      Seq(Seq(1.0, 2.0), 1L), Seq(v3, null))
  }

  test("sq_encode, sq_adc_l2, bitpack_gt: interpreted ≡ generated") {
    agree(SqEncode(in(0, lArr), mins, maxs, 256),
      Seq(Seq(-3L, 50L, 5L)), Seq(Seq(-30L, 500L, 4L)), Seq(Seq(1L, null, 5L)),
      Seq(Seq(1L, 2L)), Seq(null))
    agree(SqAdcL2(in(0, iArr), in(1, lArr), mins, maxs, 256),
      Seq(Seq(0, 128, 255), Seq(-3L, 50L, 5L)), Seq(Seq(7, null, 0), Seq(1L, 2L, 3L)),
      Seq(Seq(-1, 0, 0), Seq(1L, 2L, 3L)), Seq(Seq(0, 256, 0), Seq(1L, 2L, 3L)),
      Seq(Seq(0, 0), Seq(1L, 2L, 3L)), Seq(Seq(0, 0, 0), Seq(1L, 2L)), Seq(null, Seq(1L, 2L, 3L)))
    agree(BitPackGt(in(0, lArr), Array(0L, 10L, -5L)),
      Seq(Seq(1L, 10L, -4L)), Seq(Seq(null, 11L, 0L)), Seq(Seq(1L)), Seq(null))
  }

  test("a ragged hyperplane matrix is refused at construction") {
    intercept[IllegalArgumentException] {
      HyperplaneSignBands(in(0, dArr), Array(Array(1.0, 0.0), Array(1.0)), 1)
    }
  }

  test("the per-pair kernels allocate nothing per call on the generated path") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean match {
      case m: com.sun.management.ThreadMXBean
          if m.isThreadAllocatedMemorySupported && m.isThreadAllocatedMemoryEnabled => m
      case _ => null
    }
    assume(mx != null, "per-thread allocation counting is unsupported on this JVM")
    // Unsafe arrays, as a stage holds them, in a generic row so that
    // reading an input allocates no array view of its own.
    val d64 = ArrayData.toArrayData(Array.tabulate(64)(i => (i - 20) * 0.125))
    val l64 = ArrayData.toArrayData(Array.tabulate(64)(i => (i * 37L) % 201 - 100))
    val codes8 = ArrayData.toArrayData(Array.tabulate(8)(i => (i * 5) % 16))
    val lut = ArrayData.toArrayData(Array.tabulate(8 * 16)(i => i * 3L))
    val sq = ArrayData.toArrayData(Array.tabulate(64)(i => (i * 11) % 256))
    val lo = Array.fill(64)(-100L)
    val hi = Array.fill(64)(100L)
    Seq[(Expression, Array[Any])](
      (AdcLookup(in(0, iArr), in(1, lArr)), Array(codes8, lut)),
      (DotProduct(in(0, dArr), in(1, dArr)), Array(d64, d64)),
      (SqAdcL2(in(0, iArr), in(1, lArr), lo, hi, 256), Array(sq, l64)),
      (L2SqLong(in(0, lArr), in(1, lArr)), Array(l64, l64))
    ).foreach { case (e, inputs) =>
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      val r = new GenericInternalRow(inputs)
      assert(!proj(r).isNullAt(0))
      def run(n: Int): Unit = { var i = 0; while (i < n) { proj(r); i += 1 } }
      run(1000000) // warm-up: past C2 compilation of the projection
      val calls = 1000000
      val tid = Thread.currentThread().getId
      val before = mx.getThreadAllocatedBytes(tid)
      run(calls)
      val perCall = (mx.getThreadAllocatedBytes(tid) - before).toDouble / calls
      assert(perCall < 1.0, s"${e.prettyName}: $perCall bytes allocated per call")
    }
  }
}
