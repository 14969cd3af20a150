package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native vector expressions for the similarity/dedup operators.
  *
  * The declarative forms (`aggregate(zip_with(a, b, *), +)`) are
  * correct but interpreted: Spark's higher-order functions evaluate
  * per-element lambdas with boxing, which at 25M pairs x 64 dims
  * (similarity_topk, sf0.1) is minutes of pure overhead, and they drop
  * their stage out of whole-stage codegen.
  *
  * One kernel per expression: each states its arithmetic once, as a
  * Scala `kernel` method, and its corruption rule once, as `valid`.
  * Interpreted evaluation and generated code both call them — the
  * generated side through one shared template ([[Kernel]]) that emits
  * a single call on a reference to the expression, the MinHash/SimHash
  * shape — so the two paths cannot drift apart (a spec compares them).
  */
object VectorOps {

  /** The shared codegen template. `kernel` is typed on the children's
    * Java types (`ArrayData`, `double`, `long`); generated code calls
    * that typed method directly, interpreted `nullSafeEval` reaches it
    * through the erased bridge. A failed `valid` is a null result, and
    * an object-valued kernel may return null itself. A primitive
    * kernel hands back an unboxed value, so a per-pair kernel
    * allocates nothing on its non-null path. */
  trait Kernel extends Expression {
    override def nullIntolerant: Boolean = true

    protected def kernelCode(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
      val ref = ctx.addReferenceObj("kernel", this)
      val in = args.mkString(", ")
      val call = s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.kernel($in);"
      if (!nullable) call
      else if (CodeGenerator.isPrimitiveType(dataType))
        s"${ev.isNull} = !$ref.valid($in);\nif (!${ev.isNull}) { $call }"
      else s"if ($ref.valid($in)) { $call }\n${ev.isNull} = ${ev.value} == null;"
    }
  }

  /** A [[Kernel]] over one child of Java type `A`. */
  trait UnaryKernel[A] extends UnaryExpression with Kernel {
    def valid(a: A): Boolean = true
    def kernel(a: A): Any
    override def nullSafeEval(a: Any): Any =
      if (valid(a.asInstanceOf[A])) kernel(a.asInstanceOf[A]) else null
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCode(ctx, ev, a))
  }

  /** A [[Kernel]] over two children of Java types `A` and `B`. */
  trait BinaryKernel[A, B] extends BinaryExpression with Kernel {
    def valid(a: A, b: B): Boolean = true
    def kernel(a: A, b: B): Any
    override def nullSafeEval(a: Any, b: Any): Any =
      if (valid(a.asInstanceOf[A], b.asInstanceOf[B])) kernel(a.asInstanceOf[A], b.asInstanceOf[B])
      else null
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => kernelCode(ctx, ev, a, b))
  }

  /** A matrix every row of which has the first row's length: the
    * kernels read `x` and each row over that one dimension. */
  private def rectangular(m: Array[Array[Double]]): Boolean =
    m.nonEmpty && m.forall(_.length == m(0).length)

  /** `x · c` over `c`'s length (`valid` has matched `x` to it). */
  private def dot(x: ArrayData, c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) { s += x.getDouble(i) * c(i); i += 1 }
    s
  }

  /** Integer L2² of `x`'s subvector at `off` to the same span of `cw`. */
  private def l2sq(x: ArrayData, cw: Array[Long], off: Int, dims: Int): Long = {
    var d = 0L
    var i = off
    while (i < off + dims) { val t = x.getLong(i) - cw(i); d += t * t; i += 1 }
    d
  }

  /** Every code lies in [0, bound): an out-of-range code is index
    * corruption, and reading through it would leave the table. */
  private def codesIn(codes: ArrayData, bound: Int): Boolean = {
    val m = codes.numElements()
    var s = 0
    while (s < m) {
      val j = codes.getInt(s)
      if (j < 0 || j >= bound) return false
      s += 1
    }
    true
  }

  /** `cast(round(v · scale) as long)` with EXACTLY Spark's `round`
    * arithmetic (`BigDecimal.valueOf` of the double product,
    * `setScale(0, HALF_UP)` — ties away from zero — then the
    * integral-value cast). Long-range guard: the chain this replaces
    * ended in an ANSI double→long cast, which THROWS on overflow —
    * Scala's toLong would silently saturate instead, a semantic
    * divergence on corrupt inputs (a sane embedding component cannot
    * reach 2⁶³/scale). `what` names the operand in the message. */
  private def gridLong(v: Double, scale: Int, what: String): Long = {
    val rounded = java.math.BigDecimal.valueOf(v * scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    if (rounded < -9.223372036854776e18 || rounded >= 9.223372036854776e18)
      throw new ArithmeticException(s"$what $v * $scale overflows the long grid")
    rounded.toLong
  }

  /** Dot product of two array<double> columns (null if lengths differ —
    * embeddings are fixed-dim, a mismatch is data corruption). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData] with ImplicitCastInputTypes {
    // Coerce SQL-surface inputs (array(3.0, 4.0) parses as
    // array<decimal>) to the primitive layout the loop reads; the
    // Column-API call sites already pass exact types, so the casts
    // no-op there.
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"
    // Length mismatch yields a data-dependent null regardless of child
    // nullability; deriving nullable from the children would make
    // codegen assign `isNull` into a `false` literal (Janino failure →
    // interpreted fallback returning null from a declared-non-nullable
    // expression).
    override def nullable: Boolean = true

    override def valid(x: ArrayData, y: ArrayData): Boolean = x.numElements() == y.numElements()
    override def kernel(x: ArrayData, y: ArrayData): Double = {
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)
  }

  /** L2 norm of an array<double> column. */
  case class L2Norm(child: Expression) extends UnaryKernel[ArrayData]
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_norm"

    override def kernel(x: ArrayData): Double = {
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
      math.sqrt(s)
    }

    override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
  }

  /** All random-hyperplane LSH band signatures of a vector in one
    * compiled pass: planes is a (bands*rowsPerBand) x dim matrix; the
    * output is `bands` ints, each band's sign bits packed MSB-first
    * (row 0 = highest bit). One expression evaluation computes every
    * dot product exactly once — the higher-order-function formulation
    * either recomputes the dot array per element (nested lambda) or
    * splits into bands x rows separate expressions (interpreted,
    * boxed). The packed-int signature (r13; was an 8-char '0'/'1'
    * string) keeps the banded rows a fixed 16 bytes through the
    * candidate shuffles — no per-band string allocation, and the
    * bucket join compares ints, not UTF8 bytes. */
  case class HyperplaneSignBands(child: Expression, planes: Array[Array[Double]],
      rowsPerBand: Int) extends UnaryKernel[ArrayData] {
    require(rectangular(planes) && planes.length % rowsPerBand == 0)
    require(rowsPerBand <= 31, s"sign bits must pack into an int: $rowsPerBand > 31")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "vec_lsh_bands"
    // Dimension mismatch is data corruption and yields NULL, the
    // DotProduct/L2SqLong convention: a silently prefix-truncated dot
    // would hand the corrupt vector a plausible signature and flow it
    // through the LSH joins undetectably.
    override def nullable: Boolean = true

    override def valid(x: ArrayData): Boolean = x.numElements() == planes(0).length
    override def kernel(x: ArrayData): ArrayData = {
      val out = new Array[Int](planes.length / rowsPerBand)
      var b = 0
      while (b < out.length) {
        var sig = 0
        var r = b * rowsPerBand
        while (r < (b + 1) * rowsPerBand) {
          sig = (sig << 1) | (if (dot(x, planes(r)) >= 0) 1 else 0)
          r += 1
        }
        out(b) = sig
        b += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): HyperplaneSignBands =
      copy(child = c)
  }

  /** Squared L2 distance of two array<long> columns in exact integer
    * arithmetic (null if lengths differ). The PQ hot path: codeword
    * assignment evaluates PqCodewords×PqM of these per vector and ADC
    * one per candidate pair — the declarative
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), +)` form boxes
    * two lambdas per element (a spec pins the two forms equal). */
  case class L2SqLong(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData] with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "vec_l2sq_long"
    // Same data-dependent null as DotProduct: see its `nullable` note.
    override def nullable: Boolean = true

    override def valid(x: ArrayData, y: ArrayData): Boolean = x.numElements() == y.numElements()
    override def kernel(x: ArrayData, y: ArrayData): Long = {
      val n = x.numElements()
      var s = 0L
      var i = 0
      while (i < n) { val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1 }
      s
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqLong =
      copy(left = l, right = r)
  }

  /** Cosine similarity of one vector against a whole CENTROID MATRIX
    * in a single expression: element j of the output is
    * `dot(v, centroids(j)) / (nrm · norms(j))`, null where the norm
    * product is zero (the engine-wide ANSI-divide zero-norm guard) —
    * value-identical, cell by cell, to the `array(dot/nullif, …)`
    * composition it replaces.
    *
    * Why it exists (r17): with the cluster count now DERIVED from
    * corpus size, the per-centroid expression composition stopped
    * scaling in PLAN size — at k=63 the assignment projection carried
    * 63 inlined dot products with 64-element literal arrays each, and
    * whole-stage codegen gave up on the stage entirely (no `*(n)`
    * spans — every row evaluated interpreted; embedding_cluster
    * 0.33 → 1.63 s at sf0.1). One expression holding the matrix as a
    * reference object keeps the generated code CONSTANT-size in k, so
    * the k=clamp(N/32, …) law can push k to 10⁵ without touching the
    * plan. Dimension mismatch → null result, the
    * DotProduct/HyperplaneSignBands corruption convention. */
  case class CentroidSims(left: Expression, right: Expression,
      centroids: Array[Array[Double]], norms: Array[Double])
      extends BinaryKernel[ArrayData, Double] with ImplicitCastInputTypes {
    require(rectangular(centroids) && centroids.length == norms.length,
      s"centroid matrix/norms mismatch: ${centroids.length} vs ${norms.length}")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def prettyName: String = "vec_centroid_sims"
    override def nullable: Boolean = true

    override def valid(x: ArrayData, nrm: Double): Boolean = x.numElements() == centroids(0).length
    override def kernel(x: ArrayData, nrm: Double): ArrayData =
      new GenericArrayData(Array.tabulate[Any](centroids.length) { j =>
        val den = nrm * norms(j)
        if (den == 0.0) null else java.lang.Double.valueOf(dot(x, centroids(j)) / den)
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): CentroidSims =
      copy(left = l, right = r)
  }

  /** Two-level (coarse-quantized) centroid argmax (r18): the scale
    * path past the point where a FLAT scan over the centroid matrix —
    * O(k·dim) per vector — stops being acceptable (the MaxCells
    * regime: k = 2¹⁷ at dim 64 is 8.4M multiplies per assigned
    * vector). The standard IVF coarse-quantizer step: the k fine
    * centroids are partitioned into ⌈k/groupSize⌉ contiguous groups
    * (groupSize ≈ √k), each summarized by its element-wise MEAN; a
    * vector first ranks the ⌈k/groupSize⌉ coarse means (O(√k·dim)),
    * probes the `probeGroups` best groups, and scans only their fine
    * centroids exactly (O(probeGroups·√k·dim)) — total O(√k·dim)
    * per vector for constant probeGroups, vs O(k·dim) flat.
    *
    * Deterministic at both levels — contiguous grouping over the
    * class-sorted centroid array and exact means, no RNG — so the
    * result is a pure function of (centroids, dials), same as flat.
    * With probeGroups ≥ numGroups the probe set is every group and
    * the scan IS the flat scan (identical arithmetic, identical
    * ascending-index strict-> tie-break — the property the geometry
    * spec pins); at smaller probeGroups the assignment is approximate
    * exactly the way an IVF probe list is: a vector whose true cell's
    * group ranks below the probe cut gets its best PROBED cell. The
    * fixtures (k ≤ 63) never reach the two-level threshold, so every
    * oracle replays the flat rule unchanged. The matrix and probe loop
    * live behind the reference object, so the generated code stays
    * constant-size however large k grows.
    *
    * Null semantics mirror the flat composition: wrong input dim or
    * zero query norm → null result; zero-norm fine centroids are
    * skipped (never win); all probed candidates zero-norm → null.
    * Output struct<pos: int, sim: double> with pos 1-BASED — the same
    * convention as `array_position(sims, array_max(sims))`, so callers
    * index the class array identically on both paths. */
  case class CentroidArgmaxTwoLevel(left: Expression, right: Expression,
      centroids: Array[Array[Double]], norms: Array[Double],
      groupSize: Int, probeGroups: Int)
      extends BinaryKernel[ArrayData, Double] with ImplicitCastInputTypes {
    require(rectangular(centroids) && centroids.length == norms.length,
      s"centroid matrix/norms mismatch: ${centroids.length} vs ${norms.length}")
    require(groupSize > 0 && probeGroups > 0,
      s"two-level dials must be positive: groupSize=$groupSize probeGroups=$probeGroups")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)
    override def dataType: DataType = StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("sim", DoubleType, nullable = false)))
    override def prettyName: String = "centroid_argmax_two_level"
    override def nullable: Boolean = true

    @transient private lazy val k = centroids.length
    @transient private lazy val dim0 = centroids(0).length
    @transient private lazy val numGroups = (k + groupSize - 1) / groupSize

    /** Coarse summary: element-wise mean of each contiguous group and
      * its norm — recomputed lazily after deserialization (exact
      * double arithmetic over shipped centroids: deterministic). */
    @transient private lazy val coarse: Array[Array[Double]] =
      Array.tabulate(numGroups) { g =>
        val from = g * groupSize
        val to = math.min(from + groupSize, k)
        val m = new Array[Double](dim0)
        var j = from
        while (j < to) {
          val c = centroids(j)
          var i = 0
          while (i < dim0) { m(i) += c(i); i += 1 }
          j += 1
        }
        val cnt = (to - from).toDouble
        var i = 0
        while (i < dim0) { m(i) /= cnt; i += 1 }
        m
      }
    @transient private lazy val coarseNorm: Array[Double] =
      coarse.map(c => math.sqrt(c.map(x => x * x).sum))

    override def valid(x: ArrayData, nrm: Double): Boolean = x.numElements() == dim0 && nrm != 0.0
    override def kernel(x: ArrayData, nrm: Double): InternalRow = {
      val w = math.min(probeGroups, numGroups)
      // Rank coarse groups: top-w by (sim desc, group asc). w is small
      // (a constant dial), so an insertion pass over a w-slot buffer
      // beats sorting numGroups entries.
      val selIdx = new Array[Int](w)
      val selSim = new Array[Double](w)
      var filled = 0
      var g = 0
      while (g < numGroups) {
        val den = nrm * coarseNorm(g)
        val sim = if (den == 0.0) Double.NegativeInfinity else dot(x, coarse(g)) / den
        // insert (sim, g) if it beats the current worst slot
        if (filled < w || sim > selSim(w - 1)) {
          var p = if (filled < w) filled else w - 1
          while (p > 0 && selSim(p - 1) < sim) {
            selSim(p) = selSim(p - 1); selIdx(p) = selIdx(p - 1); p -= 1
          }
          selSim(p) = sim; selIdx(p) = g; filled = math.min(filled + 1, w)
        }
        g += 1
      }
      // Fine scan in ASCENDING group order so the strict-> update
      // reproduces flat's first-position-of-max tie-break restricted
      // to the probed set.
      java.util.Arrays.sort(selIdx, 0, filled)
      var bestPos = -1
      var bestSim = 0.0
      var sel = 0
      while (sel < filled) {
        var j = selIdx(sel) * groupSize
        val to = math.min(j + groupSize, k)
        while (j < to) {
          val den = nrm * norms(j)
          if (den != 0.0) {
            val sim = dot(x, centroids(j)) / den
            if (bestPos < 0 || sim > bestSim) { bestSim = sim; bestPos = j }
          }
          j += 1
        }
        sel += 1
      }
      if (bestPos < 0) null else InternalRow(bestPos + 1, bestSim)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression)
        : CentroidArgmaxTwoLevel = copy(left = l, right = r)
  }

  /** Per-subspace PQ codeword argmin over the WHOLE codebook in one
    * expression: for each of the `m` subspaces, the candidate class
    * with the smallest integer L2² to the input's subvector (ties →
    * the earlier candidate; `classes` is sorted ascending, so this is
    * the smallest class — the (d, j) struct-min rule the composed
    * formulation pinned). Returns
    * struct<codes: array<int>, pq_code: long, distortion: long> —
    * the per-subspace classes, the packed 4-bit/subspace code, and the
    * summed quantization distortion.
    *
    * Why (r17): the composed form built m×|classes| `vec_l2sq_long`
    * candidates (128 at the fixture geometry) into one projection —
    * outside whole-stage codegen the stage ran interpreted, and the
    * plan carried every codeword as a separate literal. One reference
    * object + one generated call keeps plan and code constant-size.
    * Only candidates in `classes` are considered — an uninhabited
    * residue class is NOT a zero codeword (the dense-with-zeros trap). */
  case class PqCodeArgmin(child: Expression, classes: Array[Int],
      codewords: Array[Array[Long]], m: Int, dims: Int)
      extends UnaryKernel[ArrayData] with ImplicitCastInputTypes {
    require(classes.nonEmpty && classes.length == codewords.length && m > 0 && dims > 0)
    require(classes.sameElements(classes.sorted),
      "pq_code_argmin: classes must be sorted (the smallest-class tie-break)")
    // pq_code packs 4 bits per subspace: a class id >= 16 or more than
    // 16 subspaces would silently corrupt the packed code via nibble
    // overlap while codes/distortion stayed correct (r18, per ADVICE) —
    // reject at construction like PqQueryLut's classes-bounds require.
    require(classes.last < 16 && m <= 16,
      s"pq_code_argmin: pq_code packs 4-bit nibbles — need class ids < 16 " +
        s"(got max ${classes.last}) and m <= 16 (got $m)")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("pq_code", LongType, nullable = false),
      StructField("distortion", LongType, nullable = false)))
    override def prettyName: String = "pq_code_argmin"
    // Length mismatch (corrupt vector) → null, the vec_dot convention.
    override def nullable: Boolean = true

    override def valid(x: ArrayData): Boolean = x.numElements() == m * dims
    override def kernel(x: ArrayData): InternalRow = {
      val codes = new Array[Int](m)
      var pq = 0L
      var dist = 0L
      var s = 0
      while (s < m) {
        var bestD = Long.MaxValue
        var bestJ = 0
        var j = 0
        while (j < classes.length) {
          val d = l2sq(x, codewords(j), s * dims, dims)
          if (d < bestD) { bestD = d; bestJ = classes(j) }
          j += 1
        }
        codes(s) = bestJ
        pq += bestJ.toLong << (4 * s)
        dist += bestD
        s += 1
      }
      InternalRow(new GenericArrayData(codes), pq, dist)
    }

    override protected def withNewChildInternal(c: Expression): PqCodeArgmin =
      copy(child = c)
  }

  /** A query's flat ADC lookup table in one expression: entry
    * s·`numClasses` + cls = integer L2² of the query's subspace-s
    * subvector to class cls's codeword; slots of uninhabited classes
    * stay 0 (no code ever indexes them — exactly the composed
    * formulation's zero-filled rows). Output feeds [[AdcLookup]]. */
  case class PqQueryLut(child: Expression, classes: Array[Int],
      codewords: Array[Array[Long]], m: Int, dims: Int, numClasses: Int)
      extends UnaryKernel[ArrayData] with ImplicitCastInputTypes {
    require(classes.nonEmpty && classes.length == codewords.length && m > 0 && dims > 0)
    require(classes.forall(c => c >= 0 && c < numClasses))
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "pq_query_lut"
    override def nullable: Boolean = true

    override def valid(x: ArrayData): Boolean = x.numElements() == m * dims
    override def kernel(x: ArrayData): ArrayData = {
      val out = new Array[Long](m * numClasses)
      var s = 0
      while (s < m) {
        var j = 0
        while (j < classes.length) {
          out(s * numClasses + classes(j)) = l2sq(x, codewords(j), s * dims, dims)
          j += 1
        }
        s += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): PqQueryLut =
      copy(child = c)
  }

  /** Asymmetric-distance (ADC) table lookup: given a vector's PQ codes
    * (array<int>, one codeword index per subspace) and a QUERY's
    * precomputed distance table (ONE FLAT array<long> of M·C entries,
    * entry s·C + j = that query's L2² to subspace s's codeword j,
    * stride C derived as lut.length / codes.length), sums the M
    * looked-up entries — the textbook ADC scoring step. The flat
    * layout matters: a nested array<array<long>> costs a getArray
    * allocation per (pair, subspace) in the O(N·queries) hot stage;
    * flat is a single stride-indexed getLong. Turns the per-pair cost
    * from a dim-wide L2 over a reconstructed vector into M loads +
    * adds (~dim/M× less compute), while the integer result stays
    * bit-identical to the reconstruct-then-L2 formulation (a spec
    * pins the two equal). Null on a non-divisible table length, empty
    * codes, or an out-of-range code — all index corruption, same
    * contract as the length-mismatch null above. */
  case class AdcLookup(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData] with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(IntegerType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "pq_adc"
    // Data-dependent null: see DotProduct's `nullable` note.
    override def nullable: Boolean = true

    override def valid(codes: ArrayData, lut: ArrayData): Boolean = {
      val m = codes.numElements()
      m > 0 && lut.numElements() % m == 0 && codesIn(codes, lut.numElements() / m)
    }
    override def kernel(codes: ArrayData, lut: ArrayData): Long = {
      val m = codes.numElements()
      val stride = lut.numElements() / m
      var sum = 0L
      var s = 0
      while (s < m) { sum += lut.getLong(s * stride + codes.getInt(s)); s += 1 }
      sum
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcLookup =
      copy(left = l, right = r)
  }

  /** The shared fixed-point grid cast in ONE fused expression:
    * element-wise `cast(round(x · scale) as long)` ([[gridLong]]),
    * bit-identical to the `transform(v, x -> round(x*scale).cast
    * (long))` chain it replaces; a spec pins that row-for-row
    * because every persisted index artifact (PQ codebook, SQ stats,
    * BQ medians, IVFADC codes) derives from these grid values.
    *
    * Why: `transform` is a higher-order function — codegen FALLBACK —
    * so every projection carrying the grid cast (the PQ/SQ/BQ encode
    * passes, the IVF Lloyd input) fell out of whole-stage codegen and
    * paid a boxed interpreted lambda per element. Null elements pass
    * through as null, like the cast chain. */
  case class VecGrid(child: Expression, scale: Int)
      extends UnaryKernel[ArrayData] with ImplicitCastInputTypes {
    require(scale > 0, s"vec_grid: scale must be positive, got $scale")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def prettyName: String = "vec_grid"

    override def kernel(x: ArrayData): ArrayData =
      new GenericArrayData(Array.tabulate[Any](x.numElements()) { i =>
        if (x.isNullAt(i)) null else gridLong(x.getDouble(i), scale, "vec_grid:")
      })

    override protected def withNewChildInternal(c: Expression): VecGrid =
      copy(child = c)
  }

  /** Residual grid quantization (the residual-IVFADC lane):
    * `round((v[i] - c[cell][i]) · scale)` per component against a
    * centroid selected BY THE ROW — the per-cell residual the textbook
    * IVFADC codebook quantizes (Jégou, Douze, Schmid 2011 §IV-A: PQ
    * codes encode `x − q1(x)`, not `x`). The centroid matrix rides as
    * a reference object (the CentroidSims discipline — generated code
    * constant-size in k); rounding is VecGrid's exact BigDecimal
    * HALF_UP walk, so residual components land on the integer grid
    * DuckDB's `round((v[i] - c[i]) * scale)` replays bit-for-bit:
    * centroid components are exact 1/LloydGrid multiples both engines
    * already agree on, the subtraction and the product are single
    * correctly-rounded IEEE ops, and HALF_UP equals
    * round-half-away-from-zero on their result. Null on a
    * wrong-dimension vector or an out-of-range cell index (the
    * DotProduct corruption convention); null elements pass through as
    * null like VecGrid. */
  case class VecResidualGrid(left: Expression, right: Expression,
      centroids: Array[Array[Double]], scale: Int)
      extends BinaryKernel[ArrayData, Long] with ImplicitCastInputTypes {
    require(rectangular(centroids), "vec_residual_grid: empty or ragged centroid matrix")
    require(scale > 0, s"vec_residual_grid: scale must be positive, got $scale")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), LongType)
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def prettyName: String = "vec_residual_grid"
    override def nullable: Boolean = true

    override def valid(x: ArrayData, cell: Long): Boolean =
      cell >= 0 && cell < centroids.length && x.numElements() == centroids(0).length
    override def kernel(x: ArrayData, cell: Long): ArrayData = {
      val c = centroids(cell.toInt)
      new GenericArrayData(Array.tabulate[Any](c.length) { i =>
        if (x.isNullAt(i)) null
        else gridLong(x.getDouble(i) - c(i), scale, "vec_residual_grid: residual")
      })
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecResidualGrid =
      copy(left = l, right = r)
  }

  /** Per-dimension scalar quantization (the FAISS `SQ8` lane): every
    * component of a grid-quantized vector (array<long>, the
    * `round(x·scale)` view the PQ family shares) maps to one of
    * `levels` uniform steps of its dimension's corpus [min, max]
    * range — `q = ((x - mn) · (levels-1)) div (mx - mn)` — giving one
    * byte per component at `levels` = 256 against the shared
    * per-dimension stats table, the middle rung of the compression
    * ladder (flat 8 B/dim → SQ 1 B/dim → PQ 0.5 bit/dim at this
    * geometry). Every step is integer arithmetic on non-negative
    * operands (components clamp into [mn, mx] FIRST, so truncating
    * and flooring division coincide and DuckDB `//` replays the Java
    * `/` exactly) — the whole encode is value-replayable, the PQ
    * discipline. Returns struct<codes: array<int>, distortion: long>
    * where distortion is the integer L2² between the vector and its
    * reconstruction `mn + (q·(mx-mn)) div (levels-1)` — measured
    * against the UNCLAMPED input, so an out-of-range delta vector
    * (index maintenance under frozen stats) surfaces its clamp error
    * in the quality signal instead of hiding it. Null on a
    * wrong-dimension vector, the vec_dot corruption convention. */
  case class SqEncode(child: Expression, mins: Array[Long], maxs: Array[Long],
      levels: Int)
      extends UnaryKernel[ArrayData] with ImplicitCastInputTypes {
    require(mins.nonEmpty && mins.length == maxs.length,
      s"sq_encode: stats arrays must be non-empty and equal-length " +
        s"(got ${mins.length} mins, ${maxs.length} maxs)")
    require(levels >= 2 && levels <= 256,
      s"sq_encode: levels must be in [2, 256] (one byte per component), got $levels")
    require(mins.indices.forall(i => mins(i) <= maxs(i)),
      "sq_encode: per-dimension min must not exceed max")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("distortion", LongType, nullable = false)))
    override def prettyName: String = "sq_encode"
    // Dimension mismatch (corrupt vector) → null, the vec_dot convention.
    override def nullable: Boolean = true

    override def valid(x: ArrayData): Boolean = x.numElements() == mins.length
    override def kernel(x: ArrayData): InternalRow = {
      val codes = new Array[Int](mins.length)
      var dist = 0L
      var i = 0
      while (i < mins.length) {
        val xi = x.getLong(i)
        val mn = mins(i)
        val mx = maxs(i)
        val xc = if (xi < mn) mn else if (xi > mx) mx else xi
        val rng = mx - mn
        val q = if (rng == 0L) 0 else (((xc - mn) * (levels - 1)) / rng).toInt
        val err = xi - (mn + q * rng / (levels - 1))
        codes(i) = q
        dist += err * err
        i += 1
      }
      InternalRow(new GenericArrayData(codes), dist)
    }

    override protected def withNewChildInternal(c: Expression): SqEncode =
      copy(child = c)
  }

  /** SQ asymmetric distance: integer L2² between a candidate's
    * reconstruction (decoded from its SQ codes via the shared stats)
    * and a query's exact grid vector — the SQ dual of [[AdcLookup]],
    * and like it the O(N·queries) hot pair stage: the dim×levels
    * reconstruction table is precomputed once per plan as one flat
    * long[] (entry i·levels + q = dimension i's decoded value for code
    * q), so each pair costs dim loads/mults, no per-pair decode
    * arithmetic and no allocation. Null on a wrong-dimension input or
    * an out-of-range code — index corruption, the AdcLookup
    * contract. */
  case class SqAdcL2(left: Expression, right: Expression,
      mins: Array[Long], maxs: Array[Long], levels: Int)
      extends BinaryKernel[ArrayData, ArrayData] with ImplicitCastInputTypes {
    require(mins.nonEmpty && mins.length == maxs.length,
      s"sq_adc_l2: stats arrays must be non-empty and equal-length " +
        s"(got ${mins.length} mins, ${maxs.length} maxs)")
    require(levels >= 2 && levels <= 256,
      s"sq_adc_l2: levels must be in [2, 256], got $levels")
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(IntegerType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "sq_adc_l2"
    // Data-dependent null: see DotProduct's `nullable` note.
    override def nullable: Boolean = true

    /** Flat decode table, identical arithmetic to [[SqEncode]]'s
      * reconstruction (`mn + q·rng div (levels-1)`, exact integers). */
    @transient private lazy val reconTable: Array[Long] =
      Array.tabulate(mins.length * levels) { e =>
        val i = e / levels
        mins(i) + (e % levels).toLong * (maxs(i) - mins(i)) / (levels - 1)
      }

    override def valid(codes: ArrayData, y: ArrayData): Boolean =
      codes.numElements() == mins.length && y.numElements() == mins.length && codesIn(codes, levels)
    override def kernel(codes: ArrayData, y: ArrayData): Long = {
      val lut = reconTable
      var sum = 0L
      var i = 0
      while (i < mins.length) {
        val t = lut(i * levels + codes.getInt(i)) - y.getLong(i)
        sum += t * t
        i += 1
      }
      sum
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SqAdcL2 =
      copy(left = l, right = r)
  }

  /** 1-bit-per-dimension binary quantization: bit i of the result is
    * set iff component i exceeds its per-dimension threshold (the
    * corpus median — balanced bits by construction). The cheapest
    * rung of the compression ladder (64 dims → ONE long), scored at
    * pair time by `bit_count(a XOR b)` — pure built-in codegen, no
    * custom scorer needed. Dimension must fit one word (≤ 64, loud
    * require); null on a wrong-dimension vector, the vec_dot
    * corruption convention. */
  case class BitPackGt(child: Expression, thresholds: Array[Long])
      extends UnaryKernel[ArrayData] with ImplicitCastInputTypes {
    require(thresholds.nonEmpty && thresholds.length <= 64,
      s"bitpack_gt: dimension must be in [1, 64] to pack one long " +
        s"(got ${thresholds.length}); wider vectors want an array-of-words variant")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "bitpack_gt"
    override def nullable: Boolean = true

    override def valid(x: ArrayData): Boolean = x.numElements() == thresholds.length
    override def kernel(x: ArrayData): Long = {
      var bits = 0L
      var i = 0
      while (i < thresholds.length) {
        if (x.getLong(i) > thresholds(i)) bits |= (1L << i)
        i += 1
      }
      bits
    }

    override protected def withNewChildInternal(c: Expression): BitPackGt =
      copy(child = c)
  }

  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vec_norm(a: Column): Column =
    ColumnBridge.column(L2Norm(ColumnBridge.expression(a)))

  def vec_l2sq_long(a: Column, b: Column): Column =
    ColumnBridge.column(L2SqLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vec_lsh_bands(a: Column, planes: Array[Array[Double]], rowsPerBand: Int): Column =
    ColumnBridge.column(HyperplaneSignBands(ColumnBridge.expression(a), planes, rowsPerBand))

  def vec_centroid_sims(v: Column, nrm: Column,
      centroids: Array[Array[Double]], norms: Array[Double]): Column =
    ColumnBridge.column(CentroidSims(ColumnBridge.expression(v),
      ColumnBridge.expression(nrm), centroids, norms))

  def pq_code_argmin(vq: Column, classes: Array[Int],
      codewords: Array[Array[Long]], m: Int, dims: Int): Column =
    ColumnBridge.column(PqCodeArgmin(ColumnBridge.expression(vq),
      classes, codewords, m, dims))

  def centroid_argmax_two_level(v: Column, nrm: Column,
      centroids: Array[Array[Double]], norms: Array[Double],
      groupSize: Int, probeGroups: Int): Column =
    ColumnBridge.column(CentroidArgmaxTwoLevel(ColumnBridge.expression(v),
      ColumnBridge.expression(nrm), centroids, norms, groupSize, probeGroups))

  def pq_query_lut(vq: Column, classes: Array[Int], codewords: Array[Array[Long]],
      m: Int, dims: Int, numClasses: Int): Column =
    ColumnBridge.column(PqQueryLut(ColumnBridge.expression(vq),
      classes, codewords, m, dims, numClasses))

  def pq_adc(codes: Column, lut: Column): Column =
    ColumnBridge.column(AdcLookup(ColumnBridge.expression(codes), ColumnBridge.expression(lut)))

  def bitpack_gt(vq: Column, thresholds: Array[Long]): Column =
    ColumnBridge.column(BitPackGt(ColumnBridge.expression(vq), thresholds))

  def vec_grid(v: Column, scale: Int): Column =
    ColumnBridge.column(VecGrid(ColumnBridge.expression(v), scale))

  def vec_residual_grid(v: Column, cell: Column, centroids: Array[Array[Double]],
      scale: Int): Column =
    ColumnBridge.column(VecResidualGrid(ColumnBridge.expression(v),
      ColumnBridge.expression(cell), centroids, scale))

  def sq_encode(vq: Column, mins: Array[Long], maxs: Array[Long], levels: Int): Column =
    ColumnBridge.column(SqEncode(ColumnBridge.expression(vq), mins, maxs, levels))

  def sq_adc_l2(codes: Column, vq: Column, mins: Array[Long], maxs: Array[Long],
      levels: Int): Column =
    ColumnBridge.column(SqAdcL2(ColumnBridge.expression(codes),
      ColumnBridge.expression(vq), mins, maxs, levels))
}
