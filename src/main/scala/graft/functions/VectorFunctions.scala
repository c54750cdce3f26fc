package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for embedding math.
  *
  * Why not `aggregate(zip_with(...))`: Spark's higher-order functions are
  * CodegenFallback — every element evaluation goes through interpreted lambda
  * closures and per-element allocations. For similarity search that cost sits
  * inside an O(n·m) pair loop, so it dominates the query (measured 30+ s for
  * 125k pairs × 64 dims at sf0.1). This expression generates a tight primitive
  * loop inside whole-stage codegen instead (<1 s for the same work), reading
  * float32 or float64 arrays directly — no up-front cast pass.
  *
  * Result is bit-identical to the sequential fold (same left-to-right IEEE
  * double adds), so DuckDB's list_dot_product oracle still matches exactly.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(s"DotProduct needs arrays, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"DotProduct requires array<float>/array<double>, got ${left.dataType} and ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  // LENGTH MISMATCH IS AN ERROR, never a silent prefix truncation (r14): a
  // corpus mixing 64- and 128-dim embeddings (or a wrong `dim` parameter
  // upstream) used to dot only the shared prefix — silently wrong cosines,
  // buckets and PQ codes. One comparison per ROW, invisible next to the
  // per-element loop. (Null ELEMENTS still read as 0.0 — a per-element
  // null check would double the hot loop; enforce containsNull=false
  // upstream for malformed inputs.)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"DotProduct: dimension mismatch ($n vs ${y.numElements()})")
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val getL = if (elemType(left) == FloatType) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getR = if (elemType(right) == FloatType) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "DotProduct: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $getL * $getR; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All `bands` LSH bucket keys of an embedding in ONE compiled pass —
  * returns array<long> of length `bands`, where element b is the
  * `planesPerBand`-sign-bit bucket under hyperplane family seed+b.
  *
  * Why an expression: the column-composition form (`SimilarityRef.lshKey`
  * per band, kept under src/test as this kernel's reference) inlines
  * every plane as a 64-literal array and a [[DotProduct]] each —
  * at 32 bands × 12 planes that is 384 dot expressions whose generated
  * method exceeds the JVM's 64 KB limit, knocking the whole stage out of
  * codegen (observed r15). Here the planes live in ONE broadcast-referenced
  * array and the key loop is ordinary JIT'd Scala, bit-identical to the
  * composition (same [[VectorKernels.planeValue]] doubles, same
  * sequential IEEE dot fold, same `> 0` sign test — SimilaritySpec pins
  * the equality).
  */
case class BandedLshKeys(child: Expression, bands: Int, planesPerBand: Int,
                         dim: Int, seed: Long)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"BandedLshKeys requires array<float>/array<double>, got $other")
    }

  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(bands * planesPerBand) { i =>
      val b = i / planesPerBand
      val p = i % planesPerBand
      Array.tabulate(dim)(j => VectorKernels.planeValue(seed + b, p, dim, j))
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    if (n != dim)
      throw new IllegalArgumentException(
        s"BandedLshKeys: dimension mismatch (vector $n vs planes $dim)")
    // fail LOUD on null elements (r15 ADVICE), matching the dim-mismatch
    // contract: getFloat on a null slot silently reads 0.0, which would
    // hash a corrupt vector into real buckets — whereas the brute-force
    // face nulls the cosine and drops the pair. One prepass, not a check
    // inside the bands×planes loops (each element is read B·r times).
    var j0 = 0
    while (j0 < n) {
      if (v.isNullAt(j0))
        throw new IllegalArgumentException(
          s"BandedLshKeys: null element at index $j0 (dense vectors " +
            "required; filter null-element embeddings before hashing)")
      j0 += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var p = 0
      while (p < planesPerBand) {
        val plane = planes(b * planesPerBand + p)
        var s = 0.0
        var j = 0
        while (j < dim) {
          val xv = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
          s += xv * plane(j)
          j += 1
        }
        if (s > 0) bucket |= (1L << p)
        p += 1
      }
      out(b) = bucket
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandedLsh", this, classOf[BandedLshKeys].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One PQ subspace's argmin code as a compiled kernel (r16, guide step 4).
  *
  * Why not the composed Catalyst form (`least` over `codes` structs of
  * `dot(vs,vs) − 2·dot(vs,cb_c) + ‖cb_c‖²` with literal-array codebook
  * entries): at m=4/codes=16 that builds ~64 struct constructions and ~80
  * dot/slice expression trees PER ROW-EXPRESSION, and the generated
  * projection is large enough that compiling it dominates the stage
  * (measured 0.73 s min-of-3 to encode 2,000 rows; the arithmetic itself is
  * ~4k flops/row). Same reasoning as [[BandedLshKeys]], which exists
  * because the composed band form blew the 64 KB method limit.
  *
  * Bit-exactness contract (the q94/q144/q145 oracles hash these): per
  * codebook entry c the distance is the SAME IEEE chain the composed form
  * evaluated — `(vv − (2.0 · dot)) + norm` with `vv`/`dot` sequential
  * left-to-right folds (the [[DotProduct]] order), null elements read as
  * 0.0 (the DotProduct contract), and the argmin replicates
  * `least(struct(d, c))`'s double ordering: strict compareDoubles-<, ties
  * keep the earlier (smaller) c, NaN greatest.
  *
  * `offset`/`sub` select the subspace inside the full vector — no slice
  * allocation at all; `dimTotal` enforces the fail-loud dimension contract
  * the sliced DotProduct form had (a short vector used to throw a
  * dimension mismatch inside the dot).
  */
case class PqEncodeCode(child: Expression, offset: Int, sub: Int, dimTotal: Int,
                        cb: Array[Array[Double]], cbNorm: Array[Double])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"PqEncodeCode requires array<float>/array<double>, got $other")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def elem(v: ArrayData, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  def compute(v: ArrayData): Int = {
    if (v.numElements() < dimTotal)
      throw new IllegalArgumentException(
        s"PqEncodeCode: dimension mismatch (vector ${v.numElements()} vs $dimTotal)")
    var vv = 0.0
    var j = 0
    while (j < sub) { val x = elem(v, offset + j); vv += x * x; j += 1 }
    var bestD = 0.0
    var bestC = 0
    var c = 0
    while (c < cb.length) {
      val plane = cb(c)
      var dot = 0.0
      var k = 0
      while (k < sub) { dot += elem(v, offset + k) * plane(k); k += 1 }
      val d = (vv - (2.0 * dot)) + cbNorm(c)
      // least(struct(d, c)) ordering: strictly smaller d wins (NaN sorts
      // greatest; -0.0 == 0.0), ties keep the earlier (smaller) c
      if (c == 0 || d < bestD || (d == d && bestD != bestD)) {
        bestD = d; bestC = c
      }
      c += 1
    }
    bestC
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncodeCode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One PQ subspace's `codes`-entry ADC distance table — the query-side twin
  * of [[PqEncodeCode]], same bit-exactness contract, one array out instead
  * of an argmin. Element type matches the composed `array(d2...)` form
  * (nullable elements in the declared type; values are never null).
  */
case class PqAdcTable(child: Expression, offset: Int, sub: Int, dimTotal: Int,
                      cb: Array[Array[Double]], cbNorm: Array[Double])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"PqAdcTable requires array<float>/array<double>, got $other")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def elem(v: ArrayData, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() < dimTotal)
      throw new IllegalArgumentException(
        s"PqAdcTable: dimension mismatch (vector ${v.numElements()} vs $dimTotal)")
    var vv = 0.0
    var j = 0
    while (j < sub) { val x = elem(v, offset + j); vv += x * x; j += 1 }
    val out = new Array[Any](cb.length)
    var c = 0
    while (c < cb.length) {
      val plane = cb(c)
      var dot = 0.0
      var k = 0
      while (k < sub) { dot += elem(v, offset + k) * plane(k); k += 1 }
      out(c) = (vv - (2.0 * dot)) + cbNorm(c)
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdcTable].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared scalar kernels for vector hashing. */
object VectorKernels {
  /** Deterministic hyperplane component: splitmix64 finalizer over
    * (seed, plane, element) mapped to [-1, 1). THE single source of the
    * plane doubles — `graft.ops.SimilarityRef.hyperplanes` (src/test) and
    * [[BandedLshKeys]] both read it, so the composition and kernel forms
    * can never drift (the r14 affine-generator postmortem is why this is
    * centralized: decorrelation lives in exactly one place).
    */
  def planeValue(seed: Long, p: Int, dim: Int, j: Int): Double = {
    var h = seed * 6364136223846793005L + (p.toLong * dim + j) * 1442695040888963407L
    h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
    h ^= (h >>> 27); h *= 0x94d049bb133111ebL
    h ^= (h >>> 31)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }
}

object VectorFunctions {
  import org.apache.spark.sql.GraftColumnBridge

  private def expr(c: Column): Expression = GraftColumnBridge.toExpression(c)

  /** Codegen'd dot product over array<float>/array<double>. */
  def dotNative(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(DotProduct(expr(a), expr(b)))

  def normNative(a: Column): Column = org.apache.spark.sql.functions.sqrt(dotNative(a, a))

  /** All banded LSH bucket keys in one compiled pass (see [[BandedLshKeys]]). */
  def bandedLshKeys(vec: Column, bands: Int, planesPerBand: Int, dim: Int): Column =
    GraftColumnBridge.toColumn(BandedLshKeys(expr(vec), bands, planesPerBand, dim, 42L))

  /** One PQ subspace's argmin code (see [[PqEncodeCode]]). */
  def pqEncodeCode(vec: Column, offset: Int, sub: Int, dimTotal: Int,
                   cb: Array[Array[Double]], cbNorm: Array[Double]): Column =
    GraftColumnBridge.toColumn(PqEncodeCode(expr(vec), offset, sub, dimTotal, cb, cbNorm))

  /** One PQ subspace's ADC distance table (see [[PqAdcTable]]). */
  def pqAdcTable(vec: Column, offset: Int, sub: Int, dimTotal: Int,
                 cb: Array[Array[Double]], cbNorm: Array[Double]): Column =
    GraftColumnBridge.toColumn(PqAdcTable(expr(vec), offset, sub, dimTotal, cb, cbNorm))
}
