package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Kernel.{callCompute, isFloat, isVector}

/** Fused dot product over two numeric arrays — the one custom Catalyst
  * `Expression` this engine needs (SURVEY.md §7: perf-gated; the
  * higher-order `aggregate(zip_with(...))` formulation is semantically
  * identical but evaluates interpreted, which dominates wall-clock on
  * O(pairs) similarity joins).
  *
  * Semantics are EXACTLY a sequential left fold in double precision —
  * `acc_{i+1} = acc_i + (double)a[i] * (double)b[i]` — the same
  * floating-point operation sequence as the `aggregate`/`list_reduce`
  * twin queries in DuckDB, so results stay bit-identical and
  * oracle-comparable while running inside whole-stage codegen.
  *
  * Element types may be float or double on each side independently
  * (embeddings are array<float>; LSH plane literals are array<double>)
  * — enforced at analysis time by checkInputDataTypes. Null elements
  * read as 0.0 (no contribution); arrays may differ in length (the dot
  * stops at the shorter).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVector(left) && isVector(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, " +
        s"got ${left.dataType.sql}, ${right.dataType.sql}")

  @transient private lazy val aFloat = isFloat(left)
  @transient private lazy val bFloat = isFloat(right)

  def compute(aa: ArrayData, bb: ArrayData): Double = {
    val n = math.min(aa.numElements(), bb.numElements())
    val af = aFloat
    val bf = bFloat
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (af) aa.getFloat(i).toDouble else aa.getDouble(i)
      val y = if (bf) bb.getFloat(i).toDouble else bb.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => callCompute(ctx, ev, this, a, b))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Cosine of a vector against every row of a plan-constant k×dim
  * centroid matrix, the IVF/SemDeDup cell-assignment kernels under the
  * k ∝ N rule (VERDICT r10 #1). The matrix is a field of the expression,
  * which generated code reaches as one reference object, so the
  * expression TREE and the generated code are k-INDEPENDENT (k is
  * runtime data, not expression shape). The form this replaced, an
  * `array()` of k per-centroid [[DotProduct]] nodes, grew with the
  * corpus once nlist = max(16, n/target_occupancy): at ×64 (k=1024)
  * that is 64k literal doubles and a megabyte of generated code. The
  * per-row cost is the honest O(k·dim) fused multiply-add every IVF
  * assignment pays.
  *
  * Each cosine is fold-dot / (nrm · cnorm(c)), bit-identical to the
  * per-centroid [[DotProduct]]/cosine form (same sequential left fold
  * over the shorter length, same single division), so the DuckDB oracle
  * replays it unchanged. The subclasses differ only in their output.
  */
sealed abstract class CentroidKernel extends BinaryExpression {
  def emb: Expression
  def nrm: Expression
  def cents: Array[Array[Double]]
  def cnorms: Array[Double]

  override def left: Expression = emb
  override def right: Expression = nrm

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVector(emb) && nrm.dataType == DoubleType &&
        cents.length == cnorms.length && cents.nonEmpty)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, double) and a " +
        s"non-empty centroid matrix with matching norms")

  /** A scored cell: cosine `c` and `nid` = −(centroid id). */
  protected final def cell: StructType = StructType(Seq(
    StructField("c", DoubleType, nullable = false),
    StructField("nid", IntegerType, nullable = false)))

  @transient private lazy val embFloat = isFloat(emb)

  /** cosine(row, centroid c) given the row's norm `n`. */
  protected final def cosine(row: ArrayData, n: Double, c: Int): Double = {
    val ce = cents(c)
    val m = math.min(row.numElements(), ce.length)
    val isF = embFloat
    var acc = 0.0
    var i = 0
    while (i < m) {
      val x = if (isF) row.getFloat(i).toDouble else row.getDouble(i)
      acc += x * ce(i)
      i += 1
    }
    acc / (n * cnorms(c))
  }

  def compute(row: ArrayData, n: Double): AnyRef

  override def nullSafeEval(a: Any, n: Any): Any =
    compute(a.asInstanceOf[ArrayData], n.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) => callCompute(ctx, ev, this, a, n))
}

/** All-centroid cosine scores: array<struct<c: double, nid: int>> with
  * nid = −i, so `array_max` elects the same cell as the per-centroid
  * form, ties toward the smallest centroid id. */
case class CentroidScores(emb: Expression, nrm: Expression,
    cents: Array[Array[Double]], cnorms: Array[Double])
    extends CentroidKernel {
  override def prettyName: String = "graft_centroid_scores"

  override def dataType: DataType = ArrayType(cell, containsNull = false)

  def compute(row: ArrayData, n: Double): GenericArrayData = {
    val out = new Array[Any](cents.length)
    var c = 0
    while (c < cents.length) {
      out(c) = new GenericInternalRow(Array[Any](cosine(row, n, c), -c))
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidScores =
    copy(emb = newLeft, nrm = newRight)
}

/** Fused argmax-cosine cell assignment — [[CentroidScores]] without
  * the array: returns ONLY the winning struct<c,nid>. The corpus-side
  * assignment is the hot path of every IVF key, and materializing a
  * k-struct array per row just to array_max it allocates k
  * InternalRows per vector (measured this round: 131M allocations per
  * pass at ×64/k=1024 — the allocation wall, not the FLOPs, was the
  * 57× bench blowup). This loop keeps two scalars. Semantics are
  * EXACTLY array_max(CentroidScores(...)): lexicographic (c, nid) max
  * under Spark's double ordering — comparisons go through
  * java.lang.Double.compare (NaN greatest, 0.0 > -0.0), matching what
  * array_max applies to the struct's first field, so even a NaN
  * cosine (zero-norm embedding or zero cnorm) elects the same cell in
  * both kernels; iterating ascending with strict >, so ties still
  * break toward the smallest centroid id. The remaining O(k·dim) per row is the honest
  * flat-IVF assignment cost; at web scale (k ~ 10⁵) production swaps
  * this stage for a coarse-quantizer tree or blocked GEMM — a map-side
  * swap that changes nothing downstream.
  */
case class BestCentroid(emb: Expression, nrm: Expression,
    cents: Array[Array[Double]], cnorms: Array[Double])
    extends CentroidKernel {
  override def prettyName: String = "graft_best_centroid"

  override def dataType: DataType = cell

  def compute(row: ArrayData, n: Double): InternalRow = {
    var bestC = Double.NegativeInfinity
    var bestI = 0
    var c = 0
    while (c < cents.length) {
      val cos = cosine(row, n, c)
      // Double.compare, not >: mirrors Spark's double ordering (NaN
      // greatest) so degenerate inputs match the array_max twin
      if (java.lang.Double.compare(cos, bestC) > 0) { bestC = cos; bestI = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestC, -bestI))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BestCentroid =
    copy(emb = newLeft, nrm = newRight)
}

/** ALL rotated-plane LSH bucket strings of a vector in ONE fused loop
  * over a plan-constant tables×bits×dim plane tensor — the r16 bucket
  * kernel (guide §1.2 step 2 "per-task work", §4 "expression choice").
  * The r12 shape it replaces — one UNION branch per table, each branch
  * `concat(when(graft_dot(emb, plane_literal) >= 0, "1")...)` — was the
  * fix for GenerateExec's interpreted input path, but it pays three
  * structural costs that grow with L: (a) the corpus is re-scanned L
  * times (L=128 for `llm_ann_lsh_tune_xl`), (b) the expression TREE
  * carries L·bits 64-double literals (65k doubles at L=128 — analyzer/
  * optimizer walls scale with plan size), and (c) each 64-float
  * embedding is re-read from ArrayData accessors L·bits times. Here the
  * plane tensor is a field of the expression (the [[CentroidKernel]]
  * device), the embedding converts to a primitive double[] ONCE per
  * row, and every (table, bit) dot runs over that — one scan, one
  * expression node, L-independent generated code.
  *
  * Semantics are EXACTLY the per-branch form it replaces: each dot is
  * the identical sequential left fold (acc += (double)emb[d] ·
  * plane[d]), and the sign rule matches Spark's `>= 0` on doubles
  * (nanSafeCompareDoubles: NaN compares greater → '1'; -0.0 == 0.0 →
  * '1'), so bucket strings are bit-identical to the union form and the
  * DuckDB oracle's md5-parity/popcount replay. Round16Spec pins the
  * equality cell-for-cell against the literal-plane formulation.
  *
  * Tensor shipping bound (VERDICT r16 #4, documented): the tensor is a
  * plan reference object, serialized once per task closure — at the
  * suite's largest shape (L=128 tables × 14 bits × 64 doubles,
  * `llm_ann_lsh_tune_xl`) that is ~0.9 MB, and it NEVER grows with
  * data volume (the tensor is (L, bits)-derived, not corpus-derived).
  * In local mode the closure crosses no wire; on a cluster the cost is
  * one ~1 MB closure per task — a `SparkContext.broadcast` handle
  * would cut that to one fetch per executor, worth retrofitting only
  * if L·bits·dim grows ~10× past the suite's maximum (mechanical
  * change: swap the constructor field for a Broadcast, deref in
  * compute).
  */
case class SignBuckets(emb: Expression, planes: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def child: Expression = emb
  override def prettyName: String = "graft_sign_buckets"

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVector(emb) && planes.nonEmpty && planes.forall(_.nonEmpty))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> and a non-empty " +
        s"tables×bits×dim plane tensor")

  @transient private lazy val embFloat = isFloat(emb)

  def compute(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val e = new Array[Double](n)
    val isF = embFloat
    var i = 0
    while (i < n) {
      e(i) = if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val out = new Array[Any](planes.length)
    var t = 0
    while (t < planes.length) {
      val tp = planes(t)
      val chars = new Array[Char](tp.length)
      var p = 0
      while (p < tp.length) {
        val pl = tp(p)
        val m = math.min(n, pl.length)
        var acc = 0.0
        var d = 0
        while (d < m) { acc += e(d) * pl(d); d += 1 }
        // sign rule == Spark's `dot >= 0` (nanSafeCompareDoubles): NaN
        // and -0.0 both land on '1', identical to the when() branch form
        chars(p) = if (acc >= 0.0 || java.lang.Double.isNaN(acc)) '1' else '0'
        p += 1
      }
      out(t) = UTF8String.fromString(new String(chars))
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => callCompute(ctx, ev, this, a))

  override protected def withNewChildInternal(
      newChild: Expression): SignBuckets =
    copy(emb = newChild)
}

/** Column-level helpers around [[DotProduct]]. */
object VectorOps {
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.toColumn(
      DotProduct(GraftSqlBridge.toExpression(a), GraftSqlBridge.toExpression(b)))

  /** array<struct<c,nid>> of cosine scores against a plan-constant
    * centroid matrix — see [[CentroidScores]]. */
  def centroidScores(emb: Column, nrm: Column,
      cents: Array[Array[Double]], cnorms: Array[Double]): Column =
    GraftSqlBridge.toColumn(CentroidScores(
      GraftSqlBridge.toExpression(emb), GraftSqlBridge.toExpression(nrm),
      cents, cnorms))

  /** struct<c,nid> of the argmax-cosine centroid — see
    * [[BestCentroid]]; identical result to
    * `array_max(centroidScores(...))` without the k-struct array. */
  def bestCentroid(emb: Column, nrm: Column,
      cents: Array[Array[Double]], cnorms: Array[Double]): Column =
    GraftSqlBridge.toColumn(BestCentroid(
      GraftSqlBridge.toExpression(emb), GraftSqlBridge.toExpression(nrm),
      cents, cnorms))

  /** array<string> of all rotated-plane bucket strings — see
    * [[SignBuckets]]; element t is table t's bucket, identical to the
    * per-table `concat(when(dot ≥ 0...))` union-branch form. */
  def signBuckets(emb: Column, planes: Array[Array[Array[Double]]]): Column =
    GraftSqlBridge.toColumn(SignBuckets(
      GraftSqlBridge.toExpression(emb), planes))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a,b) given precomputed norms — division order fixed as
    * dot / (na * nb) to mirror the oracle SQL exactly. */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)
}
