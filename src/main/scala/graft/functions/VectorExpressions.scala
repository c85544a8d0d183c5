package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpressionInfo, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector-math hot paths.
  *
  * The higher-order-function formulations (`aggregate(zip_with(...))`) are
  * correct but evaluate their lambda once per ELEMENT through interpreted
  * expression machinery — for a 64-dim dot product that is ~200 interpreted
  * evals per pair, and the LSH signature (bands × bits × dim lambda calls per
  * row) is quadratically worse. These expressions do the same arithmetic in a
  * tight JVM loop over the unsafe array data, and stay inside whole-stage
  * codegen (`doGenCode` emits a call on the referenced expression object, so
  * the surrounding operator pipeline is unbroken).
  *
  * Numeric contract: `VectorDot` folds left-to-right in index order, exactly
  * like `aggregate(zip_with(a, b, (p, q) -> double(p) * double(q)), 0d,
  * (acc, v) -> acc + v)` — results are bit-identical to the HOF form (and to
  * the DuckDB oracle's list_sum(list_transform(list_zip(...)))).
  */
object VectorExpressions {
  private[functions] def elementIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private[functions] def checkVectorType(es: Expression*): TypeCheckResult =
    if (es.forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected array<float> or array<double> inputs, got ${es.map(_.dataType.simpleString).mkString(", ")}")
}

/** dot(a, b) in double precision; null if either input or any element is
  * null. Accepts array<float> and array<double> without materializing a
  * cast copy of the array. */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vector_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectorType(left, right)

  @transient private lazy val leftFloat = VectorExpressions.elementIsFloat(left)
  @transient private lazy val rightFloat = VectorExpressions.elementIsFloat(right)

  def compute(a: ArrayData, b: ArrayData): Any = {
    // zip_with pads the shorter side with nulls, making the documented
    // bit-identical HOF form return null on a length mismatch — match that
    // rather than silently computing a partial dot
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vdot", this, classOf[VectorDot].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object r = $ref.compute($a, $b);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Double) r).doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature: `bands` bucket values, each from
  * `bitsPerBand` sign bits of hyperplane dot products. Hyperplane
  * coefficient (plane p, dim i) is splitmix64(p ◦ i) scaled to [-1, 1] —
  * deterministic, computed on the fly (a few ALU ops), no plane matrix
  * materialized anywhere. Each bucket value is in [0, 2^bitsPerBand). */
case class LshSignature(child: Expression, bands: Int, bitsPerBand: Int)
    extends UnaryExpression {
  require(bands > 0 && bitsPerBand > 0 && bitsPerBand < 63,
    s"bad LSH knobs: bands=$bands bitsPerBand=$bitsPerBand")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "lsh_signature"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectorType(child)

  @transient private lazy val isFloat = VectorExpressions.elementIsFloat(child)

  /** splitmix64((p, i)) → uniform double in [-1, 1]. */
  private def plane(p: Int, i: Int): Double = {
    var z = ((p.toLong << 32) | (i.toLong & 0xffffffffL)) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toDouble / 9.223372036854776e18
  }

  def compute(arr: ArrayData): Any = {
    val dim = arr.numElements()
    // a null ELEMENT would otherwise read as an undefined value from the
    // unsafe slot — a null anywhere nulls the whole signature
    var e = 0
    while (e < dim) {
      if (arr.isNullAt(e)) return null
      e += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < bitsPerBand) {
        val p = b * bitsPerBand + j
        var dot = 0.0
        var i = 0
        while (i < dim) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          dot += plane(p, i) * x
          i += 1
        }
        if (dot >= 0) sig |= 1L << j
        j += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lsh", this, classOf[LshSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.compute($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) r; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): LshSignature =
    copy(child = newChild)
}

/** Column-API surface for the native vector expressions. */
object vec {
  def vector_dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(VectorDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** cosine(a, b) in double precision — dot and norms via VectorDot, so it
    * is bit-identical to the HOF/oracle formulation. */
  def cosine_sim(a: Column, b: Column): Column =
    vector_dot(a, b) / (F.sqrt(vector_dot(a, a)) * F.sqrt(vector_dot(b, b)))

  def lsh_signature(e: Column, bands: Int, bitsPerBand: Int): Column =
    GraftColumnBridge.column(LshSignature(
      GraftColumnBridge.expression(e), bands, bitsPerBand))
}

/** SQL-surface registration (`spark.sql.extensions=graft.functions.GraftExtensions`,
  * which [[graft.plans.SessionDefaults]] sets for every graft session):
  * exposes `vector_dot(a, b)`, `lsh_signature(v, bands, bits)`, the text
  * hashes and the token kernels (`token_count(text)`, `term_counts(text,
  * terms)`) to SQL, and injects three optimizer rules in this order:
  * graft.plans.SingleRowAttach (always on: a 1-row side attaches by a hash
  * join), graft.plans.TokenCountRule (always on: `size(split(x, ' '))`
  * counts on the bytes) and the unkeyed-join guard graft.plans.JoinGuardRule
  * (armed via `spark.graft.joinGuard=true`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (exprs: Seq[Expression]) => VectorDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("lsh_signature"),
      new ExpressionInfo(classOf[LshSignature].getName, "lsh_signature"),
      (exprs: Seq[Expression]) => LshSignature(exprs(0),
        intLit(exprs(1), "bands"), intLit(exprs(2), "bitsPerBand"))))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) => ShingleHashes(exprs(0), intLit(exprs(1), "k"))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("token_count"),
      new ExpressionInfo(classOf[TokenCount].getName, "token_count"),
      (exprs: Seq[Expression]) => TokenCount(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("term_counts"),
      new ExpressionInfo(classOf[TermCounts].getName, "term_counts"),
      (exprs: Seq[Expression]) => TermCounts(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => MinHashSig(exprs(0), intLit(exprs(1), "perms"))))
    ext.injectOptimizerRule(_ => graft.plans.SingleRowAttach)
    ext.injectOptimizerRule(_ => graft.plans.TokenCountRule)
    ext.injectOptimizerRule(graft.plans.JoinGuardRule(_))
  }
}
