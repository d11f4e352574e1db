package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Whole-stage-codegen expressions over embedding / hash arrays (guide §4:
  * prefer codegen expressions over interpreted higher-order-function
  * chains in hot paths). Numerics are bit-identical to the HOF forms they
  * replace — see the [[VecKernels]] floating-point contract.
  */

private object VecExprUtil {
  def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"expected array<float|double>, got $t")
  }
}

/** cosine(a, b) — one fused loop; replaces dot/norm aggregate chains. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private lazy val aF = VecExprUtil.isFloatArray(left)
  private lazy val bF = VecExprUtil.isFloatArray(right)
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aF, bF)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.cosine($a, $b, $aF, $bF)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** Sign-random-projection LSH bucket with a constant hyperplane matrix
  * (flattened, attached as a codegen reference object — not a literal
  * tree of planes × dims constants).
  */
case class LshBucket(child: Expression, planes: Int, dims: Int,
                     matrix: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  // a NULL embedding buckets to 0, exactly like the HOF form it
  // replaces (null projection -> `when` false branch -> 0 per plane)
  override def nullable: Boolean = false
  private lazy val isF = VecExprUtil.isFloatArray(child)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else VecKernels.lshBucket(v.asInstanceOf[ArrayData], matrix, planes,
      dims, isF)
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("lshMatrix", matrix, "double[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L :
        graft.functions.VecKernels.lshBucket(${c.value}, $m, $planes,
          $dims, $isF);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** MinHash signature (k rotate-xor permutation minima) from the
  * per-shingle hash array.
  */
case class MinhashFromHashes(child: Expression, rots: Array[Int],
                             xors: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  // a NULL hash array yields an array of k null slots, exactly like
  // the `array(array_min(transform(null, ...)), ...)` form it replaces
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) VecKernels.minhashNulls(rots.length)
    else VecKernels.minhashSig(v.asInstanceOf[ArrayData], rots, xors)
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("mhRots", rots, "int[]")
    val x = ctx.addReferenceObj("mhXors", xors, "long[]")
    val c = child.genCode(ctx)
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code = code"""
      ${c.code}
      $ad ${ev.value} = ${c.isNull}
        ? graft.functions.VecKernels.minhashNulls(${rots.length})
        : graft.functions.VecKernels.minhashSig(${c.value}, $r, $x);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** One-pass Jaccard coefficient of two distinct string arrays —
  * |I| / (|a| + |b| - |I|), bit-identical to the intersect/union size
  * ratio for distinct inputs.
  */
case class JaccardCoeff(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.jaccard($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** xxhash64 (seed 42) of every element of a string array. */
case class HashStringArray(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    VecKernels.hashStrings(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecKernels.hashStrings($a)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Distinct word n-grams of a token array, in first-occurrence order —
  * one pass per row over the already-tokenized text.
  */
case class NgramShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram length must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullSafeEval(a: Any): Any =
    VecKernels.ngramShingles(a.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VecKernels.ngramShingles($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
