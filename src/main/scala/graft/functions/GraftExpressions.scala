package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the training-data pipeline
  * (SURVEY.md §2.C). Each generates code that calls the static kernels
  * in [[HashOps]] — the call stays inside whole-stage codegen, so the
  * surrounding filter/project pipeline never leaves generated code and
  * primitive results (Long/Double/Int) are never boxed.
  */
object GraftExpressions {

  private val H = "graft.functions.HashOps"

  /** array<string> shingles → array<long> MinHash signature. */
  case class MinHashSig(child: Expression, numPerms: Int)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig needs array<string>, got $t")
    }
    override def nullSafeEval(input: Any): Any =
      HashOps.minhashSig(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numPerms)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.minhashSig($c, $numPerms)")
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  }

  /** array<string> tokens → 64-bit SimHash fingerprint. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      HashOps.simhash64(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.simhash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** string → 64-bit rolling polynomial fingerprint. */
  case class Fingerprint64(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      HashOps.fingerprint64(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.fingerprint64($c)")
    override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(child = c)
  }

  /** binary → 32-band mean-threshold perceptual hash, one pass over
    * the payload (replaces 32 × substring + byte_sum — see
    * [[HashOps.phash32]] for the band arithmetic contract). */
  case class Phash32(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      HashOps.phash32(input.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.phash32($c)")
    override protected def withNewChildInternal(c: Expression): Phash32 = copy(child = c)
  }

  /** binary → 64-band mean-threshold perceptual hash (the r15 widening
    * for C38's 4×16-bit band LSH — see [[HashOps.phash64]] for the
    * band arithmetic and the birthday-term rationale). */
  case class Phash64(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      HashOps.phash64(input.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.phash64($c)")
    override protected def withNewChildInternal(c: Expression): Phash64 = copy(child = c)
  }

  /** binary → sum of unsigned byte values (payload checksum kernel). */
  case class ByteSum(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      HashOps.byteSum(input.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.byteSum($c)")
    override protected def withNewChildInternal(c: Expression): ByteSum = copy(child = c)
  }

  /** (array<double>, array<double>) → cosine similarity, one fused pass
    * (dot + both norms) instead of three higher-order-function passes. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashOps.cosine(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$H.cosine($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  /** (array<double>, foldable array<double>) → BIGINT fixed-point dot
    * product Σ floor(v_i·w_i·1e6 + 0.5), one generated pass over `v`
    * with the weights decoded once (see [[HashOps.fpDot]]). It is the
    * value of `aggregate(zip_with(v, w, (x, y) -> floor(x * y * 1000000
    * + 0.5)), 0L, (acc, t) -> acc + t)`, whose lambdas run interpreted:
    * NULL when the sizes differ or an element of `v` is NULL (zip_with
    * pads with NULL), and `Add`'s overflow under the session's ANSI
    * mode, fixed when the function is resolved, as `Add`'s is. */
  case class FpDot(left: Expression, right: Expression,
      ansi: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(DoubleType, _))
            if right.foldable && weights != null => TypeCheckSuccess
        case (l, r) => TypeCheckFailure(s"fp_dot needs (array<double>, " +
          s"a foldable array<double> without NULLs), got ($l, $r)")
      }
    /** The weights, decoded once; null when `w` is NULL or holds one. */
    private lazy val weights: Array[Double] = right.eval() match {
      case w: ArrayData if !(0 until w.numElements()).exists(w.isNullAt) => w.toDoubleArray()
      case _ => null
    }
    override def eval(input: InternalRow): Any = left.eval(input) match {
      case null => null
      case v: ArrayData =>
        val sum = HashOps.fpDot(v, weights, ansi)
        if (HashOps.fpDotDefined(v, weights.length)) sum else null
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val v = left.genCode(ctx)
      val w = ctx.addReferenceObj("fpDotWeights", weights, "double[]")
      ev.copy(code = code"""
        |${v.code}
        |boolean ${ev.isNull} = ${v.isNull};
        |long ${ev.value} = -1L;
        |if (!${ev.isNull}) {
        |  ${ev.value} = $H.fpDot(${v.value}, $w, $ansi);
        |  ${ev.isNull} = !$H.fpDotDefined(${v.value}, $w.length);
        |}""".stripMargin)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): FpDot =
      copy(left = l, right = r)
  }

  /** array<double> → boolean valid-vector predicate (no NULL element,
    * sum of squares > 0) in one codegen pass — see
    * [[HashOps.vecValid]] and the contract at
    * [[graft.ops.Ann.validVec]]. NULL input → NULL (nullIntolerant),
    * which a Filter drops exactly like the previous `isNotNull && …`
    * conjunction; every call site is a filter. */
  case class VecValid(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_valid needs array<double>, got $t")
    }
    override def nullSafeEval(input: Any): Any =
      HashOps.vecValid(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.vecValid($c)")
    override protected def withNewChildInternal(c: Expression): VecValid = copy(child = c)
  }

  /** array<double> → int LSH bucket code from `numPlanes` seeded
    * pseudo-random hyperplanes. numPlanes is bounded by the Int bitset:
    * past 32 the `1 << p` plane bit wraps around and silently aliases
    * plane p onto plane p−32, collapsing unrelated vectors into one
    * bucket with no error (r10 review finding). */
  case class HyperplaneLsh(child: Expression, numPlanes: Int, seed: Long)
      extends UnaryExpression {
    require(numPlanes >= 1 && numPlanes <= 32,
      s"lsh_bucket numPlanes must be in 1..32 (Int-bitset bucket code), got $numPlanes")
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      HashOps.hyperplaneCode(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numPlanes, seed)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$H.hyperplaneCode($c, $numPlanes, ${seed}L)")
    override protected def withNewChildInternal(c: Expression): HyperplaneLsh = copy(child = c)
  }
}
