package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd expressions over the TextKernels single-pass primitives —
  * same pattern as HashExpressions: null-intolerant, deterministic, one
  * static call that participates in whole-stage codegen like a built-in.
  * These replace the interpreted (CodegenFallback) HOF chains on the
  * hottest scan paths: tokenize, quality scoring, BPE-ish counting.
  */
object TextExpressions {

  case class TokensOf(child: Expression, minLen: Int, maxLen: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(s: Any): Any =
      TextKernels.tokens(s.asInstanceOf[UTF8String], minLen, maxLen)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextKernels.tokens($c, $minLen, $maxLen)")
    override protected def withNewChildInternal(newChild: Expression): TokensOf =
      copy(child = newChild)
  }

  case class QualityScore(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(s: Any): Any =
      TextKernels.qualityScore(s.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextKernels.qualityScore($c)")
    override protected def withNewChildInternal(newChild: Expression): QualityScore =
      copy(child = newChild)
  }

  case class BpeishCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(s: Any): Any =
      TextKernels.bpeishTokenCount(s.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextKernels.bpeishTokenCount($c)")
    override protected def withNewChildInternal(newChild: Expression): BpeishCount =
      copy(child = newChild)
  }

  case class MarkerHits(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(toks: Any): Any =
      TextKernels.markerHits(
        toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.markerHits($c)")
    override protected def withNewChildInternal(newChild: Expression): MarkerHits =
      copy(child = newChild)
  }

  case class TfMap(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def nullSafeEval(toks: Any): Any =
      TextKernels.tfMap(
        toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tfMap($c)")
    override protected def withNewChildInternal(newChild: Expression): TfMap =
      copy(child = newChild)
  }

  case class LetterTokenCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(toks: Any): Any =
      TextKernels.letterTokenCount(
        toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextKernels.letterTokenCount($c)")
    override protected def withNewChildInternal(newChild: Expression): LetterTokenCount =
      copy(child = newChild)
  }

  // Column-API wrappers.
  def tokensK(c: Column, minLen: Int, maxLen: Int): Column =
    GraftBridge.column(TokensOf(GraftBridge.expression(c), minLen, maxLen))
  def qualityK(c: Column): Column =
    GraftBridge.column(QualityScore(GraftBridge.expression(c)))
  def bpeishK(c: Column): Column =
    GraftBridge.column(BpeishCount(GraftBridge.expression(c)))
  def tfMapK(toks: Column): Column =
    GraftBridge.column(TfMap(GraftBridge.expression(toks)))
  def markerHitsK(toks: Column): Column =
    GraftBridge.column(MarkerHits(GraftBridge.expression(toks)))
  def letterTokenCountK(toks: Column): Column =
    GraftBridge.column(LetterTokenCount(GraftBridge.expression(toks)))
}
