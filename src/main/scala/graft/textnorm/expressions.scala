package graft.textnorm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-friendly string kernels called from generated code.
  * Kept as static-style calls on a Java-visible object so `doGenCode` can
  * emit a direct invocation and the surrounding stage stays inside
  * whole-stage codegen (no CodegenFallback, no UDF boxing). */
object ExprFns {
  /** Per-document text_norm: the reference applies
    * `_process_textlines([doc])` then `Normalizer.normalize`
    * (`mtb_data_loader.py:185-188`); a dropped sentence yields "". */
  def textNorm(s: UTF8String): UTF8String = {
    val cleaned = CleanSent.processTextlines(Seq(s.toString))
    UTF8String.fromString(Normalizer.normalize(cleaned))
  }

  def assembleArticle(s: UTF8String): UTF8String = {
    val lines = s.toString.split("\n", -1).toSeq
    UTF8String.fromString(ArticleAssembly.assembleArticle(lines))
  }
}

/** Base for one-string-in/one-string-out kernels (the ones above and
  * `graft.triples.PredPartExpr`). */
abstract class StringKernelExpression extends UnaryExpression {
  /** Fully qualified name of the static-callable method to invoke. */
  def fn: String

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    invoke(input.asInstanceOf[UTF8String])

  protected def invoke(s: UTF8String): UTF8String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$fn($c)")
}

case class TextNormExpr(child: Expression) extends StringKernelExpression {
  override def fn: String = "graft.textnorm.ExprFns.textNorm"
  override protected def invoke(s: UTF8String): UTF8String = ExprFns.textNorm(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

case class AssembleArticleExpr(child: Expression) extends StringKernelExpression {
  override def fn: String = "graft.textnorm.ExprFns.assembleArticle"
  override protected def invoke(s: UTF8String): UTF8String = ExprFns.assembleArticle(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** Column-facing API for the textnorm kernels. */
object functions {
  private def col(e: Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.GraftBridge.expression(c)

  /** Per-document byte-identity text_norm (clean + normalize). */
  def text_norm(c: Column): Column = col(TextNormExpr(expr(c)))

  /** CNN/DM article assembly over a newline-joined raw story string. */
  def assemble_article(c: Column): Column = col(AssembleArticleExpr(expr(c)))
}
