package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

// The two token grammars and the POS tagger as native Catalyst expressions
// with `doGenCode`, in the shape of StemExpr: each one calls its
// hand-written scanner from the generated code, so the text scan, the token
// `Generate` and what follows stay one whole-stage-codegen stage with no
// regex and no UDF in the per-row path.

/** The reference tokenizer over a (lowered) line: [[graft.text.Tokenize.scan]]. */
case class RefTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ref_tokens"

  override def nullSafeEval(input: Any): Any =
    graft.text.Tokenize.scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Tokenize.scan($c)")

  override protected def withNewChildInternal(newChild: Expression): RefTokens =
    copy(child = newChild)
}

/** The POS character-class tokenizer: [[graft.pos.PosTagger.scan]]. */
case class PosTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "pos_tokens"

  override def nullSafeEval(input: Any): Any =
    graft.pos.PosTagger.scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.pos.PosTagger.scan($c)")

  override protected def withNewChildInternal(newChild: Expression): PosTokens =
    copy(child = newChild)
}

/** The rule-based POS tag of a token: [[graft.pos.PosTagger.tagUtf8]].
  * Never null: a null token tags as the default class, as the oracle's
  * CASE does.
  */
case class PosTag(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "pos_tag"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    graft.pos.PosTagger.tagUtf8(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |UTF8String ${ev.value} =
      |  graft.pos.PosTagger.tagUtf8(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PosTag =
    copy(child = newChild)
}
