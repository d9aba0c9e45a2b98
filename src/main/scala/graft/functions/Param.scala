package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** A per-query constant (a box corner, a covering cell bound, a kNN query
  * point) that generated code reads from its `references` array instead
  * of inlining as a Java literal.
  *
  * Why: Spark caches compiled classes by their SOURCE TEXT. A `lit(1.25)`
  * is spelled into the whole-stage source, so every query with new
  * constants compiles its stages afresh (Janino, then interpreted until
  * the JIT catches up). A Param's value rides in the plan like
  * [[ZRangeContains]]'s bounds (`ctx.addReferenceObj`), so queries that
  * differ only in their constants share one compiled, JIT-warm class.
  *
  * Not foldable (constant folding would turn it back into a literal); not
  * pushable to a data source either, which only translates literals.
  * Equality and hashing are by value (`java.lang` boxed equality: NaN
  * equals NaN, -0.0 differs from 0.0), so canonicalization, CSE and
  * exchange reuse treat two equal Params as one expression. */
case class Param(value: Any, dataType: DataType) extends LeafExpression {

  require((dataType == DoubleType && value.isInstanceOf[Double]) ||
    (dataType == LongType && value.isInstanceOf[Long]),
    s"Param holds a double or a bigint, got $value: $dataType")

  override def foldable: Boolean = false

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def toString: String = s"param($value)"

  override def sql: String = Literal(value, dataType).sql

  override def equals(other: Any): Boolean = other match {
    case p: Param => dataType == p.dataType && value.asInstanceOf[AnyRef].equals(p.value)
    case _ => false
  }
  override def hashCode(): Int = 31 * dataType.hashCode() + value.hashCode()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "param", t => s"$t = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(v, dataType))
  }
}

object Param {
  def of(v: Double): Column = GraftColumnBridge.column(Param(v, DoubleType))
  def of(v: Long): Column = GraftColumnBridge.column(Param(v, LongType))
}
