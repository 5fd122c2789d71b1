package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.util.LongAccumulator

/** A pass-through filter that counts, into `acc`, the rows on which
  * `child` is true, and keeps every row. It lets the action that writes
  * a frame also report how many of its rows carry a flag, with no
  * second action and without the stage split a `CollectMetrics` node
  * adds: the accumulator rides the generated code as a reference, so
  * the filter fuses into the surrounding whole-stage span and every
  * call shares one compiled class. Read `acc` after the action; as for
  * any accumulator updated in an action, each successful task counts
  * once. Nondeterministic, so the optimizer neither drops nor moves it.
  */
case class CountWhere(child: Expression, acc: LongAccumulator)
    extends UnaryExpression with Predicate with Nondeterministic {

  override def nullable: Boolean = false

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    if (child.eval(input) == true) acc.add(1L)
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val accRef = ctx.addReferenceObj("acc", acc, classOf[LongAccumulator].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |if (!${c.isNull} && ${c.value}) $accRef.add(1L);
      """.stripMargin, isNull = FalseLiteral, value = TrueLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def toString: String = s"count_where($child)"
}

object CountWhere {
  /** Column-API door: `filter(CountWhere.column(flag, acc))`. */
  def column(flag: Column, acc: LongAccumulator): Column =
    GraftColumnBridge.column(CountWhere(GraftColumnBridge.expression(flag), acc))
}
