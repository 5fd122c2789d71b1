package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StructField, StructType}

/** All ordered index pairs (i < j) of an array as one native call:
  * `[a, b, c]` → `[(a,b), (a,c), (b,c)]` — the in-row combination
  * expansion of the basket-lift and the LSH bucket-pair idioms.
  *
  * Elements are either keys themselves (a string basket) or structs
  * whose first field is the key (the sorted member structs of an LSH
  * bucket). With `keepEither`, field 1 of the struct is a boolean flag
  * and a pair is kept only when `flag(x) OR flag(y)` is TRUE under SQL's
  * three-valued OR — the incremental dedup's "≥1 batch endpoint" rule.
  * The output struct's fields are `b1` and `b2`, of the key's type.
  *
  * The HOF formulation (`flatten(transform(xs, (x, i) ->
  * filter(transform(slice(xs, i+2, size(xs)-i-1), y -> struct(x, y,
  * keep)), p -> p.keep)))`) evaluates interpreted per element with an
  * O(n²) slice allocation per anchor (ProfileQuery: 1.97 s of task time
  * on q_basket_lift's 15k baskets), and as a `CodegenFallback` it also
  * splits the whole-stage pipeline around its `Generate` into an extra
  * stage. This expression runs one tight JVM double loop per row;
  * generated code calls the static [[OrderedPairs.compute]], so the
  * whole row stays inside codegen. Output order matches the HOF version
  * exactly: anchor-major, then array order — for a sorted input array
  * that is exactly the `b1 < b2` pair set in lexicographic order.
  * A null element pairs like any other, as a null key (and a null flag).
  */
case class OrderedPairsExpr(child: Expression, keepEither: Boolean = false)
    extends UnaryExpression {

  private def elementType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => other
  }

  /** The pair fields' type: the element, or a struct element's field 0. */
  private def keyType: DataType = elementType match {
    case s: StructType if s.nonEmpty => s.head.dataType
    case et => et
  }

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, elementType) match {
    case (_: ArrayType, s: StructType) if s.isEmpty =>
      TypeCheckResult.TypeCheckFailure("ordered_pairs: struct elements need a key field")
    case (_: ArrayType, s: StructType) if keepEither &&
        (s.length < 2 || s(1).dataType != BooleanType) =>
      TypeCheckResult.TypeCheckFailure(
        s"ordered_pairs: keepEither needs a boolean struct field 1, got ${s.simpleString}")
    case (_: ArrayType, _: StructType) => TypeCheckResult.TypeCheckSuccess
    case (_: ArrayType, et) if keepEither =>
      TypeCheckResult.TypeCheckFailure(
        s"ordered_pairs: keepEither needs struct elements, got ${et.simpleString}")
    case (_: ArrayType, _) => TypeCheckResult.TypeCheckSuccess
    case (other, _) =>
      TypeCheckResult.TypeCheckFailure(s"ordered_pairs: expects an array, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b1", keyType, nullable = true),
    StructField("b2", keyType, nullable = true))), containsNull = false)
  override def prettyName: String = "ordered_pairs"

  @transient private lazy val spec: OrderedPairs.Spec = elementType match {
    case s: StructType => OrderedPairs.Spec(keyType, s.length, keepEither)
    case et => OrderedPairs.Spec(et, 0, keepEither = false)
  }

  override protected def nullSafeEval(input: Any): Any =
    OrderedPairs.compute(input.asInstanceOf[ArrayData], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("pairsSpec", spec)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.OrderedPairs.compute($c, $s);")
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairsExpr =
    copy(child = newChild)
}

object OrderedPairs {
  /** How to read an element: `structFields` 0 means the element is the
    * key; otherwise it is a struct of that many fields with the key in
    * field 0 (and, under `keepEither`, the flag in field 1). */
  final case class Spec(keyType: DataType, structFields: Int, keepEither: Boolean)

  /** Anchor-major combination expansion of keys; called from generated
    * code. A null element or key pairs like any other, as a null field. */
  def compute(xs: ArrayData, spec: Spec): ArrayData = {
    val n = xs.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val keys = new Array[Any](n)
    // flags: 1 true, 0 false, -1 null (SQL three-valued OR below)
    val flags = if (spec.keepEither) new Array[Byte](n) else null
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        if (spec.structFields == 0) keys(i) = xs.get(i, spec.keyType)
        else {
          val r = xs.getStruct(i, spec.structFields)
          if (!r.isNullAt(0)) keys(i) = r.get(0, spec.keyType)
          if (flags != null) flags(i) = if (r.isNullAt(1)) -1 else if (r.getBoolean(1)) 1 else 0
        }
      } else if (flags != null) flags(i) = -1
      i += 1
    }
    val out = new Array[Any](if (flags == null) n * (n - 1) / 2 else kept(flags))
    var k = 0
    i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        if (flags == null || flags(i) == 1 || flags(j) == 1) {
          out(k) = new GenericInternalRow(Array[Any](keys(i), keys(j)))
          k += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Pairs with at least one TRUE flag: all pairs minus those among the
    * members whose flag is false or null. */
  private def kept(flags: Array[Byte]): Int = {
    val n = flags.length
    val notTrue = flags.count(_ != 1)
    n * (n - 1) / 2 - notTrue * (notTrue - 1) / 2
  }
}
