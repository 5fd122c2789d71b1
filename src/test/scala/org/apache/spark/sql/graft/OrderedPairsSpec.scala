package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** `OrderedPairs.compute` is generic over any `array<string>`, so a null
  * element must surface as a null struct field — the HOF formulation it
  * replaces pairs nulls like any other element — never as an empty or
  * garbage string read from the unsafe slot.
  */
class OrderedPairsSpec extends AnyFunSuite {
  test("null elements of an UnsafeArrayData become null pair fields") {
    val u = UTF8String.fromString _
    val row = UnsafeProjection.create(Array[DataType](ArrayType(StringType)))
      .apply(InternalRow(new GenericArrayData(Array[Any](u("a"), null, u("c")))))
    val xs = row.getArray(0)
    assert(xs.getClass.getSimpleName == "UnsafeArrayData")
    assert(xs.isNullAt(1))

    val out = OrderedPairs.compute(xs)
    val pairs = (0 until out.numElements()).map { k =>
      val p = out.getStruct(k, 2)
      def field(i: Int) = if (p.isNullAt(i)) None else Some(p.getUTF8String(i).toString)
      (field(0), field(1))
    }
    assert(pairs == Seq(
      (Some("a"), None), (Some("a"), Some("c")), (None, Some("c"))))
  }
}
