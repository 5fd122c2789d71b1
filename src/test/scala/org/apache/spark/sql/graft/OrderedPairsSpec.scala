package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** `OrderedPairsExpr` is the one pair expansion of the LSH buckets and
  * the basket-lift query. The HOF formulation it replaced stays here as
  * the model: on random sorted arrays — with null elements, null ids,
  * null flags, duplicates and sizes 0, 1, 2 and n — the native
  * expression must emit the same pairs in the same order, through both
  * generated code and interpreted evaluation.
  */
class OrderedPairsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** The replaced HOF expansion (`Dedup.expandPairs`), pairs of
    * `key(x)`/`key(y)` kept when `keep(x, y)` is true. */
  private def model(xs: Column, key: Column => Column,
                    keep: (Column, Column) => Column): Column =
    flatten(transform(xs, (x, i) =>
      filter(
        transform(slice(xs, i + lit(2), size(xs) - i - 1),
          y => struct(key(x).as("b1"), key(y).as("b2"), keep(x, y).as("keep"))),
        p => p.getField("keep"))))

  private def native(xs: Column, keepEither: Boolean): Column =
    GraftColumnBridge.column(OrderedPairsExpr(GraftColumnBridge.expression(xs), keepEither))

  private val memberType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType), StructField("is_new", BooleanType))))

  /** Sorted member arrays over a small id range (so duplicates occur),
    * with null members, null ids and null flags; one of each edge size. */
  private def memberArrays(seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def member(): Row =
      if (rnd.nextInt(12) == 0) null
      else Row(if (rnd.nextInt(10) == 0) null else rnd.nextInt(8).toLong,
        rnd.nextInt(3) match { case 0 => null; case 1 => true; case _ => false })
    val sizes = Seq(0, 1, 2, 3, 7, 12) ++ Seq.fill(40)(rnd.nextInt(15))
    val arrays = sizes.map { n =>
      Seq.fill(n)(member()).sortBy(m =>
        if (m == null) (0, -1L) else (1, if (m.isNullAt(0)) -1L else m.getLong(0)))
    }
    (arrays :+ null).map(a => Row(a))
  }

  private def pairsOf(r: Row): Seq[(Any, Any)] =
    if (r.isNullAt(0)) null
    else r.getSeq[Row](0).map(p => (p.get(0), p.get(1)))

  test("member-struct pairs match the HOF model, plain and with the is_new keep flag") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(memberArrays(7L) ++ memberArrays(11L), 3),
      StructType(Seq(StructField("xs", memberType))))
    for (keepEither <- Seq(false, true)) {
      val keep: (Column, Column) => Column =
        if (keepEither) (x, y) => x.getField("is_new") || y.getField("is_new")
        else (_, _) => lit(true)
      val out = df.select(
        model(col("xs"), _.getField("doc_id"), keep).as("m"),
        native(col("xs"), keepEither).as("n")).collect()
      assert(out.length == 94)
      out.foreach { r =>
        val m = if (r.isNullAt(0)) null else r.getSeq[Row](0).map(p => (p.get(0), p.get(1)))
        assert(pairsOf(Row(r.get(1))) == m, s"keepEither=$keepEither, input row $r")
      }
      assert(out.exists(r => !r.isNullAt(1) && r.getSeq[Row](1).size > 10))
    }
  }

  test("interpreted evaluation equals generated code on the same arrays") {
    val rows = memberArrays(23L).filter(r => !r.isNullAt(0))
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(memberType)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("xs", memberType))))
    for (keepEither <- Seq(false, true)) {
      val generated = df.select(native(col("xs"), keepEither)).collect().map(pairsOf).toSeq
      val interpreted = rows.map { r =>
        val arr = Literal(toCatalyst(r.getSeq[Row](0)), memberType)
        val out = OrderedPairsExpr(arr, keepEither).eval()
          .asInstanceOf[ArrayData]
        (0 until out.numElements()).map { k =>
          val p = out.getStruct(k, 2)
          (if (p.isNullAt(0)) null else p.getLong(0), if (p.isNullAt(1)) null else p.getLong(1))
        }
      }
      assert(generated == interpreted, s"keepEither=$keepEither")
    }
  }

  test("string baskets (q_basket_lift's sort_array(collect_set) shape) match the HOF model") {
    val rnd = new scala.util.Random(5L)
    val brands = (1 to 9).map(i => s"Brand#$i")
    val baskets = Seq(Seq.empty[String], Seq("Brand#1"), Seq("Brand#1", "Brand#2")) ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(9))(brands(rnd.nextInt(9))).distinct.sorted)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(baskets.map(Row(_)), 2),
      StructType(Seq(StructField("bs", ArrayType(StringType)))))
    val basketPairs = GraftColumnBridge.column(OrderedPairsExpr(
      GraftColumnBridge.expression(col("bs"))))
    val out = df.select(model(col("bs"), identity, (_, _) => lit(true)).as("m"),
      basketPairs.as("n")).collect()
    out.foreach { r =>
      val m = r.getSeq[Row](0).map(p => (p.get(0), p.get(1)))
      assert(pairsOf(Row(r.get(1))) == m)
    }
    // field names q_basket_lift selects
    assert(df.select(explode(basketPairs).as("p")).select("p.b1", "p.b2").count() ==
      baskets.map(b => b.size * (b.size - 1) / 2).sum)
  }

  test("null elements of an UnsafeArrayData become null pair fields") {
    val u = UTF8String.fromString _
    val row = UnsafeProjection.create(Array[DataType](ArrayType(StringType)))
      .apply(InternalRow(new GenericArrayData(Array[Any](u("a"), null, u("c")))))
    val xs = row.getArray(0)
    assert(xs.getClass.getSimpleName == "UnsafeArrayData")
    assert(xs.isNullAt(1))

    val out = OrderedPairs.compute(xs, OrderedPairs.Spec(StringType, 0, keepEither = false))
    val pairs = (0 until out.numElements()).map { k =>
      val p = out.getStruct(k, 2)
      def field(i: Int) = if (p.isNullAt(i)) None else Some(p.getUTF8String(i).toString)
      (field(0), field(1))
    }
    assert(pairs == Seq(
      (Some("a"), None), (Some("a"), Some("c")), (None, Some("c"))))
  }
}
