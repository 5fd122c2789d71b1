package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}

/** LSH band buckets of one row's MinHash signature, from its shingle
  * array, as one native call: `numHashes` minhashes
  * `min over shingles of (a·md5_int(s) + b) mod P` with the replayable
  * permutation family ([[graft.llm.Dedup.permConstants]]), then `bands`
  * Horner-combined buckets `(acc·131 + mh) mod P` of `numHashes / bands`
  * minhashes each — element `b` is band `b`'s bucket.
  *
  * This is the per-row form of the signature the DuckDB oracle replays
  * (`list_min` per permutation over the row's shingle hashes); per row,
  * it needs no `doc_id` shuffle and no aggregation. An empty or null
  * shingle array has no signature (null).
  */
case class MinhashBandsExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bands > 0 && numHashes % bands == 0, "bands must divide numHashes")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinhashBands.compute(input.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("bands")
    nullSafeCodeGen(ctx, ev, c =>
      s"""ArrayData $v = org.apache.spark.sql.graft.MinhashBands.compute($c, $numHashes, $bands);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBandsExpr =
    copy(child = newChild)
}

object MinhashBands {
  private val P = graft.llm.Dedup.HashP
  private val perms = new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Long])]()

  private def constants(numHashes: Int): (Array[Long], Array[Long]) =
    perms.computeIfAbsent(numHashes, _ => {
      val ab = (0 until numHashes).map(graft.llm.Dedup.permConstants)
      (ab.map(_._1).toArray, ab.map(_._2).toArray)
    })

  /** Called from generated code; null when the array holds no shingle. */
  def compute(shingles: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val n = shingles.numElements()
    val mh = Array.fill(numHashes)(Long.MaxValue)
    val (a, b) = constants(numHashes)
    var seen = false
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val h = Md5Int.compute(shingles.getUTF8String(i), 0)
        var k = 0
        while (k < numHashes) {
          val v = (a(k) * h + b(k)) % P
          if (v < mh(k)) mh(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (!seen) return null
    val rows = numHashes / bands
    val out = new Array[Any](bands)
    var band = 0
    while (band < bands) {
      var acc = mh(band * rows)
      var r = 1
      while (r < rows) {
        acc = (acc * 131L + mh(band * rows + r)) % P
        r += 1
      }
      out(band) = acc
      band += 1
    }
    new GenericArrayData(out)
  }
}
