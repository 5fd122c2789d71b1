package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file BLOOM-FILTER skipping (r19) — point-predicate pruning for
  * HIGH-CARDINALITY columns whose min/max stats can't prune (uniform /
  * hash-distributed keys: every file's range covers the whole keyspace,
  * so `id = x` stats-prunes nothing while a bloom answers "provably
  * absent" per file). Databricks ships this as the Delta bloom index.
  *
  * Collection: one distributed aggregation pass per commit over the
  * commit's NEW files — `groupBy(_metadata.file_path)` with Spark's own
  * [[BloomFilterAggregate]] over `xxhash64(col)` (the exact pair the
  * engine's runtime bloom joins use), serialized to a
  * `v{N}-{nonce}-bloom.jsonl` sidecar (`{"file","col","b64"}` lines,
  * write-once, name-keyed — the stats-sidecar contract). Opt-in via
  * table property `bloom.columns` (comma-separated; falls back to the
  * session conf `spark.graft.lake.bloom.columns`), sized for the
  * commit's largest file's row count (staging recorded it) at
  * `bloom.fpp` (default 0.01) — ~1.2 bytes per row per (file, column),
  * at most [[MaxFilterBytes]] (1 MB ≈ 870k rows at 0.01; a larger file
  * gets a higher false-positive rate, never a larger filter); what was
  * requested but not written (missing column, collection failure) is
  * logged, never silent.
  *
  * Consultation — conservative by construction, against the TOP-LEVEL
  * CONJUNCTS only (a disjunct may hold through its other branch, so OR
  * trees never bloom-prune): a file already past min/max skipping is
  * dropped iff some conjunct `col = v` / `col IN (…)` / `col <=> v`
  * (non-null, type-exact) tests NEGATIVE against the file's bloom for
  * `col`. Files or columns without blooms always stay. Two gears:
  *  - DRIVER (≤ 4096 candidate files and ≤ 256 MB of bloom sidecars —
  *    the driver loads every sidecar): deserialized filters cached, the
  *    membership test is a driver-side hash probe per (file, term);
  *  - DISTRIBUTED above that: the sidecar lines are joined against the
  *    terms as a Spark job ([[BloomFilterMightContain]] over the
  *    base64 bytes — blooms never aggregate on the driver), returning
  *    only the DROP set. At 10⁶ files the driver holds file names,
  *    never gigabytes of filters.
  */
object BloomSidecars {

  /** The largest filter written for one (file, column). Every filter of
    * a commit is collected to the driver to write its sidecar, and the
    * driver gear loads every sidecar, so the size of one is bounded by a
    * constant, not by the file's row count. */
  val MaxFilterBytes: Long = 1L << 20

  final case class PointTerm(col: String, values: Seq[Any], dt: DataType)

  /** xxhash64 of a literal exactly as collection hashed column values
    * (same expression, same default seed). `v` is a Catalyst INTERNAL
    * value (what resolved-literal eval returns), so the raw Literal
    * constructor is the right one. */
  private def hash(v: Any, dt: DataType): Long =
    XxHash64(Seq(Literal(v, dt)), 42L).eval(InternalRow.empty)
      .asInstanceOf[Long]

  /** Top-level conjuncts usable for bloom tests, resolved against the
    * LOGICAL schema; only type-exact literals qualify (a cross-type
    * coercion would hash differently than collection did). */
  def pointTerms(resolved: Expression, schema: StructType,
                 bloomCols: Set[String]): Seq[PointTerm] = {
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def lit(e: Expression): Option[(Any, DataType)] =
      if (!e.foldable) None
      else try Option(e.eval(InternalRow.empty)).map(v => (v, e.dataType))
      catch { case _: Exception => None }
    def colOf(n: String): Option[StructField] = schema.find(_.name == n)
    def term(a: Expression, l: Expression): Option[PointTerm] = for {
      n <- attrName(a)
      if bloomCols.contains(n)
      (v, dt) <- lit(l)
      f <- colOf(n)
      if f.dataType == dt
    } yield PointTerm(n, Seq(v), dt)

    splitConjunctive(resolved).flatMap {
      case EqualTo(a, l) => term(a, l).orElse(term(l, a))
      case EqualNullSafe(a, l) => term(a, l).orElse(term(l, a))
      case In(a, list) if list.forall(_.foldable) =>
        attrName(a).filter(bloomCols.contains).flatMap { n =>
          colOf(n).flatMap { f =>
            val vals = list.flatMap(lit).collect {
              case (v, dt) if dt == f.dataType => v }
            // every element must be usable — a skipped element would
            // under-approximate the IN set and wrongly prune
            if (vals.size == list.count(l =>
                lit(l).isDefined) && vals.nonEmpty &&
                list.forall(l => lit(l).isDefined || isNullLit(l)))
              Some(PointTerm(n, vals, f.dataType))
            else None
          }
        }
      case _ => None
    }
  }

  private def isNullLit(e: Expression): Boolean =
    e.foldable && (try e.eval(InternalRow.empty) == null
                   catch { case _: Exception => false })

  private def splitConjunctive(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctive(l) ++ splitConjunctive(r)
    case other => Seq(other)
  }

  /** Build the per-file blooms for `cols` over `paths` — one
    * aggregation pass, file-name-keyed lines ready for the sidecar. */
  def collect(spark: SparkSession, paths: Seq[String], cols: Seq[String],
              maxItems: Long, fpp: Double): Seq[(String, String, String)] = {
    val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    val present = cols.filter(df.columns.contains)
    cols.filterNot(present.contains).foreach(c =>
      System.err.println(s"[lake] bloom.columns requests '$c' but the " +
        "committed files do not carry it — no bloom written"))
    if (present.isEmpty) return Nil
    val numBits = math.min(BloomFilter.optimalNumOfBits(maxItems, fpp),
      8 * MaxFilterBytes)
    // Build aggregate columns through the bridge: BloomFilterAggregate
    // is internal (the engine's own runtime-filter machinery uses it).
    val aggCols = present.map { c =>
      org.apache.spark.sql.GraftColumnBridge.column(
        new BloomFilterAggregate(
          org.apache.spark.sql.GraftColumnBridge.expression(xxhash64(col(c))),
          Literal(maxItems), Literal(numBits)).toAggregateExpression()
      ).as(s"_b_$c")
    }
    val rows = df.groupBy(col("_metadata.file_path").as("_file"))
      .agg(aggCols.head, aggCols.tail: _*).collect()
    rows.toSeq.flatMap { r =>
      val file = new org.apache.hadoop.fs.Path(r.getString(0)).getName
      present.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(i + 1)).map(_.asInstanceOf[Array[Byte]]).map(b =>
          (file, c, java.util.Base64.getEncoder.encodeToString(b)))
      }
    }
  }

  /** Driver-gear membership probe. */
  def mightContain(bloom: BloomFilter, t: PointTerm): Boolean =
    t.values.exists(v => bloom.mightContainLong(hash(v, t.dt)))

  /** Distributed gear: given sidecar jsonl paths and terms, return the
    * file names PROVABLY excluded — blooms deserialize on executors,
    * the driver sees only names. `colRemap` translates the sidecars'
    * physical column names to the terms' logical ones. */
  def droppedFilesDistributed(spark: SparkSession, sidecarPaths: Seq[String],
                              terms: Seq[PointTerm],
                              colRemap: Map[String, String],
                              dropped: Set[String]): Set[String] = {
    if (sidecarPaths.isEmpty || terms.isEmpty) return Set.empty
    val schema = new StructType()
      .add("file", StringType).add("col", StringType).add("b64", StringType)
    var df = spark.read.schema(schema).json(sidecarPaths: _*)
      .filter(!col("col").isin(dropped.toSeq: _*))
    val logicalCol = colRemap.foldLeft(col("col")) { case (acc, (p, l)) =>
      when(col("col") === p, l).otherwise(acc) }
    df = df.withColumn("_lcol", logicalCol)
    val failsAny = terms.map { t =>
      val might = t.values.map { v =>
        org.apache.spark.sql.GraftColumnBridge.column(
          org.apache.spark.sql.graft.BloomProbeExpr(
            org.apache.spark.sql.GraftColumnBridge.expression(unbase64(col("b64"))),
            Literal(hash(v, t.dt))))
      }.reduce(_ || _)
      col("_lcol") === t.col && !might
    }.reduce(_ || _)
    df.filter(failsAny).select("file").distinct()
      .collect().map(_.getString(0)).toSet
  }
}
