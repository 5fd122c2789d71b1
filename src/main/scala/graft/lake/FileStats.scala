package graft.lake

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file column statistics (min / max / null count / row count) and the
  * conservative pruning evaluator over them — Delta-style data skipping
  * for [[VersionedTable]].
  *
  * This is the metadata layer that makes a selective query on a 100 TB
  * table read megabytes instead of terabytes: stats are collected once
  * per commit over ONLY the commit's new files (one column-bounded
  * aggregation pass), and a predicate consults the stats to drop whole
  * files before Spark ever lists them in a scan. Row-group-level pushdown
  * then continues inside the files that survive.
  *
  * Encoding choices that keep the comparisons engine-exact:
  *  - timestamps are collected as `unix_micros`, dates as days-since-epoch
  *    — the SAME integer encodings Catalyst literals carry, so pruning
  *    compares integers to integers with no timezone/format parsing;
  *  - numeric stats serialize via `toString` and compare as BigDecimal
  *    (lossless for every integral/decimal type; doubles round-trip);
  *  - NaN/Infinity min/max poison an ordering, so a column observing them
  *    simply drops its stats for that file (conservative: file is kept);
  *  - string stats are TRUNCATED at [[StringStatMaxLen]] code units
  *    (Delta's own rule): the min keeps a plain prefix (a prefix is ≤
  *    the value, still a lower bound) and the max appends `￿` to
  *    its prefix (the largest UTF-16 unit, so prefix+`￿` ≥ every
  *    string sharing the prefix — an upper bound). With long URL/text
  *    keys the per-commit sidecars and the version-keyed stats cache
  *    would otherwise grow with VALUE length — at 10⁶ files that
  *    metadata weight is real. Truncation never breaks partition-value
  *    recovery ([[internalValue]] callers): a truncated pair can never
  *    satisfy min == max (the max gained a terminal `￿`), so an
  *    over-long "partition value" just declines the partition fast
  *    path instead of mis-recovering.
  *
  * The evaluator is deliberately three-valued collapsed to two: `false`
  * means PROVABLY no row in the file satisfies the predicate; `true`
  * means "maybe" — including every expression shape it doesn't
  * understand. Unsupported nodes therefore cost only missed pruning,
  * never correctness.
  */
object FileStats {

  /** Cap on stored string-stat length (UTF-16 units). 64 keeps every
    * realistic key/category/partition value exact while bounding the
    * metadata a long URL/text column contributes per (file, column). */
  val StringStatMaxLen = 64

  /** Lower bound for a truncated min: a strict prefix sorts ≤ the
    * value it came from. */
  private def truncMin(s: String): String =
    if (s.length <= StringStatMaxLen) s else s.substring(0, StringStatMaxLen)

  /** Upper bound for a truncated max: prefix + the largest UTF-16 unit
    * sorts ≥ every string sharing the prefix (the compare after the
    * common prefix sees `￿` ≥ any unit). */
  private def truncMax(s: String): String =
    if (s.length <= StringStatMaxLen) s
    else s.substring(0, StringStatMaxLen) + '￿'

  /** Stored string stats are compared with Java UTF-16 `String` ordering,
    * but Spark collected them (and executes the scan's own filters) in
    * UTF-8 code-point order. The two orders agree on every comparison
    * whose first differing position holds a unit below the surrogate
    * range ON THE STAT SIDE — proven by cases: if the stat's unit `a` <
    * 0xD800, then whatever the literal's unit `b` is (plain char, high
    * surrogate opening a supplementary code point, or U+E000+), both
    * orders rank `a` against it identically. A stat containing ANY unit
    * ≥ 0xD800 loses that guarantee (UTF-16 ranks U+E000..U+FFFF above
    * surrogate pairs; code-point order ranks supplementary chars above
    * U+FFFF), so pruning must decline — answer "maybe", never skip.
    * The truncMax sentinel is itself ≥ 0xD800, so truncated maxes
    * decline ordered pruning too (equality via min==max recovery was
    * already safe: the sentinel makes min != max). */
  private[lake] def utf16OrderSafe(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0xD800) return false
      i += 1
    }
    true
  }

  final case class ColStats(
      kind: String,              // "num" | "str"
      min: Option[String],       // None ⇔ every row in the file is null
      max: Option[String],
      nulls: Long,
      rows: Long)

  /** A stats sidecar's JSONL lines: one per (file, column), sorted by
    * file then column — what a commit writes and the planner parses. */
  private[lake] def sidecarLines(stats: Map[String, Map[String, ColStats]]): Seq[String] =
    stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, s) => LogCodec.encodeStatsLine(f, c, s) }
    }

  /** Stats-eligible type → kind tag. Temporal types are "num" because
    * collection integer-encodes them (see above). */
  def statKind(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType | DateType | TimestampType |
         TimestampNTZType => Some("num")
    case StringType => Some("str")
    case _ => None
  }

  /** NTZ stats are COLLECTED only under a UTC session: the micros
    * encoding rides cast(ntz → timestamp), whose internal micros equal
    * the NTZ wall micros exactly when the session zone is UTC. Stored
    * stats are therefore wall micros — the same value an NTZ literal
    * carries — so EVALUATION is session-independent; only collection
    * needs the gate (a non-UTC writer skips the column: files without
    * stats are never pruned, conservative as always). */
  private[lake] def utcSession(spark: SparkSession): Boolean =
    try java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      .normalized() == java.time.ZoneOffset.UTC
    catch { case _: Exception => false }

  private def statExpr(name: String, dt: DataType): Column = dt match {
    case TimestampType    => unix_micros(col(name))
    case TimestampNTZType => unix_micros(col(name).cast(TimestampType)) // UTC-gated
    case DateType         => datediff(col(name), to_date(lit("1970-01-01")))
    case _                => col(name)
  }

  /** Serialize a collected min/max cell. Outer None = value unusable for
    * ordering (drop the column's stats for this file); inner None = SQL
    * null (all-null column). */
  private def ser(v: Any): Option[Option[String]] = v match {
    case null => Some(None)
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float if f.isNaN || f.isInfinite  => None
    case other => Some(Some(other.toString))
  }

  /** One aggregation pass over `paths` grouped by physical file:
    * file name → column → stats. Cost is O(rows in `paths`) with
    * column-bounded state — called per commit on the commit's NEW files
    * only, never on the whole table.
    */
  def collect(spark: SparkSession, paths: Seq[String])
      : Map[String, Map[String, ColStats]] = {
    val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    val usable = df.schema.fields.toSeq
      .filter(f => f.dataType != TimestampNTZType || utcSession(spark))
      .flatMap(f => statKind(f.dataType).map(k => (f.name, f.dataType, k)))
    val aggs = count(lit(1)).as("_rows") +: usable.flatMap { case (n, dt, _) =>
      val e = statExpr(n, dt)
      Seq(min(e), max(e), count(col(n)))
    }
    val rows = df.groupBy(col("_metadata.file_path").as("_file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.map { r =>
      val file = new org.apache.hadoop.fs.Path(r.getString(0)).getName
      val nRows = r.getLong(1)
      val cols = usable.zipWithIndex.flatMap { case ((n, _, kind), i) =>
        val base = 2 + i * 3
        (ser(r.get(base)), ser(r.get(base + 1))) match {
          case (Some(mn), Some(mx)) =>
            val (mn2, mx2) =
              if (kind == "str") (mn.map(truncMin), mx.map(truncMax))
              else (mn, mx)
            Some(n -> ColStats(kind, mn2, mx2, nRows - r.getLong(base + 2), nRows))
          case _ => None // NaN/Inf observed: no stats, file always kept
        }
      }.toMap
      file -> cols
    }.toMap
  }

  // ---- footer-derived collection (r19 optimization) -------------------
  //
  // The distributed [[collect]] pass re-reads every byte a commit just
  // wrote, as a full Spark job — at commit-heavy shapes (DML series,
  // medallion refresh, streaming micro-batches) that job is pure
  // per-commit overhead. But the staging path ALREADY opens every
  // file's parquet footer (row-count memo), and for every stats-eligible
  // type the footer's column-chunk statistics are value-identical to
  // what the Spark aggregate computes:
  //  - INT32/INT64 chunk min/max are signed-compared (parquet
  //    typeDefinedOrder), same as Spark's int ordering; dates are the
  //    same days-since-epoch INT32 the `datediff` encoding stores;
  //    timestamps annotated MICROS carry exactly `unix_micros`;
  //  - FLOAT/DOUBLE chunk stats use Double.compare total order; NaN
  //    poisons max (detectably), mirroring [[ser]]'s NaN/Inf decline;
  //  - BINARY string stats use unsigned lexicographic byte order — the
  //    SAME order UTF8String comparisons (and so Spark's min/max) use;
  //    parquet-mr's default footer-stats truncation is OFF
  //    (DEFAULT_STATISTICS_TRUNCATE_LENGTH = MaxValue), and stats too
  //    large to store are dropped entirely (detectable ⇒ fallback);
  //  - DECIMAL unscaled+scale reconstructs the exact java BigDecimal.
  //
  // Anything that can't be proven value-identical — INT96 timestamps,
  // NANOS units, missing/unset statistics, a physical type that doesn't
  // match the staged schema — declines the WHOLE commit (returns None)
  // and the caller falls back to the distributed pass, so the sidecar's
  // content contract (what q_meta_agg/candidateFiles consume) is
  // byte-for-byte what [[collect]] would have written. FooterStatsSpec
  // asserts that parity line-by-line on an adversarial fixture.

  /** Derive a commit's stats sidecar content from the staged files'
    * parquet footers — zero extra I/O, zero Spark jobs. Returns None
    * when ANY eligible column of ANY file can't be derived exactly
    * (caller must fall back to [[collect]]). `schema` is the staged
    * frame's (physical) schema. */
  def collectFromFooters(spark: SparkSession, schema: StructType,
      footers: Seq[(String, org.apache.parquet.hadoop.metadata.ParquetMetadata)])
      : Option[Map[String, Map[String, ColStats]]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._

    val usable = schema.fields.toSeq
      .filter(f => f.dataType != TimestampNTZType || utcSession(spark))
      .flatMap(f => statKind(f.dataType).map(k => (f.name, f.dataType, k)))
    if (usable.isEmpty)
      return Some(footers.map { case (name, md) =>
        name -> Map.empty[String, ColStats] }.toMap)

    def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xFF) - (b(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }

    // micros multiplier for an annotated timestamp column, or None when
    // the unit/adjustment doesn't match the Spark type (incl. NANOS,
    // whose truncation at read time is not representable as a bound
    // without floor-div care — decline, the distributed pass handles it)
    def microsFactor(ann: LogicalTypeAnnotation, wantAdjusted: Boolean): Option[Long] =
      ann match {
        case t: TimestampLogicalTypeAnnotation if t.isAdjustedToUTC == wantAdjusted =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
            case _ => None
          }
        case _ => None
      }

    val result = footers.map { case (name, md) =>
      val blocks = md.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      // column path -> chunks (top-level primitives only: dot-free path)
      val chunksByCol = blocks.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
      val cols = usable.map { case (colName, dt, kind) =>
        val chunks = chunksByCol.getOrElse(colName, return None)
        if (chunks.map(_.getValueCount).sum != nRows) return None
        val stats = chunks.map(_.getStatistics)
        if (stats.exists(s => s == null || s.isEmpty || !s.isNumNullsSet))
          return None
        val nulls = stats.map(_.getNumNulls).sum
        val withVals = stats.filter(_.hasNonNullValue)
        val prim = chunks.head.getPrimitiveType
        val ann = prim.getLogicalTypeAnnotation
        if (nulls == nRows || withVals.isEmpty) {
          // all-null column: same (None, None) line [[collect]] writes.
          // (withVals empty with nulls < nRows would be an inconsistent
          // footer; treat it as all-null-safe only when counts agree.)
          if (nulls != nRows) return None
          colName -> Some(ColStats(kind, None, None, nulls, nRows))
        } else {
          val serMinMax: Option[(String, String)] = dt match {
            case ByteType | ShortType | IntegerType if prim.getPrimitiveTypeName == INT32 =>
              val vs = withVals.map(_.genericGetMin.asInstanceOf[java.lang.Integer].intValue) ++
                withVals.map(_.genericGetMax.asInstanceOf[java.lang.Integer].intValue)
              Some((vs.min.toString, vs.max.toString))
            case DateType if prim.getPrimitiveTypeName == INT32 &&
                ann.isInstanceOf[DateLogicalTypeAnnotation] =>
              val vs = withVals.map(_.genericGetMin.asInstanceOf[java.lang.Integer].intValue) ++
                withVals.map(_.genericGetMax.asInstanceOf[java.lang.Integer].intValue)
              Some((vs.min.toString, vs.max.toString))
            case LongType if prim.getPrimitiveTypeName == INT64 =>
              val vs = withVals.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue) ++
                withVals.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue)
              Some((vs.min.toString, vs.max.toString))
            case TimestampType | TimestampNTZType if prim.getPrimitiveTypeName == INT64 =>
              val factor = Option(ann)
                .flatMap(microsFactor(_, wantAdjusted = dt == TimestampType))
                .getOrElse(return None)
              val vs = withVals.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue) ++
                withVals.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue)
              if (vs.exists(v => math.abs(v) > Long.MaxValue / factor)) return None
              Some(((vs.min * factor).toString, (vs.max * factor).toString))
            case FloatType if prim.getPrimitiveTypeName == FLOAT =>
              val vs = withVals.map(_.genericGetMin.asInstanceOf[java.lang.Float].floatValue) ++
                withVals.map(_.genericGetMax.asInstanceOf[java.lang.Float].floatValue)
              val (mn, mx) = (vs.reduce((a, b) => if (java.lang.Float.compare(a, b) <= 0) a else b),
                vs.reduce((a, b) => if (java.lang.Float.compare(a, b) >= 0) a else b))
              if (mn.isNaN || mn.isInfinite || mx.isNaN || mx.isInfinite) None
              else Some((mn.toString, mx.toString))
            case DoubleType if prim.getPrimitiveTypeName == DOUBLE =>
              val vs = withVals.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue) ++
                withVals.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
              val (mn, mx) = (vs.reduce((a, b) => if (java.lang.Double.compare(a, b) <= 0) a else b),
                vs.reduce((a, b) => if (java.lang.Double.compare(a, b) >= 0) a else b))
              if (mn.isNaN || mn.isInfinite || mx.isNaN || mx.isInfinite) None
              else Some((mn.toString, mx.toString))
            case d: DecimalType =>
              val scale = ann match {
                case dec: DecimalLogicalTypeAnnotation if dec.getScale == d.scale =>
                  dec.getScale
                case _ => return None
              }
              def big(v: Any): java.math.BigDecimal = v match {
                case i: java.lang.Integer =>
                  java.math.BigDecimal.valueOf(i.longValue, scale)
                case l: java.lang.Long =>
                  java.math.BigDecimal.valueOf(l.longValue, scale)
                case b: org.apache.parquet.io.api.Binary =>
                  new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), scale)
                case _ => null
              }
              val vs = withVals.map(s => big(s.genericGetMin)) ++
                withVals.map(s => big(s.genericGetMax))
              if (vs.contains(null)) return None
              val mn = vs.reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
              val mx = vs.reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
              Some((mn.toString, mx.toString))
            case StringType if prim.getPrimitiveTypeName == BINARY &&
                ann.isInstanceOf[StringLogicalTypeAnnotation] =>
              val vs = withVals.map(_.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes) ++
                withVals.map(_.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
              val mn = vs.reduce((a, b) => if (cmpBytes(a, b) <= 0) a else b)
              val mx = vs.reduce((a, b) => if (cmpBytes(a, b) >= 0) a else b)
              Some((truncMin(new String(mn, java.nio.charset.StandardCharsets.UTF_8)),
                truncMax(new String(mx, java.nio.charset.StandardCharsets.UTF_8))))
            case _ => return None // physical/logical shape we can't prove
          }
          serMinMax match {
            case Some((mn, mx)) =>
              colName -> Some(ColStats(kind, Some(mn), Some(mx), nulls, nRows))
            case None =>
              // NaN/Inf poisoned bounds: [[collect]] drops the column's
              // stats for this file (file always kept) — mirror that.
              colName -> None
          }
        }
      }
      name -> cols.collect { case (n, Some(cs)) => n -> cs }.toMap
    }.toMap
    Some(result)
  }

  // ---- pruning evaluator ----------------------------------------------
  //
  // Operates on the ANALYZED predicate (VersionedTable resolves the
  // user's Column against the snapshot schema first): attributes are
  // AttributeReferences and literal sides are foldable expressions whose
  // value/type we take from `eval()` — which also absorbs the implicit
  // casts analysis inserts around literals (e.g. an Int literal compared
  // to a Long column).

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference  => Some(a.name)
    case a: UnresolvedAttribute => Some(a.name)
    case _ => None
  }

  /** Value + type of a constant side, via fold-evaluation. Analyzed (not
    * optimized) plans still carry RuntimeReplaceable wrappers like
    * to_date/to_timestamp, which are foldable but only evaluable through
    * their replacement — swap those in first. Anything that still fails
    * to evaluate declines to prune. */
  private def constVal(e: Expression): Option[(Any, DataType)] = {
    val ev = e.transformDown { case r: RuntimeReplaceable => r.replacement }
    if (!ev.foldable) None
    else try Some((ev.eval(org.apache.spark.sql.catalyst.InternalRow.empty), e.dataType))
    catch { case _: Exception => None }
  }

  private def toBig(v: Any): java.math.BigDecimal = v match {
    case i: java.lang.Integer => new java.math.BigDecimal(i)
    case l: java.lang.Long    => new java.math.BigDecimal(l)
    case s: java.lang.Short   => new java.math.BigDecimal(s.intValue())
    case b: java.lang.Byte    => new java.math.BigDecimal(b.intValue())
    case f: java.lang.Float   =>
      if (f.isNaN || f.isInfinite) null else new java.math.BigDecimal(f.toString)
    case d: java.lang.Double  =>
      if (d.isNaN || d.isInfinite) null else new java.math.BigDecimal(d.toString)
    case d: Decimal           => d.toJavaBigDecimal
    case d: java.math.BigDecimal => d
    case _ => null
  }

  /** Stat string → the CATALYST INTERNAL value of `dt` — the exact
    * inverse of the collection encodings above (temporal types were
    * integer-encoded at collect time; numerics serialized via
    * `toString`, which round-trips each type). This is how the
    * partition-aware file index recovers a file's partition-value tuple
    * from its min = max stats ([[VersionedTable.partitionTuplesInternal]]).
    * None when the string doesn't round-trip in `dt` — callers decline
    * the fast path, never guess. */
  def internalValue(s: String, dt: DataType): Option[Any] = try {
    dt match {
      case ByteType        => Some(s.toByte)
      case ShortType       => Some(s.toShort)
      case IntegerType     => Some(s.toInt)
      case LongType        => Some(s.toLong)
      case FloatType       => Some(s.toFloat)
      case DoubleType      => Some(s.toDouble)
      case d: DecimalType  =>
        val dec = Decimal(new java.math.BigDecimal(s))
        if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
      case DateType        => Some(s.toInt)  // days since epoch
      case TimestampType   => Some(s.toLong) // unix micros
      case TimestampNTZType => Some(s.toLong) // wall micros (UTC-collected)
      case StringType      =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case _ => None
    }
  } catch { case _: Exception => None }

  /** Stat string → the EXTERNAL (Row-facing) value of `dt` — the
    * driver-side sibling of [[internalValue]], for metadata-answered
    * DataFrames ([[VersionedTable.partitionStats]]). */
  def externalValue(s: String, dt: DataType): Option[Any] = try {
    dt match {
      case ByteType        => Some(s.toByte)
      case ShortType       => Some(s.toShort)
      case IntegerType     => Some(s.toInt)
      case LongType        => Some(s.toLong)
      case FloatType       => Some(s.toFloat)
      case DoubleType      => Some(s.toDouble)
      case _: DecimalType  => Some(new java.math.BigDecimal(s))
      case DateType        =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong)))
      case TimestampType   =>
        val us = s.toLong
        Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)))
      case TimestampNTZType =>
        val us = s.toLong
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case StringType      => Some(s)
      case _ => None
    }
  } catch { case _: Exception => None }

  /** Is the literal's type comparable against the column's stats kind?
    * (Predicates are pruned UNRESOLVED — no coercion has run — so a
    * type-mismatched comparison just declines to prune.) */
  private def kindOf(dt: DataType): Option[String] = statKind(dt)

  /** `false` ⇒ provably no row of a file with stats `st` satisfies `e`;
    * `true` ⇒ possible/unknown. A column absent from `st` (unsupported
    * type, NaN poisoning, schema evolution) always answers "maybe".
    */
  def mayMatch(e: Expression, st: Map[String, ColStats]): Boolean = e match {
    case And(l, r) => mayMatch(l, st) && mayMatch(r, st)
    case Or(l, r)  => mayMatch(l, st) || mayMatch(r, st)

    case IsNull(a) => attrName(a) match {
      case Some(n) => st.get(n).forall(_.nulls > 0)
      case None    => true
    }
    case IsNotNull(a) => attrName(a) match {
      case Some(n) => st.get(n).forall(s => s.nulls < s.rows)
      case None    => true
    }

    case In(a, list) if attrName(a).isDefined && list.forall(_.foldable) =>
      list.exists { l =>
        constVal(l).forall { case (v, dt) =>
          v != null && rangePossible(st, attrName(a).get, v, dt, "eq")
        }
      }

    case StartsWith(a, p) if attrName(a).isDefined && p.foldable =>
      constVal(p) match {
        case Some((pv, StringType)) if pv != null =>
          st.get(attrName(a).get) match {
            case Some(s) if s.kind == "str" =>
              (s.min, s.max) match {
                case (Some(mn), Some(mx)) =>
                  val prefix = pv.toString
                  (!utf16OrderSafe(mn) || mn <= prefix || mn.startsWith(prefix)) &&
                    (!utf16OrderSafe(mx) || prefix <= mx)
                case _ => false // all-null column: no string starts with anything
              }
            case _ => true
          }
        case _ => true
      }

    case c: BinaryComparison =>
      (attrName(c.left), constVal(c.right), attrName(c.right), constVal(c.left)) match {
        case (Some(n), Some((v, dt)), _, _) => cmpPossible(c, n, v, dt, flipped = false, st)
        case (_, _, Some(n), Some((v, dt))) => cmpPossible(c, n, v, dt, flipped = true, st)
        case _ => true
      }

    case _ => true
  }

  private def cmpPossible(c: BinaryComparison, name: String, v: Any, dt: DataType,
                          flipped: Boolean, st: Map[String, ColStats]): Boolean = {
    val op = c match {
      case _: EqualTo            => "eq"
      case _: EqualNullSafe      => "eqns"
      case _: LessThan           => if (flipped) "gt" else "lt"
      case _: LessThanOrEqual    => if (flipped) "gte" else "lte"
      case _: GreaterThan        => if (flipped) "lt" else "gt"
      case _: GreaterThanOrEqual => if (flipped) "lte" else "gte"
      case _ => return true
    }
    if (v == null) {
      // `col <op> NULL` is never true — except null-safe equality, which
      // matches exactly the null rows.
      if (op == "eqns") st.get(name).forall(_.nulls > 0) else false
    } else rangePossible(st, name, v, dt, op)
  }

  /** Range check of a non-null literal against a column's [min, max]. */
  private def rangePossible(st: Map[String, ColStats], name: String,
                            v: Any, dt: DataType, op: String): Boolean =
    st.get(name) match {
      case None => true
      case Some(s) =>
        if (!kindOf(dt).contains(s.kind)) return true // un-coerced type mismatch
        (s.min, s.max) match {
          case (Some(mnS), Some(mxS)) =>
            if (s.kind == "num") {
              val b = toBig(v)
              if (b == null) return true
              val mn = new java.math.BigDecimal(mnS)
              val mx = new java.math.BigDecimal(mxS)
              op match {
                case "eq" | "eqns" => mn.compareTo(b) <= 0 && b.compareTo(mx) <= 0
                case "lt"          => mn.compareTo(b) < 0
                case "lte"         => mn.compareTo(b) <= 0
                case "gt"          => mx.compareTo(b) > 0
                case "gte"         => mx.compareTo(b) >= 0
              }
            } else {
              // each op may only consult a bound whose UTF-16 comparison
              // is provably equivalent to the scan's UTF-8 order (see
              // utf16OrderSafe) — an unsafe bound answers "maybe"
              val sv = v.toString
              lazy val minSafe = utf16OrderSafe(mnS)
              lazy val maxSafe = utf16OrderSafe(mxS)
              op match {
                case "eq" | "eqns" =>
                  (!minSafe || mnS <= sv) && (!maxSafe || sv <= mxS)
                case "lt"          => !minSafe || mnS < sv
                case "lte"         => !minSafe || mnS <= sv
                case "gt"          => !maxSafe || mxS > sv
                case "gte"         => !maxSafe || mxS >= sv
              }
            }
          case _ => false // all rows null: no ordered comparison can hold
        }
    }
}
