package graft.lake

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions.{col, lit, when}

/** S10: the reference's insert-only MERGE (`guardar_nueva_data`,
  * `/root/reference/main.py:429-475`): delta-rs
  * `merge(predicate).when_not_matched_insert_all()` — source rows with no
  * key match in the target are inserted; matched rows are untouched.
  *
  * Without Delta jars the identical observable semantics are a LEFT ANTI
  * join (existence test) followed by an append, under a single-writer
  * assumption (the reference is single-writer too). [[insertCandidates]]
  * and [[upsert]] are those relational cores as pure queries (the oracle
  * queries `q_merge_insert_only` / `q_merge_upsert` and the plain-parquet
  * [[insertOnlyMerge]] run them). The versioned table has ONE merge,
  * [[VersionedTable.mergeConditional]], over the clause grammar below:
  * its `merge` and `insertOnlyMerge` are clause lists on it.
  *
  * Scale notes: the anti join shuffles both sides on the merge key unless
  * the *target key set* is small enough to broadcast. For an append-mostly
  * 100 TB table the right physical shape is: scan only the target's key
  * column (column pruning keeps this cheap), partition-prune the target to
  * the key range of the batch if the key correlates with partitioning, and
  * let AQE pick broadcast vs shuffle from the pruned size. Keys projection
  * happens here; pruning is the caller's filter.
  */
object Merge {

  /** The rows an insert-only merge would add: `source ▷ target` on
    * equi-keys (anti join). Pure, testable core of the merge.
    */
  def insertCandidates(source: DataFrame, target: DataFrame,
                       keys: Seq[String]): DataFrame = {
    // Project the target to its key columns before the join: the anti
    // join only needs key existence, so never shuffle non-key bytes.
    source.join(target.select(keys.map(target.col): _*), keys, "left_anti")
  }

  /** Full upsert relational core (Delta MERGE with
    * `when_matched_update_all + when_not_matched_insert_all`): target
    * rows whose keys match the source are REPLACED by the source row,
    * unmatched target rows survive, unmatched source rows insert —
    * i.e. `target ▷ source ∪ source`. The anti join carries the full
    * target row (it must survive), so unlike [[insertCandidates]] only
    * the SOURCE side prunes to keys.
    */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val srcKeys = source.select(keys.map(source.col): _*).distinct()
    target.join(srcKeys, keys, "left_anti")
      .unionByName(source.select(target.columns.map(source.col): _*))
  }

  /** Insert-only merge into a Parquet path: append the anti-join rows.
    * Matched rows are untouched (never rewritten). If the target path
    * doesn't exist yet, the whole source is written (the reference's
    * path-existence check, `main.py:445-446`).
    */
  def insertOnlyMerge(spark: SparkSession, source: DataFrame, targetPath: String,
                      keys: Seq[String],
                      partitionCol: Option[String] = None): Unit = {
    val exists = try {
      spark.read.parquet(targetPath).schema; true
    } catch { case _: Throwable => false }
    val toInsert =
      if (!exists) source
      else insertCandidates(source, spark.read.parquet(targetPath), keys)
    val writer = partitionCol match {
      case Some(c) => toInsert.repartition(toInsert(c)).write.partitionBy(c)
      case None    => toInsert.write
    }
    writer.mode("append").parquet(targetPath)
  }

  // ---- conditional MERGE clauses (Delta's full WHEN grammar) -----------
  //
  // Evaluation frames — the API contract that keeps mixed-side
  // conditions unambiguous without a DSL:
  //  * matched clauses (condition AND update assignments) evaluate over
  //    the target⋈source row with the target aliased `t` and the source
  //    aliased `s` — write `col("t.x")` / `col("s.x")`; an unqualified
  //    shared name is ambiguous and errors, exactly Spark's own rule;
  //  * not-matched (insert) conditions see only the source row, aliased
  //    `s` (plain names also resolve);
  //  * not-matched-BY-SOURCE clauses see only the target row, aliased
  //    `t` (plain names also resolve).
  // Within each group the FIRST clause whose condition holds applies
  // (Delta's clause-order semantics); a row no clause claims carries
  // through unchanged (matched / by-source) or is dropped (insert).

  sealed trait MergeClause { def condition: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE: `set = None` = UPDATE ALL
    * (the target row is replaced by its source row); `Some(m)` assigns
    * only `m`'s columns, the rest carry through from the target. */
  final case class MatchedUpdate(condition: Option[Column],
                                 set: Option[Map[String, Column]]) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MatchedDelete(condition: Option[Column]) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT ALL. */
  final case class NotMatchedInsert(condition: Option[Column]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class NotMatchedBySourceDelete(condition: Option[Column]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET. */
  final case class NotMatchedBySourceUpdate(condition: Option[Column],
                                            set: Map[String, Column]) extends MergeClause

  private[lake] def isMatched(cl: MergeClause): Boolean = cl match {
    case _: MatchedUpdate | _: MatchedDelete => true
    case _                                   => false
  }
  private[lake] def isBySource(cl: MergeClause): Boolean = cl match {
    case _: NotMatchedBySourceDelete | _: NotMatchedBySourceUpdate => true
    case _                                                         => false
  }
  private[lake] def isInsert(cl: MergeClause): Boolean = cl.isInstanceOf[NotMatchedInsert]

  /** `c` with every name reference not already qualified by `side`
    * qualified by it: a one-sided clause's plain names resolve in the
    * joined frame, where a name both sides carry would be ambiguous. */
  private def onSide(c: Column, side: String): Column =
    GraftColumnBridge.column(GraftColumnBridge.expression(c).transform {
      case a: UnresolvedAttribute if a.nameParts.head != side =>
        UnresolvedAttribute(side +: a.nameParts)
    })

  /** A clause's condition, resolvable in the joined frame. */
  private def condOf(cl: MergeClause): Column = {
    val c = cl.condition.getOrElse(lit(true))
    if (isBySource(cl)) onSide(c, "t") else if (isInsert(cl)) onSide(c, "s") else c
  }

  /** Index of the first clause of `clauses` whose condition holds, -1
    * when none does — built right-to-left so the first tests first. */
  private def firstMatch(clauses: Seq[(MergeClause, Int)]): Column =
    clauses.foldRight(lit(-1)) { case ((cl, i), acc) =>
      when(condOf(cl), lit(i)).otherwise(acc)
    }

  /** The rewrite of a conditional merge as ONE join of the affected
    * target `slice` with the `source`, plus a per-row clause pick:
    *  - a slice row with a source partner takes the first matched
    *    clause that holds (update image, delete, or carried through);
    *  - a slice row without one takes the first by-source clause;
    *  - with matched AND insert clauses (a FULL outer join) a source
    *    row without a slice partner takes the first insert clause, or
    *    drops. The matched-file probe that chose the slice put every
    *    live key the source carries in it, so source rows unmatched
    *    here are unmatched by the whole table.
    * Without matched clauses the join sees only the distinct source
    * keys, and insert clauses are the caller's (no probe ran): a key
    * sent twice must not duplicate the target row it matches.
    * `columns` is the target schema's column order. Pure —
    * [[VersionedTable.mergeConditional]] drives it under the commit
    * protocol; MergeClauseSpec pins the semantics. */
  private[lake] def rewrite(slice: DataFrame, source: DataFrame, keys: Seq[String],
                            clauses: Seq[MergeClause], columns: Seq[String]): DataFrame = {
    val withInserts = clauses.exists(isMatched) && clauses.exists(isInsert)
    val indexed =
      (if (withInserts) clauses else clauses.filterNot(isInsert)).zipWithIndex
    val src =
      if (clauses.exists(isMatched)) source
      else source.select(keys.map(source.col): _*).distinct()
    // A full outer join cannot broadcast, but a source Spark would
    // broadcast is small enough to hash per partition: a shuffled hash
    // join skips both sides' sorts (measured 4 fewer generated-code
    // cache entries per merge). Larger sources keep the sort-merge
    // join, which spills.
    lazy val small = src.queryExecution.optimizedPlan.stats.sizeInBytes <=
      src.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val srcSide = src.withColumn("_g_s", lit(true))
    val joined = slice.withColumn("_g_t", lit(true)).as("t")
      .join((if (withInserts && small) srcSide.hint("shuffle_hash") else srcSide).as("s"),
        keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
        if (withInserts) "full_outer" else "left_outer")
    val inT = col("t._g_t").isNotNull
    val act = when(inT && col("s._g_s").isNotNull,
        firstMatch(indexed.filter(x => isMatched(x._1))))
      .when(inT, firstMatch(indexed.filter(x => isBySource(x._1))))
      .otherwise(firstMatch(indexed.filter(x => isInsert(x._1))))
    val deletes = indexed.collect {
      case (_: MatchedDelete | _: NotMatchedBySourceDelete, i) => i }
    // a delete claim drops the row; so does a source row no insert claims
    val keep = (inT || col("_g_act") >= 0) &&
      (if (deletes.isEmpty) lit(true) else !col("_g_act").isin(deletes: _*))
    val out = columns.map { n =>
      indexed.foldRight(col(s"t.$n")) { case ((cl, i), acc) =>
        val image = cl match {
          case MatchedUpdate(_, None)           => Some(col(s"s.$n"))
          case MatchedUpdate(_, Some(set))      => set.get(n)
          case NotMatchedBySourceUpdate(_, set) => set.get(n).map(onSide(_, "t"))
          case _: NotMatchedInsert              => Some(col(s"s.$n"))
          case _                                => None
        }
        image.fold(acc)(when(col("_g_act") === i, _).otherwise(acc))
      }.as(n)
    }
    joined.withColumn("_g_act", act).filter(keep).select(out: _*)
  }

  /** Source rows an insert clause claims (aliased `s`), projected to
    * `columns`. The rows must already be unmatched by the whole target:
    * the caller's probe or full-key anti-join decided that. */
  private[lake] def inserts(unmatched: DataFrame, clauses: Seq[MergeClause],
                            columns: Seq[String]): DataFrame = {
    require(clauses.forall(isInsert), "inserts takes insert clauses only")
    unmatched.as("s")
      .withColumn("_g_act", firstMatch(clauses.zipWithIndex))
      .filter(col("_g_act") >= 0)
      .select(columns.map(col): _*)
  }
}
