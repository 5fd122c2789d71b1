package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: band-join rewrite for range-condition theta joins.
  *
  * An inner join whose only cross-side predicates are a range
  * (`lo <= t AND t <= hi`) has no equi keys, so Spark plans a
  * BroadcastNestedLoopJoin — O(|L|·|R|) and a non-starter at scale. With
  * a user-declared bin size B (`spark.graft.rangeJoin.binSize`, same
  * opt-in contract as Databricks' range-join hint), the join is
  * rewritten to an equi join on a coarse bucket:
  *
  *   t-side:     bucket_t = t div B                  (one bucket/row)
  *   bound-side: explode(sequence(lo div B, hi div B)) (span/B buckets)
  *
  * joined on `bucket_t = bucket` with the ORIGINAL range predicate kept
  * as the in-band filter. Truncating division is monotone, so
  * `lo ≤ t ≤ hi  ⇒  (lo div B) ≤ (t div B) ≤ (hi div B)` for any sign —
  * the bucket join never loses a match; the residual predicate removes
  * band false-positives. Candidates per row are bounded by band density;
  * the plan becomes a shuffled (or broadcast) HASH join.
  *
  * Scope guards: inner joins, no existing cross-side equality (those
  * already hash-join — also makes the rule idempotent, since the rewrite
  * introduces one), integral range columns (cast timestamps to
  * micros first), deterministic bounds, B > 0.
  */
object RangeJoinBanding extends Rule[LogicalPlan] with PredicateHelper {

  val BIN_SIZE_KEY = "spark.graft.rangeJoin.binSize"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val binSize = graft.GraftConf.parseLong(BIN_SIZE_KEY, conf.getConfString(BIN_SIZE_KEY, "0"))
    if (binSize <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        rewrite(j, left, right, cond, hint, binSize).getOrElse(j)
    }
  }

  private def sideOf(e: Expression, left: LogicalPlan,
                     right: LogicalPlan): Option[Boolean] =
    if (e.references.isEmpty) None
    else if (e.references.subsetOf(left.outputSet)) Some(true)
    else if (e.references.subsetOf(right.outputSet)) Some(false)
    else None

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** (t, bound, tIsLeft) for a conjunct of shape `t >= bound` — i.e. a
    * LOWER bound on t — where t and bound sit on opposite sides.
    */
  private def lowerBound(c: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Boolean)] = {
    val pair = c match {
      case GreaterThanOrEqual(a, b) => Some((a, b))
      case LessThanOrEqual(a, b)    => Some((b, a))
      case _                        => None
    }
    pair.flatMap { case (t, bound) =>
      (sideOf(t, left, right), sideOf(bound, left, right)) match {
        case (Some(tl), Some(bl)) if tl != bl &&
            integral(t) && integral(bound) &&
            t.deterministic && bound.deterministic =>
          Some((t, bound, tl))
        case _ => None
      }
    }
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, hint: JoinHint,
                      binSize: Long): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // existing cross-side equality → already an equi join; also the
    // idempotence guard (the rewrite adds a bucket equality).
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (for (sa <- sideOf(a, left, right); sb <- sideOf(b, left, right))
          yield sa != sb).getOrElse(false)
      case _ => false
    }
    if (hasEqui) return None

    // find t >= lo and t <= hi over the SAME t expression
    val lowers = conjuncts.flatMap(lowerBound(_, left, right))
    val uppers = conjuncts.flatMap { c =>
      // t <= hi  ≡  hi >= t: reuse lowerBound with operands flipped
      val flipped = c match {
        case LessThanOrEqual(a, b)    => Some(GreaterThanOrEqual(b, a))
        case GreaterThanOrEqual(a, b) => Some(LessThanOrEqual(b, a))
        case _                        => None
      }
      flipped.flatMap(f => lowerBound(f, left, right))
        .map { case (bound, t, boundIsLeft) => (t, bound, !boundIsLeft) }
    }
    val matched = for {
      (t, lo, tIsLeft) <- lowers
      (t2, hi, t2IsLeft) <- uppers
      if tIsLeft == t2IsLeft && t.semanticEquals(t2)
    } yield (t, lo, hi, tIsLeft)
    if (matched.isEmpty) return None
    val (t, lo, hi, tIsLeft) = matched.head

    val b = Literal(binSize)
    val bucketT = Alias(IntegralDivide(asLong(t), b), "__graft_bucket_t")()
    // Sequence is timezone-aware (for date/timestamp sequences); without
    // an explicit zone it reports unresolved and fails plan validation.
    val seq = Sequence(IntegralDivide(asLong(lo), b),
      IntegralDivide(asLong(hi), b), Some(Literal(1L)),
      Some(conf.sessionLocalTimeZone))
    // Empty intervals (lo > hi) match nothing in the original theta
    // join; an ascending Sequence would RAISE on them instead — guard
    // with an empty array so those rows simply generate no buckets.
    val guarded = If(LessThanOrEqual(asLong(lo), asLong(hi)), seq,
      Literal.create(Array.empty[Long],
        org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)))
    val gen = Explode(guarded)
    val bucketB = AttributeReference("__graft_bucket",
      gen.elementSchema.head.dataType, gen.elementSchema.head.nullable)()

    val (tSide, boundSide) = if (tIsLeft) (left, right) else (right, left)
    val tPlanned = Project(tSide.output :+ bucketT, tSide)
    val boundPlanned = Generate(gen, unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(bucketB), child = boundSide)

    val bucketEq = EqualTo(bucketT.toAttribute, bucketB)
    val (newLeft, newRight) = if (tIsLeft) (tPlanned, boundPlanned)
                              else (boundPlanned, tPlanned)
    val newJoin = Join(newLeft, newRight, Inner,
      Some(And(cond, bucketEq)), hint)
    Some(Project(j.output, newJoin))
  }
}
