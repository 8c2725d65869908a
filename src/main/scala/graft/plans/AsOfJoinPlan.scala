package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the one whole-operator semantic the reference
  * family needs that Spark's built-ins can't express directly (SURVEY.md
  * §2.4 q_join_asof documents the window-based composition; this is the
  * preference-(c) implementation: custom LogicalPlan + SparkStrategy +
  * SparkPlan).
  *
  * Semantics: for every left row, append the right row with the same key
  * and the greatest time ≤ the left row's time (inclusive as-of); right
  * columns are null when no such row exists. Keys must be LongType; times
  * must be TimestampType (internally long microseconds). NULLs follow SQL
  * comparison semantics: a left row with a NULL key or time matches
  * nothing (null-extended output); a right row with a NULL key or time is
  * never a match.
  *
  * Physical: sort-merge — EnsureRequirements co-partitions both sides on
  * the key (ClusteredDistribution, exactly like SortMergeJoinExec) and
  * sorts each partition by (key, time); the exec then does a single
  * forward merge pass per partition, holding ONE candidate row of state.
  * At 100 TB that is one shuffle per side and O(1) memory per task —
  * strictly better than the m×n inequality-join fallback and equivalent
  * to the union+window trick without materializing the union.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val (lk, lt, rk, rt) = (leftKey, leftTime, rightKey, rightTime)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lProj = UnsafeProjection.create(Seq(lk, lt), lOut)
      val rProj = UnsafeProjection.create(Seq(rk, rt), rOut)
      // bind against nullability-relaxed right attrs: the projection must
      // null-check right columns (they're null for unmatched left rows)
      val resultProj =
        UnsafeProjection.create(outAttrs, lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        // right rows with a NULL key or time can never be a match (SQL
        // comparison semantics) — skip them while advancing
        private def fetchRight(): InternalRow = {
          while (rIt.hasNext) {
            val r = rIt.next()
            val rkt = rProj(r)
            if (!rkt.isNullAt(0) && !rkt.isNullAt(1)) return r.copy()
          }
          null
        }
        private var nextRight: InternalRow = fetchRight()
        private var lastMatch: InternalRow = null
        private var lastKey: Long = 0L
        private var hasLastKey = false

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val l = lIt.next()
          val lkt = lProj(l)
          if (lkt.isNullAt(0) || lkt.isNullAt(1)) {
            // NULL left key/time compares false to everything → no match.
            // (NULL-keyed rows sort first, so the right cursor hasn't moved.)
            joined(l, nullRight)
            return resultProj(joined)
          }
          val lkey = lkt.getLong(0)
          val ltime = lkt.getLong(1)
          if (!hasLastKey || lkey != lastKey) {
            lastMatch = null
            lastKey = lkey
            hasLastKey = true
          }
          var advancing = nextRight != null
          while (advancing) {
            val rkt = rProj(nextRight)
            val rkey = rkt.getLong(0)
            val rtime = rkt.getLong(1)
            if (rkey < lkey || (rkey == lkey && rtime <= ltime)) {
              if (rkey == lkey) lastMatch = nextRight // already a private copy
              nextRight = fetchRight()
              advancing = nextRight != null
            } else {
              advancing = false
            }
          }
          joined(l, if (lastMatch != null) lastMatch else nullRight)
          resultProj(joined)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: AsOfJoin emits exactly one output row per left row, so
  * a limit above it can also run on the left input — at scale this turns
  * "shuffle everything, then keep n rows" into "shuffle n left rows".
  * (The right side still shuffles in full: any right row could be the
  * match.) The inner guard keeps the rewrite from re-firing at fixpoint. */
object AsOfJoinLimitPushdown extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case GlobalLimit(ge, LocalLimit(le, a: AsOfJoin))
        if !a.left.isInstanceOf[LocalLimit] =>
      GlobalLimit(ge, LocalLimit(le, a.copy(left = LocalLimit(le, a.left))))
  }
}

/** Optimizer rule: a literal upper bound on the LEFT time implies the same
  * bound on the RIGHT time — the match time is ≤ the left time, so right
  * rows beyond the bound can never be the as-of match. Adding the bound as
  * a right-side Filter lets it reach the right scan's PushedFilters, which
  * at 100 TB turns "shuffle the entire right history" into "shuffle only
  * rows inside the queried time range" (row-group skipping included).
  *
  * The bound is read from the left child's CONSTRAINTS plus descendant
  * Filter conjuncts, not a single structural Filter match: by the time
  * this batch runs, predicate pushdown has moved the user's filter below
  * any Projects — and when the normalizing projection is a plain
  * timestamp-flavor cast, the optimizer UNWRAPS the comparison onto the
  * raw scan column, so the bound is no longer a constraint on `leftTime`
  * at all. We therefore also follow leftTime's identity/timestamp-cast
  * alias chain down the left tree and accept bounds expressed on any
  * attribute in that chain (a timestamp↔ntz cast is micros-identity under
  * the UTC session semantics this engine pins, so the bound transfers
  * unchanged). The right-constraints guard keeps the rewrite from
  * re-firing at fixpoint. */
object AsOfJoinTimeFilterPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute => Attr, Cast, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
  import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

  /** Both timestamp flavors carry epoch micros; the exec compares the raw
    * micros across them, so rebasing the literal onto the right side's
    * flavor preserves exactly the exec's match semantics (and keeps the
    * generated Filter resolved). */
  private def retype(l: Literal, rt: Attr): Option[Literal] =
    (l.dataType, rt.dataType) match {
      case (a, b) if a == b => Some(l)
      case (TimestampType | TimestampNTZType, TimestampType | TimestampNTZType) =>
        Some(Literal(l.value, rt.dataType))
      case _ => None
    }

  private def isTsFlavor(e: Expression): Boolean =
    e.dataType == TimestampType || e.dataType == TimestampNTZType

  /** A timestamp↔ntz Cast evaluates through the session time zone; treating
    * it as micros-identity is only sound when that zone is UTC. Every
    * `GraftSession` pins UTC, but `Surface.install` also runs on plain
    * sessions with any zone, so the rule checks. */
  private def utcSession: Boolean = {
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }
  }

  /** The unary-operator chain from `p` down to the first non-unary node
    * (scan, join, Union, ...). Filters/Projects gathered here dominate every
    * row reaching the join; walking DEEPER is unsound — a Union reuses its
    * first child's exprIds in its output, so a Filter inside one branch
    * would masquerade as a bound that holds for all branches. */
  private def spine(p: LogicalPlan): Seq[LogicalPlan] = {
    val buf = scala.collection.mutable.Buffer[LogicalPlan]()
    var cur = p
    var descend = true
    while (descend) {
      buf += cur
      cur match {
        case u: org.apache.spark.sql.catalyst.plans.logical.UnaryNode =>
          cur = u.child
        case _ => descend = false
      }
    }
    buf.toSeq
  }

  /** exprIds that carry the same micros as `t`: t itself plus every
    * attribute it is a Project alias of, through identity or (UTC sessions
    * only) timestamp-flavor casts — restricted to the unary spine so alias
    * chains inside Union branches are never followed. */
  private def timeIds(left: LogicalPlan, t: Attr): Set[Long] = {
    val chain = spine(left)
    var ids = Set(t.exprId.id)
    var grew = true
    while (grew) {
      grew = false
      chain.foreach {
        case p: Project => p.projectList.foreach {
          case al: Alias if ids.contains(al.exprId.id) =>
            val under = al.child match {
              case a: Attr if isTsFlavor(a) => Some(a)
              case Cast(a: Attr, TimestampType | TimestampNTZType, _, _)
                  if isTsFlavor(a) && utcSession => Some(a)
              case _ => None
            }
            under.foreach { a =>
              if (!ids.contains(a.exprId.id)) { ids += a.exprId.id; grew = true }
            }
          case _ =>
        }
        case _ =>
      }
    }
    ids
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => other :: Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a: AsOfJoin =>
      val ids = timeIds(a.left, a.leftTime)
      def onTime(t: Attr): Boolean = ids.contains(t.exprId.id)
      val cands: Seq[Expression] = a.left.constraints.toSeq ++
        spine(a.left).collect { case f: Filter => conjuncts(f.condition) }.flatten
      val bounds: Seq[Expression] = cands.collect {
        case LessThanOrEqual(t: Attr, l: Literal) if onTime(t) =>
          retype(l, a.rightTime).map(LessThanOrEqual(a.rightTime, _))
        case LessThan(t: Attr, l: Literal) if onTime(t) =>
          retype(l, a.rightTime).map(LessThan(a.rightTime, _)) // rt ≤ lt < T ⇒ rt < T
        case GreaterThanOrEqual(l: Literal, t: Attr) if onTime(t) =>
          retype(l, a.rightTime).map(LessThanOrEqual(a.rightTime, _))
        case GreaterThan(l: Literal, t: Attr) if onTime(t) =>
          retype(l, a.rightTime).map(LessThan(a.rightTime, _))
      }.flatten
      val fresh = bounds.filterNot(b => a.right.constraints.exists(_.semanticEquals(b)))
      if (fresh.isEmpty) a
      else a.copy(right = Filter(fresh.reduce(And), a.right))
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt) =>
      AsOfJoinExec(lk, lt, rk, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Dataset-level API. */
object AsOfJoinApi {
  /** asofJoin(left, right): left rows + the latest right row per key at or
    * before the left time. Columns are resolved by name on each side.
    * Types are validated here because the exec reads keys and times as
    * raw longs (getLong) — an int key or date time would silently read
    * garbage instead of failing. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val spark = left.sparkSession
    // the one public builder of a custom logical node: nothing plans it
    // without the strategy, so it installs the surface itself
    graft.functions.Surface.install(spark)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    def requireType(a: Attribute, what: String, ok: Boolean): Attribute = {
      if (!ok) throw new IllegalArgumentException(
        s"asofJoin: $what column ${a.name} must be of the required type, got ${a.dataType}")
      a
    }
    def keyAttr(p: LogicalPlan, n: String): Attribute = {
      val a = attr(p, n)
      requireType(a, "key", a.dataType == LongType)
    }
    def timeAttr(p: LogicalPlan, n: String): Attribute = {
      val a = attr(p, n)
      requireType(a, "time",
        a.dataType == TimestampType || a.dataType == TimestampNTZType)
    }
    GraftShim.ofRows(spark,
      AsOfJoin(lp, rp, keyAttr(lp, leftKey), timeAttr(lp, leftTime),
        keyAttr(rp, rightKey), timeAttr(rp, rightTime)))
  }
}
