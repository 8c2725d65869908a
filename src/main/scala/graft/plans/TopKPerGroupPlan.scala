package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The cosine-top-k rewrite (SURVEY.md §4 stretch): recognize the
  * declarative "score candidates, keep the top k per probe" shape —
  * `Filter(rn ≤ k, Window(row_number() OVER (PARTITION BY g ORDER BY s)))`
  * — and plan it as a purpose-built two-phase bounded-heap operator
  * instead of the generic window stack.
  *
  * Why EXACT two-phase and not a silent LSH/IVF swap: a rewrite must
  * preserve semantics. A user who wrote brute-force cosine top-k gets
  * exact answers; silently substituting an approximate index would
  * return different rows for the same query — a correctness bug wearing
  * an optimization's clothes (and the DuckDB oracle would catch it
  * immediately). The approximate scale path is therefore an EXPLICIT
  * surface (`q_sim_ann_*`); this rule optimizes the exact path.
  *
  * What it improves over Spark's own InferWindowGroupLimit two-phase
  * (which bounds the exchange to k rows per group per partition, but
  * still fully SORTS every scored partition twice — once below the
  * partial WindowGroupLimit, once below the final one, O(m log m) per
  * partition of scored candidates):
  *   partial phase  — one streaming pass per input partition keeping a
  *                    k-bounded binary heap per group: O(m log k), no
  *                    materialized sort, same exchange volume (≤ k rows
  *                    per group per partition);
  *   final phase    — same heaps after the group exchange, then each
  *                    group's ≤ k·P survivors drain in order with
  *                    row_number attached directly (no Window re-sort).
  * At 100 TB of scored candidates per probe the partial phase is the
  * difference between sorting the candidate set and scanning it.
  *
  * Memory safety (no OOM trap outside the design envelope): BOTH
  * phases hold bounded state, so unbounded group cardinality degrades,
  * never dies.
  *   partial — heap state is capped by
  *             `TopKPerGroupStrategy.PartialRowBudget` rows (4M ≈ tens
  *             of MB; tracked groups = budget/k). Once the
  *             budget is hit, rows of NEW groups pass through
  *             UNFILTERED — sound, because the partial phase is only a
  *             row-reducing optimization and the final phase computes
  *             the exact answer over any superset. A hot partition
  *             trades shuffle volume for memory, not correctness.
  *   final   — requires child ordering on the group keys (a spill-safe
  *             SortExec over the already-k-bounded survivors, inserted
  *             by EnsureRequirements), so exactly ONE k-heap is live at
  *             a time: O(k) state regardless of group count. The sort
  *             input is ≤ k rows per group per map partition — tiny
  *             relative to the scanned candidate set, where the win is.
  * `CosineTopKRewrite.MaxK` (1000) bounds k. To disable the rewrite, use
  * Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.CosineTopKRewrite`.
  * Exactness is oracle-gated fleet-wide either way.
  *
  * Tie semantics: `row_number` over a non-total within-group order is
  * unspecified in SQL, and this operator's choice among tied rows
  * (strict-< heap admission = keep-first-seen, then
  * `java.util.PriorityQueue`'s arbitrary drain order among equals)
  * can differ from the sort-based window's choice AND vary with
  * partitioning — i.e. the unspecifiedness is plan-dependent here, not
  * merely order-dependent. Queries that need stable results must make
  * the ORDER BY a total order (append a unique tiebreaker column), as
  * every in-repo query does.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression], order: Seq[SortOrder], k: Int,
    rnAttr: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Optimizer rule matching the rank-limit shape. Conservative by
  * construction: fires only on a single-expression `row_number` window
  * with non-empty partition AND order specs, a conjunct bounding that
  * row number by an integer literal, and k at most `MaxK`; anything
  * else keeps the original node (by reference, so the fixed-point batch
  * sees no change). The rule runs in the "User
  * Provided Optimizers" batch (`Surface.install` lists it through
  * `spark.experimental`), after Spark's InferWindowGroupLimit, so a
  * WindowGroupLimit pre-filter already below the window is subsumed and
  * removed when it matches the same spec. Non-limit conjuncts survive as
  * a Filter above the rewritten node. */
object CosineTopKRewrite extends Rule[LogicalPlan] with PredicateHelper {
  /** The largest k the rule rewrites; a larger k keeps the window plan. */
  val MaxK = 1000

  private def limitFrom(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transform {
      case f @ Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
            parts, order, wchild, _)) if parts.nonEmpty && order.nonEmpty =>
        val rn = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val ks = conjuncts.flatMap(limitFrom(_, rn))
        if (ks.isEmpty || ks.min <= 0 || ks.min > MaxK) f
        else {
          val k = ks.min
          val input = wchild match {
            case WindowGroupLimit(p2, o2, _, l2, inner)
                if p2 == parts && o2 == order && l2 >= k => inner
            case other => other
          }
          val topk = TopKPerGroup(parts, order, k, rn, input)
          val rest = conjuncts.filter(c => limitFrom(c, rn).isEmpty)
          if (rest.isEmpty) topk else Filter(rest.reduce(And), topk)
        }
    }
  }
}

object TopKPerGroupStrategy extends SparkStrategy {
  /** The partial phase's heap state cap, in rows. */
  val PartialRowBudget = 4000000L

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, rn, child) =>
      // partial (per input partition, no rn yet, state ≤ budget rows) →
      // group exchange + group sort (EnsureRequirements satisfies the
      // final's ClusteredDistribution + ordering) → final (one heap)
      val partial = TopKPerGroupExec(g, o, k, None, PartialRowBudget, planLater(child))
      TopKPerGroupExec(g, o, k, Some(rn), PartialRowBudget, partial) :: Nil
    case _ => Nil
  }
}

/** One streaming pass keeping a k-bounded heap per group. `rnAttr=None`
  * is the partial (pre-shuffle) phase emitting the retained rows —
  * state capped at `partialRowBudget` rows, overflow groups pass
  * through unfiltered (sound superset; see the rule scaladoc).
  * `Some(rn)` is the final phase: child ordered by the group keys, ONE
  * live k-heap, each group's survivors emitted in order with the row
  * number attached — O(k) state at any group cardinality. The heap
  * root is the WORST retained row (reverse ordering), so admission is
  * a single compare against the root. */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression], order: Seq[SortOrder], k: Int,
    rnAttr: Option[Attribute], partialRowBudget: Long,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rnAttr
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr.toSeq)
  override def requiredChildDistribution: Seq[Distribution] =
    (if (rnAttr.isDefined) ClusteredDistribution(groupExprs)
     else UnspecifiedDistribution) :: Nil
  // final phase: group-clustered AND group-sorted input → one heap at a
  // time. The sort (inserted by EnsureRequirements) spills, the heap
  // doesn't need to.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (if (rnAttr.isDefined) groupExprs.map(SortOrder(_, Ascending)) else Nil) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  private def newHeap(worstFirst: java.util.Comparator[InternalRow]) =
    new java.util.PriorityQueue[InternalRow](math.min(k, 64) + 1, worstFirst)

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk) = (groupExprs, order, k)
    val childOut = child.output
    val rn = rnAttr
    val outAttrs = output
    val maxGroups = math.max(1L, partialRowBudget / math.max(1, kk))
    child.execute().mapPartitions({ it =>
      val grpProj = UnsafeProjection.create(g, childOut)
      val ord = new LazilyGeneratedOrdering(o, childOut)
      val worstFirst: java.util.Comparator[InternalRow] = ord.reverse
      def admit(h: java.util.PriorityQueue[InternalRow], row: InternalRow): Unit =
        if (h.size < kk) h.add(row.copy())
        else if (ord.compare(row, h.peek()) < 0) { h.poll(); h.add(row.copy()) }
      rn match {
        case None =>
          // LinkedHashMap: deterministic (first-seen) group emit order
          val heaps =
            new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
          // pass-through rows stream out inline; retained heaps flush
          // after input is exhausted (++ evaluates its operand lazily)
          it.flatMap { row =>
            val key = grpProj(row)
            val h = heaps.get(key)
            if (h != null) { admit(h, row); Iterator.empty }
            else if (heaps.size() < maxGroups) {
              val nh = newHeap(worstFirst)
              heaps.put(key.copy(), nh)
              admit(nh, row); Iterator.empty
            } else Iterator.single(row) // budget hit: sound superset
          } ++ heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
        case Some(attr) =>
          val rnRow = new GenericInternalRow(1)
          val joined = new JoinedRow
          val proj = UnsafeProjection.create(outAttrs, childOut :+ attr)
          def drain(h: java.util.PriorityQueue[InternalRow]): Iterator[InternalRow] = {
            // drain worst-first, fill backwards → best-first with rn 1..n
            val arr = new Array[InternalRow](h.size)
            var i = arr.length - 1
            while (i >= 0) { arr(i) = h.poll(); i -= 1 }
            arr.iterator.zipWithIndex.map { case (r, idx) =>
              rnRow.update(0, idx + 1)
              proj(joined(r, rnRow))
            }
          }
          // child is group-sorted: one live heap, emitted on key change
          new Iterator[InternalRow] {
            private var cur: UnsafeRow = _
            private val heap = newHeap(worstFirst)
            private var out: Iterator[InternalRow] = Iterator.empty
            override def hasNext: Boolean = {
              while (!out.hasNext && it.hasNext) {
                val row = it.next()
                val key = grpProj(row)
                if (cur == null) cur = key.copy()
                else if (key != cur) { out = drain(heap); cur = key.copy() }
                admit(heap, row)
              }
              if (!out.hasNext && !it.hasNext && cur != null) {
                out = drain(heap); cur = null
              }
              out.hasNext
            }
            override def next(): InternalRow = out.next()
          }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
