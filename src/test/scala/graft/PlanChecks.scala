package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  ExprId, Expression, MonotonicallyIncreasingID, SparkPartitionID}
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Shared physical-plan inspection for the hygiene sweeps — extracted
  * from PlanHygieneSpec so the shape classifiers can be unit-tested
  * directly (ADVICE r10: the offset-shape check needs its own negative
  * cases, and the exchange census needs a cached-subtree-inclusive
  * variant).
  *
  * AdaptiveSparkPlanExec is a LEAF to `collect` — every walker here
  * unwraps it wherever it appears, and descends into cached relations
  * (`InMemoryTableScanExec`) where the check's contract says it must.
  */
object PlanChecks {

  // `initialPlan`, not `inputPlan`: EnsureRequirements runs inside
  // AQE's stage-preparation rules, so `inputPlan` predates the
  // distribution-required exchanges (joins, aggregations) and a census
  // over it sees only planner-inserted shuffles (explicit
  // repartitions). `initialPlan` is the full pre-execution exchange
  // set — the honest count (discovered while adding the cached-subtree
  // census: a cached groupBy's exchange was invisible via inputPlan).
  private def unwrapA(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case o => o
  }

  /** Exchanges per EXECUTION of this plan: descends through AQE but
    * NOT into cached relations — a cached subtree materializes once
    * and amortizes, so its build cost is its own plan's business. */
  def exchanges(p: SparkPlan): Int = unwrapA(p).collect {
    case _: Exchange => 1
    case a: AdaptiveSparkPlanExec => exchanges(a)
  }.sum

  /** Total exchange census INCLUDING cached subtrees, each DISTINCT
    * cached relation counted once (deduped by the relation's
    * cacheBuilder identity — the one CacheManager shares across every
    * scan of the same cache). This is the build-everything-cold count
    * the per-execution ceiling deliberately excludes: without it, a
    * regression that piles exchanges below a cache boundary is
    * invisible to the hygiene sweep (ADVICE r10 #3). */
  def exchangesWithCached(p: SparkPlan): Int = {
    val seen = scala.collection.mutable.HashSet.empty[AnyRef]
    def walk(pl: SparkPlan): Int = unwrapA(pl).collect {
      case _: Exchange => 1
      case a: AdaptiveSparkPlanExec => walk(a)
      case s: InMemoryTableScanExec =>
        if (seen.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan)
        else 0
    }.sum
    walk(p)
  }

  /** CartesianProduct census — counted EVERYWHERE, cached subtrees
    * included: an all-pairs product is never acceptable. */
  def cartesians(p: SparkPlan): Int = unwrapA(p).collect {
    case _: CartesianProductExec => 1
    case a: AdaptiveSparkPlanExec => cartesians(a)
    case s: InMemoryTableScanExec => cartesians(s.relation.cachedPlan)
  }.sum

  /** Every WindowExec in the plan, collected RECURSIVELY through
    * nested AQE nodes and cached relations. */
  def windowsOf(p: SparkPlan): Seq[WindowExec] = {
    val root = unwrapA(p)
    root.collect {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => windowsOf(a)
      case s: InMemoryTableScanExec => windowsOf(s.relation.cachedPlan)
    }.flatten
  }

  /** Skip row-preserving pass-through nodes down to the relation a
    * window actually rides. WindowExec is pass-through too: a window
    * is row-preserving, so the relation it rides is bounded iff the
    * relation below it is — GlobalRank's offset select stacks TWO
    * windows (cumulative __off + full-frame __n) over the one
    * per-partition aggregate. */
  @scala.annotation.tailrec
  def firstNonPassthrough(p: SparkPlan): SparkPlan = p match {
    case pt @ (_: ProjectExec | _: SortExec | _: FilterExec |
               _: Exchange | _: WindowExec | _: CoalesceExec) =>
      firstNonPassthrough(pt.children.head)
    case other => other
  }

  /** Alias definitions (exprId → defining expression) visible below
    * `p`: every ProjectExec's aliases plus aggregate result aliases,
    * descending through AQE wrappers and INTO cached relations. A
    * cached scan's instanced output attributes (MultiInstanceRelation
    * re-ids them on self-join) are linked positionally to the cached
    * plan's original output so resolution chains across the cache
    * boundary. */
  private def aliasDefs(p: SparkPlan): Map[ExprId, Expression] = {
    val defs = scala.collection.mutable.HashMap.empty[ExprId, Expression]
    def walk(pl: SparkPlan): Unit = unwrapA(pl).foreach {
      case pr: ProjectExec => pr.projectList.foreach {
        case al: Alias => defs(al.exprId) = al.child
        case _ => ()
      }
      case ag: BaseAggregateExec => ag.resultExpressions.foreach {
        case al: Alias => defs(al.exprId) = al.child
        case _ => ()
      }
      case a: AdaptiveSparkPlanExec => walk(a)
      case s: InMemoryTableScanExec =>
        s.relation.output.zip(s.relation.cachedPlan.output).foreach {
          case (inst, orig) if inst.exprId != orig.exprId =>
            defs(inst.exprId) = orig
          case _ => ()
        }
        walk(s.relation.cachedPlan)
      case _ => ()
    }
    walk(p)
    defs.toMap
  }

  /** The GlobalRank offset shape, matched STRUCTURALLY: skipping only
    * pass-through nodes, the windowed relation must BE an aggregate
    * output whose GROUPING KEY is derived (through any chain of
    * project/aggregate aliases, across cache boundaries) from
    * `spark_partition_id()` or `monotonically_increasing_id()` — then
    * the relation is ≤ parts·|groups| rows by construction and a
    * single-partition window over it is fine.
    *
    * The round-10 version established the direct-child-chain rule but
    * matched the id evidence by `toString.contains` over the
    * aggregate's whole subtree — an aggregate grouping on a data-sized
    * key above any id-bearing projection still passed (ADVICE r10 /
    * VERDICT r10 residual #1). This version inspects
    * `groupingExpressions` and resolves attribute lineage explicitly;
    * PlanChecksSpec carries the negative case. */
  def isOffsetShape(w: WindowExec): Boolean =
    firstNonPassthrough(w.child) match {
      case a: BaseAggregateExec if a.groupingExpressions.nonEmpty =>
        val defs = aliasDefs(a)
        def derived(e: Expression, seen: Set[ExprId]): Boolean = e match {
          case _: SparkPartitionID | _: MonotonicallyIncreasingID => true
          case ar: AttributeReference =>
            !seen(ar.exprId) &&
              defs.get(ar.exprId).exists(derived(_, seen + ar.exprId))
          case other => other.children.exists(derived(_, Set.empty ++ seen))
        }
        a.groupingExpressions.exists(derived(_, Set.empty))
      case _ => false
    }

  /** Every node of an executed plan's final adaptive form, query
    * stages and subqueries opened (not cached relations). */
  def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: QueryStageExec => finalNodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(finalNodes)
  }
}
