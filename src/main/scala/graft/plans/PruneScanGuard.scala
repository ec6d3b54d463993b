package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Abs, Alias, And, Attribute, BinaryArithmetic, BinaryComparison, BoundReference, CaseWhen, Cast, Coalesce, Expression, If, In, InSet, IsNotNull, IsNull, KnownFloatingPointNormalized, Length, Literal, MakeDecimal, Not, Or, UnaryMinus, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Count, Max, Min, Partial, Sum}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, NormalizeNaNAndZero}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Deletes a dead round-robin scan guard.
  *
  * [[graft.Tables.apply]] puts `repartition(numShufflePartitions)` — a
  * round-robin exchange — above every scan that would run in fewer
  * tasks, so that per-row compute over a one-file table does not run in
  * one task. The guard is dead when its rows reach the next exchange
  * (shuffle or broadcast) only through operators that cost less per row
  * than the guard's own map side, which is itself one task that reads
  * and serialises every row:
  *
  *  - `FilterExec`/`ProjectExec` whose expressions are built only from
  *    attributes, literals, comparisons, boolean logic, arithmetic,
  *    casts, null checks, `IN`, conditionals, string `length` (one read
  *    pass over bytes the guard would copy anyway) and decimal/float
  *    normalisation. This is an allow-list: regex, hash and
  *    string-transform functions, UDFs, graft kernels, generators,
  *    higher-order and nondeterministic functions all keep the guard;
  *  - a `Partial` `HashAggregateExec` whose functions give the same
  *    result in any row order (`count`, `min`/`max` over non-floating
  *    input, `sum` over integral or decimal input) — a floating `sum`
  *    rounds by order, and a floating `min`/`max` keeps whichever of
  *    `0.0`/`-0.0` came first;
  *  - the streamed side of a `BroadcastHashJoinExec`.
  *
  * Such a guard only adds a shuffle, a job and its tasks, at any core
  * count, so it is removed. It stays everywhere else: with no exchange
  * above it (cached relations, writes, collects) or with real per-row
  * compute before the next exchange.
  *
  * The rule matches the exchange, not its origin, so it also removes a
  * round-robin `repartition(n)` written by hand above such a chain.
  * Consumers that impose their own partitioning right after per-row
  * string work (the cached corpora's `repartition(doc_id)`) read
  * [[graft.Tables.raw]], since the guard there would be kept.
  *
  * Injected by [[graft.functions.GraftExtensions]] as a query-stage
  * preparation rule, so it runs after `EnsureRequirements` has placed
  * every exchange, at each adaptive re-plan.
  */
object PruneScanGuard extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e: ShuffleExchangeExec => e.withNewChildren(Seq(prune(e.child)))
    case b: BroadcastExchangeExec => b.withNewChildren(Seq(prune(b.child)))
  }

  /** `p`, the input of an exchange, with a guard that feeds it through
    * a cheap chain removed. */
  private def prune(p: SparkPlan): SparkPlan = p match {
    case ShuffleExchangeExec(_: RoundRobinPartitioning, child, REPARTITION_BY_NUM, _) => child
    case f: FilterExec if cheap(f.condition) => f.withNewChildren(Seq(prune(f.child)))
    case pr: ProjectExec if pr.projectList.forall(cheap) =>
      pr.withNewChildren(Seq(prune(pr.child)))
    case a: HashAggregateExec if orderFree(a) => a.withNewChildren(Seq(prune(a.child)))
    case j: BroadcastHashJoinExec
        if (j.leftKeys ++ j.rightKeys ++ j.condition).forall(cheap) =>
      j.buildSide match {
        case BuildRight => j.withNewChildren(Seq(prune(j.left), j.right))
        case BuildLeft => j.withNewChildren(Seq(j.left, prune(j.right)))
      }
    case other => other
  }

  /** True when every node of `e` is on the allow-list of operations
    * that cost less per row than serialising the row. */
  private def cheap(e: Expression): Boolean = !e.exists {
    case _: Attribute | _: BoundReference | _: Literal | _: Alias => false
    case _: BinaryComparison | _: And | _: Or | _: Not => false
    case _: BinaryArithmetic | _: UnaryMinus | _: Abs => false
    case _: Cast | _: IsNull | _: IsNotNull | _: In | _: InSet | _: Length => false
    case _: If | _: CaseWhen | _: Coalesce => false
    case _: UnscaledValue | _: MakeDecimal => false
    case _: KnownFloatingPointNormalized | _: NormalizeNaNAndZero => false
    case _ => true
  }

  private def orderFree(a: HashAggregateExec): Boolean =
    a.requiredChildDistributionExpressions.isEmpty &&
      a.groupingExpressions.forall(cheap) &&
      a.aggregateExpressions.forall { ae =>
        ae.mode == Partial && !ae.isDistinct && ae.filter.forall(cheap) &&
          orderFree(ae.aggregateFunction) && ae.aggregateFunction.children.forall(cheap)
      }

  private def orderFree(f: AggregateFunction): Boolean = f match {
    case _: Count => true
    case _: Min | _: Max =>
      f.children.forall(c => c.dataType != FloatType && c.dataType != DoubleType)
    case s: Sum => s.child.dataType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
      case _ => false
    }
    case _ => false
  }
}
