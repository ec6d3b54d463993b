package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType}

/** Transparent materialized-summary rewrite — the cube-serving pattern
  * every 100 TB warehouse runs on: a pre-aggregated summary table is
  * registered for a base table, and a Catalyst optimizer [[Rule]]
  * re-routes MATCHING aggregate queries to re-aggregate the (orders of
  * magnitude smaller) summary instead of scanning the base — with zero
  * query changes. The reference has no optimizer at all (straight-line
  * Python over per-document payloads, e.g. main.py:60-118); this is the
  * Spark-first capability a user gains by switching: the fact scan —
  * the dominant cost of every reporting query at scale — is paid once
  * at ingest, and every compatible rollup afterwards reads |groups|
  * rows.
  *
  * Soundness rests on re-aggregability: the summary stores, per
  * grouping-key combination, partial states that re-combine exactly —
  * sum(x) (doubles pre-cast to decimal(18,6) so re-summation is
  * ASSOCIATIVE, not just approximately so), min(x), max(x) and
  * count(*) (re-combined as sum of counts). A query is rewritten only
  * when EVERY output is derivable: grouping columns ⊆ summary keys,
  * every aggregate one of the four supported shapes over a registered
  * measure (no DISTINCT, no FILTER clause), filters — if any — touch
  * key columns only. One unsupported output bails the whole aggregate;
  * correctness is oracle-proven (`infra_summary_rewrite` hash-matches
  * DuckDB running the same SQL against the BASE table) and the rewrite
  * is plan-pinned by SummaryRewriteSpec.
  *
  * Output attributes of the rewritten Aggregate keep their original
  * exprIds (aliases re-bound onto summary columns), so parent operators
  * resolve untouched; types are cast back where re-aggregation widens
  * them (decimal sum-of-sums) and non-null outputs (count) are tagged
  * [[KnownNotNull]] where the parquet round trip widened nullability.
  */
object SummaryRewrite {
  /** castForm: true when the summary pre-cast the measure to
    * decimal(18,6) before summing (floating-point bases) — the query's
    * sum child must use the identical cast to be eligible. */
  private case class Summary(keys: Seq[String], castForm: Map[String, Boolean],
                             relation: LogicalRelation)

  /** base-table canonical path -> registered summary. Keyed by full
    * path (not table name) so the same base table at two data scales
    * never serves the other's summary. */
  private val registry = TrieMap.empty[String, Summary]

  private def token(sfDir: String, base: String): String =
    new java.io.File(s"$sfDir/$base.parquet").getCanonicalPath

  def clear(): Unit = registry.clear()

  /** Build (once per Spark application + dataset), persist, and
    * register the summary for `base` grouped by `keys` covering
    * `measures`. Write-once: the one shuffle this pattern ever pays. */
  def register(spark: SparkSession, sfDir: String, base: String,
               keys: Seq[String], measures: Seq[String]): Unit = {
    val key = token(sfDir, base)
    if (registry.contains(key)) return
    val src = graft.Tables.raw(spark, sfDir, base)
    val castForm = measures.map { m =>
      val dt = src.schema(m).dataType
      m -> (dt == DoubleType || dt == FloatType)
    }.toMap
    val aggs = measures.flatMap { m =>
      val sumChild = if (castForm(m)) col(m).cast("decimal(18,6)") else col(m)
      Seq(sum(sumChild).as(s"graft_sum_$m"),
        min(col(m)).as(s"graft_min_$m"), max(col(m)).as(s"graft_max_$m"))
    } :+ count(lit(1)).as("graft_cnt")
    val ds = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${graft.GraftSession.scratch(spark)}/mv-$base-$ds"
    if (!new java.io.File(path).exists())
      src.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(path)
    val rel = spark.read.parquet(path).queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(sys.error(s"summary read did not plan as LogicalRelation"))
    registry.put(key, Summary(keys, castForm, rel))
  }

  private[plans] def isEmpty: Boolean = registry.isEmpty

  /** The base-relation matcher: strip column-pruning projects,
    * parallelism repartitions, and key-only filters off the aggregate's
    * child; succeed iff the leaf is a registered base scan. */
  private def strip(p: LogicalPlan, filters: Seq[Expression])
      : Option[(Summary, Seq[Expression])] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      strip(c, filters)
    case Repartition(_, _, c) => strip(c, filters)
    case Filter(cond, c) => strip(c, filters :+ cond)
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.toSeq match {
          case Seq(rp) => registry.get(rp.toUri.getPath).map((_, filters))
          case _ => None
        }
      case _ => None
    }
    case _ => None
  }

  private object BailOut extends Exception { def raise(): Nothing = throw this }

  /** Attempt the rewrite; None leaves the aggregate untouched. */
  private[plans] def rewrite(agg: Aggregate): Option[Aggregate] = {
    val stripped = strip(agg.child, Nil)
    if (stripped.isEmpty) return None
    val (s, filters) = stripped.get
    val keySet = s.keys.toSet
    try {
      // every grouping expression must be a key attribute; every filter
      // must touch keys only (so it commutes with the pre-aggregation)
      val groupNames = agg.groupingExpressions.map {
        case a: AttributeReference if keySet(a.name) => a.name
        case _ => BailOut.raise()
      }
      // `references.forall` is vacuously true for reference-free
      // predicates, so a nondeterministic filter (rand() < 0.5) would
      // slip through and be re-evaluated per-GROUP instead of per-row —
      // require determinism explicitly.
      if (filters.exists(f =>
            !f.deterministic || !f.references.forall(a => keySet(a.name))))
        BailOut.raise()

      val rel = s.relation.newInstance()
      val mv: Map[String, Attribute] = rel.output.map(a => a.name -> a).toMap

      // measure extraction: sum children must match the summary's exact
      // pre-aggregated form (plain column, or the decimal(18,6) cast)
      def sumMeasure(e: Expression): Option[String] = e match {
        case a: AttributeReference if s.castForm.get(a.name).contains(false) =>
          Some(a.name)
        case c: Cast if c.dataType == DecimalType(18, 6) => c.child match {
          case a: AttributeReference if s.castForm.get(a.name).contains(true) =>
            Some(a.name)
          case _ => None
        }
        case _ => None
      }
      def reagg(fn: AggregateFunction): Expression = fn match {
        case sm: Sum =>
          val m = sumMeasure(sm.child).getOrElse(BailOut.raise())
          Sum(mv(s"graft_sum_$m")).toAggregateExpression()
        case Min(a: AttributeReference) if s.castForm.contains(a.name) =>
          Min(mv(s"graft_min_${a.name}")).toAggregateExpression()
        case Max(a: AttributeReference) if s.castForm.contains(a.name) =>
          Max(mv(s"graft_max_${a.name}")).toAggregateExpression()
        // count(NULL) is foldable but always 0 — only a provably
        // non-null literal (count(1), count('x')) is count(*).
        case Count(Seq(l)) if l.foldable && (!l.nullable || l.eval() != null) =>
          Sum(mv("graft_cnt")).toAggregateExpression()
        case _ => BailOut.raise()
      }
      // re-bind each output onto the summary, PRESERVING exprIds so
      // parent plans resolve; restore type and nullability where the
      // re-aggregation or the parquet round trip widened them
      def fit(e: Expression, dt: DataType, nullable: Boolean): Expression = {
        val cast = if (e.dataType == dt) e else Cast(e, dt, None)
        if (!nullable && cast.nullable) KnownNotNull(cast) else cast
      }
      // convert an arbitrary result expression: each embedded aggregate
      // re-derives from the summary (cast back to its original type at
      // the replacement point, so every parent node keeps its input
      // types), each bare attribute must be a grouping key. SQL-face
      // aggregates arrive with post-processing INLINE in the aggregate
      // list — round(cast(sum(x) as double), 4) — not as a Project
      // above it, so the walk has to see through arbitrary scalar
      // structure, not just Alias(AggregateExpression).
      def convert(e: Expression): Expression = e match {
        case ae @ AggregateExpression(fn, _, false, None, _) =>
          fit(reagg(fn), ae.dataType, nullable = true)
        case _: AggregateExpression => BailOut.raise()
        case a: AttributeReference =>
          if (keySet(a.name)) mv(a.name) else BailOut.raise()
        case other => other.mapChildren(convert)
      }
      val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference if keySet(a.name) =>
          Alias(fit(mv(a.name), a.dataType, a.nullable), a.name)(exprId = a.exprId)
        case al @ Alias(child, _) =>
          Alias(fit(convert(child), al.dataType, al.nullable), al.name)(
            exprId = al.exprId)
        case _ => BailOut.raise()
      }
      val newGroupings: Seq[Expression] = groupNames.map(mv(_))
      val remapped = filters.foldRight(rel: LogicalPlan) { (cond, child) =>
        Filter(cond.transform {
          case a: AttributeReference => mv(a.name)
        }, child)
      }
      Some(Aggregate(newGroupings, newAggs, remapped, agg.hint))
    } catch {
      case BailOut => None
    }
  }
}

/** Session-extension hook (installed by
  * [[graft.functions.GraftExtensions]]): runs in the operator-
  * optimization batch, so it sees aggregates after analysis in their
  * pruned form and the batch's later iterations clean up (prune, fold)
  * whatever the rewrite exposes. */
class SummaryRewriteRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (SummaryRewrite.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate => SummaryRewrite.rewrite(agg).getOrElse(agg)
    }
}
