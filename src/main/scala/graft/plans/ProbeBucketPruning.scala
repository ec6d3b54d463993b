package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, In, Literal}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GraftHashedKeys, ProjectExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashedRelationBroadcastMode}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.util.collection.BitSet

/** Bucket pruning for probe joins, decided at run time.
  *
  * A probe joins a small query-side relation to a store bucketed on the
  * join key: the IVF cell and code tables, bucketed by `cid`, joined to
  * the broadcast probe list on `cid = probe_cid`. Only the buckets of
  * the probed keys can produce a row. The rule has two halves.
  *
  * '''Runtime bucket set.''' Once AQE has materialized the build side
  * of an inner or left-semi broadcast-hash join on one key, the rule
  * reads that side's `HashedRelation` keys on the driver and maps them
  * to bucket ids with `BucketingUtils.getBucketIdFromValue`. It sets
  * that set as `optionalBucketSet` on every bucketed scan the streamed
  * side reaches through `Filter`/`Project`/`Union` with the join key
  * unrenamed, when the key is the table's single bucket column. Each
  * scan gets the ids for its own bucket count, intersected with any
  * set static pruning already chose. When there are no more keys than
  * buckets, the keys also go to the reader as an `IN` filter, whose
  * row-group statistics then skip a file of a selected bucket that
  * holds none of them. A streamed row whose key is not in the build
  * side never joins, so nothing either skips contributes a row. AQE
  * re-plans before it creates the stage above the join, so the set is
  * in place before the scan runs; with AQE off the rule never sees a
  * materialized build side and the scan reads every bucket.
  *
  * '''Unbucketed read.''' A bucket-pruned scan is read with
  * `disableBucketedScan = true` when its only path up to the next
  * exchange runs through `Filter`, `Project`, a local `Sort`, a partial
  * `WindowGroupLimit` or partial aggregate (each fed by a `Sort` when it
  * needs an order), `Union`, or the streamed side of a broadcast-hash
  * join. Nothing on that path uses the bucketing. An unbucketed
  * `FileSourceScanExec` still drops the files outside the bucket set
  * (`createReadRDD` filters on `BucketingUtils.getBucketId`), and it
  * packs the selected files into about `defaultParallelism` splits
  * instead of one task per bucket, pruned or not. The stock
  * `DisableUnnecessaryBucketedScan` keeps such a scan bucketed when a
  * join sits on its path.
  *
  * Injected by [[graft.functions.GraftExtensions]] as a query-stage
  * preparation rule, so it runs after `EnsureRequirements`, at each
  * adaptive re-plan.
  */
object ProbeBucketPruning extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    unbucket(plan.transformUp { case j: BroadcastHashJoinExec => pruneJoin(j) }, free = false)

  private def pruneJoin(j: BroadcastHashJoinExec): SparkPlan =
    (j.joinType, j.leftKeys, j.rightKeys) match {
      case (Inner | LeftSemi, Seq(l), Seq(r)) if !j.isNullAwareAntiJoin =>
        val (streamed, key, build) = j.buildSide match {
          case BuildRight => (j.left, l, j.right)
          case BuildLeft => (j.right, r, j.left)
        }
        (key, build) match {
          case (a: Attribute, stage: BroadcastQueryStageExec) if stage.isMaterialized =>
            // read the keys only once a bucketed scan asks for them
            lazy val keys = buildKeys(stage)
            val pruned = restrict(streamed, a, keys)
            j.buildSide match {
              case BuildRight => j.withNewChildren(Seq(pruned, j.right))
              case BuildLeft => j.withNewChildren(Seq(j.left, pruned))
            }
          case _ => j
        }
      case _ => j
    }

  /** The distinct join-key values of a materialized one-key hashed
    * broadcast, with the type they are stored as (`LongType` for an
    * integral key, which the hashed relation widens). */
  private def buildKeys(stage: BroadcastQueryStageExec): Option[(Seq[Any], DataType)] =
    stage.broadcast match {
      case b: BroadcastExchangeExec => b.mode match {
        case HashedRelationBroadcastMode(Seq(k), false) =>
          GraftHashedKeys(b.relationFuture.get().value, k.dataType).map((_, k.dataType))
        case _ => None
      }
      case _ => None
    }

  /** `p`, the streamed side, with every scan bucketed by `key` that it
    * reaches with `key` unrenamed pruned to the build `keys` (values,
    * stored type). */
  private def restrict(p: SparkPlan, key: Attribute,
      keys: => Option[(Seq[Any], DataType)]): SparkPlan =
    p match {
      case f: FilterExec => f.withNewChildren(Seq(restrict(f.child, key, keys)))
      case pr: ProjectExec if pr.projectList.exists {
            case a: Attribute => a.exprId == key.exprId
            case _ => false
          } => pr.withNewChildren(Seq(restrict(pr.child, key, keys)))
      case u: UnionExec =>
        val i = u.output.indexWhere(_.exprId == key.exprId)
        if (i < 0) u
        else u.withNewChildren(u.children.map(c => restrict(c, c.output(i), keys)))
      case s: FileSourceScanExec => pruneScan(s, key, keys)
      case other => other
    }

  /** `s` reading only rows that can join one of the build `keys`, when
    * `key` is its table's single bucket column: the buckets of those
    * keys, intersected with any set static pruning chose, and, when
    * there are no more keys than buckets, the keys as an `IN` filter
    * pushed to the reader, so that row-group statistics also skip a
    * file of a selected bucket holding none of them (a bucket written
    * by several tasks has one file per task). The bound keeps the
    * filter, which every task carries, as small as the bucket set. A
    * row either drops never joins. */
  private def pruneScan(s: FileSourceScanExec, key: Attribute,
      keys: => Option[(Seq[Any], DataType)]): FileSourceScanExec =
    (for {
      spec <- s.relation.bucketSpec if spec.bucketColumnNames.length == 1
      a <- s.output.find(a => a.exprId == key.exprId &&
        conf.resolver(a.name, spec.bucketColumnNames.head))
      (values, t) <- keys
      if a.dataType == t || t == LongType && narrow.isDefinedAt(a.dataType)
    } yield {
      val vs = if (a.dataType == t) values
        else values.map(v => narrow(a.dataType)(v.asInstanceOf[Long]))
      val n = spec.numBuckets
      val ids = new BitSet(n)
      vs.foreach(v => ids.set(BucketingUtils.getBucketIdFromValue(a, n, v)))
      val pruned = s.copy(optionalBucketSet = Some(s.optionalBucketSet.fold(ids)(ids & _)),
        dataFilters = if (vs.size > n) s.dataFilters
          else s.dataFilters :+ In(a, vs.map(Literal(_, a.dataType))))
      s.logicalLink.foreach(pruned.setLogicalLink)
      pruned
    }).getOrElse(s)

  /** An integral key's value back in its column's own type. */
  private val narrow: PartialFunction[DataType, Long => Any] = {
    case IntegerType => _.toInt
    case ShortType => _.toShort
    case ByteType => _.toByte
  }

  /** `p` with each bucket-pruned scan read unbucketed where `free`:
    * every node between it and the next exchange leaves the bucketing
    * unused. */
  private def unbucket(p: SparkPlan, free: Boolean): SparkPlan = p match {
    case s: FileSourceScanExec if free && s.bucketedScan && s.optionalBucketSet.isDefined =>
      val read = s.copy(disableBucketedScan = true)
      s.logicalLink.foreach(read.setLogicalLink)
      read
    case _: Exchange => p.mapChildren(unbucket(_, free = true))
    // a broadcast-hash join keeps its streamed side's partitioning and
    // ignores its build side's, which starts at a broadcast exchange
    case _: FilterExec | _: ProjectExec | _: UnionExec | _: BroadcastHashJoinExec =>
      p.mapChildren(unbucket(_, free))
    case s: SortExec if !s.global => p.mapChildren(unbucket(_, free))
    case w: WindowGroupLimitExec if w.mode == Partial && sorted(w) =>
      p.mapChildren(unbucket(_, free))
    case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isEmpty && sorted(a) =>
      p.mapChildren(unbucket(_, free))
    case _ => p.mapChildren(unbucket(_, free = false))
  }

  /** True when `p` needs no input order, or a local `Sort` supplies it. */
  private def sorted(p: SparkPlan): Boolean =
    p.requiredChildOrdering.forall(_.isEmpty) || p.children.forall(_.isInstanceOf[SortExec])
}
