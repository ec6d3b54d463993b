package graft

import graft.sources.BucketedStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.In
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The storage-side shuffle-avoidance contract: two relations bucketed
  * on the same key must join with NO exchange and NO sort at read time
  * — the property that amortizes one write-time shuffle over every
  * downstream join of a hot relation at 100 TB. */
class BucketedSpec extends SparkSpec {

  test("bucketed tables join without exchange or sort") {
    // the SAME relations the registered infra_bucketed_join query
    // persists — this pins the plan shape of the oracle-checked path
    val (profile, fingerprint) =
      graft.queries.InfraQueries.bucketedRelations(spark, Sf)
    BucketedStore.write(profile, "emb_bucketed", "doc_id", 8)
    BucketedStore.write(fingerprint, "stats_bucketed", "doc_id", 8)
    // bucketing matters in the non-broadcast regime (at scale neither
    // side fits a broadcast); on these test-sized tables the planner
    // would broadcast and skip the bucketed scan entirely, so pin the
    // shuffle-join path for the assertion
    val (bcast, aqe) = (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = BucketedStore.read(spark, "emb_bucketed")
        .join(BucketedStore.read(spark, "stats_bucketed"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(!plan.contains("+- Sort"),
        s"sortBy buckets must also kill the join sort:\n$plan")
      // and it is not vacuous: the join actually matches every row
      assert(joined.count() === profile.count())
      // same property for an aggregation on the bucket key: no exchange
      // in front of the partial/final aggregate pair
      val agg = BucketedStore.read(spark, "emb_bucketed")
        .groupBy("doc_id").agg(sum("n_chars"))
      val aplan = agg.queryExecution.executedPlan.toString
      assert(!aplan.contains("Exchange"),
        s"bucketed aggregation must not shuffle:\n$aplan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  // ---- ProbeBucketPruning: a probe join's runtime bucket set and its
  // unbucketed read never change a result, and leave alone a scan whose
  // bucketing a later operator uses

  /** 400 rows over 16 cids, bucketed by cid into 8 buckets. */
  private lazy val cells: DataFrame = {
    BucketedStore.write(spark.range(400).select(col("id").as("vec_id"),
      (col("id") % 16).cast("int").as("cid")), "probe_cells", "cid", 8)
    BucketedStore.read(spark, "probe_cells")
  }
  /** Two probed cids, unknown to the optimizer until run time. */
  private def probes: DataFrame = spark.range(3, 5).select(col("id").cast("int").as("probe_cid"))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def cellScans(df: DataFrame): Seq[FileSourceScanExec] =
    PlanChecks.finalNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == "probe_cells") => f
    }

  /** `df`'s rows with adaptive execution off, where the rule is inert. */
  private def withoutAqe(df: => DataFrame): Seq[String] = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try sorted(df) finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("probe pruning: a left-outer probe never prunes its preserved side") {
    def outer = cells.join(broadcast(probes), col("cid") === col("probe_cid"), "left_outer")
    val df = outer
    val got = sorted(df)
    assert(got.size == 400 && got == withoutAqe(outer))
    assert(cellScans(df).map(_.optionalBucketSet) == Seq(None))
  }

  test("probe pruning: a scan whose bucketing is used keeps it, with no exchange") {
    def counts = cells.join(broadcast(probes), col("cid") === col("probe_cid"))
      .groupBy("cid").count()
    val df = counts
    val got = sorted(df)
    assert(got == Seq("[3,25]", "[4,25]") && got == withoutAqe(counts))
    val scan = cellScans(df)
    assert(scan.size == 1 && scan.head.bucketedScan, s"must stay bucketed: $scan")
    assert(scan.head.optionalBucketSet.exists(_.cardinality() <= 2))
    assert(scan.head.dataFilters.exists(_.isInstanceOf[In]), "two keys go to the reader")
    assert(!PlanChecks.finalNodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"the bucketed aggregate must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("probe pruning: an empty probe broadcast reads no cell file") {
    // keep the join in the plan: AQE would otherwise drop it once the
    // empty build side materializes, and nothing would test the set
    val excluded = spark.conf.get("spark.sql.adaptive.optimizer.excludedRules", "")
    spark.conf.set("spark.sql.adaptive.optimizer.excludedRules",
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    try {
      val df = cells.join(broadcast(probes.filter(col("probe_cid") > 100)),
        col("cid") === col("probe_cid"))
      assert(df.collect().isEmpty)
      val scan = cellScans(df)
      assert(scan.map(_.optionalBucketSet.map(_.cardinality())) == Seq(Some(0)))
      assert(scan.head.inputRDD.partitions.forall {
        case fp: FilePartition => fp.files.isEmpty
        case _ => true
      }, "the scan opened a cell file")
      assert(scan.head.metrics("numOutputRows").value == 0L)
    } finally spark.conf.set("spark.sql.adaptive.optimizer.excludedRules", excluded)
  }

  test("probe pruning: more probed keys than buckets prune buckets, with no IN filter") {
    def wide = cells.join(broadcast(spark.range(12).select(col("id").cast("int").as("probe_cid"))),
      col("cid") === col("probe_cid"))
    val df = wide
    val got = sorted(df)
    assert(got.size == 300 && got == withoutAqe(wide))
    val scan = cellScans(df)
    assert(scan.size == 1 && scan.head.optionalBucketSet.isDefined, scan)
    assert(!scan.head.dataFilters.exists(_.isInstanceOf[In]), scan.head.dataFilters)
  }

  for (face <- Seq("ann_topk_ivf_bucketed", "ann_topk_ivf_upserted", "ann_topk_ivf_sq8"))
    test(s"probe pruning: $face returns the same rows with the rule inert (AQE off)") {
      val serve = SparkEntry.queries(face)
      val got = sorted(serve(spark, Sf))
      assert(got.nonEmpty && got == withoutAqe(serve(spark, Sf)))
    }
}
