package graft

import graft.pipeline.SimilarityQueries
import graft.queries.AnalyticsQueries
import org.apache.spark.sql.GraftDatasetBridge
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Properties of the round-4 additions that the oracle compare can't
  * see: ANN recall against the exact brute-force answer (both engines
  * could agree on an index that returns garbage neighbors), and the
  * analytical family's scale-relevant plan shapes. */
class AnnSpec extends SparkSpec {

  private def top1(name: String): Set[(Long, Long)] =
    SimilarityQueries.queries(name)(spark, Sf)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("k-means IVF (nprobe=2 of derived nlist cells) keeps rank-1 recall >= 60%") {
    // nlist = ceil(sqrt(N)) = 23 cells at sf0.001: probing 2 of 23
    // scans ~9% of the corpus; an index no better than random scanning
    // would put the true rank-1 neighbor in the probe set ~9% of the
    // time. Measured at sf0.001: 9/10 (8/10 under the old fixed
    // 8-cell geometry at 25% scanned — finer cells hurt nothing here).
    val brute = top1("ann_topk_brute")
    val hits = brute.intersect(top1("ann_topk_ivf_kmeans")).size
    assert(hits >= 6, s"rank-1 recall $hits/10")
  }

  test("LSH (3x4-bit bands) beats its candidate-selectivity baseline") {
    // candidates are ~18% of the corpus (measured), so an index no
    // better than random sampling would hold the true rank-1 neighbor
    // ~18% of the time (~2/10). Measured at sf0.001: 5/10 — these
    // synthetic embeddings are near-random (rank-1 cosine ~0.3), which
    // inherently caps sign-LSH alignment; the assertion pins
    // "meaningfully better than its scan fraction", the property that
    // matters at scale, not a number this fixture can't support.
    val brute = top1("ann_topk_brute")
    val hits = brute.intersect(top1("ann_topk_lsh")).size
    assert(hits >= 4, s"rank-1 recall $hits/10")
  }

  test("PQ/ADC top-5 beats chance by an order of magnitude") {
    // 4x16-code PQ on these near-uniform unit-sphere embeddings keeps
    // only coarse structure (no cluster geometry for 16 centroids per
    // 16-dim subspace to exploit — the same fixture cap the LSH test
    // documents). Random top-5 vs exact top-5 overlaps ~1% (5/499 per
    // pick); measured ADC overlap is 18-28% at sf0.001/0.01. Pin >=10%:
    // an order of magnitude above chance — the "the codes carry real
    // signal" property — without asserting a number the fixture can't
    // support. Baseline is exact L2, the metric PQ quantizes (norms
    // are all 1, so L2 and cosine order agree here).
    val exact = SimilarityQueries.queries("ann_topk_brute")(spark, Sf)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilarityQueries.queries("ann_topk_pq")(spark, Sf)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = exact.intersect(pq).size
    assert(hits >= 5, s"top-5 overlap $hits/50")
  }

  test("k-means assigns every vector to exactly one of k cells") {
    val n = Tables.embeddings(spark, Sf).count()
    val perQuery = SimilarityQueries.queries("ann_topk_ivf_kmeans")(spark, Sf)
      .groupBy("query_id").count()
    // 10 queries, each with exactly 5 ranked neighbors from its cells
    assert(perQuery.count() === 10 && n > 0)
    assert(perQuery.filter(col("count") =!= 5).count() === 0)
  }

  test("persisted IVF index: probe filter prunes buckets; bucketed variant = in-plan variant") {
    // the serving-shape property: once the cell assignment is a table
    // bucketed by cid, a probe (literal IN on cid) must open only the
    // matching bucket files — probing cost scales with nprobe/nlist of
    // the index, not its total size
    val nBuckets = SimilarityQueries.buildIvfIndex(spark, Sf).length
    // DisableUnnecessaryBucketedScan reads a filter-only scan (no
    // downstream distribution requirement) unbucketed. That read still
    // drops the files outside the bucket set, but only a bucketed scan
    // prints SelectedBucketsCount — pin the bucketed path to read it
    val auto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val probe = graft.sources.BucketedStore.read(spark, "graft_ivf_cells")
        .filter(col("cid").isin(1, 3))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"probe must ride buckets:\n$plan")
      // two probe cids open at most two buckets (one if murmur3 maps
      // both cids to the same bucket) — never the full index, whose
      // bucket count now follows the derived nlist (= live cell count)
      val selected = s"SelectedBucketsCount: (\\d+) out of $nBuckets".r
        .findFirstMatchIn(plan).map(_.group(1).toInt)
      assert(selected.exists(n => n >= 1 && n <= 2),
        s"IN(1,3) must open <=2 of $nBuckets buckets:\n$plan")
      // and the pruned read is not vacuous: exactly the two cells' rows
      assert(probe.select("cid").distinct().collect()
        .map(_.getInt(0)).toSet.subsetOf(Set(1, 3)))
    } finally
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", auto)
    // end-to-end: the bucketed serving path returns the identical
    // ranked answer as the in-plan k-means query (same math, different
    // physical path)
    val a = SimilarityQueries.queries("ann_topk_ivf_kmeans")(spark, Sf).collect().toSeq
    val b = SimilarityQueries.queries("ann_topk_ivf_bucketed")(spark, Sf).collect().toSeq
    assert(a === b)
  }

  test("ann_topk_ivf_bucketed: the probe broadcast prunes the cell scan at run time, read in cores-sized splits") {
    val face = SimilarityQueries.queries("ann_topk_ivf_bucketed")
    face(spark, Sf).collect() // first touch: the index and its centroids
    val sc = spark.sparkContext
    val c = new QueryCounters
    val stageTasks = scala.collection.mutable.Map.empty[Seq[Int], Int]
    val stages = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTasks.synchronized {
          stageTasks(e.stageInfo.rddInfos.map(_.id)) = e.stageInfo.numTasks
        }
    }
    sc.addSparkListener(c)
    val df = try {
      sc.setJobGroup("ivf|build", "ivf|build")
      try face(spark, Sf) finally sc.clearJobGroup()
    } finally {
      GraftDatasetBridge.drain(sc)
      sc.removeSparkListener(c)
    }
    assert(c("ivf|build")(0) == 0L, s"construction ran jobs: ${c("ivf|build")}")
    sc.addSparkListener(stages)
    try df.collect() finally {
      GraftDatasetBridge.drain(sc)
      sc.removeSparkListener(stages)
    }
    val (cents, table) = SimilarityQueries.ivfIndex(spark, Sf)
    val scans = PlanChecks.finalNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == table) => f
    }
    assert(scans.size == 1, scans)
    val scan = scans.head
    assert(!scan.bucketedScan, "the pruned cell scan is read unbucketed")
    // the probed cids' buckets, hashed here the way the bucketed write
    // does (Murmur3 of the int key, seed 42, pmod the bucket count)
    val cids = SimilarityQueries.embDouble(spark, Sf).filter(col("vec_id") < 10)
      .select(explode(graft.functions.CentroidModels.probes(
        spark, cents, col("v"), SimilarityQueries.KmProbe)))
      .distinct().collect().map(_.getInt(0))
    val n = cents.length
    val want = cids.map(cid =>
      Math.floorMod(Murmur3_x86_32.hashInt(cid, 42), n)).toSet
    val got = scan.optionalBucketSet.map(_.iterator.toSet)
    assert(got.contains(want), s"bucket set $got, probed buckets $want")
    val files = scan.inputRDD.partitions.toSeq.flatMap {
      case fp: FilePartition => fp.files.toSeq
      case _ => Nil
    }
    assert(files.nonEmpty && files.forall(f =>
      BucketingUtils.getBucketId(f.toPath.getName).exists(want.contains)),
      s"read files outside buckets $want: ${files.map(_.toPath.getName)}")
    val scanStage = stageTasks.collect {
      case (rdds, tasks) if rdds.contains(scan.inputRDD.id) => tasks
    }
    assert(scanStage.size == 1 && scanStage.head <= 4,
      s"cell-scan stage tasks $scanStage")
  }

  test("analytics plans: pushdown + broadcast dims + partial aggregates") {
    val q1 = AnalyticsQueries.queries("tpch_pricing_summary")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual"),
      "shipdate filter must reach the parquet scan")
    val q5 = AnalyticsQueries.queries("tpch_region_revenue")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(q5.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!q5.contains("CartesianProduct"), "no cartesian products")
  }
}
