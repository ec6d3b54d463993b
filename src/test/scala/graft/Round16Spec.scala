package graft

import graft.pipeline.SimilarityQueries
import org.apache.spark.sql.functions._

/** Round-16 pins: the IVF geometry SCALE CONTRACT (VERDICT r11 top
  * item — nlist was a fixture constant, making the corpus-scale kNN
  * graph quadratic on an 8-key join) and this round's loop-closers. */
class Round16Spec extends SparkSpec {

  test("nlistOf: sqrt growth with the KmK floor") {
    assert(SimilarityQueries.nlistOf(1) == 8, "floor below 64 vectors")
    assert(SimilarityQueries.nlistOf(64) == 8)
    assert(SimilarityQueries.nlistOf(500) == 23)   // sf0.001 / sf0.01
    assert(SimilarityQueries.nlistOf(2000) == 45)  // sf0.1
    assert(SimilarityQueries.nlistOf(1000000000L) == 31623)
    // the property the candidate-volume bound rides on: nlist >= sqrt(N)
    for (n <- Seq(100L, 10000L, 123456L, 7654321L))
      assert(SimilarityQueries.nlistOf(n).toDouble >= math.sqrt(n.toDouble))
  }

  test("IVF candidate volume is O(nprobe * N^1.5), never N^2/const") {
    // ann_probe_cost's n_candidates IS knn_graph_ivf's per-query
    // candidate fetch (every corpus vector queries its nprobe cells).
    // With nlist = ceil(sqrt(N)) the total is ~nprobe * N^1.5; the
    // old fixed nlist=8 gave N^2/4 (at N=500: 62.5k — the 3*N^1.5
    // ceiling of 33.5k would already catch the regression here, and
    // the gap widens with N).
    val n = Tables.embeddings(spark, Sf).count()
    val cand = SparkEntry.queries("ann_probe_cost")(spark, Sf)
      .agg(sum("n_candidates")).collect()(0).getLong(0)
    val bound = 3.0 * math.pow(n.toDouble, 1.5)
    assert(cand.toDouble <= bound,
      s"candidate volume $cand exceeds 3*N^1.5 = $bound at N=$n")
    // and the cid equi-join's parallelism scales with the corpus: the
    // live cell count (distinct join keys) stays within a factor of
    // the derived nlist, never a handful of reduce tasks
    val cells = graft.sources.BucketedStore
      .read(spark, SimilarityQueries.ivfIndex(spark, Sf)._2)
      .select("cid").distinct().count()
    assert(cells >= SimilarityQueries.nlistOf(n) / 2,
      s"live cells $cells collapsed vs nlist ${SimilarityQueries.nlistOf(n)}")
  }

  test("probe cost_ppm FALLS as the corpus grows (sf0.001 -> sf0.1)") {
    // the serving-scale operating point: cost_ppm ~ nprobe/nlist * 1e6
    // = nprobe * 1e6 / sqrt(N), strictly falling in N. Under the old
    // fixed geometry this was a constant 250k ppm at every SF.
    val big = s"$TestData/sf0.1"
    requireFixture(big)
    def meanPpm(d: String): Double = {
      val r = SparkEntry.queries("ann_probe_cost")(spark, d)
        .agg(avg("cost_ppm")).collect()(0)
      r.getDouble(0)
    }
    val (small, large) = (meanPpm(Sf), meanPpm(big))
    assert(large < small,
      s"cost_ppm must fall with N: sf0.001=$small sf0.1=$large")
    // and both sit far below the fixed-geometry 250k operating point
    assert(small < 150000.0 && large < 80000.0,
      s"operating point regressed: sf0.001=$small sf0.1=$large")
  }

  test("nprobe sweep: recall monotone in nprobe, cost strictly increasing") {
    // served-from-superset monotonicity: adding candidates can only
    // displace a served member by one with HIGHER sim, and anything
    // with higher sim than an exact-top-5 member is itself exact-top-5
    // (shared neighbor_id tie-break) — so hits never decrease
    val rows = SparkEntry.queries("ann_nprobe_sweep")(spark, Sf)
      .collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4))
    val rec = rows.map(_.getLong(4)).toSeq
    assert(rec.sliding(2).forall(p => p.head <= p.last),
      s"recall must be monotone in nprobe: $rec")
    // per-step non-strict: a rank-2..4 probed cell can be EMPTY (left
    // by 2-iteration Lloyd near a query), and empty cells drop out of
    // the per-cell-size join identically on both engines — so two
    // adjacent arms may tie on candidates (ADVICE r12). Strictness is
    // asserted end-to-end, where nprobe=4 must cover nprobe=1's cells
    // plus at least one non-empty extra on any non-degenerate fixture.
    val cost = rows.map(_.getLong(2)).toSeq
    assert(cost.sliding(2).forall(p => p.head <= p.last),
      s"cost must be non-decreasing in nprobe: $cost")
    assert(cost.head < cost.last,
      s"end-to-end cost must strictly grow nprobe 1→4: $cost")
    rows.foreach { r =>
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000)
      assert(r.getLong(2) > 0 && r.getLong(2) <= 1000000)
    }
  }

  test("knn_graph_ivf: the per-query top-k plans as WindowGroupLimit") {
    // at corpus scale the candidate relation is nprobe*N^1.5 rows; the
    // rank<=5 filter must plan as WindowGroupLimit so each map task
    // forwards at most k rows per query into the query_id exchange —
    // without it the full candidate volume shuffles
    val plan = SparkEntry.queries("knn_graph_ivf")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=5 must plan as WindowGroupLimit:\n${plan.take(3000)}")
  }

  test("ModelStore retrain is a rename-swap: catalog entry survives, readers resolve") {
    // VERDICT r11 #4: the old DROP TABLE -> delete -> saveAsTable had a
    // window where a concurrent serving job caught a missing table.
    // Same-schema retrains now swap the data directory under an
    // untouched catalog entry (two renames; a complete model exists at
    // exactly one path at every instant).
    import spark.implicits._
    import org.apache.spark.sql.catalyst.TableIdentifier
    val t = "graft_r16_model_swap"
    graft.sources.ModelStore.write(Seq((1, 0.5)).toDF("k", "w"), t)
    val created = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(t)).createTime
    val pre = graft.sources.ModelStore.read(spark, t) // long-lived reader
    assert(pre.collect().map(_.getInt(0)).toSeq == Seq(1))
    // retrain (same schema) — must take the swap path
    graft.sources.ModelStore.write(Seq((2, 0.7), (3, 0.1)).toDF("k", "w"), t)
    // the catalog entry was never dropped...
    assert(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(t)).createTime == created,
      "same-schema retrain must not recreate the table")
    // ...and both the pre-swap handle and a fresh read serve the new model
    assert(pre.count() == 2, "pre-swap reader must resolve post-swap")
    assert(graft.sources.ModelStore.read(spark, t)
      .collect().map(_.getInt(0)).toSet == Set(2, 3))
    // no staging/old leftovers
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(loc.getParent,
      "." + t + ".model-tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(loc.getParent,
      "." + t + ".model-old")))
    // a schema-changing rewrite falls back to recreate and still reads
    graft.sources.ModelStore.write(Seq(("a", 1L, 2L)).toDF("x", "y", "z"), t)
    assert(graft.sources.ModelStore.read(spark, t).count() == 1)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("BPE model table round-trips the trained merge list bit-for-bit") {
    // the last session-memoized model family persisted (VERDICT r11
    // #3); the streaming apply face loads this table at startup
    val stored = SparkEntry.queries("text_bpe_model_store")(spark, Sf)
      .collect().toSeq
    val trained = SparkEntry.queries("text_bpe_train")(spark, Sf)
      .collect().toSeq
    assert(stored.nonEmpty && stored == trained,
      "stored merges must equal the trained model")
  }

  test("shard write: the written store carries the token-balanced plan exactly") {
    // plan → disk → manifest: the manifest is computed from the WRITTEN
    // parquet, so equality with the plan face proves no row was lost or
    // duplicated between planning and the partitioned write
    val w = SparkEntry.queries("text_shard_write")(spark, Sf).collect()
    val p = SparkEntry.queries("text_shard_plan")(spark, Sf).collect()
    assert(w.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq ==
      p.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq, "written manifest must equal the plan")
    // and the layout is genuinely partitioned: one directory per shard
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath,
      "graft_shards_" + (Sf.hashCode & 0x7fffffff))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(loc).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("shard="))
    assert(dirs.length == 16, s"expected 16 shard dirs, got ${dirs.length}")
  }

  test("recluster: publish is a pointer flip; a pre-publish crash leaves the old tier live") {
    import spark.implicits._
    import graft.sources.{BucketedStore, ModelStore}
    // execute + serve: post-swap serving answers with the retrained
    // full-corpus quantizer — bit-identical to the full-corpus IVF face
    val served = SparkEntry.queries("ann_recluster_serve")(spark, Sf)
      .collect().toSeq
    val full = SparkEntry.queries("ann_topk_ivf_kmeans")(spark, Sf)
      .collect().toSeq
    assert(served == full, "post-swap serving must equal full-corpus IVF")
    // pointer on generation 2, delta folded in (empty), and the OLD
    // generation's tables all still readable after publish
    val ptrT = SimilarityQueries.reclusterPtr(Sf)
    val p2 = ModelStore.read(spark, ptrT).collect()(0)
    assert(p2.getInt(0) == 2)
    assert(BucketedStore.read(spark, p2.getString(2)).count() == 0,
      "gen-2 delta must be empty (fold-in complete)")
    val h = Sf.hashCode & 0x7fffffff
    val (b1, d1, c1) = (s"graft_ivfup_base_$h", s"graft_ivfup_delta_$h",
      s"graft_ivfup_cents_${h}_g1")
    assert(BucketedStore.read(spark, b1).count() > 0)
    assert(BucketedStore.read(spark, d1).count() > 0)
    assert(ModelStore.read(spark, c1).count() > 0)
    try {
      // crash simulation: a failure anywhere before the final pointer
      // write leaves exactly this state — pointer on gen 1, staged _g2
      // tables present but unreferenced. Serving through the pointer
      // must then answer with the frozen pre-swap tier, bit-identical
      // to the upserted face.
      ModelStore.write(Seq((1, b1, d1, c1))
        .toDF("gen", "t_base", "t_delta", "t_cents"), ptrT)
      val preSwap = SimilarityQueries.serveFromPtr(spark, Sf).collect().toSeq
      val upserted = SparkEntry.queries("ann_topk_ivf_upserted")(spark, Sf)
        .collect().toSeq
      assert(preSwap == upserted,
        "pointer-at-gen-1 serving must equal the upserted tier")
    } finally ModelStore.write(
      Seq((2, p2.getString(1), p2.getString(2), p2.getString(3)))
        .toDF("gen", "t_base", "t_delta", "t_cents"), ptrT)
    assert(SimilarityQueries.serveFromPtr(spark, Sf).collect().toSeq == full)
  }
}
