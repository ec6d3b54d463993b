package graft

import graft.pipeline.SimilarityQueries
import org.apache.spark.sql.functions._

/** Round-17 pins: ModelStore mid-swap crash recovery (ADVICE r12
  * medium) and the centroid-state encoding contract (VERDICT r12 top
  * item — plan size must be O(1) in nlist). */
class Round17Spec extends SparkSpec {

  test("ModelStore: a crash between the swap renames rolls forward, not data-loss") {
    // ADVICE r12 (medium): a crash after rename(loc, old) but before
    // rename(tmp, loc) used to leave the table location missing with
    // '.model-old' holding the ONLY complete model — and the next
    // write() deleted it as a "stale leftover", then failed every
    // retry. The write path must roll the survivor forward instead.
    import spark.implicits._
    val t = "graft_r17_crash_swap"
    graft.sources.ModelStore.write(Seq((1, 0.5)).toDF("k", "w"), t)
    graft.sources.ModelStore.write(Seq((2, 0.7)).toDF("k", "w"), t) // swap path once
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(loc.getParent,
      "." + t + ".model-old")
    // simulate the mid-swap crash: loc gone, old = last complete model
    assert(fs.rename(loc, old), "fixture: simulate crash mid-swap")
    assert(!fs.exists(loc) && fs.exists(old))
    // the NEXT retrain must recover (roll old forward) and then swap in
    // the new model — not delete the survivor and fail
    graft.sources.ModelStore.write(Seq((3, 0.9), (4, 0.1)).toDF("k", "w"), t)
    assert(graft.sources.ModelStore.read(spark, t)
      .collect().map(_.getInt(0)).toSet == Set(3, 4))
    assert(!fs.exists(old), "no leftover after a successful swap")
    // and a crash that only half-staged (tmp present, loc intact) is
    // likewise absorbed: tmp is discardable, loc survives
    val tmp = new org.apache.hadoop.fs.Path(loc.getParent,
      "." + t + ".model-tmp")
    fs.mkdirs(tmp)
    graft.sources.ModelStore.write(Seq((5, 1.0)).toDF("k", "w"), t)
    assert(graft.sources.ModelStore.read(spark, t)
      .collect().map(_.getInt(0)).toSeq == Seq(5))
    assert(!fs.exists(tmp) && !fs.exists(old))
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("broadcast argmin equals the literal least()/array_sort forms, ties included") {
    // the encoding swap (VERDICT r12 top item) must be bit-invisible:
    // graft_cell_nearest against the exact literal expression it
    // replaced, on centroids with non-contiguous cids AND an exact
    // duplicate pair (distance tie -> smaller cid, the struct-compare
    // tie-break)
    import spark.implicits._
    import org.apache.spark.sql.Column
    val dim = 16
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 31.0 + j * 7.0) * 3.0)) }
    val df = vecs.toDF("vec_id", "v")
    val base = (0 until 12).map { c =>
      (c * 3 + 1, Seq.tabulate(dim)(j => math.cos(c * 17.0 + j) * 2.0)) }
    val cents = base :+ ((40, base(5)._2)) // cid 40 duplicates cid 16's vector
    def literalMin: Column = least(cents.map { case (cid, cv) =>
      val n2 = cv.foldLeft(0.0)((a, x) => a + x * x)
      struct((lit(n2) - lit(2) *
        call_function("graft_dot", col("v"), typedlit(cv))).as("d"),
        lit(cid).as("cid"))
    }: _*)
    val both = df.select(col("vec_id"),
        literalMin.as("lit"),
        graft.functions.CentroidModels.nearest(spark, cents, col("v")).as("bc"))
      .select(col("vec_id"), col("lit.d").as("ld"), col("lit.cid").as("lc"),
        col("bc.d").as("bd"), col("bc.cid").as("bcid"))
      .collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(3) && r.getInt(2) == r.getInt(4),
        s"mismatch at vec ${r.getLong(0)}: " +
          s"literal=(${r.getDouble(1)},${r.getInt(2)}) " +
          s"broadcast=(${r.getDouble(3)},${r.getInt(4)})")
    }
    // probe list: first-nprobe of the full (d, cid) sort, per nprobe
    for (np <- Seq(1, 2, 4)) {
      val sorted = array_sort(array(cents.map { case (cid, cv) =>
        val n2 = cv.foldLeft(0.0)((a, x) => a + x * x)
        struct((lit(n2) - lit(2) *
          call_function("graft_dot", col("v"), typedlit(cv))).as("d"),
          lit(cid).as("cid"))
      }: _*))
      val cmp = df.select(
          transform(slice(sorted, 1, np), p => p.getField("cid")).as("lit"),
          graft.functions.CentroidModels.probes(spark, cents, col("v"), np)
            .as("bc"))
        .collect()
      cmp.foreach { r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1),
          s"probe mismatch np=$np: ${r.getSeq[Int](0)} vs ${r.getSeq[Int](1)}")
      }
    }
  }

  test("recluster cycle: pointer at g3, g2 kept as drain window, g1 reaped") {
    // VERDICT r12 missing #2: one pointer flip was proven, not a LOOP.
    // After two full upsert→recluster cycles the pointer must name g3,
    // g2's tables must survive as the reader drain window (a reader
    // that resolved the pointer just before the flip still holds g2's
    // table names until its query ends), and g1 — no possible reader —
    // must be fully reaped, catalog entry and data both.
    SimilarityQueries.reclusterCycleExecute(spark, Sf)
    val ptr = graft.sources.ModelStore.read(spark,
      SimilarityQueries.cyclePtr(Sf)).collect()
    assert(ptr.length == 1 && ptr(0).getInt(0) == 3,
      s"pointer must name generation 3, got ${ptr.toSeq}")
    val (g3b, g3d, g3c) = SimilarityQueries.cycleNames(Sf, 3)
    assert(ptr(0).getString(1) == g3b && ptr(0).getString(2) == g3d &&
      ptr(0).getString(3) == g3c, "pointer rows must carry g3's names")
    def tables(g: Int): Seq[String] = {
      val (b, d, c) = SimilarityQueries.cycleNames(Sf, g)
      Seq(b, d, c)
    }
    assert(tables(3).forall(spark.catalog.tableExists),
      "live generation g3 must be complete")
    assert(tables(2).forall(spark.catalog.tableExists),
      "g2 is the drain window: pointer's predecessor stays readable")
    assert(tables(1).forall(t => !spark.catalog.tableExists(t)),
      "g1 is past the drain window and must be reaped")
    // day-2 vectors are first-class servables in the live generation
    val n = spark.read.parquet(s"$Sf/embeddings.parquet").count()
    val live = graft.sources.BucketedStore.read(spark, g3b)
    assert(live.count() > n, "g3 base must include the day-2 batch")
  }

  test("centroid broadcast registry is bounded: eviction past the cap, stable ids") {
    // a long-lived driver running periodic retrains registers a model
    // per Lloyd iterate per retrain; without eviction every broadcast
    // is pinned forever (the registry held the only permanent strong
    // refs). Registering far past the cap must keep the registry
    // bounded while already-resolved ids stay usable (resolved plans
    // carry the Broadcast object itself, not the id).
    import graft.functions.CentroidModels
    val before = CentroidModels.registrySize
    for (g <- 0 until 100) {
      val cents = Seq((0, Seq(g.toDouble, 1.0)), (1, Seq(0.0, g.toDouble)))
      CentroidModels.idFor(spark, cents)
    }
    assert(CentroidModels.registrySize <= 64,
      s"registry must stay bounded, got ${CentroidModels.registrySize} " +
        s"(was $before)")
    // idempotent re-request of a LIVE model returns the same id
    val cents = Seq((0, Seq(99.0, 1.0)), (1, Seq(0.0, 99.0)))
    assert(CentroidModels.idFor(spark, cents) ==
      CentroidModels.idFor(spark, cents))
  }

  test("search_hybrid_stored: the serving plan is catalog-only — no corpus tokenize") {
    // the whole point of the persisted lexical index: a serving
    // process reads postings/df/dl/stats tables and the pointer-named
    // cell tables, NEVER the documents table (no tokenize at serve
    // time). The query-vector scan of embeddings is legitimate — in
    // production those arrive with the request batch. The index
    // builds themselves scan documents, but as one-time side effects,
    // not in the returned serving plan.
    val plan = SparkEntry.queries("search_hybrid_stored")(spark, Sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"serving plan must not scan the corpus:\n${plan.take(2000)}")
    assert(plan.contains("graft_srchidx_tf_"),
      "lexical arm must read the persisted postings table")
  }

  test("BPE OOV face: held-out words exist and real merges fire on them") {
    // the oracle gate on text_bpe_apply_oov only proves the replay
    // semantics if the restricted-vocabulary split actually holds
    // words out AND the trained merges still apply across the split
    // (shared character pairs) — otherwise the face degenerates to
    // char counting and an inner-join implementation would pass too
    val (heldOut, merged) = graft.pipeline.TextQueries.bpeOovStats(spark, Sf)
    assert(heldOut > 0, "the vocabulary split must hold words out")
    assert(merged > 0,
      s"of $heldOut held-out words, none had a trained merge fire — " +
        "the OOV replay is vacuous on this fixture")
  }

  test("ANN plan size is O(1) in nlist: identical node count across corpus scales") {
    // the scale contract behind the encoding swap: nlist = ceil(sqrt(N))
    // differs across SFs, so any centroid state left in the expression
    // tree shows up as a plan-size delta. The literal form differed by
    // thousands of nodes here; the broadcast form must not differ at all.
    requireFixture(SfMid)
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p =>
        p.expressions.map(_.collect { case _ => 1 }.sum).sum }.sum
    for (q <- Seq("ann_topk_ivf_kmeans", "knn_graph_ivf", "ann_probe_cost")) {
      val small = nodes(SparkEntry.queries(q)(spark, Sf))
      val mid = nodes(SparkEntry.queries(q)(spark, SfMid))
      assert(small == mid,
        s"$q plan must not grow with nlist: sf0.001=$small sf0.01=$mid")
    }
  }
}
