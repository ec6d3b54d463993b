package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-15 pins: the GlobalRank scaffold-cache lifecycle (ADVICE r10
  * #1) and this round's serving/selection loop-closers. */
class Round15Spec extends SparkSpec {

  test("cachedPair: scaffold reaped after the derived cache materializes") {
    import spark.implicits._
    // distinctive values so no other suite's canonical plan collides
    val df = Seq((150731, "r15a"), (150732, "r15b"), (150733, "r15c"),
      (150734, "r15d")).toDF("x", "k")
    val ranked = graft.operators.GlobalRank.withRank(
      df, Seq(col("x"), col("k")), "rk", parts = 2)
    // pre-materialization: the scaffold (input) cache is pinned —
    // RangePartitioner's sampling pass + shuffle write both read it
    assert(df.storageLevel.useMemory, "scaffold must be cached until " +
      "the keyed relation materializes")
    assert(ranked.orderBy("rk").select("k").as[String].collect().toSeq ==
      Seq("r15a", "r15b", "r15c", "r15d"))
    // any later pool touch reaps the now-redundant scaffold; the
    // derived keyed cache keeps the single-materialization invariant
    val touch = graft.pipeline.CachePool.cached(spark, "", "touch_r15")(
      Seq(150739).toDF("touch_r15"))
    try assert(df.storageLevel == StorageLevel.NONE,
      "scaffold must be unpersisted once the derived cache is loaded")
    finally touch.unpersist()
    // and the ranks are still served (from the keyed cache / shuffle
    // files), identical to before
    assert(ranked.orderBy("rk").select("k").as[String].collect().toSeq ==
      Seq("r15a", "r15b", "r15c", "r15d"))
  }

  test("upserted IVF serving: a delta vector is retrievable at rank 1 for its own query") {
    // VERDICT r10 gap #1: before this round an upserted vector could
    // never be retrieved (probe faces scanned only the base table).
    // vec_id 19 is in the delta batch (19 % 10 == 9); query with its
    // own embedding under a synthetic id so the self-match exclusion
    // doesn't hide it — the serve face must return it at rank 1 with
    // cosine ~1 from the DELTA cell table.
    import graft.pipeline.SimilarityQueries
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 19)
      .select(lit(-1L).as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val got = SparkEntry.queries("ann_topk_ivf_upserted")(spark, Sf) // warm index
    assert(got.count() == 50)
    val hits = SimilarityQueries.upsertedServe(spark, Sf, q, 5)
      .orderBy("rank").collect()
    assert(hits.nonEmpty, "serving the upserted index returned nothing")
    assert(hits.head.getLong(1) == 19L,
      s"delta vector must serve at rank 1, got ${hits.head.getLong(1)}")
    assert(hits.head.getDouble(3) > 0.999999, "self-cosine must be ~1")
    // and the recall readout proves the union tier end-to-end: every
    // standard query keeps a positive share of its exact top-5
    val rec = SparkEntry.queries("ann_upserted_recall")(spark, Sf).collect()
    assert(rec.map(_.getLong(0)).toSeq == (0L until 10L))
    rec.foreach { r =>
      assert(r.getLong(1) == 5L, "exact top-5 must have 5 rows")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000L)
    }
  }

  test("classifier model selection: val-argmin re-derives locally") {
    // VERDICT r10 gap #2: the reserved 80–89 val bucket now selects
    // the model. Re-derive the whole selection from the features on
    // the driver (the oracle catches cross-engine divergence; this
    // catches shared-wrong-on-both-faces bugs in the candidate
    // scoring and the argmin rule).
    import graft.pipeline.TextQueries
    val d = Sf
    val hd = 16
    val feats = TextQueries.clfFeatures(spark, d)
      .withColumn("bucket", TextQueries.clfSplitBucket).collect()
      .map(r => (r.getLong(hd + 2), r.getLong(1),
        Array.tabulate(hd)(j => r.getLong(2 + j))))
    val (hist, _) = TextQueries.clfEvalTrained(spark, d)
    val starts = (1 to hist.size).map(r =>
      r -> (if (r == 1) Seq.fill(hd)(0L) else hist(r - 2)._4))
    def wrongs(w: Seq[Long], sel: Long => Boolean): Long =
      feats.count { case (b, y, v) =>
        sel(b) && y * (0 until hd).map(j => w(j) * v(j)).sum <= 0L }
    val perR = starts.map { case (r, w) =>
      (r, wrongs(w, b => b >= 80 && b < 90), wrongs(w, _ >= 90)) }
    val (selR, vwSel, twSel) = perR.minBy { case (r, vw, _) => (vw, r) }
    val pocketR = hist.minBy(h => (h._3, h._1))._1
    val twPocket = perR.find(_._1 == pocketR).get._3
    val nVal = feats.count(f => f._1 >= 80 && f._1 < 90).toLong
    val nTest = feats.count(_._1 >= 90).toLong
    val row = SparkEntry.queries("text_classifier_select")(spark, d).head()
    assert(row.getInt(0) == selR, "sel_round")
    assert(row.getInt(1) == pocketR, "pocket_round")
    assert(row.getLong(2) == nVal && row.getLong(3) == nTest, "split sizes")
    assert(row.getLong(4) == vwSel, "val_wrong")
    assert(row.getLong(5) == twSel, "test_wrong_sel")
    assert(row.getLong(6) == twPocket, "test_wrong_pocket")
    assert(row.getLong(7) == (nVal - vwSel) * 1000000L / math.max(nVal, 1L))
    assert(row.getLong(8) == (nTest - twSel) * 1000000L / math.max(nTest, 1L))
    assert(row.getLong(9) ==
      (nTest - twPocket) * 1000000L / math.max(nTest, 1L))
  }

  test("classifier model persistence: parquet round-trip serves the exact pocket") {
    // VERDICT r10 gap #3: trained models were session-memoized only.
    import graft.pipeline.TextQueries
    val d = Sf
    val table = TextQueries.clfModelTable(spark, d)
    assert(spark.catalog.tableExists(table), "model table must be cataloged")
    val stored = SparkEntry.queries("text_classifier_model_store")(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(stored.map(_._1).toSeq == (0 until 16), "16 weight rows")
    val pocket = TextQueries.clfTrained(spark, d)._2
    assert(stored.map(_._2).toSeq == pocket,
      "stored weights must equal the memoized pocket bit-for-bit")
    // serving from the TABLE reproduces the memo-served face exactly
    val fromTable = SparkEntry.queries("text_classifier_score_stored")(
      spark, d).collect().map(_.toSeq)
    val fromMemo = SparkEntry.queries("text_classifier_score_trained")(
      spark, d).collect().map(_.toSeq)
    assert(fromTable.toSeq == fromMemo.toSeq)
  }

  test("mixture + centroid model tables round-trip bit-for-bit, resample serves from table") {
    import graft.pipeline.{SimilarityQueries, TextQueries}
    val d = Sf
    // DoReMi mixture: stored multipliers equal the learned final-round
    // alphas scaled by the uniform weight (the Round14Spec identity)
    val weights = SparkEntry.queries("text_domain_reweight")(spark, d)
      .filter(col("round") === 8).collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    val u = 1000000L / weights.size
    val stored = SparkEntry.queries("text_domain_mixture_store")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stored.keySet == weights.keySet)
    stored.foreach { case (lang, m) =>
      assert(m == weights(lang) * 1000000L / u, s"$lang multiplier") }
    // table-served resample == memo-served resample, row for row
    val a = SparkEntry.queries("text_domain_resample_stored")(spark, d)
      .collect().map(_.toSeq)
    val b = SparkEntry.queries("text_domain_resample")(spark, d)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // IVF centroids: the FULL-precision table equals the memoized
    // model bit-for-bit (the oracle face rounds to 6 for the
    // cross-engine compare; same-engine round-trip must be exact)
    val cents = SimilarityQueries.ivfIndex(spark, d)._1
    val tbl = graft.sources.ModelStore.read(spark,
        SimilarityQueries.ivfCentroidTable(spark, d))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val flat = cents.flatMap { case (cid, cv) =>
      cv.zipWithIndex.map { case (x, i) => (cid, i + 1) -> x } }.toMap
    assert(tbl == flat, "stored centroids must equal the trained model")
    // recluster gain: self-consistent readout, retrain never worse on
    // the corpus it was trained on
    val g = SparkEntry.queries("ann_recluster_gain")(spark, d).head()
    val (d2f, d2r) = (g.getDouble(1), g.getDouble(2))
    assert(d2f > 0 && d2r > 0)
    assert(g.getLong(3) == math.floor((d2f - d2r) * 1000 / d2f).toLong)
    assert(d2r <= d2f, "full-corpus Lloyd must fit at least as well " +
      "as the frozen base-trained quantizer")
  }

  test("PRF expansion: deterministic rule re-derives locally, search honors it") {
    import graft.pipeline.SearchQueries
    val d = Sf
    val exp = SearchQueries.prfExpansion(spark, d)
    assert(exp.size <= SearchQueries.PrfK)
    assert(exp.toSet.intersect(SearchQueries.Terms.toSet).isEmpty,
      "expansion must exclude the original query terms")
    // re-derive the rule from the tf relation + the (hash-matched) BM25
    // seed: support in R desc, global df asc, tf-in-R desc, token
    val top10 = SearchQueries.bm25(spark, d)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val tfRows = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val dfAll = tfRows.groupBy(_._2).map { case (t, rs) => t -> rs.length }
    val want = tfRows.filter(r => top10.contains(r._1))
      .filter(r => !SearchQueries.Terms.contains(r._2))
      .groupBy(_._2).map { case (t, rs) =>
        (t, rs.length, rs.map(_._3).sum) }.toSeq
      .filter(_._2 >= SearchQueries.PrfMinR)
      .sortBy { case (t, nR, tfR) => (-nR, dfAll(t), -tfR, t) }
      .take(SearchQueries.PrfK).map(_._1)
    assert(exp == want, s"expansion $exp vs locally derived $want")
    // and the search face scores = summed tf over Terms ∪ expansion
    val all = (SearchQueries.Terms ++ exp).toSet
    val scores = tfRows.filter(r => all.contains(r._2)).groupBy(_._1)
      .map { case (id, rs) => id -> (rs.length.toLong, rs.map(_._3).sum) }
    val got = SparkEntry.queries("search_prf_expanded")(spark, d).collect()
    got.foreach { r =>
      assert(scores(r.getLong(0)) == ((r.getLong(1), r.getLong(2))),
        s"doc ${r.getLong(0)} prf score") }
    assert(got.length == math.min(20, scores.size))
  }

  test("knn_graph_ivf: complete self-free graph, consistent with the request-batch probe") {
    import graft.pipeline.SimilarityQueries
    val rows = SparkEntry.queries("knn_graph_ivf")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val n = Tables.embeddings(spark, Sf).count()
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == n, s"every vector must be a query: ${byQ.size} vs $n")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length), s"query $q ranks")
      assert(rs.length <= 5)
      assert(!rs.exists(_._2 == q), s"query $q returned itself")
    }
    // the graph's projection-derived probe cells must agree with the
    // broadcast request-batch face: identical rows for a shared slice
    val queries = Tables.embeddings(spark, Sf).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val batch = SimilarityQueries.ivfProbeRanks(spark, Sf, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows.filter(_._1 < 10).toSet == batch,
      "graph face and request-batch face must serve identical ranks")
  }

  test("GlobalRank differential fuzz: equals the single-task window reference") {
    // The primitive under half the order-statistic surface, checked
    // against Spark's own Window on seeded random frames — sizes
    // around the partition boundaries, duplicate sort keys, skewed
    // groups, and a null-heavy group column. Deterministic seed: a
    // failure reproduces.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.GlobalRank
    val rnd = new scala.util.Random(1511)
    for (trial <- 1 to 8) {
      val n = Seq(1, 2, 3, 7, 31, 32, 33, 200)(trial - 1)
      val rows = (1 to n).map { i =>
        val g = if (rnd.nextInt(4) == 0) None
                else Some(s"g${rnd.nextInt(3)}")
        (i.toLong, g, rnd.nextInt(10).toLong) // unique id, group, dup-heavy key
      }
      val df = rows.toDF("id", "g", "x")
      val parts = 1 + rnd.nextInt(5)
      // global rank: total order via (x, id)
      val got = GlobalRank.withRank(df, Seq(col("x"), col("id")), "rk",
          parts = parts)
        .select("id", "rk").as[(Long, Long)].collect().toMap
      val want = df.withColumn("rk",
          row_number().over(Window.orderBy(col("x"), col("id"))))
        .select("id", "rk").as[(Long, Int)].collect()
        .map { case (i, r) => i -> r.toLong }.toMap
      assert(got == want, s"trial $trial (n=$n, parts=$parts): global rank")
      // per-group rank + count vs the window reference (null group incl.)
      val gotG = GlobalRank.withRankAndCountPerGroup(df, "g",
          Seq(col("x"), col("id")), "rk", "cnt", parts = parts)
        .select("id", "rk", "cnt").as[(Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      val wg = Window.partitionBy("g").orderBy(col("x"), col("id"))
      val wantG = df.withColumn("rk", row_number().over(wg))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("g")))
        .select("id", "rk", "cnt").as[(Long, Int, Long)].collect()
        .map(t => t._1 -> (t._2.toLong, t._3)).toMap
      assert(gotG == wantG, s"trial $trial (n=$n, parts=$parts): group rank")
      // ntile bands equal Window.ntile exactly
      val k = 1 + rnd.nextInt(6)
      val gotN = GlobalRank.withNtile(df, k, Seq(col("x"), col("id")), "b",
          parts = parts)
        .select("id", "b").as[(Long, Int)].collect().toMap
      val wantN = df.withColumn("b",
          ntile(k).over(Window.orderBy(col("x"), col("id"))))
        .select("id", "b").as[(Long, Int)].collect().toMap
      assert(gotN == wantN, s"trial $trial (n=$n, parts=$parts, k=$k): ntile")
    }
  }
}
