package graft

import graft.pipeline.{DedupQueries, EventQueries}
import graft.queries.InfraQueries
import org.apache.spark.sql.functions._

/** Properties the oracle compare can't see, for the session's
  * operator additions: edge-holdout recovery (link prediction),
  * pruning/compaction/vacuum storage contracts, the clamp and
  * restatement semantics of the temporal faces, conservation laws of
  * the causal and engagement readouts, and brute-force
  * re-verification of the sweep-line and velocity peaks. */
class Round11Spec extends SparkSpec {

  test("link predict: held-out edges are recovered, predictions are non-edges") {
    val predicted = DedupQueries.queries("graph_link_predict")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(predicted.nonEmpty, "nothing predicted — holdout had no effect")
    // ground truth: the full verified edge set and its 1-in-5 holdout
    val all = DedupQueries.queries("dedup_minhash")(spark, Sf)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val held = all.filter { case (a, b) => (a + b) % 5 == 0 }
    val kept = all -- held
    // every prediction is a non-edge of the observed (kept) graph
    assert((predicted intersect kept).isEmpty,
      "predicted an edge that was already observed")
    // and the holdout is actually recovered (transitivity repair works)
    assert((predicted intersect held).nonEmpty,
      s"recovered none of the ${held.size} held-out edges")
  }

  test("two-level pruning: both levels cut, survivors stay in the partition") {
    val (data, stats) = InfraQueries.twoLevelPaths(spark, Sf)
    val idx = spark.read.parquet(stats)
    val nAll = idx.count()
    val clickFiles = idx.filter(col("event_type") === "click").count()
    assert(clickFiles < nAll, "partition level did not cut anything")
    val surv = idx.filter(col("event_type") === "click" &&
      col("ts_max") >= expr("TIMESTAMP '2024-01-08 00:00:00'") &&
      col("ts_min") < expr("TIMESTAMP '2024-01-12 00:00:00'"))
      .select("file").collect().map(_.getString(0))
    assert(surv.nonEmpty && surv.length <= clickFiles)
    // every surviving file lives under the click partition directory
    surv.foreach(f => assert(f.contains("event_type=click"),
      s"survivor outside the partition: $f"))
  }

  test("clustering coeff: bounded, consistent with the triangle census") {
    val rows = DedupQueries.queries("graph_clustering_coeff")(spark, Sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, deg, t, c) =>
      assert(deg >= 2)
      assert(c >= 0.0 && c <= 1.0, s"doc $id coeff=$c")
      // identity up to rounding: c = 2t / (deg(deg-1))
      assert(math.abs(c - 2.0 * t / (deg * (deg - 1))) < 1e-5)
    }
    // dup components are planted near-cliques — perfect neighborhoods
    // must exist, or the census is measuring the wrong graph
    assert(rows.exists(_._4 == 1.0), "no clique-like neighborhood found")
    // per-node counts must sum to 3 × the number of distinct triangles
    val nodeSum = DedupQueries.queries("dedup_triangles")(spark, Sf)
      .agg(sum("n_triangles")).head().getLong(0)
    assert(nodeSum % 3 == 0, s"triangle node-count sum $nodeSum not 3-divisible")
  }

  test("heaps curve: conservation, monotone accumulation, sublinear growth") {
    val rows = graft.pipeline.TextQueries
      .queries("text_heaps_curve")(spark, Sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 16)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 > a._4 && b._5 >= a._5, "cumulatives must be monotone")
    }
    val (tokSum, typSum) = (rows.map(_._2).sum, rows.map(_._3).sum)
    assert(rows.last._4 == tokSum && rows.last._5 == typSum)
    // conservation against independent counts
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf)
      .select(explode(split(lower(col("text")), " ")).as("t"))
    assert(tokSum == docs.count(), "token total drifted")
    assert(typSum == docs.distinct().count(), "type total drifted")
    // Heaps: the second half of the corpus must add FEWER new types
    // than the first half — vocabulary growth is sublinear
    val firstHalf = rows.filter(_._1 < 8).map(_._3).sum
    val secondHalf = typSum - firstHalf
    assert(secondHalf < firstHalf,
      s"no sublinearity: $firstHalf then $secondHalf new types")
  }

  test("clamped balance: bounds hold, clamps fire, events conserved") {
    val rows = EventQueries.queries("events_clamped_balance")(spark, Sf)
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, bal, fl, cp, n) =>
      assert(bal >= 0.0 && bal <= 500.0, s"user $u balance $bal out of range")
      assert(fl + cp <= n, s"user $u clamped more often than it has events")
    }
    assert(rows.map(_._5).sum == Tables.events(spark, Sf).count(),
      "event conservation")
    // the operator only differs from a plain running total when the
    // clamp fires — it must actually fire on this corpus
    assert(rows.exists(r => r._3 > 0 || r._4 > 0), "clamp never fired")
  }

  test("bitemporal: totals conserved across belief times, restatement visible") {
    val rows = EventQueries.queries("events_bitemporal")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // the same users are in SOME state at V under either belief time —
    // corrections re-label, they don't add or remove users
    assert(rows.map(_._2).sum == rows.map(_._3).sum,
      "snapshot user totals drifted between belief times")
    val corrected = rows.find(_._1 == "corrected")
    assert(corrected.exists(c => c._2 == 0L && c._3 > 0L),
      s"restatement must be invisible at T1 and visible at T2: $corrected")
    // and hindsight must actually differ from the T1 belief somewhere
    assert(rows.exists(r => r._2 != r._3), "no restatement effect")
  }

  test("budget allocation: exact conservation, remainder rule bounded") {
    val rows = EventQueries.queries("events_budget_allocation")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // the whole point: allocations sum EXACTLY to the budget
    assert(rows.map(_._3).sum == 1000000L, s"allocation leaked units: $rows")
    rows.foreach { case (t, fl, al) =>
      assert(al - fl == 0L || al - fl == 1L,
        s"$t: largest-remainder bump must be 0 or 1, got ${al - fl}")
    }
  }

  test("matryoshka eval: recall bounded and non-degrading with dimensions") {
    val rows = graft.pipeline.SimilarityQueries
      .queries("ann_matryoshka_eval")(spark, Sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(8, 16, 32))
    rows.foreach { case (dim, ne, nh, rec) =>
      assert(nh <= ne && rec >= 0.0 && rec <= 1.0, s"dim $dim: $nh/$ne")
    }
    // more dimensions must not LOSE signal end-to-end
    assert(rows.last._4 >= rows.head._4,
      "recall at 32 dims fell below recall at 8")
  }

  test("ab conversion: counts consistent, z finite, rates non-degenerate") {
    val r = EventQueries.queries("events_ab_conversion")(spark, Sf).collect()
    assert(r.length == 1)
    val (n0, n1, c0, c1) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3))
    val z = r(0).getDouble(6)
    assert(c0 <= n0 && c1 <= n1 && n0 > 0 && n1 > 0)
    // non-degenerate on this corpus: somebody converts, somebody doesn't
    assert(c0 + c1 > 0 && c0 + c1 < n0 + n1, s"degenerate gate: $c0+$c1")
    assert(!z.isNaN && !z.isInfinite)
  }

  test("vacuum: expired snapshot gone from log and disk, head intact") {
    val rows = InfraQueries.queries("infra_vacuum")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(3), "v1 still reachable"))
    // the head read-through-log equals the post-CDC state
    val n = rows.map(_.getLong(1)).sum
    assert(n == InfraQueries.cdcMerged(spark, Sf).count(),
      "head snapshot drifted after vacuum")
  }

  test("embed drift: full transition chain, cosine bounded") {
    val rows = graft.pipeline.SimilarityQueries
      .queries("embed_drift")(spark, Sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      (0L to 6L).map(k => (k, k + 1)),
      "must cover every consecutive batch transition exactly once")
    rows.foreach { case (_, _, cos, drift) =>
      assert(cos >= -1.0 && cos <= 1.0)
      assert(math.abs(1.0 - cos - drift) < 1e-9)
    }
  }

  test("uplift: segments partition users, cells sum to the flat readout") {
    val segs = EventQueries.queries("events_uplift")(spark, Sf)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(segs.map(_._1).toSeq == Seq(1, 2, 3))
    val flat = EventQueries.queries("events_ab_conversion")(spark, Sf)
      .head()
    // the terciles are a partition of the users: per-cohort user and
    // converter counts must sum back to the flat readout exactly
    assert(segs.map(_._2).sum == flat.getLong(0))
    assert(segs.map(_._3).sum == flat.getLong(1))
    assert(segs.map(_._4).sum == flat.getLong(2))
    assert(segs.map(_._5).sum == flat.getLong(3))
  }

  test("ltv cohort: purchases conserved, curves monotone per cohort") {
    val rows = EventQueries.queries("events_ltv_cohort")(spark, Sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, off, n, rev, _) =>
      assert(off >= 0 && n > 0 && rev > 0)
    }
    val totalP = Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_._3).sum == totalP, "purchase conservation")
    rows.groupBy(_._1).values.foreach { cohort =>
      val curve = cohort.sortBy(_._2).map(_._5)
      curve.sliding(2).foreach { case Array(a, b) =>
        assert(b > a, "cumulative LTV must strictly grow per cell")
      }
      // the last cumulative equals the cohort's summed per-cell revenue
      assert(math.abs(curve.last - cohort.map(_._4).sum) < 0.01)
    }
  }

  test("velocity flags: every flagged peak re-verified by brute count") {
    val flags = EventQueries.queries("events_velocity_flags")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(flags.nonEmpty, "velocity rule never fired")
    val ev = Tables.events(spark, Sf)
      .select(col("user_id"), unix_millis(col("ts")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, ts) => u -> ts.map(_._2).sorted }
    flags.foreach { case (u, peak, at) =>
      val ts = ev(u)
      // brute-force the trailing-hour count at the reported instant
      val n = ts.count(t => t >= at - 3600000L && t <= at)
      assert(n == peak, s"user $u: reported $peak, brute count $n")
      assert(peak >= 3)
      // and no instant beats the reported peak
      val best = ts.map(x => ts.count(t => t >= x - 3600000L && t <= x)).max
      assert(best == peak, s"user $u: peak $peak but best window is $best")
    }
  }

  test("diff-in-diff: cell algebra holds, identity with the deltas") {
    val r = EventQueries.queries("events_diff_in_diff")(spark, Sf).head()
    val cells = (0 to 3).map(r.getLong)
    assert(cells.forall(_ > 0), s"an empty DiD cell: $cells")
    assert(cells.sum == Tables.events(spark, Sf).count(),
      "the four cells must partition the fact")
    val (dt, dc, eff) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(math.abs(eff - (dt - dc)) <= 2e-6,
      "effect must equal the delta of deltas up to rounding")
  }

  test("streaks: user conservation and a multi-day streak exists") {
    val rows = EventQueries.queries("events_streaks")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (len, n) => assert(len >= 1 && n >= 1) }
    val users = Tables.events(spark, Sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum == users,
      "every user has exactly one best streak")
    assert(rows.exists(_._1 >= 2), "no multi-day streak in the corpus")
  }

  test("peak concurrency: brute sweep agrees, plan stays distributed") {
    val r = EventQueries.queries("events_peak_concurrency")(spark, Sf).head()
    val (peak, at) = (r.getLong(0), r.getLong(1))
    assert(peak >= 1)
    // brute-force re-verification: count sessions open at the instant
    val sess = EventQueries.queries("events_session")(spark, Sf)
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    val open = sess.count { case (s0, e0) => s0 <= at && at < e0 }
    assert(open == peak, s"sweep peak $peak but $open sessions open at $at")
    // no instant beats it (check at every session start)
    val best = sess.map(_._1)
      .map(t => sess.count { case (s0, e0) => s0 <= t && t < e0 }).max
    assert(best == peak, s"peak $peak but a start instant sees $best")
  }

  test("burstiness: bounded below, topical words clump above function words") {
    val rows = graft.pipeline.TextQueries
      .queries("text_burstiness")(spark, Sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 20)
    rows.foreach { case (t, tf, df, b) =>
      assert(tf >= df, s"$t: tf < df is impossible")
      // VMR of a non-negative integer count is ≥ (tf/n)·(... ) ≥ 0;
      // with df < n it is strictly positive
      assert(b > 0.0, s"$t burstiness=$b")
    }
    // descending order pinned
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq)
  }

  test("assortativity: r bounded, edge count matches the pair relation") {
    val r = DedupQueries.queries("graph_assortativity")(spark, Sf).head()
    val nEdges = r.getLong(0)
    assert(nEdges == DedupQueries.queries("dedup_minhash")(spark, Sf).count(),
      "edge count drifted from the verified pair relation")
    if (!r.isNullAt(1)) {
      val a = r.getDouble(1)
      assert(a >= -1.0 && a <= 1.0, s"assortativity $a out of range")
    }
  }

  test("collocations: lift identity re-verified from raw counts") {
    val rows = graft.pipeline.TextQueries
      .queries("text_collocations")(spark, Sf)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 20)
    rows.foreach { case (_, _, cab, lift) =>
      assert(cab >= 25 && lift > 0.0)
    }
    // spot: re-derive the top pair's lift by independent counting
    val (a, b, cab, lift) = rows.head
    val toks = Tables.documents(spark, Sf)
      .select(explode(split(lower(col("text")), " ")).as("t"))
    val (ca, cb, n) = (toks.filter(col("t") === a).count(),
      toks.filter(col("t") === b).count(), toks.count())
    assert(math.abs(lift - 1.0 * n * cab / (ca * cb)) < 1e-4,
      s"lift of ($a,$b) off: $lift vs ${1.0 * n * cab / (ca * cb)}")
  }

  test("vocab coverage: monotone in k, clamped by type count, rank distributed") {
    val rows = graft.pipeline.TextQueries
      .queries("text_vocab_coverage")(spark, Sf)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(100, 1000, 10000))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, "coverage must grow with k")
    }
    val (nTok, nTypes) = (rows.head._3, rows.head._4)
    rows.foreach { case (k, cov, _, _, pm) =>
      assert(cov <= nTok && pm <= 1000)
      // k beyond the whole vocabulary must cover everything
      if (k >= nTypes) assert(cov == nTok, s"k=$k missed tokens")
    }
  }

  test("compaction face: file count actually dropped, data conserved") {
    val rows = InfraQueries.queries("infra_compaction")(spark, Sf).collect()
    assert(rows.nonEmpty)
    // the contract boolean is TRUE on every row (oracle pins this too,
    // but here we also check against the store on disk)
    rows.foreach(r => assert(r.getBoolean(3), "compaction did not compact"))
    val ds = new org.apache.hadoop.fs.Path(Sf).getName
    val root = s"${GraftSession.scratch(spark)}/compact-events-$ds"
    val files = new java.io.File(s"$root/data")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files < 64, s"store still has $files files")
    val n = spark.read.parquet(s"$root/data").count()
    assert(n == Tables.events(spark, Sf).count())
  }
}
