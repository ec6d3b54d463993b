package graft

import graft.pipeline.{DedupQueries, EventQueries}
import graft.queries.InfraQueries
import org.apache.spark.sql.functions._

/** Properties of this session's first operator batch the oracle
  * compare can't see: CUPED's variance-reduction algebra, the overlap
  * matrix's set identities, the merge-on-read sequence rule, the
  * join-IVM snapshot barrier, Bloom no-false-negatives, time-travel
  * stability, the SCD2 interval-probe cross-check, and the
  * cross-modal class split. */
class Round10Spec extends SparkSpec {

  test("cuped: rho² in [0,1], cohorts partition the users, theta finite") {
    val r = EventQueries.queries("events_cuped")(spark, Sf).collect()
    assert(r.length == 1)
    val (n0, n1) = (r(0).getLong(0), r(0).getLong(1))
    val (theta, rho) = (r(0).getDouble(3), r(0).getDouble(5))
    assert(n0 > 0 && n1 > 0)
    val users = Tables.events(spark, Sf)
      .select("user_id").distinct().count()
    assert(n0 + n1 == users, s"cohorts $n0+$n1 != $users users")
    assert(!theta.isNaN && !theta.isInfinite)
    // ρ² is a squared correlation — the variance-reduction fraction
    assert(rho >= 0.0 && rho <= 1.0, s"rho_sq=$rho")
  }

  test("audience overlap: full C(types,2) matrix, intersection bounds hold") {
    val types = Tables.events(spark, Sf)
      .select("event_type").distinct().count().toInt
    val rows = EventQueries.queries("events_audience_overlap")(spark, Sf)
      .collect()
    assert(rows.length == types * (types - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getString(1), r.getString(0))
      val (na, nb, both) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val j = r.getDouble(5)
      assert(both <= math.min(na, nb), s"$a/$b |A∩B| exceeds a side")
      assert(j >= 0.0 && j <= 1.0, s"$a/$b jaccard=$j")
    }
  }

  test("delete vectors: deletes land, the sequence rule shields same-seq appends") {
    val live = InfraQueries.queries("infra_delete_vectors")(spark, Sf)
    val docs = Tables.documents(spark, Sf).select("doc_id")
    val baseId = docs.agg(max("doc_id")).head().getLong(0) + 1
    // base rows named by the seq-1 delete file are gone
    assert(live.filter(col("doc_id") < baseId &&
      col("doc_id") % 13 === 5).isEmpty)
    // appended seq-1 rows survive the seq-1 delete entries that name
    // them (Iceberg's strict `<` sequence rule — the MoR subtlety)
    val appendedEven = docs
      .filter(col("doc_id") % 17 === 0 && col("doc_id") % 2 === 0).count()
    assert(appendedEven > 0)
    assert(live.filter(col("doc_id") >= baseId &&
      (col("doc_id") - baseId) % 2 === 0).count() == appendedEven)
  }

  test("join ivm: fold(snapshot, delta) equals the full recompute") {
    val inc = InfraQueries.queries("infra_join_incremental")(spark, Sf)
    val cust = Tables.raw(spark, Sf, "customer")
      .select("c_custkey", "c_nationkey")
    val full = Tables.raw(spark, Sf, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("c_nationkey")
    assert(inc.collect().toSeq == full.collect().toSeq)
  }

  test("bloom skipping: prunes files, never a false negative") {
    val (data, stats) = InfraQueries.bloomEventsPaths(spark, Sf)
    val all = spark.read.parquet(data)
      .select(input_file_name().as("f"), col("user_id"))
    val nFiles = all.select("f").distinct().count()
    assert(nFiles > 1, "layout produced a single file — nothing to prune")
    // several real keys: every file that truly holds the key must
    // survive (no false negatives), and pruning must actually drop
    // most files (hash clustering puts each user in exactly one)
    val probes = all.select("user_id").distinct()
      .orderBy(col("user_id").desc).limit(5)
      .collect().map(_.getLong(0))
    probes.foreach { k =>
      val truth = all.filter(col("user_id") === k)
        .select("f").distinct().collect().map(_.getString(0)).toSet
      val surv = InfraQueries.bloomSurvivors(spark, stats, k).toSet
      assert(truth.subsetOf(surv), s"user $k: bloom dropped a true file")
      assert(surv.size < nFiles, s"user $k: no pruning (${surv.size}/$nFiles)")
    }
  }

  test("time travel: historical read is stable after the newer commit") {
    // force the store (and v2) to exist first, then time-travel to v1:
    // the historical read must equal the pre-CDC base snapshot exactly
    InfraQueries.queries("infra_time_travel")(spark, Sf).collect()
    val ds = new org.apache.hadoop.fs.Path(Sf).getName
    val root = s"${GraftSession.scratch(spark)}/timetravel-$ds"
    val v1 = InfraQueries.snapshotAt(spark, root, 1L)
      .agg(count(lit(1)), sum("n_chars")).head()
    val base = Tables.documents(spark, Sf)
      .agg(count(lit(1)), sum("n_chars")).head()
    assert(v1 == base, "v1 read-through-log drifted from the base snapshot")
    // resolving a version beyond the log's head clamps to the latest
    val vHead = InfraQueries.snapshotAt(spark, root, 99L).count()
    val v2 = InfraQueries.snapshotAt(spark, root, 2L).count()
    assert(vHead == v2)
  }

  test("scd2 join: purchases conserved, matches the interval-probe form") {
    val rows = EventQueries.queries("events_scd2_join")(spark, Sf).collect()
    val total = rows.map(_.getLong(1)).sum
    val ev = Tables.events(spark, Sf)
    val purchases = ev.filter(col("event_type") === "purchase")
    assert(total == purchases.count, "every purchase maps to exactly one state")
    // independent oracle-shape check: per-fact interval probe (join on
    // user, keep max valid_from <= fact ts) must agree with the
    // union+window composition on a sample of users
    val nonP = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("vms"),
        col("event_type").as("state"))
    val probed = purchases
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("pms"))
      .join(nonP, Seq("user_id"), "left_outer")
      .groupBy("user_id", "event_id", "pms")
      .agg(max(when(col("vms") <= col("pms"),
        struct(col("vms"), col("state")))).as("m"))
      .groupBy(coalesce(col("m.state"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == probed, s"composition $got != interval probe $probed")
  }

  test("crossmodal dup: both caption classes occur") {
    val rows = graft.pipeline.MultimodalQueries
      .queries("multimodal_crossmodal_dup")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val classes = rows.map(_.getBoolean(3)).toSet
    // the corpus plants exact dups (text identical → whole-doc dup)
    // AND near dups (text perturbed → visual-only) — both must surface
    assert(classes == Set(true, false),
      s"degenerate classification: only $classes")
  }

  test("filtered topk: predicate holds on every result, k respected") {
    val rows = graft.pipeline.SimilarityQueries
      .queries("ann_filtered_topk")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val qLabel = graft.Tables(spark, Sf, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length),
        s"query $q: ranks not dense")
      assert(rs.length <= 5)
      rs.foreach(r => assert(r.getInt(2) == qLabel(q),
        s"query $q: neighbor ${r.getLong(1)} violates the label filter"))
    }
  }

  test("degree hist: handshake parity and node conservation") {
    val rows = DedupQueries.queries("graph_degree_hist")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (deg, n) => assert(deg >= 1 && n >= 1) }
    // Σ degree·n_docs = 2|E| — the handshake lemma, so it must be even
    val degSum = rows.map { case (d, n) => d * n }.sum
    assert(degSum % 2 == 0, s"odd total degree $degSum")
  }
}
