package graft

import graft.pipeline.{DedupQueries, DupCorpus}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** Dedup-family recall against the synthetic ground truth: the oracle
  * compare proves Spark ≡ DuckDB, but both engines could agree on a
  * blocking scheme that finds nothing — this spec pins that the
  * content-bearing candidate keys actually SURFACE the planted
  * duplicates ([[DupCorpus]]: exact copies at +10000, first-6-words-
  * dropped near-dups at +20000). Deterministic corpus → deterministic
  * counts; thresholds sit under the measured values (minhash 45/46,
  * ngram 44/46, simhash 35/46 at sf0.001) only to keep the assertion
  * about recall, not about one fixture. */
class DedupSpec extends SparkSpec {

  private lazy val nNear =
    Tables.documents(spark, Sf).filter(col("doc_id") % 11 === 0).count()
  private lazy val nExact =
    Tables.documents(spark, Sf).filter(col("doc_id") % 7 === 0).count()

  private def plantedNearPairs(name: String): Long =
    DedupQueries.queries(name)(spark, Sf)
      .filter(col("doc_a") < 10000 && col("doc_b") - col("doc_a") === 20000)
      .count()

  test("candidate volume tracks true duplicates, not corpus size") {
    // the round-2 scale defect was fixed-count blocks going quadratic
    // (length-only ngram blocking: 1.35M candidate pairs at sf0.1).
    // With content-bearing keys the candidate count must stay a small
    // multiple of the planted duplicates (measured: 1.4x / 1.5x / 3.4x
    // at sf0.001 — bounds below leave headroom, not slack for
    // quadratic behavior, which would blow past them by orders of
    // magnitude even at this scale)
    val planted = nNear + nExact
    assert(DedupQueries.minhashCandidates(spark, Sf).count() <= 5 * planted)
    assert(DedupQueries.ngramCandidates(spark, Sf).count() <= 5 * planted)
    assert(DedupQueries.simhashCandidates(spark, Sf).count() <= 10 * planted)
  }

  test("dedup_substring: planted copies are single fully-covering spans") {
    // an exact copy's every 16-token window repeats its original (whose
    // smaller doc_id makes it the global first occurrence), so the copy
    // must surface as ONE maximal span covering the whole document —
    // pins recall AND the island merge in a single property
    val toks = split(lower(col("text")), " ")
    val copies = DupCorpus.corpus(spark, Sf)
      .filter(col("doc_id") >= 10000 && col("doc_id") < 20000 &&
        size(toks) >= 16)
      .select(col("doc_id"), size(toks).as("n"))
    val res = DedupQueries.queries("dedup_substring")(spark, Sf)
    val full = res.join(copies, "doc_id")
      .filter(col("n_spans") === 1 && col("tokens_removed") === col("n"))
    assert(full.count() === copies.count(),
      "every exact copy must be one fully-covering repeated span")
    // dup-position volume tracks repeats: every flagged doc removes at
    // least one full window, and no doc removes more tokens than it has
    val corpus = DupCorpus.corpus(spark, Sf)
      .select(col("doc_id"), size(toks).as("n"))
    assert(res.join(corpus, "doc_id")
      .filter(col("tokens_removed") < 16 || col("tokens_removed") > col("n"))
      .count() === 0)
  }

  test("dedup_exact finds every planted exact-duplicate group") {
    val groups = DedupQueries.queries("dedup_exact")(spark, Sf)
      .filter(col("dup_count") > 1).count()
    assert(groups === nExact)
  }

  test("minhash LSH bands keep near-dup recall >= 90%") {
    assert(plantedNearPairs("dedup_minhash") >= math.ceil(nNear * 0.9).toLong)
  }

  test("ngram blocking (length x minhash band) keeps near-dup recall >= 90%") {
    assert(plantedNearPairs("dedup_ngram_jaccard") >= math.ceil(nNear * 0.9).toLong)
  }

  test("simhash salted banding keeps near-dup recall >= 70%") {
    // simhash's hamming<=10 misses short docs whose fingerprint moves
    // more than 10 bits when 6 words drop — inherent to the measure,
    // not to the salted banding: a planted near-dup always shares lang
    // and sits within one token-length bucket (delta 6 < width 8), so
    // the salt never excludes one
    assert(plantedNearPairs("dedup_simhash") >= math.ceil(nNear * 0.7).toLong)
  }

  test("cluster labels: every verified pair co-clusters, canonical = component min") {
    val cl = DedupQueries.queries("dedup_cluster")(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupQueries.queries("dedup_minhash")(spark, Sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // the defining CC property: both ends of every edge share a label
    pairs.foreach { case (a, b) =>
      assert(cl(a) === cl(b), s"pair ($a,$b) split across clusters") }
    // labels are well-formed: each label is a member of its own cluster
    // and the minimum of the members that point at it
    cl.foreach { case (d, c) => assert(c <= d && cl(c) === c) }
  }

  test("incremental probe: exactly the full-dedup pairs that touch a new doc") {
    // the ingest shape must find every pair a full re-dedup would find
    // involving the new batch — and nothing else (history-history pairs
    // are never generated, which is the whole point of probing)
    val full = DedupQueries.queries("dedup_minhash")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }.sorted.toSeq
    val inc = DedupQueries.queries("dedup_minhash_incremental")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(inc === full)
    assert(inc.nonEmpty, "corpus must exercise the probe")
  }

  test("bucketed band index: candidate self-join is exchange- and sort-free") {
    // the serving shape persists band signatures bucketed+sorted by the
    // full band key; candidate generation must then read co-located
    // buckets with no exchange and no sort on either side. Pin the
    // shuffle-join path (test-sized tables would broadcast otherwise).
    import graft.sources.BucketedStore
    DedupQueries.queries("dedup_minhash_bucketed")(spark, Sf).count() // build
    val (bcast, aqe) = (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cand = DedupQueries.bandPairs(BucketedStore.read(spark,
        s"graft_minhash_bands_${Sf.hashCode & 0x7fffffff}"))
      val plan = cand.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
      // the ONLY exchange allowed is the distinct's aggregate exchange
      // ABOVE the join; the join inputs themselves ride the buckets
      val joinPart = plan.substring(plan.indexOf("Join"))
      assert(!joinPart.contains("Exchange"),
        s"bucketed band self-join must not shuffle its inputs:\n$plan")
      assert(!joinPart.contains("+- Sort"),
        s"sortBy buckets must kill the join sort:\n$plan")
      // not vacuous: identical pairs to the runtime-join candidates
      val runtime = DedupQueries.minhashCandidates(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val served = cand.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(served === runtime, "served candidates diverge from runtime join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("the pooled shingle relation holds only (doc_id, h)") {
    val sh = DedupQueries.shingleRows(spark, Sf)
    assert(sh.schema.fieldNames.toSeq == Seq("doc_id", "h"))
    val cached = sh.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.output.map(_.name)
    }
    assert(cached.contains(Seq("doc_id", "h")), s"cached columns: $cached")
  }
}
