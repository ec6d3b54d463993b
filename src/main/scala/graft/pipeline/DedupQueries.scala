package graft.pipeline

import graft.oracle.OraclePipeline._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table (north-star
  * LLM-data-pipeline requirements; the reference itself has no dedup —
  * these extend its surface per SURVEY.md §7.2 M6).
  *
  * All run over [[DupCorpus.corpus]] (documents + synthetic exact/near
  * dups) so the operators have real duplicates to find. Scale posture:
  * every join here is an equi-join on a bounded-fanout key (hash bucket,
  * LSH band, or blocking key) — no cross joins, no theta joins — and
  * every blocking key carries a CONTENT component (a MinHash band, a
  * SimHash chunk) so candidate volume tracks true near-dups instead of
  * going quadratic inside fixed-count blocks. Measured at sf0.1
  * (6,170 docs): minhash 2.4 k candidate pairs, ngram 3.8 k, simhash
  * 32 k — vs 1.35 M for the round-2 length-only ngram blocking.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Verify-sketch width: candidates are verified against the 128
    * smallest shingle hashes per doc (a bottom-k sketch). Bounds the
    * verify-join payload per pair at 128 longs regardless of document
    * length — on corpora where docs have ≤128 shingles (all testdata
    * SFs: max 98) the sketch IS the full set and the Jaccard is exact. */
  val SketchK = 128

  /** Per-doc shingle sketch: the [[SketchK]] smallest 60-bit shingle
    * hashes + sketch size. Candidate pairs are then verified with ONE
    * row per pair via the codegen'd graft_intersect merge count — no
    * per-shingle row explosion (a join-based intersection count explodes
    * every pair into |shingles| rows, which goes quadratic on
    * dense-overlap corpora; measured 30-100 s at sf0.1 vs ~2 s here). */
  private[graft] def shingleSketches(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(
      slice(sort_array(collect_list(col("h"))), 1, SketchK).as("hs"),
      least(count("*"), lit(SketchK.toLong)).as("n"))

  /** Verify candidate pairs (doc_a, doc_b) with sketch Jaccard ≥
    * threshold; emits (doc_a, doc_b, jaccard). Candidates are
    * least/greatest-ordered, so doc_a < doc_b STRICTLY for any real
    * pair — the filter makes a self-colliding candidate (doc_a ==
    * doc_b, which would always pass at jaccard 1.0) unable to reach
    * the pair log no matter what a caller feeds in (ADVICE r14). */
  private[graft] def jaccardVerify(cand: DataFrame, sketches: DataFrame,
                            threshold: Double): DataFrame = {
    val j = col("ni").cast("double") / (col("na") + col("nb") - col("ni"))
    cand
      .filter(col("doc_a") < col("doc_b"))
      .join(sketches.select(col("doc_id").as("doc_a"),
        col("hs").as("ha"), col("n").as("na")), "doc_a")
      .join(sketches.select(col("doc_id").as("doc_b"),
        col("hs").as("hb"), col("n").as("nb")), "doc_b")
      .withColumn("ni", call_function("graft_intersect", col("ha"), col("hb")))
      .filter(j >= threshold)
      .select(col("doc_a"), col("doc_b"), round(j, 6).as("jaccard"))
  }

  /** Distinct word-3-gram shingles per doc as (doc_id, h), h the
    * shingle's h60 hash, built relationally (posexplode + window
    * lead): every operator here is whole-stage codegen'd. The
    * equivalent transform(sequence(...)) lambda is a higher-order
    * function, which Spark always interprets —
    * and the interpreter re-evaluates the split() subtree per element
    * (measured 10×+ slower on the bench).
    *
    * The base hash is computed once per distinct (doc, shingle) AFTER
    * dedup, and every consumer (sketches, all minhash permutations via
    * [[DupCorpus.perm]]) derives from it — one md5 per shingle total.
    * No repartition: the corpus cache is already hash(doc_id)-
    * partitioned, which satisfies the window's and the dedup agg's
    * required distribution, so the whole pipeline runs exchange-free
    * and the cache inherits doc_id partitioning for the downstream
    * per-doc aggregations. One pooled entry per dataset, so minhash,
    * ngram_jaccard and every other consumer share one cached copy. The
    * shingle text is dropped after the dedup, so the cache holds two
    * longs per row: every consumer reads only (doc_id, h). */
  private[graft] def shingleRows(s: SparkSession, d: String): DataFrame =
    CachePool.cached(s, d, "shingleRows")(shingleRowsOf(DupCorpus.corpus(s, d)))

  /** The uncached body — for per-micro-batch callers (the ingest
    * sink), where registering every batch's plan in the session cache
    * pool would accrete forever; they cache/unpersist locally. */
  private[graft] def shingleRowsOf(corpus: DataFrame): DataFrame = {
    val toks = corpus.select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("idx", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("idx")
    toks
      .withColumn("t1", lead("tok", 1).over(w))
      .withColumn("t2", lead("tok", 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("shingle"))
      .dropDuplicates("doc_id", "shingle")
      .select(col("doc_id"), DupCorpus.h60(col("shingle")).as("h"))
  }

  // ---------------------------------------------------------------- exact
  /** Exact dedup: hash-groupBy on md5(text), keep min doc_id. One
    * shuffle on the hash — the 100 TB plan (map-side partial agg on
    * md5 keys; no text column survives past the projection). */
  private val exact: Q = (s, d) =>
    DupCorpus.corpus(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keeper_doc_id"), count("*").as("dup_count"))
      .orderBy("keeper_doc_id")
  private val exactSql =
    s"""$DupCte SELECT md5(text) AS text_md5, min(doc_id) AS keeper_doc_id,
  count(*) AS dup_count
FROM dup GROUP BY md5(text) ORDER BY keeper_doc_id"""

  // -------------------------------------------------------------- minhash
  /** MinHash(k=8) + banded LSH (b=4, r=2) near-dup pairs, verified with
    * sketch Jaccard ≥ 0.4. The candidate join is an equi-join on
    * (band_idx, k1, k2) — pairs never materialize beyond LSH collisions
    * (measured 2,421 candidate pairs at sf0.1), which is the property
    * that survives 100 TB. */
  /** The LSH-band candidate pairs — exposed so DedupSpec can pin the
    * scale property (candidate volume ∝ true near-dups, not corpus²). */
  /** One (doc_id, band_idx, k1, k2) row per LSH band — the banded
    * signature relation; shared by the runtime-join candidates below
    * and the persisted index of [[minhashBucketed]]. */
  private[graft] def bandRows(sh: DataFrame): DataFrame = {
    val minAggs = (0 to 7).map(i =>
      min(DupCorpus.perm(i, col("h"))).as(s"m$i"))
    val sig = sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    sig.select(col("doc_id"), expr(
      """inline(array(
        struct(0 as band_idx, m0 as k1, m1 as k2),
        struct(1 as band_idx, m2 as k1, m3 as k2),
        struct(2 as band_idx, m4 as k1, m5 as k2),
        struct(3 as band_idx, m6 as k1, m7 as k2)))"""))
  }

  /** Band-collision pairs from any banded signature relation. */
  private[graft] def bandPairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.k1") === col("b.k1") && col("a.k2") === col("b.k2") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Pooled (round 19): the band self-join + distinct ran once inside
    * the pooled verified-pairs build AND once per [[containment]]
    * invocation — two consumers, one dup-graph-sized relation (2.4 k
    * rows at sf0.1), same lifecycle as the pairs it feeds. */
  private[graft] def minhashCandidates(s: SparkSession, d: String): DataFrame =
    CachePool.cached(s, d, "minhashCandidates")(bandPairs(bandRows(shingleRows(s, d))))

  /** The verified minhash pair relation before output ordering — the
    * DUP GRAPH every downstream face consumes: the registered face and
    * the curation funnel, the cluster/label faces, the whole graph_*
    * census family, and the LSH recall eval. Pooled via [[CachePool]]
    * (round 18): the relation is dup-graph-sized (1.5 k rows at sf0.1,
    * ≪ corpus at any scale — the same size argument as the pooled
    * shingle/signature relations it derives from), but before pooling
    * each of the ~10 consuming faces re-ran the band self-join + sketch
    * verify per invocation — the candidate join was the single most
    * recomputed subplan in the bench (guide §2.4: two operations keyed
    * the same way should share one exchange; here they share the whole
    * pipeline). Every consumer — including ones composing this via
    * [[jaccardVerify]] — reads one in-memory copy; it is released at a
    * dataset switch, like the shingle cache. A steady call returns the
    * pooled handle and never re-builds (and re-analyses) the corpus →
    * shingles → candidates → pairs chain. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    CachePool.cached(s, d, "minhashPairs") {
      jaccardVerify(minhashCandidates(s, d), shingleSketches(shingleRows(s, d)), 0.4)
    }
  private val minhash: Q = (s, d) =>
    minhashPairs(s, d).orderBy("doc_a", "doc_b")

  /** The SERVING shape of minhash dedup — the dedup analog of
    * `ann_topk_ivf_bucketed`: the banded signature relation is
    * PERSISTED through [[graft.sources.BucketedStore]], bucketed AND
    * sorted by the full band key (band_idx, k1, k2). Candidate
    * generation — the only wide shuffle in the runtime form — then
    * becomes a self-join of a relation whose hash partitioning and
    * in-bucket order already match the join keys: NO exchange, NO sort
    * (spec-pinned in DedupSpec with broadcast disabled). At 100 TB the
    * index is built once at ingest (one write-time shuffle) and every
    * dedup pass — including probing a new batch's bands against
    * history — reads co-located buckets. Same math as [[minhash]]; the
    * oracle SQL is shared verbatim. */
  private val minhashBucketed: Q = (s, d) => {
    val sh = shingleRows(s, d)
    // build-once index (round 18): at 100 TB the banded store is
    // written at ingest, not per dedup pass — memoized per dataset
    // exactly like the ANN cell stores and the search postings index
    // (rep-1 pays the write; every serve is the bucket-pruned read);
    // dataset-hashed table name per the historyStores convention
    val bandsT = s"graft_minhash_bands_${d.hashCode & 0x7fffffff}"
    CachePool.memoized(s, d, "minhashBandStore") {
      graft.sources.BucketedStore.write(bandRows(sh), bandsT,
        Seq("band_idx", "k1", "k2"), 8)
    }
    val cand = bandPairs(graft.sources.BucketedStore.read(s, bandsT))
    jaccardVerify(cand, shingleSketches(sh), 0.4)
      .orderBy("doc_a", "doc_b")
  }
  /** The minhash pipeline's CTE chain + pair select, split so the
    * cluster oracle below can reuse them (pairs become a CTE feeding a
    * recursive closure). */
  private val minhashCtes = {
    val mins = (0 to 7).map(i =>
      s"    min(${permSql(i, "h")}) AS m$i").mkString(",\n")
    s"""$DupCte$ShingleCtes, sig AS (
  SELECT doc_id,
$mins
  FROM shh GROUP BY doc_id
), bands AS (
  SELECT doc_id, b.band_idx,
    CASE b.band_idx WHEN 0 THEN m0 WHEN 1 THEN m2 WHEN 2 THEN m4 ELSE m6 END AS k1,
    CASE b.band_idx WHEN 0 THEN m1 WHEN 1 THEN m3 WHEN 2 THEN m5 ELSE m7 END AS k2
  FROM sig, (SELECT unnest([0,1,2,3]) AS band_idx) b
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.k1 = b.k1 AND a.k2 = b.k2
   AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cand c
  JOIN skh sa ON sa.doc_id = c.doc_a
  JOIN skh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY c.doc_a, c.doc_b
)"""
  }
  private val minhashPairSelect =
    """SELECT i.doc_a, i.doc_b,
  round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) AS jaccard
FROM inter i
JOIN nsh na ON na.doc_id = i.doc_a
JOIN nsh nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= 0.4"""
  private val minhashSql =
    s"$minhashCtes\n$minhashPairSelect\nORDER BY doc_a, doc_b"

  /** INCREMENTAL dedup — the production ingest shape at 100 TB: history
    * is already indexed (the persisted bucketed band relation of
    * [[minhashBucketed]]); a new batch arrives and must be deduped
    * against history AND itself, WITHOUT re-scanning history's text.
    * Probe = new-batch bands equi-joined against the index (reads only
    * colliding buckets, no exchange on the stored side) union the
    * new-batch self-join; history-vs-history pairs are never generated.
    * Candidate volume is ∝ the new batch's collisions, not the corpus —
    * re-running full dedup per ingest batch is the O(N) retrace this
    * shape exists to avoid. "New" = doc_id ≡ 0 (mod 5), a deterministic
    * ~20% slice mirrored in the oracle's WHERE; the oracle generates
    * all pairs and filters to those touching a new doc — identical sets
    * because band collision is symmetric and the split is disjoint. */
  private val minhashIncremental: Q = (s, d) => {
    val sh = shingleRows(s, d)
    val bands = bandRows(sh)
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    // build-once history index (round 18) — same memoized-write
    // discipline as [[minhashBucketed]]: the ingest shape this face
    // models indexes history ONCE and probes it per batch
    val histT = s"graft_minhash_history_${d.hashCode & 0x7fffffff}"
    CachePool.memoized(s, d, "minhashHistoryStore") {
      graft.sources.BucketedStore.write(bands.filter(!isNew),
        histT, Seq("band_idx", "k1", "k2"), 8)
    }
    val hist = graft.sources.BucketedStore.read(s, histT)
    val nb = bands.filter(isNew)
    val cross = nb.as("a").join(hist.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.k1") === col("b.k1") && col("a.k2") === col("b.k2"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val cand = cross.union(bandPairs(nb)).distinct()
    jaccardVerify(cand, shingleSketches(sh), 0.4)
      .orderBy("doc_a", "doc_b")
  }
  private val minhashIncrementalSql =
    s"""$minhashCtes
$minhashPairSelect
  AND (i.doc_a % 5 = 0 OR i.doc_b % 5 = 0)
ORDER BY doc_a, doc_b"""

  /** Catalog names of the ingest-dedup HISTORY stores consumed by the
    * streaming probe face ([[graft.streaming.StreamingEvents
    * .dedupProbeStream]]): the banded signature index (bucketed+sorted
    * by the full band key — a probe batch's collision join reads
    * co-located buckets) and the per-doc shingle sketch store
    * (bucketed by doc_id — the verify join's key), both over every
    * HISTORY document (doc_id % 5 ≠ 0, [[minhashIncremental]]'s
    * split). */
  private[graft] def historyStores(d: String, ns: String = "")
      : (String, String) = {
    val h = d.hashCode & 0x7fffffff
    (s"graft_mh_hist_bands$ns" + s"_$h", s"graft_mh_hist_sk$ns" + s"_$h")
  }

  /** Catalog names of the GROWING half of the ingest-dedup history —
    * the delta band/sketch tables that accepted stream documents land
    * in ([[graft.streaming.StreamingEvents.dedupIngestBatch]]) — plus
    * the emitted-pairs table. Plain parquet append tables: per batch
    * the write is O(batch); a maintenance job periodically folds the
    * delta into the bucketed base ([[historyStoresExecute]]'s layout)
    * and truncates it — the same base ∪ delta → recluster discipline
    * as the ANN upsert tier. */
  private[graft] def ingestTables(d: String, ns: String = "")
      : (String, String, String) = {
    val h = d.hashCode & 0x7fffffff
    (s"graft_mh_delta_bands$ns" + s"_$h", s"graft_mh_delta_sk$ns" + s"_$h",
      s"graft_mh_ingest_pairs$ns" + s"_$h")
  }

  /** Catalog name of the FOLDED half of the emitted-pairs log
    * (VERDICT r15 #3: the pairs table previously grew one small
    * parquet file per batch FOREVER and the read side paid a full
    * `distinct()` per read over the whole history). [[ingestTables]]'s
    * pairs table is now the append-shaped DELTA only;
    * [[compactIngestHistory]] periodically folds it into this
    * bucketed, distinct base — the same staged-swap discipline and the
    * same self-driving trigger as the band/sketch deltas — after which
    * the read side ([[graft.streaming.StreamingEvents
    * .dedupIngestPairs]]) is a plain bucketed scan. */
  private[graft] def pairsBaseTable(d: String, ns: String = ""): String = {
    val h = d.hashCode & 0x7fffffff
    s"graft_mh_pairs_base$ns" + s"_$h"
  }

  /** MAINTENANCE: fold the ingest delta into the bucketed history and
    * truncate it — the dedup analog of the ANN re-cluster fold. The
    * append-shaped delta grows per accepted batch and joins without
    * bucket co-location; past a threshold (self-driven by the sink —
    * [[graft.streaming.StreamingEvents.dedupIngestBatch]] — or an
    * explicit maintenance call) the bucketed base is REPLACED by
    * base ∪ delta (one write-time shuffle, amortized over every later
    * probe) and the delta dropped, restoring the boot-time layout with
    * the accepted documents first-class.
    *
    * Durability (VERDICT r14 top item): the fold rides
    * [[graft.sources.BucketedStore.replace]] — base ∪ delta is staged
    * to a separate bucketed table while the live store is untouched,
    * then swapped in by two directory renames with crash roll-forward;
    * no `localCheckpoint` (whose process-local blocks were both the
    * crash window and a cluster-sized buffer at 100 TB), no instant
    * without a complete on-disk copy. The delta is dropped ONLY after
    * both replaces committed, and each fold anti-joins the delta
    * against the base's own doc_ids first, so a crash anywhere in the
    * sequence replays idempotently (a delta already half-folded adds
    * nothing twice). Cache coherence is the compaction's own job
    * (VERDICT r14 #2): replace()'s refreshTable invalidates every
    * cached plan over the rewritten stores — including the running
    * sink's base-id cache — and the base-id Bloom sidecar memo is
    * dropped here so the next batch rebuilds it over the folded base.
    * Round18Spec pins fold + truncate + probe-after-compact;
    * Round19Spec pins crash roll-forward and the no-manual-invalidation
    * mid-stream fold. */
  private[graft] def compactIngestHistory(s: SparkSession, d: String,
      ns: String = ""): Unit = {
    val (bandsT, skT) = historyStores(d, ns)
    val (dB, dSk, pairsT) = ingestTables(d, ns)
    if (!s.catalog.tableExists(dB) && !s.catalog.tableExists(dSk) &&
        !s.catalog.tableExists(pairsT)) return
    if (s.catalog.tableExists(dB)) {
      val novel = s.table(dB).join(
        s.table(bandsT).select("doc_id").distinct(), Seq("doc_id"),
        "left_anti")
      graft.sources.BucketedStore.replace(
        s.table(bandsT).unionByName(novel), bandsT,
        Seq("band_idx", "k1", "k2"), 8)
    }
    if (s.catalog.tableExists(dSk)) {
      val novel = s.table(dSk).join(
        s.table(skT).select("doc_id"), Seq("doc_id"), "left_anti")
      graft.sources.BucketedStore.replace(
        s.table(skT).unionByName(novel), skT, Seq("doc_id"), 8)
    }
    Seq(dB, dSk).foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
    // pairs-log retention (VERDICT r15 #3): fold the append-shaped
    // pairs delta into the bucketed distinct base — distinct over the
    // union absorbs both crash-replay duplicates within the delta AND
    // a delta left behind by a crash between this replace and the drop
    // below (its rows are already in the base; re-folding adds nothing
    // twice). Post-fold reads are a plain bucketed scan.
    if (s.catalog.tableExists(pairsT)) {
      val pb = pairsBaseTable(d, ns)
      val base =
        if (s.catalog.tableExists(pb)) graft.sources.BucketedStore.read(s, pb)
        else s.table(pairsT).limit(0)
      graft.sources.BucketedStore.replace(
        base.unionByName(s.table(pairsT)).distinct(), pb,
        Seq("doc_a", "doc_b"), 8)
      s.sql(s"DROP TABLE IF EXISTS `$pairsT`")
    }
    CachePool.drop(s, d, "mhBaseBloom", ns)
    // reset the sink's running delta-size counter (VERDICT r15 #7).
    // Scope (ADVICE r16): this drop only reaches THIS JVM's memo — a
    // fold run by this process (the sink's own trigger or an
    // in-process maintenance call) never leaves the counter
    // stale-high. A fold run by a SEPARATE maintenance process leaves
    // the streaming process's counter high until its next batch
    // triggers one spurious compaction — idempotent and harmless (the
    // delta it folds is just small), after which the re-seeded
    // counter is accurate again.
    CachePool.drop(s, d, "mhDeltaDocs", ns)
  }

  /** The ingest-history LIFECYCLE as one oracle-gated face, in its own
    * `_lc` table namespace (the shared stores keep their history-only
    * invariant for the probe faces): boot the bucketed history over
    * the %5 ≠ 0 slice, land the day's accepted slice (%5 == 0) through
    * the REAL ingest sink ([[graft.streaming.StreamingEvents
    * .dedupIngestBatch]] — probe, pairs, delta append), FOLD the delta
    * into the bucketed base ([[compactIngestHistory]]), and emit the
    * compacted band index. The oracle derives the banded signature
    * relation over the WHOLE corpus independently, so the hash match
    * proves boot ∪ ingest ∪ compact lost and invented nothing — the
    * dedup analog of `ann_recluster_cycle`'s lifecycle proof. Runs
    * once per session (memoized); the read-back is the bucketed
    * table, i.e. the layout every later probe rides. */
  private val historyCompact: Q = (s, d) => {
    CachePool.memoized(s, d, "mhCompactFace") {
      val (dB, dSk, pT) = ingestTables(d, "_lc")
      Seq(dB, dSk, pT, pairsBaseTable(d, "_lc"))
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
      historyStoresExecute(s, d, "_lc")
      graft.streaming.StreamingEvents.dedupIngestBatch(s, d, "_lc")(
        DupCorpus.corpus(s, d)
          .filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id"), col("text")), 0L)
      compactIngestHistory(s, d, "_lc")
    }
    graft.sources.BucketedStore.read(s, historyStores(d, "_lc")._1)
      .select(col("doc_id"), col("band_idx"), col("k1"), col("k2"))
      .orderBy("doc_id", "band_idx")
  }
  private lazy val historyCompactSql =
    s"""$minhashCtes
SELECT doc_id, band_idx, k1, k2 FROM bands
ORDER BY doc_id, band_idx"""

  /** Build + persist the ingest-dedup history once (memoized like the
    * ANN index builds): one shingle pass over the history slice feeds
    * both tables. At 100 TB this is the write-time half of ingest
    * dedup — each arriving batch then probes these stores and never
    * re-reads history text. */
  private[graft] def historyStoresExecute(s: SparkSession, d: String,
      ns: String = ""): Unit =
    CachePool.memoized(s, d, "mhHistory", ns) {
      val (bandsT, skT) = historyStores(d, ns)
      // both namespaces' histories hold the same slice: one relation
      val sh = CachePool.cached(s, d, "historyShingles")(shingleRowsOf(
        DupCorpus.corpus(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 0)))
      graft.sources.BucketedStore.write(bandRows(sh), bandsT,
        Seq("band_idx", "k1", "k2"), 8)
      graft.sources.BucketedStore.write(shingleSketches(sh), skT,
        "doc_id", 8)
      // a (re)boot owns its dependents like the compaction does: the
      // ingest sink's base-id Bloom must rebuild over THIS base
      CachePool.drop(s, d, "mhBaseBloom", ns)
    }

  // -------------------------------------------------------------- cluster
  /** Canonical-document selection — the step that turns near-dup PAIRS
    * into a keep/drop decision: connected components over the verified
    * minhash pair graph, every doc labeled with its component's min
    * doc_id (`is_canonical` marks the keeper).
    *
    * Spark side is Pregel-style min-label propagation: each round takes
    * min(own label, neighbors' labels) and converges in
    * graph-diameter rounds; `localCheckpoint` after every round keeps
    * the plan CONSTANT-size (the round-3 lesson: iterative frontier
    * joins whose lineage embeds all previous levels drown the driver in
    * plan analysis — 78-185 s vs seconds). The label relation is
    * |dup-graph nodes| — orders of magnitude below corpus scale at
    * 100 TB — and the convergence check is one count per round; this is
    * GraphX connectedComponents' shape on relational ops. Oracle:
    * recursive-CTE transitive closure over the same pairs. */
  /** Pregel-style min-label connected components over an undirected
    * pair relation (doc_a, doc_b) → (doc_id, cluster_id, is_canonical).
    * Shared by the minhash [[cluster]] and the multimodal phash
    * cluster; see [[cluster]]'s doc for the plan-size discipline. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      require(rounds < 50, "CC propagation did not converge in 50 rounds")
      val nbr = edges.join(labels, edges("doc_b") === labels("doc_id"))
        .select(edges("doc_a").as("doc_id"), col("label"))
      // carry each node's previous label THROUGH the aggregate (the
      // single labels row per doc tags itself via `own`; max() ignores
      // the nbr rows' nulls) so the convergence check is a filter over
      // the just-checkpointed local blocks — round 18: previously it
      // was a fresh join of two label relations, a second shuffle job
      // per round on a loop whose per-round relations are tiny enough
      // that job count IS the cost (guide §2.4).
      val next = labels.select(col("doc_id"), col("label"),
          col("label").as("own"))
        .unionAll(nbr.withColumn("own", lit(null).cast("long")))
        .groupBy("doc_id")
        .agg(min("label").as("label"), max("own").as("prev"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("prev")).count()
      labels = next.select("doc_id", "label")
      rounds += 1
    }
    labels.select(col("doc_id"), col("label").as("cluster_id"),
      (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy("doc_id")
  }
  /** The CC labels of one pair graph on one dataset, stored once: the
    * cluster face, the size census and the BFS seeding all consume the
    * SAME labels (the dup graph's cluster assignment), and the
    * propagation loop's output is RDD-backed (localCheckpoint per
    * round), so no plan match could share it across invocations.
    * First touch pays the propagation; the stored labels are
    * dup-graph-sized, and a dataset switch frees their blocks. */
  private[graft] def ccLabels(s: SparkSession, d: String, graph: String)(
      pairs: => DataFrame): DataFrame =
    CachePool.checkpointed(s, d, "ccLabels", graph) {
      connectedComponents(pairs).localCheckpoint()
    }
  private val cluster: Q = (s, d) =>
    ccLabels(s, d, "minhash")(minhashPairs(s, d).select("doc_a", "doc_b"))
  private val clusterSql =
    minhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + s""", pairs AS MATERIALIZED (
$minhashPairSelect
), sym AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
), reach(a, b) AS (
  SELECT doc_a, doc_b FROM sym
  UNION
  SELECT r.a, s.doc_b FROM reach r JOIN sym s ON r.b = s.doc_a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id,
  (least(a, min(b)) = a) AS is_canonical
FROM reach GROUP BY a ORDER BY doc_id"""

  // ------------------------------------------------------ component sizes
  /** Dup-component size distribution — the one-glance cluster census
    * next to [[triangles]] (density) and [[bfsHops]] (depth): how many
    * near-dup families of each size exist. A size-2 wall means
    * pairwise dups; a long tail of big components means template
    * farms — the number that decides whether dedup drops 1% or 30% of
    * the corpus. Pure composition: two tiny aggregates over the
    * cluster labels (dup-graph-sized, ≪ corpus). */
  private val ccSizes: Q = (s, d) =>
    cluster(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  private lazy val ccSizesSql =
    s"""SELECT cluster_size, count(*) AS n_clusters FROM (
  SELECT cluster_id, count(*) AS cluster_size FROM (
$clusterSql
  ) GROUP BY cluster_id
) GROUP BY cluster_size ORDER BY cluster_size"""

  // ------------------------------------------------------------ BFS hops
  /** BFS hop cap: dup-graph components are near-cliques, so true
    * eccentricity from the canonical node is tiny; the cap bounds the
    * oracle's recursive CTE (which must not chase cycles forever) and
    * the kernel alike — both report every node within `BfsMaxHops`
    * hops. Round8Spec asserts convergence happens strictly below it. */
  val BfsMaxHops = 8

  /** Hop distance from each component's canonical doc through near-dup
    * edges — the cluster-QUALITY diagnostic that complements
    * [[triangles]]: hops==1 everywhere means the keeper directly
    * matches every member (a clean template family); growing hop depth
    * means the component is a CHAIN of borderline matches glued by
    * transitivity, exactly the clusters a curation pipeline should
    * re-verify before dropping members (minhash transitive closure is
    * not similarity-transitive).
    *
    * Spark side: ONE plan, no driver loop. Each symmetric edge is
    * tagged with its component label (the stored [[ccLabels]]), the
    * edges are grouped by
    * component, and the `graft_bfs_hops` kernel walks the component's
    * src/dst lists from the canonical root inside the task; the
    * (doc_id, hops) structs are exploded back to rows. Building the
    * face runs no job once the pair cache and the labels exist.
    * Scaling trade-off: one component's whole edge list sits in one
    * task (one `collect_list` row). Components are dup-graph-sized —
    * near-dup families of a few to a few hundred docs, far smaller
    * than the corpus — so the per-task state is bounded by the largest
    * duplicate family, not by corpus size; a single giant component
    * (a template farm of millions of docs) would need the relational
    * frontier form instead. Oracle: recursive CTE with a hop counter
    * capped at the same bound, min() per node. */
  private val bfsHops: Q = (s, d) => {
    val e = minhashPairs(s, d).select("doc_a", "doc_b")
    val labels = ccLabels(s, d, "minhash")(e)
      .select(col("doc_id").as("doc_a"), col("cluster_id"))
    e.unionAll(e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .join(labels, "doc_a")
      .groupBy("cluster_id")
      .agg(collect_list("doc_a").as("src"), collect_list("doc_b").as("dst"))
      .select(col("cluster_id"), explode(call_function("graft_bfs_hops",
        col("cluster_id"), col("src"), col("dst"), lit(BfsMaxHops))).as("b"))
      .select(col("b.doc_id"), col("cluster_id"), col("b.hops"))
      .orderBy("doc_id")
  }
  private val bfsHopsSql =
    minhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + s""", pairs AS MATERIALIZED (
$minhashPairSelect
), sym AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
), reach(a, b) AS (
  SELECT doc_a, doc_b FROM sym
  UNION
  SELECT r.a, s.doc_b FROM reach r JOIN sym s ON r.b = s.doc_a
), lab AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
), bfs(doc_id, hops) AS (
  SELECT DISTINCT cluster_id, 0 FROM lab
  UNION
  SELECT s.doc_b, b.hops + 1
  FROM bfs b JOIN sym s ON s.doc_a = b.doc_id
  WHERE b.hops < $BfsMaxHops
)
SELECT l.doc_id, l.cluster_id, CAST(min(b.hops) AS INT) AS hops
FROM lab l JOIN bfs b ON b.doc_id = l.doc_id
GROUP BY l.doc_id, l.cluster_id ORDER BY l.doc_id"""

  // ------------------------------------------------------------ winnowing
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): the LOCAL-overlap dedup face next to minhash's
    * whole-document signature — guaranteed to detect any shared run of
    * ≥ k+w−1 tokens, which catches partial plagiarism/quotation that
    * document-level Jaccard dilutes away. Per doc: k-gram hashes at
    * every position, then the minimum hash of each w-window is kept
    * (density 2/(w+1), positions guaranteed to overlap for shared
    * runs); docs sharing ≥ 3 surviving fingerprints pair up. Both
    * per-doc passes are higher-order `transform`s riding the scan
    * (ZERO window shuffle — the k-gram and winnow arrays never leave
    * the row); the only shuffles are the fingerprint distinct and the
    * capped equi-join on fp (boilerplate fingerprints shared by > 20
    * docs are dropped, the same frequency-cap discipline as every
    * other blocker — pair volume ∝ true overlap, never corpus²). All
    * integer hashes → hash-stable cross-engine. */
  private val WinK = 4; private val WinW = 4
  private val WinFpCap = 20; private val WinMinShared = 3
  private val winnow: Q = (s, d) => {
    // relational k-gram + winnow: posexplode + lead×3 + two framed
    // windows, all sharing ONE doc_id distribution (the corpus cache
    // is already doc_id-partitioned) and fully codegen'd — the
    // transform(sequence(...)) array form is interpreted and re-hashes
    // per element (measured 3× slower at sf0.1, the shingleRows
    // lesson). Same fingerprints: the oracle keeps the array form.
    val w = Window.partitionBy("doc_id").orderBy("idx")
    val winFrame = w.rowsBetween(0, WinW - 1)
    val whole = Window.partitionBy("doc_id")
    val kgr = DupCorpus.corpus(s, d)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("idx", "tok")))
      .withColumn("t1", lead("tok", 1).over(w))
      .withColumn("t2", lead("tok", 2).over(w))
      .withColumn("t3", lead("tok", 3).over(w))
      .filter(col("t3").isNotNull)
      .select(col("doc_id"), col("idx"),
        DupCorpus.h60(concat_ws(" ",
          col("tok"), col("t1"), col("t2"), col("t3"))).as("h"))
    // the fingerprint relation is read three times below (the cap
    // aggregate and both sides of the pair self-join) — pool it so the
    // k-gram + two framed windows run once per corpus (round 18; the
    // density-2/(w+1) winnow relation is the SMALL output of that
    // pipeline, the same lifecycle argument as the pooled shingles)
    val fps = CachePool.cached(s, d, "winnowFingerprints")(kgr
      .withColumn("fp", min("h").over(winFrame))
      .withColumn("m", count(lit(1)).over(whole))
      // last W-1 positions start truncated windows — not winnow picks
      .filter(col("idx") <= col("m") - WinW)
      .select("doc_id", "fp")
      .distinct())
    val ok = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("nd"))
        .filter(col("nd") <= WinFpCap).select("fp"),
      "fp")
    val a = ok.select(col("fp"), col("doc_id").as("doc_a"))
    val b = ok.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, "fp").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinMinShared)
      .orderBy("doc_a", "doc_b")
  }
  private val winnowSql = {
    val hk = graft.oracle.OraclePipeline.h60Sql(
      s"array_to_string(toks[i+1:i+$WinK], ' ')")
    s"""${graft.oracle.OraclePipeline.DupCte}, wt AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM dup
), wkg AS (
  SELECT doc_id,
    list_transform(range(0, len(toks) - $WinK + 1),
      i -> $hk) AS kg
  FROM wt WHERE len(toks) >= ${WinK + WinW - 1}
), wfp AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
      unnest(list_transform(range(0, len(kg) - $WinW + 1),
        j -> list_min(kg[j+1:j+$WinW]))) AS fp
    FROM wkg)
), wok AS (
  SELECT wfp.* FROM wfp
  JOIN (SELECT fp FROM wfp GROUP BY fp
        HAVING count(*) <= $WinFpCap) c USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM wok a JOIN wok b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= $WinMinShared
ORDER BY doc_a, doc_b"""
  }

  // ------------------------------------------------------------ pagerank
  /** PageRank over the verified near-dup graph — the centrality face of
    * the dup relation: a document whose content is echoed by many other
    * highly-echoed documents is the canonical/viral copy, and its rank
    * is the principal-eigenvector score SEO/dedup triage uses to pick
    * which copy to keep (vs [[cluster]]'s arbitrary min-id keeper).
    * Five fixed power iterations with damping 0.85 over the symmetric
    * pair graph (every node has out-degree ≥ 1, so no dangling mass).
    * Each iteration is one equi-join (edges ⋈ ranks) + one combinable
    * group-by — GraphX's aggregateMessages shape on relational ops —
    * and `localCheckpoint` per round keeps the plan constant-size (the
    * round-3 iterative-lineage lesson). Determinism: per-node
    * contribution sums go through DECIMAL(25,15) so addition is exact
    * and order-free, and the damping arithmetic is single IEEE ops —
    * both engines see bit-identical doubles, no tolerance needed.
    * Scale: the rank relation is |dup-graph nodes| ≪ corpus, degree is
    * capped by the blocking's bucket caps, and iterations are fixed —
    * at 100 TB this is five bounded shuffles over a small relation. */
  private val PrIters = 5
  private val pagerank: Q = (s, d) => {
    val pairs = minhashPairs(s, d)
      .select("doc_a", "doc_b")
    val edges = pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    val nodes = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    val n = broadcast(nodes.agg(count(lit(1)).as("n")))
    var rank = nodes.crossJoin(n)
      .select(col("doc_id"), col("deg"),
        (lit(1.0).cast("double") / col("n")).as("rank"))
      .localCheckpoint()
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(rank, edges("doc_b") === rank("doc_id"))
        .select(edges("doc_a").as("doc_id"),
          (col("rank") / col("deg")).cast("decimal(25,15)").as("c"))
      val sums = contrib.groupBy("doc_id").agg(sum(col("c")).as("cs"))
      rank = nodes.join(sums, "doc_id").crossJoin(n)
        .select(col("doc_id"), col("deg"),
          (lit(0.15) / col("n") + lit(0.85) * col("cs").cast("double"))
            .as("rank"))
        .localCheckpoint()
    }
    rank.select(col("doc_id"), col("deg"), round(col("rank"), 9).as("rank"))
      .orderBy("doc_id")
  }
  private val pagerankSql = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
  SELECT d.doc_id, d.deg,
    CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE)
      * CAST(sum(CAST(r.rank / r.deg AS DECIMAL(25,15))) AS DOUBLE) AS rank
  FROM sym s
  JOIN $prev r ON r.doc_id = s.doc_b
  JOIN deg d ON d.doc_id = s.doc_a, nn
  GROUP BY d.doc_id, d.deg, nn.n
)"""
    val iters = (1 to PrIters)
      .map(k => iter(if (k == 1) "r0" else s"r${k - 1}", s"r$k"))
      .mkString(", ")
    s"""$minhashCtes, prpairs AS (
$minhashPairSelect
), sym AS (
  SELECT doc_a, doc_b FROM prpairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM prpairs
), deg AS (
  SELECT doc_a AS doc_id, count(*) AS deg FROM sym GROUP BY doc_a
), nn AS (
  SELECT count(*) AS n FROM deg
), r0 AS (
  SELECT doc_id, deg, CAST(1 AS DOUBLE) / nn.n AS rank FROM deg, nn
), $iters
SELECT doc_id, deg, round(rank, 9) AS rank
FROM r$PrIters ORDER BY doc_id"""
  }

  // ---------------------------------------------------------- containment
  /** Containment dedup — the ASYMMETRIC verify face (Broder's
    * containment |A∩B| / min(|A|,|B|)): a truncated or excerpted copy
    * is nearly a SUBSET of its source, so its Jaccard dilutes with the
    * length gap while its containment stays ≈1 — the metric that
    * catches quote-extraction and prefix-truncation dups. Same banded
    * candidate generation and one-row-per-pair sketch verify as
    * [[minhash]] (same scale posture); only the denominator and the
    * 0.7 threshold differ. */
  private val containment: Q = (s, d) => {
    val sk = shingleSketches(shingleRows(s, d))
    val c = col("ni").cast("double") / least(col("na"), col("nb"))
    minhashCandidates(s, d)
      .join(sk.select(col("doc_id").as("doc_a"),
        col("hs").as("ha"), col("n").as("na")), "doc_a")
      .join(sk.select(col("doc_id").as("doc_b"),
        col("hs").as("hb"), col("n").as("nb")), "doc_b")
      .withColumn("ni", call_function("graft_intersect", col("ha"), col("hb")))
      .filter(c >= 0.7)
      .select(col("doc_a"), col("doc_b"), round(c, 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }
  private val containmentSql = s"""$minhashCtes
SELECT i.doc_a, i.doc_b,
  round(CAST(i.ni AS DOUBLE) / least(na.n, nb.n), 6) AS containment
FROM inter i
JOIN nsh na ON na.doc_id = i.doc_a
JOIN nsh nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / least(na.n, nb.n) >= 0.7
ORDER BY doc_a, doc_b"""

  // ---------------------------------------------------- degree histogram
  /** Degree distribution of the verified near-dup graph — the third
    * one-glance structural census next to [[ccSizes]] (component sizes)
    * and [[triangles]] (density): how many docs have exactly k verified
    * near-dup partners. A mass at degree 1 means pairwise dups; a heavy
    * tail is the template-farm signature AND the skew forecast for
    * every downstream self-join on this graph (the wedge fan-out in
    * [[triangles]] and the propagation width in [[cluster]] are both
    * degree-driven — this histogram is how an operator decides whether
    * those runs need salting). Two tiny aggregates over the edge list,
    * dup-graph scale ≪ corpus scale. */
  private val degreeHist: Q = (s, d) => {
    // both endpoint projections read the edge list — materialize it
    // once (dup-graph scale) so the minhash pipeline doesn't plan
    // twice (the [[triangles]] localCheckpoint discipline; without it
    // this plan hits ~49 exchanges, caught by PlanHygieneSpec)
    val e = minhashPairs(s, d)
      .select("doc_a", "doc_b").localCheckpoint()
    e.select(col("doc_a").as("v"))
      .unionAll(e.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }
  private val degreeHistSql = s"""$minhashCtes, pairs AS (
  SELECT doc_a, doc_b FROM (
$minhashPairSelect
  )
), deg AS (
  SELECT v, count(*) AS degree FROM (
    SELECT doc_a AS v FROM pairs
    UNION ALL
    SELECT doc_b AS v FROM pairs
  ) GROUP BY v
)
SELECT degree, count(*) AS n_docs FROM deg
GROUP BY degree ORDER BY degree"""

  // ------------------------------------------------- assortativity
  /** Degree assortativity of the verified near-dup graph — Pearson r
    * of endpoint degrees over all edges (Newman's mixing
    * coefficient): r near +1 means clique-like communities of equals
    * (the benign template-family structure), clearly negative r means
    * hubs glued to leaves — the star shape that warns the min-label
    * propagation of [[cluster]] will chain unrelated docs through one
    * popular page. Completes the graph census next to size, depth,
    * density, and local clustering, and is computed like every other
    * correlation here: exact integer moments over the symmetric edge
    * list (one equi-join of the degree relation onto each endpoint),
    * one closed-form IEEE finish, null when the graph is
    * degree-regular (zero variance). */
  private val assortativity: Q = (s, d) => {
    val e = minhashPairs(s, d)
      .select("doc_a", "doc_b").localCheckpoint()
    val deg = e.select(col("doc_a").as("v"))
      .unionAll(e.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val sym = e.unionAll(
      e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val m = sym
      .join(deg.toDF("doc_a", "dx"), "doc_a")
      .join(deg.toDF("doc_b", "dy"), "doc_b")
      .agg(count(lit(1)).as("m"), sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    def D(n: String) = col(n).cast("double")
    m.select(expr("m div 2").as("n_edges"),
        (D("m") * D("sxy") - D("sx") * D("sy")).as("cov"),
        (D("m") * D("sxx") - D("sx") * D("sx")).as("vx"),
        (D("m") * D("syy") - D("sy") * D("sy")).as("vy"))
      .select(col("n_edges"),
        when(col("vx") > 0 && col("vy") > 0,
          round(col("cov") / sqrt(col("vx") * col("vy")), 6))
          .as("assortativity"))
  }
  private val assortativitySql = s"""$minhashCtes, pairs AS (
  SELECT doc_a, doc_b FROM (
$minhashPairSelect
  )
), deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT doc_a AS v FROM pairs
    UNION ALL
    SELECT doc_b AS v FROM pairs
  ) GROUP BY v
), sym AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), mo AS (
  SELECT count(*) AS m,
    CAST(sum(da.deg) AS BIGINT) AS sx, CAST(sum(db.deg) AS BIGINT) AS sy,
    CAST(sum(da.deg * db.deg) AS BIGINT) AS sxy,
    CAST(sum(da.deg * da.deg) AS BIGINT) AS sxx,
    CAST(sum(db.deg * db.deg) AS BIGINT) AS syy
  FROM sym
  JOIN deg da ON da.v = sym.doc_a
  JOIN deg db ON db.v = sym.doc_b
), f AS (
  SELECT m // 2 AS n_edges,
    CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov,
    CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
    CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy
  FROM mo
)
SELECT CAST(n_edges AS BIGINT) AS n_edges,
  CASE WHEN vx > 0 AND vy > 0
    THEN round(cov / sqrt(vx * vy), 6) ELSE NULL END AS assortativity
FROM f"""

  // --------------------------------------------------- link prediction
  /** Common-neighbor link prediction over the verified near-dup graph
    * — the transitivity-repair pass for LSH misses: minhash banding is
    * probabilistic, so a genuine duplicate family occasionally
    * surfaces as a path (A~B, B~C) with the closing A~C edge missed.
    * A non-adjacent pair sharing a verified neighbor is the
    * transitivity candidate (A~B~C ⇒ A~C?) a curation pipeline
    * re-verifies with the exact sketch compare before trusting the
    * closure; the support count ships so a consumer can demand ≥2 on
    * denser graphs (dup components here are 3-5-cliques, so one held
    * edge leaves exactly one witness). Wedges enumerate per common MIDPOINT (one
    * self-equi-join of the symmetric edge list on the mid vertex, the
    * [[triangles]] relation scale — dup-graph, ≪ corpus), existing
    * edges leave via one anti-join, and the support column bounds the
    * output to near-clique gaps.
    *
    * On this corpus the bands happen to find EVERY true edge, so the
    * miss is simulated: a deterministic 1-in-5 of the verified edges
    * is held out ((doc_a+doc_b) ≡ 0 mod 5 — the evaluation-standard
    * edge-holdout protocol), prediction runs on the remainder, and
    * Round11Spec pins that held-out edges are actually recovered. */
  private val linkPredict: Q = (s, d) => {
    val e = minhashPairs(s, d)
      .select("doc_a", "doc_b")
      .filter((col("doc_a") + col("doc_b")) % 5 =!= 0)
      .localCheckpoint()
    val sym = e.unionAll(
      e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val cn = sym.as("x").join(sym.as("y"),
        col("x.doc_a") === col("y.doc_a") &&
          col("x.doc_b") < col("y.doc_b"))
      .groupBy(col("x.doc_b").as("doc_a"), col("y.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common_neighbors"))
    cn.filter(col("common_neighbors") >= 1)
      .join(e, Seq("doc_a", "doc_b"), "left_anti")
      .orderBy("doc_a", "doc_b")
  }
  private val linkPredictSql = s"""$minhashCtes, apairs AS (
  SELECT doc_a, doc_b FROM (
$minhashPairSelect
  )
), pairs AS (
  SELECT doc_a, doc_b FROM apairs WHERE (doc_a + doc_b) % 5 <> 0
), sym AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
), cn AS (
  SELECT x.doc_b AS doc_a, y.doc_b AS doc_b, count(*) AS common_neighbors
  FROM sym x JOIN sym y
    ON x.doc_a = y.doc_a AND x.doc_b < y.doc_b
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common_neighbors FROM cn
WHERE common_neighbors >= 1
  AND NOT EXISTS (SELECT 1 FROM pairs p
    WHERE p.doc_a = cn.doc_a AND p.doc_b = cn.doc_b)
ORDER BY doc_a, doc_b"""

  // ------------------------------------------------------------ triangles
  /** Exact triangle census of the verified near-dup graph — the
    * cluster-density diagnostic (a clean duplicate group is a clique:
    * `C(k,3)` triangles; a chain of borderline matches has none —
    * per-node triangle counts separate the two before any canonical
    * pick). Enumeration is the degree-ordered compact-forward scheme:
    * orient every edge from its (degree, id)-smaller endpoint to the
    * larger, build wedges from the two out-edges of their common
    * LOWEST-ranked vertex, and close each wedge with one semi-join
    * probe. Each triangle is counted exactly once at its minimum
    * vertex, and — the 100 TB point — the wedge fan-out per vertex is
    * its ORIENTED out-degree, O(√m) on any graph, so a high-degree hub
    * (a viral near-dup template) contributes √m-bounded wedges instead
    * of deg² — the skew that kills naive ID-ordered enumeration. The
    * oracle enumerates the same triangles by plain a<b<c ID order
    * (orientation choice is semantics-free). Edge relation = dup-graph
    * nodes, orders of magnitude below corpus scale. */
  /** Per-node triangle counts over an already-materialized edge list —
    * the compact-forward enumeration body, shared by [[triangles]] and
    * the clustering-coefficient face. `e` MUST be checkpointed by the
    * caller (it is referenced five times). */
  private def triangleCounts(e: DataFrame): DataFrame = {
    val deg = e.select(col("doc_a").as("v"))
      .unionAll(e.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("v").as("doc_a"), col("deg").as("dega")), "doc_a")
      .join(deg.select(col("v").as("doc_b"), col("deg").as("degb")), "doc_b")
    val aFirst = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("doc_a") < col("doc_b"))
    val out = withDeg.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(aFirst, col("degb")).otherwise(col("dega")).as("ddeg"))
    val wedges = out.as("e1").join(out.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val tri = wedges.join(
      out.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
  }
  private val triangles: Q = (s, d) => {
    // the verified pair relation is referenced five times in the
    // enumeration (degree, orientation, wedge self-join, closing
    // probe); materialize it once — dup-graph edges are orders of
    // magnitude below corpus scale — so each reference is a read of
    // ~|pairs| rows instead of a replay of the whole minhash pipeline
    // (same localCheckpoint discipline as [[cluster]]; without it the
    // composed plan exceeds 300 exchanges)
    val e = minhashPairs(s, d)
      .select("doc_a", "doc_b").localCheckpoint()
    triangleCounts(e).orderBy("doc_id")
  }

  // ------------------------------------------------ clustering coeff
  /** Local clustering coefficient per node — the fourth structural
    * census over the dup graph (sizes → [[ccSizes]], depth →
    * [[bfsHops]], density → [[triangles]], and now HOW CLIQUE-LIKE
    * each doc's neighborhood is): c(v) = 2·t(v) / (deg(v)·(deg(v)−1))
    * for deg ≥ 2. c≈1 everywhere says the components are true
    * template families (safe to drop all but the canonical); low c on
    * a high-degree node is a hub gluing UNRELATED docs through
    * borderline matches — the node whose edges a curation pipeline
    * re-verifies first. One checkpointed edge list feeds both the
    * triangle enumeration and the degree count; the coefficient is a
    * fixed IEEE expression over exact integers. */
  private val clusteringCoeff: Q = (s, d) => {
    val e = minhashPairs(s, d)
      .select("doc_a", "doc_b").localCheckpoint()
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triangleCounts(e), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
          / (col("degree") * (col("degree") - 1)), 6).as("coeff"))
      .orderBy("doc_id")
  }
  private val clusteringCoeffSql = s"""$minhashCtes, pairs AS (
  SELECT doc_a, doc_b FROM (
$minhashPairSelect
  )
), tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
), tcnt AS (
  SELECT doc_id, count(*) AS n_triangles FROM (
    SELECT unnest([a, b, c]) AS doc_id FROM tri
  ) GROUP BY doc_id
), deg AS (
  SELECT doc_id, count(*) AS degree FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL
    SELECT doc_b AS doc_id FROM pairs
  ) GROUP BY doc_id
)
SELECT d.doc_id, d.degree,
  coalesce(t.n_triangles, 0) AS n_triangles,
  round(2.0 * coalesce(t.n_triangles, 0)
    / (d.degree * (d.degree - 1)), 6) AS coeff
FROM deg d LEFT JOIN tcnt t ON t.doc_id = d.doc_id
WHERE d.degree >= 2
ORDER BY d.doc_id"""

  private val trianglesSql = s"""$minhashCtes, pairs AS (
  SELECT doc_a, doc_b FROM (
$minhashPairSelect
  )
), tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
), nodes AS (
  SELECT unnest([a, b, c]) AS doc_id FROM tri
)
SELECT doc_id, count(*) AS n_triangles
FROM nodes GROUP BY doc_id ORDER BY doc_id"""

  // -------------------------------------------------------------- simhash
  /** SimHash(60-bit) near-dup pairs: per-token 60-bit hashes vote per
    * bit (majority with multiplicity), banded by 4×15-bit chunks for the
    * candidate equi-join, verified with hamming distance ≤ 10.
    *
    * The band key is SALTED with (lang, token-count÷8 ±1): low-entropy
    * fingerprints of similar-length same-topic docs otherwise pile into
    * hot buckets (measured round 2: one 330-doc bucket → 54 k pairs from
    * a single bucket, 417 k total; salted: 32 k total, hottest ≤ 32
    * docs). Bucket width 8 > the near-dup token delta (6), so ±1 keeps
    * every true near-dup reachable. On top, a frequency cap drops
    * degenerate buckets (> [[SimhashBucketCap]] docs) outright — the
    * standard LSH stop-bucket guard: a 100 TB corpus WILL have
    * pathological keys, and one such bucket would otherwise contribute
    * O(cap²) pairs. No-op on all testdata SFs. */
  val SimhashBucketCap = 64
  /** Salted + capped band-collision pairs with their hamming distance —
    * exposed for DedupSpec's candidate-volume bound. */
  private[graft] def simhashCandidates(s: SparkSession, d: String): DataFrame = {
    val toks = DupCorpus.corpus(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .select(col("doc_id"), col("lang"), DupCorpus.h60(col("tok")).as("h"))
    // one wide aggregation: 60 per-bit vote sums in a single map-side-
    // combinable pass (the explode-to-(doc,bit)-rows formulation
    // shuffles 60× the token count and flapped 9-59 s at sf0.1)
    val bitSums = (0 to 59).map(j =>
      sum(expr(s"(h div ${1L << j}L) % 2")).as(s"s$j"))
    val votes = toks.groupBy("doc_id", "lang")
      .agg(count("*").as("n"), bitSums: _*)
    // balanced + tree (depth 6, not a 60-deep left fold): deep
    // expression chains inflate driver-side canonicalization/optimizer
    // passes out of proportion to the actual arithmetic
    def balancedSum(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
      if (cols.size == 1) cols.head
      else balancedSum(cols.grouped(2).map(g => g.reduce(_ + _)).toSeq)
    val fpExpr = balancedSum((0 to 59).map(j =>
      when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(0L)))
    val fp = CachePool.cached(s, d, "simhashFingerprints")(
      votes.select(col("doc_id"), col("lang"), fpExpr.as("fp"), expr("n div 8").as("nb")))
      // one row per doc; both sides of the chunk self-join and the
      // bucket-size census read it — cache so the vote pipeline runs once
    val chunks = fp.select(col("doc_id"), col("lang"), col("fp"), col("nb"),
      explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk",
        expr("(fp div shiftleft(cast(1 as bigint), c * 15)) % 32768"))
    val sz = chunks.groupBy("lang", "c", "chunk", "nb")
      .agg(count("*").as("bcnt"))
    val ok = chunks.join(sz.filter(col("bcnt") <= SimhashBucketCap),
      Seq("lang", "c", "chunk", "nb"))
    val bexp = ok.select(col("doc_id").as("doc_b_id"), col("fp").as("fp_b"),
      col("lang"), col("c"), col("chunk"),
      explode(array(col("nb") - 1, col("nb"), col("nb") + 1)).as("nb"))
    ok.as("a").join(bexp.as("b"),
        col("a.lang") === col("b.lang") && col("a.c") === col("b.c") &&
        col("a.chunk") === col("b.chunk") && col("a.nb") === col("b.nb") &&
        col("a.doc_id") < col("b.doc_b_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_b_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp_b"))).as("hamming"))
      .distinct()
  }
  private val simhash: Q = (s, d) =>
    simhashCandidates(s, d)
      .filter(col("hamming") <= 10)
      .orderBy("doc_a", "doc_b")
  private val simhashSql =
    s"""$DupCte, toks AS (
  SELECT doc_id, ${h60Sql("t.tok")} AS h
  FROM dup, unnest(string_split(lower(text), ' ')) AS t(tok)
), ntok AS (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
), bitcnt AS (
  SELECT doc_id, j.j, sum((h // (CAST(1 AS BIGINT) << j.j)) % 2) AS cnt
  FROM toks, (SELECT unnest(range(0, 60)) AS j) j
  GROUP BY doc_id, j.j
), fp0 AS (
  SELECT b.doc_id,
    CAST(sum(CASE WHEN b.cnt * 2 > n.n THEN CAST(1 AS BIGINT) << b.j ELSE 0 END) AS BIGINT) AS fp,
    n.n // 8 AS nb
  FROM bitcnt b JOIN ntok n ON b.doc_id = n.doc_id
  GROUP BY b.doc_id, n.n
), fpl AS (
  SELECT f.doc_id, f.fp, f.nb, d.lang FROM fp0 f JOIN dup d ON f.doc_id = d.doc_id
), chunks AS (
  SELECT doc_id, lang, fp, nb, c.c, (fp // (CAST(1 AS BIGINT) << (c.c * 15))) % 32768 AS chunk
  FROM fpl, (SELECT unnest([0,1,2,3]) AS c) c
), sz AS (
  SELECT lang, c, chunk, nb, count(*) AS bcnt FROM chunks GROUP BY lang, c, chunk, nb
), ok AS (
  SELECT ch.* FROM chunks ch
  JOIN sz ON ch.lang = sz.lang AND ch.c = sz.c AND ch.chunk = sz.chunk AND ch.nb = sz.nb
  WHERE sz.bcnt <= $SimhashBucketCap
), cexp AS (
  SELECT doc_id AS doc_b_id, fp AS fp_b, lang, c, chunk,
    unnest([nb - 1, nb, nb + 1]) AS nb
  FROM ok
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_b_id AS doc_b,
  CAST(bit_count(xor(a.fp, b.fp_b)) AS INT) AS hamming
FROM ok a JOIN cexp b
  ON a.lang = b.lang AND a.c = b.c AND a.chunk = b.chunk AND a.nb = b.nb
 AND a.doc_id < b.doc_b_id
WHERE bit_count(xor(a.fp, b.fp_b)) <= 10
ORDER BY doc_a, doc_b"""

  // ------------------------------------------------------- ngram jaccard
  /** Exact n-gram Jaccard over blocked candidates, Jaccard ≥ 0.5. The
    * blocking key is (lang, n_chars÷50 bucket ±1) PLUS a 1-row MinHash
    * band (2 independent r=1 bands, seeds 100/101): the length-only
    * block has a FIXED block count, so its candidate volume grows
    * quadratically with corpus size (measured round 2: 1.35 M pairs at
    * sf0.1); requiring a shared minhash value makes candidate volume
    * track true similarity (measured: 3.8 k pairs, a 350× cut). Recall
    * per band is J itself, so for pairs at the 0.5 threshold the 2-band
    * filter catches ≥ 75%, and ≥ 99% at the J≈0.9 of real near-dups. */
  /** The (lang, length-bucket, minhash-band) blocked candidate pairs —
    * exposed for DedupSpec's candidate-volume bound. */
  private[graft] def ngramCandidates(s: SparkSession, d: String): DataFrame = {
    val corpus = DupCorpus.corpus(s, d)
    val sh = shingleRows(s, d)
    val pmin = sh.groupBy("doc_id").agg(
      min(DupCorpus.perm(100, col("h"))).as("p0"),
      min(DupCorpus.perm(101, col("h"))).as("p1"))
    val docs = corpus.select(col("doc_id"), col("lang"),
      expr("n_chars div 50").as("bucket"))
      .join(pmin, "doc_id")
    val bands = docs.select(col("doc_id"), col("lang"), col("bucket"), expr(
      "inline(array(struct(0 as bi, p0 as bk), struct(1 as bi, p1 as bk)))"))
    val bexp = bands.select(col("doc_id").as("doc_b_id"), col("lang"),
      col("bi"), col("bk"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("bucket"))
    bands.as("a")
      .join(bexp.as("b"),
        col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket") &&
        col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_b_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_b_id").as("doc_b"))
      .distinct()
  }
  private val ngramJaccard: Q = (s, d) => {
    val sh = shingleRows(s, d)
    jaccardVerify(ngramCandidates(s, d), shingleSketches(sh), 0.5)
      .orderBy("doc_a", "doc_b")
  }
  private val ngramJaccardSql =
    s"""$DupCte$ShingleCtes, pmin AS (
  SELECT doc_id,
    min(${permSql(100, "h")}) AS p0,
    min(${permSql(101, "h")}) AS p1
  FROM shh GROUP BY doc_id
), docs AS (
  SELECT d.doc_id, d.lang, d.n_chars // 50 AS bucket, p.p0, p.p1
  FROM dup d JOIN pmin p ON d.doc_id = p.doc_id
), bands AS (
  SELECT doc_id, lang, bucket, b.bi,
    CASE b.bi WHEN 0 THEN p0 ELSE p1 END AS bk
  FROM docs, (SELECT unnest([0, 1]) AS bi) b
), bexp AS (
  SELECT doc_id AS doc_b_id, lang, bi, bk,
    unnest([bucket - 1, bucket, bucket + 1]) AS bucket
  FROM bands
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_b_id AS doc_b
  FROM bands a JOIN bexp b
    ON a.lang = b.lang AND a.bucket = b.bucket AND a.bi = b.bi AND a.bk = b.bk
   AND a.doc_id < b.doc_b_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cand c
  JOIN skh sa ON sa.doc_id = c.doc_a
  JOIN skh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
  round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) AS jaccard
FROM inter i
JOIN nsh na ON na.doc_id = i.doc_a
JOIN nsh nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= 0.5
ORDER BY doc_a, doc_b"""

  // ------------------------------------------------ substring removal
  /** The TEXT-PRODUCING half of substring dedup — [[substringDedup]]
    * accounts for repeated spans; this face actually EXCISES them and
    * emits the cleaned documents (as md5 + token counts, so the oracle
    * pins the exact output text without shipping it): every token
    * position covered by any duplicated [[SpanN]]-window is dropped,
    * survivors re-join in position order. Covered positions come from
    * a bounded SpanN-fan-out of the dup positions (∝ repeated spans,
    * not corpus); the anti-join and the ordered re-assembly
    * (array_sort over (pos, tok) structs — a per-doc operation, no
    * global sort) ride the affected-docs slice only. This is the Lee
    * et al. suffix-dedup WRITE path: at 100 TB the affected slice is
    * the small side, and untouched documents never enter the plan. */
  private val substringClean: Q = (s, d) => {
    val dupPos = spanDupPos(s, d).localCheckpoint()
    val cov = dupPos.select(col("doc_id"),
      explode(sequence(col("i"), col("i") + SpanN - 1)).as("pos"))
      .distinct()
    val affected = dupPos.select("doc_id").distinct()
    val toksC = split(lower(col("text")), " ")
    val tokPos = DupCorpus.corpus(s, d)
      .join(affected, "doc_id")
      .select(col("doc_id"), posexplode(toksC).as(Seq("pos", "tok")))
    val cleaned = tokPos.join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens_after"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("cleaned"))
    tokPos.groupBy("doc_id").agg(count(lit(1)).as("n_tokens_before"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens_before"),
        coalesce(col("n_tokens_after"), lit(0L)).as("n_tokens_after"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
      .orderBy("doc_id")
  }
  // lazy: spanDupPosCtes/SpanN are declared later in the object — an
  // eager val here would capture null/0 at init order
  private lazy val substringCleanSql = spanDupPosCtes + s""", cov AS (
  SELECT DISTINCT doc_id, i + o.o AS pos
  FROM dup_pos, (SELECT unnest(range(0, $SpanN)) AS o) o
), aff AS (
  SELECT DISTINCT doc_id FROM dup_pos
), tp AS (
  SELECT t.doc_id, u.i AS pos, t.toks[u.i + 1] AS tok
  FROM tok t JOIN aff USING (doc_id),
    unnest(range(0, len(t.toks))) AS u(i)
), kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
  WHERE cov.doc_id IS NULL
), cleaned AS (
  SELECT doc_id, count(*) AS n_after,
    string_agg(tok, ' ' ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
), before AS (
  SELECT t.doc_id, len(t.toks) AS n_before FROM tok t JOIN aff USING (doc_id)
)
SELECT b.doc_id, CAST(b.n_before AS BIGINT) AS n_tokens_before,
  CAST(coalesce(c.n_after, 0) AS BIGINT) AS n_tokens_after,
  md5(coalesce(c.cleaned, '')) AS cleaned_md5
FROM before b LEFT JOIN cleaned c USING (doc_id)
ORDER BY b.doc_id"""

  // --------------------------------------------- prefix-filter jaccard
  /** Exact set-similarity self-join via PREFIX FILTERING — the
    * AllPairs/PPJoin family (Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07), the standard EXACT-recall complement
    * to the probabilistic LSH faces: unlike [[minhash]]/[[ngramJaccard]]
    * (whose bands can miss borderline pairs), every pair with true
    * Jaccard ≥ 0.5 is guaranteed to surface. The filter: order each
    * doc's shingles by ascending GLOBAL document frequency (rarest
    * first, ties by hash), keep only the first n − ⌈t·n⌉ + 1 as the
    * doc's "prefix"; any qualifying pair must collide on ≥1 prefix
    * shingle (pigeonhole: if two docs share none of each other's
    * prefixes, their intersection is too small for J ≥ t). A length
    * filter (sizes within ×2 of each other, implied by J ≥ 0.5) prunes
    * further — both filters are lossless.
    *
    * Scale posture: the prefix relation is ~half the shingle volume
    * (linear); the candidate join is an equi-join on the shingle hash,
    * and because prefixes hold each doc's RAREST shingles, posting
    * lists on the join key are short by construction — candidate
    * volume tracks true overlap (spec-pinned vs pair output), not
    * corpus². The frequency join and per-doc rank window are both
    * doc_id/hash-partitioned — no global sort, no cross join. This is
    * the join you run when the dedup SLA is "no false negatives"
    * (e.g. benchmark decontamination), where LSH's recall<1 is not
    * acceptable and 100 TB still can't afford corpus². */
  /** The prefix-colliding candidate pairs — exposed for DedupSpec's
    * candidate-volume bound. */
  private[graft] def prefixCandidates(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRows(s, d)
    val freq = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
    val sized = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("cnt"), col("h"))
    val pref = sh.select("doc_id", "h")
      .join(freq, "h").join(sized, "doc_id")
      .withColumn("rk", row_number().over(wDoc))
      // t = 0.5: prefix length = n − ⌈n/2⌉ + 1
      .filter(col("rk") <= col("n") - expr("(n + 1) div 2") + 1)
      .select(col("doc_id"), col("h"), col("n"))
    // both sides of the self-join read the prefix relation: pool it so
    // the freq-join + rank subtree runs ONCE per corpus (round 18 — was
    // a localCheckpoint, which cut the lineage inside one invocation
    // but minted a fresh RDD-backed plan per call, so the canonical-
    // plan dedup of CachePool/CacheManager could never match it and
    // every consuming face re-ran the whole prefix pipeline; the pooled
    // cache serves both the within-plan double read AND repeat faces —
    // PlanHygieneSpec's exchange ceiling still holds)
    val prefC = CachePool.cached(s, d, "prefixRelation")(pref)
    val b = prefC.select(col("doc_id").as("doc_b_id"),
      col("h").as("h_b"), col("n").as("n_b"))
    prefC.as("a").join(b,
        col("a.h") === col("h_b") && col("a.doc_id") < col("doc_b_id") &&
        // |A∩B| ≥ t·max ⇒ min·2 ≥ max at t = 0.5 — lossless size prune
        col("n_b") * 2 >= col("a.n") && col("a.n") * 2 >= col("n_b"))
      .select(col("a.doc_id").as("doc_a"), col("doc_b_id").as("doc_b"))
      .distinct()
  }
  /** The verified prefix-filter pair relation (J ≥ 0.5) before output
    * ordering — the EXACT ground-truth dup graph. Pooled like
    * [[minhashPairs]] (round 18): the registered face and the LSH
    * recall eval both consume it, and the relation is pair-sized. */
  private[graft] def prefixPairs(s: SparkSession, d: String): DataFrame = {
    CachePool.cached(s, d, "prefixPairs")(
      jaccardVerify(prefixCandidates(s, d), shingleSketches(shingleRows(s, d)), 0.5))
  }
  private val prefixJaccard: Q = (s, d) =>
    prefixPairs(s, d).orderBy("doc_a", "doc_b")
  private val prefixJaccardSql =
    s"""$DupCte$ShingleCtes, freq AS (
  SELECT h, count(*) AS cnt FROM shh GROUP BY h
), sized AS (
  SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id
), ordered AS (
  SELECT s.doc_id, s.h, z.n,
    row_number() OVER (PARTITION BY s.doc_id ORDER BY f.cnt, s.h) AS rk
  FROM shh s JOIN freq f ON s.h = f.h JOIN sized z ON z.doc_id = s.doc_id
), pref AS (
  SELECT doc_id, h, n FROM ordered WHERE rk <= n - ((n + 1) // 2) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
   AND b.n * 2 >= a.n AND a.n * 2 >= b.n
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cand c
  JOIN skh sa ON sa.doc_id = c.doc_a
  JOIN skh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
  round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) AS jaccard
FROM inter i
JOIN nsh na ON na.doc_id = i.doc_a
JOIN nsh nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= 0.5
ORDER BY doc_a, doc_b"""

  // ------------------------------------------------ substring dedup
  /** Cross-document repeated-SPAN exact dedup — the "deduplicate any
    * ≥N-token repeated substring" operation production LLM corpus
    * pipelines run (the suffix-array dedup of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", re-expressed
    * relationally): every length-[[SpanN]] token window (stride 1) is
    * keyed by md5; a window occurring more than once — in ANY document,
    * including its own — is a duplicated span occurrence everywhere
    * except its global first occurrence; overlapping/adjacent duplicated
    * positions then merge into maximal spans per doc (gaps-and-islands,
    * the events_state_history pattern) with removal accounting.
    *
    * Scale posture: the shingle relation is linear in corpus tokens and
    * carries only (doc_id, pos, 16-byte key); the repeated/first-
    * occurrence marking is a WINDOW over the key — ONE hash shuffle, no
    * self-join and no second tokenize pass (a groupBy+join formulation
    * plans two scans of the shingle subtree because different column
    * prunings defeat ReuseExchange). The island merge is one further
    * shuffle on doc_id, and both downstream aggregates reuse that
    * partitioning (doc_id is a prefix of every later group key — no
    * exchange). Nothing is quadratic: dup-position volume = total
    * occurrences of repeated keys minus the firsts (spec-pinned).
    * First-occurrence choice rides an exact BIGINT composite
    * doc_id·10⁹ + pos (pos < 10⁹ — testdata max ~10² tokens/doc, and
    * any real corpus chunks long before a billion tokens per doc). */
  private val SpanN = 16
  /** Duplicated span positions (doc_id, i): every length-[[SpanN]]
    * window occurring anywhere except its global first occurrence —
    * shared by the accounting face ([[substringDedup]]) and the
    * text-producing face ([[substringClean]]). */
  private[graft] def spanDupPos(s: SparkSession, d: String): DataFrame = {
    val toksC = split(lower(col("text")), " ")
    val sh = DupCorpus.corpus(s, d)
      .select(col("doc_id"), toksC.as("toks"), size(toksC).as("n"))
      .filter(col("n") >= SpanN)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n") - SpanN)).as("i"))
      .select(col("doc_id"), col("i"),
        md5(concat_ws(" ", slice(col("toks"), col("i") + 1, lit(SpanN))))
          .as("key"),
        (col("doc_id") * lit(1000000000L) + col("i")).as("mk"))
    val wK = Window.partitionBy("key")
    sh.withColumn("n_occ", count(lit(1)).over(wK))
      .withColumn("first_mk", min("mk").over(wK))
      .filter(col("n_occ") > 1 && col("mk") =!= col("first_mk"))
      .select("doc_id", "i")
  }
  private val substringDedup: Q = (s, d) => {
    val dup = spanDupPos(s, d)
    val wD = Window.partitionBy("doc_id").orderBy("i")
    val prevEnd = max(col("i") + SpanN)
      .over(wD.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("new_isl",
        when(prevEnd.isNull || col("i") > prevEnd, 1).otherwise(0))
      .withColumn("island",
        sum("new_isl").over(wD.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(count(lit(1)).as("nsh"), min("i").as("st"),
        (max(col("i")) + SpanN).as("en"))
      .groupBy("doc_id")
      .agg(sum("nsh").as("n_dup_shingles"),
        count(lit(1)).as("n_spans"),
        sum(col("en") - col("st")).cast("long").as("tokens_removed"))
      .orderBy("doc_id")
  }
  /** CTE chain through dup_pos — shared by the accounting and the
    * span-removal oracles. */
  private val spanDupPosCtes = DupCte + s""", tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS n
  FROM dup
), pos AS (
  SELECT doc_id, toks, unnest(range(0, n - $SpanN + 1)) AS i
  FROM tok WHERE n >= $SpanN
), sh AS (
  SELECT doc_id, i,
    md5(array_to_string(list_slice(toks, i + 1, i + $SpanN), ' ')) AS key,
    doc_id * 1000000000 + i AS mk
  FROM pos
), dup_pos AS (
  SELECT doc_id, i FROM (
    SELECT doc_id, i, mk,
      count(*) OVER (PARTITION BY key) AS n_occ,
      min(mk) OVER (PARTITION BY key) AS first_mk
    FROM sh)
  WHERE n_occ > 1 AND mk <> first_mk
)"""

  private val substringDedupSql = spanDupPosCtes + s""", isl AS (
  SELECT doc_id, i,
    CASE WHEN max(i + $SpanN) OVER w1 IS NULL
           OR i > max(i + $SpanN) OVER w1 THEN 1 ELSE 0 END AS new_isl
  FROM dup_pos
  WINDOW w1 AS (PARTITION BY doc_id ORDER BY i
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl2 AS (
  SELECT doc_id, i,
    sum(new_isl) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), spans AS (
  SELECT doc_id, island, count(*) AS nsh, min(i) AS st,
    max(i) + $SpanN AS en
  FROM isl2 GROUP BY doc_id, island
)
SELECT doc_id, CAST(sum(nsh) AS BIGINT) AS n_dup_shingles,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(en - st) AS BIGINT) AS tokens_removed
FROM spans GROUP BY doc_id ORDER BY doc_id"""

  // --------------------------------------------------- LSH recall eval
  /** Empirical recall of the PROBABILISTIC minhash-LSH dedup against
    * the EXACT prefix-filter ground truth at the same J ≥ 0.5
    * threshold — the eval loop every production LSH deployment runs
    * before trusting its band parameters (the dedup analog of
    * ann_recall_eval): |LSH ∩ exact| / |exact|, with the counts exact
    * longs and recall both as integer permille and one rounded double.
    * Composes two REGISTERED faces — the measurement is of the plans
    * users actually run, not a simplified model — and the eval join is
    * pair-relation-sized (dup-graph, not corpus). The LSH side's
    * b=4/r=2 bands give pairs at J=0.5 a 1−(1−0.25)⁴ ≈ 68% per-band
    * catch floor that rises steeply toward J=1; the measured number
    * quantifies the real mix. */
  private val recallEval: Q = (s, d) => {
    val exact = prefixPairs(s, d)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val lsh = minhashPairs(s, d).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val common = exact.join(lsh, Seq("doc_a", "doc_b"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        expr("(n_common * 1000) div n_exact").as("recall_permille"),
        round(col("n_common").cast("double") / col("n_exact"), 6)
          .as("recall"))
  }
  private val recallEvalSql =
    s"""WITH ex AS (
  SELECT doc_a, doc_b FROM ($prefixJaccardSql)
), mh AS (
  SELECT doc_a, doc_b FROM ($minhashSql) WHERE jaccard >= 0.5
), agg AS (
  SELECT
    (SELECT count(*) FROM ex) AS n_exact,
    (SELECT count(*) FROM mh) AS n_lsh,
    (SELECT count(*) FROM ex JOIN mh USING (doc_a, doc_b)) AS n_common
)
SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_lsh AS BIGINT) AS n_lsh,
  CAST(n_common AS BIGINT) AS n_common,
  CAST((n_common * 1000) // n_exact AS BIGINT) AS recall_permille,
  round(CAST(n_common AS DOUBLE) / n_exact, 6) AS recall
FROM agg"""

  // ------------------------------------------------- curation funnel
  /** The END-TO-END curation run in one declarative plan — the report
    * a production corpus pipeline ships after each build: every
    * document of the dup corpus charged to its FIRST failing stage,
    * in pipeline order
    *   1 `quality`   — any Gopher-style gate fails (length, langid
    *                   vote, repetition, diversity — the
    *                   text_filter_funnel gates, same expressions),
    *   2 `exact_dup` — not the min-doc_id keeper of its md5(text)
    *                   group,
    *   3 `near_dup`  — duplicates an EARLIER surviving document: the
    *                   doc appears as doc_b (the larger id) in a
    *                   verified minhash pair — the C4-style greedy
    *                   pair rule, no transitive closure needed,
    *   4 `kept`      — the gold corpus,
    * with exact counts and integer permille shares. Composes three
    * registered families (funnel gates + exact keeper + minhash
    * pairs) into ONE plan: the gates ride the corpus scan, the keeper
    * is one md5 shuffle, the near-dup flag is a semi-join against the
    * LSH pair relation — nothing new shuffles beyond what the parts
    * already pay, which is the point: curation at 100 TB is these
    * exact primitives composed, not a new engine. */
  /** The composed first-failing-quality-gate predicate over (text,
    * n_chars) — shared by the batch funnel and the streaming ingest
    * face ([[graft.streaming.StreamingEvents]]'s curation), so the
    * live filter and the nightly report cannot drift. Resolves its
    * `graft_*` calls through [[graft.functions.GraftExtensions]]. */
  private[graft] def qualityFailExpr: Column = {
    val toksC = split(lower(col("text")), " ")
    val nTok = size(toksC).cast("long")
    val maxVote = greatest(TextQueries.Stopwords.map { case (_, sw) =>
      call_function("graft_count_in", toksC, typedlit(sw)).cast("long")
    }: _*)
    val topFreq = call_function("graft_top_freq", toksC).cast("long")
    val dupBig = call_function("graft_dup_bigrams", toksC).cast("long")
    val nDist = size(array_distinct(toksC)).cast("long")
    nTok < 25 || col("n_chars") > 20000 ||
      maxVote === 0 || topFreq * 8 > nTok || dupBig * 16 > nTok - 1 ||
      nDist * 10 < nTok * 4
  }
  private val curation: Q = (s, d) => {
    import s.implicits._
    val qualityFail = qualityFailExpr
    val corpus = DupCorpus.corpus(s, d)
    val keeper = corpus.groupBy(md5(col("text")).as("k"))
      .agg(min("doc_id").as("keep_id"))
    val nearDup = minhashPairs(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("nd", lit(true))
      // the pair relation is dup-graph-sized; checkpointing it keeps
      // the whole minhash subtree out of the composed plan (the
      // dedup_triangles lesson — without this the funnel re-plans 66
      // exchanges and trips PlanHygieneSpec's ceiling)
      .localCheckpoint()
    val staged = corpus
      .select(col("doc_id"), md5(col("text")).as("k"), qualityFail.as("qf"))
      .join(keeper, "k")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("qf"), 1)
          .when(col("doc_id") =!= col("keep_id"), 2)
          .when(col("nd").isNotNull, 3)
          .otherwise(4).as("stage_ord"))
    val byStage = staged.groupBy("stage_ord").agg(count(lit(1)).as("n_docs"))
    val dim = Seq((1, "quality"), (2, "exact_dup"), (3, "near_dup"),
      (4, "kept")).toDF("stage_ord", "stage")
    val total = broadcast(byStage.agg(sum("n_docs").as("n_total")))
    dim.join(broadcast(byStage), Seq("stage_ord"), "left")
      .crossJoin(total)
      .select(col("stage_ord"), col("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        expr("(coalesce(n_docs, 0) * 1000) div n_total").as("permille"))
      .orderBy("stage_ord")
  }
  private val curationSql = {
    val votes = TextQueries.Stopwords
      .map { case (_, sw) => TextQueries.swHitsSqlShared(sw) }
      .mkString(", ")
    s"""$minhashCtes, mh AS (
$minhashPairSelect
), ndx AS (
  SELECT DISTINCT doc_b AS doc_id FROM mh
), keeper AS (
  SELECT md5(text) AS k, min(doc_id) AS keep_id FROM dup GROUP BY 1
), tokc AS (
  SELECT doc_id, n_chars, text, string_split(lower(text), ' ') AS toks
  FROM dup
), freqc AS (
  SELECT doc_id, max(c) AS top_freq FROM (
    SELECT doc_id, t, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS t FROM tokc) GROUP BY 1, 2
  ) GROUP BY 1
), featc AS (
  SELECT t.doc_id, md5(t.text) AS k, t.n_chars, len(t.toks) AS n_tok,
    greatest($votes) AS max_vote, f.top_freq,
    (len(t.toks) - 1) - len(list_distinct(
      list_transform(list_zip(t.toks[1:-2], t.toks[2:-1]),
                     p -> p[1] || ' ' || p[2]))) AS dup_big,
    len(list_distinct(t.toks)) AS n_dist
  FROM tokc t JOIN freqc f USING (doc_id)
), staged AS (
  SELECT f.doc_id,
    CASE WHEN f.n_tok < 25 OR f.n_chars > 20000 OR f.max_vote = 0
           OR f.top_freq * 8 > f.n_tok OR f.dup_big * 16 > f.n_tok - 1
           OR f.n_dist * 10 < f.n_tok * 4 THEN 1
         WHEN f.doc_id <> kp.keep_id THEN 2
         WHEN nx.doc_id IS NOT NULL THEN 3
         ELSE 4 END AS stage_ord
  FROM featc f
  JOIN keeper kp ON f.k = kp.k
  LEFT JOIN ndx nx ON f.doc_id = nx.doc_id
), bys AS (
  SELECT stage_ord, count(*) AS n_docs FROM staged GROUP BY 1
), tot AS (SELECT sum(n_docs) AS n_total FROM bys),
sdim AS (SELECT * FROM (VALUES (1, 'quality'), (2, 'exact_dup'),
  (3, 'near_dup'), (4, 'kept')) AS t(stage_ord, stage))
SELECT CAST(sd.stage_ord AS INT) AS stage_ord, sd.stage,
  CAST(coalesce(b.n_docs, 0) AS BIGINT) AS n_docs,
  CAST((coalesce(b.n_docs, 0) * 1000) // n_total AS BIGINT) AS permille
FROM sdim sd LEFT JOIN bys b USING (stage_ord), tot
ORDER BY stage_ord"""
  }

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> exact,
    "dedup_curation" -> curation,
    "dedup_minhash" -> minhash,
    "dedup_minhash_bucketed" -> minhashBucketed,
    "dedup_minhash_incremental" -> minhashIncremental,
    "dedup_history_compact" -> historyCompact,
    "dedup_simhash" -> simhash,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_jaccard_prefix" -> prefixJaccard,
    "dedup_recall_eval" -> recallEval,
    "dedup_cluster" -> cluster,
    "graph_pagerank" -> pagerank,
    "graph_bfs_hops" -> bfsHops,
    "graph_cc_sizes" -> ccSizes,
    "graph_degree_hist" -> degreeHist,
    "graph_link_predict" -> linkPredict,
    "graph_clustering_coeff" -> clusteringCoeff,
    "graph_assortativity" -> assortativity,
    "dedup_winnow" -> winnow,
    "dedup_triangles" -> triangles,
    "dedup_containment" -> containment,
    "dedup_substring" -> substringDedup,
    "dedup_substring_clean" -> substringClean)

  val oracle: Map[String, String] = Map(
    "dedup_exact" -> exactSql,
    "dedup_curation" -> curationSql,
    "dedup_minhash" -> minhashSql,
    // serving shape, identical semantics: shares the runtime-join oracle
    "dedup_minhash_bucketed" -> minhashSql,
    "dedup_minhash_incremental" -> minhashIncrementalSql,
    "dedup_history_compact" -> historyCompactSql,
    "dedup_simhash" -> simhashSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_jaccard_prefix" -> prefixJaccardSql,
    "dedup_recall_eval" -> recallEvalSql,
    "dedup_cluster" -> clusterSql,
    "graph_pagerank" -> pagerankSql,
    "graph_bfs_hops" -> bfsHopsSql,
    "graph_cc_sizes" -> ccSizesSql,
    "graph_degree_hist" -> degreeHistSql,
    "graph_link_predict" -> linkPredictSql,
    "graph_clustering_coeff" -> clusteringCoeffSql,
    "graph_assortativity" -> assortativitySql,
    "dedup_winnow" -> winnowSql,
    "dedup_triangles" -> trianglesSql,
    "dedup_containment" -> containmentSql,
    "dedup_substring" -> substringDedupSql,
    "dedup_substring_clean" -> substringCleanSql)
}
