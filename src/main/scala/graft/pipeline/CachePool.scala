package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Explicit lifecycle for the MB-scale relations the dedup/ANN family
  * pins in memory (dedup corpus, shingle rows, simhash fingerprints).
  *
  * Within one query — and across queries in one bench/verify run —
  * the caches are load-bearing: subplans referenced several times are
  * otherwise recomputed per reference, and CacheManager dedupes the
  * cached copies by canonical plan. But a cache pinned forever is a
  * leak in a long-lived session: a 100 TB deployment running many
  * corpora through the same SparkSession would accrete cached
  * relations until eviction pressure hurts unrelated queries. Every
  * `.cache()` on those paths therefore registers here, and the session
  * owner calls [[release]] at the end of a verify/bench suite.
  *
  * A dataset switch is the other boundary, and [[serving]] acts on it:
  * `SparkEntry.queries` calls it before every face, so the first face
  * served on a new dataset drops the previous dataset's cached
  * relations ([[releaseCaches]]) while its trained models stay
  * memoized (they are keyed by dataset, driver-sized, and cost seconds
  * to retrain). A bench that warms up on sf0.001 and then sweeps
  * sf0.01 therefore holds only the sf0.01 relations during the sweeps.
  * No memo entry returns a pooled handle: a handle re-executed after
  * its cache was released would rebuild and re-pin blocks no pool
  * entry tracks, so memoized bodies keep only models, table names and
  * `localCheckpoint`s.
  *
  * Registration is deduped by canonicalized plan (ADVICE r10:
  * planning-only sweeps construct the same queries repeatedly and must
  * not grow the pool), and the two-phase rank pattern's scaffold cache
  * has its own shorter lifecycle — see [[cachedPair]].
  *
  * Relations with a natural key — a (name, dataset) pair, like the
  * memo entries below — are pooled through the keyed overload
  * `cached(key)(build)`: the first call builds, caches and registers
  * the relation and keeps its handle under the key; every later call
  * returns that handle without building anything. Both [[release]]
  * and [[releaseCaches]] drop the keyed handles together with their
  * caches, so the first call after a release builds and caches again.
  */
object CachePool {
  private val pool = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val seen = scala.collection.mutable.HashSet.empty[LogicalPlan]
  // handles of the keyed overload of [[cached]], each also in `pool`
  private val keyed = scala.collection.mutable.HashMap.empty[Any, DataFrame]
  // (scaffold, derived) pairs from [[cachedPair]]: the scaffold is
  // unpersisted as soon as the derived cache is observed materialized
  private val pairs =
    scala.collection.mutable.ArrayBuffer.empty[(DataFrame, DataFrame)]

  /** Cache `df` and register it for a later [[release]]. Re-caching a
    * plan this pool already holds returns the fresh handle (storage is
    * shared — CacheManager dedupes by canonical plan) without growing
    * the pool. */
  def cached(df: DataFrame): DataFrame = synchronized {
    reapPairs()
    val c = df.cache()
    if (seen.add(c.queryExecution.analyzed.canonicalized)) pool += c
    c
  }

  /** Keyed [[cached]]: the handle pooled under `key`, building and
    * caching it on first touch. A hit skips `build` altogether, so a
    * steady caller pays neither the analysis of the nested plan it
    * would construct nor the CacheManager lookup of `df.cache()`.
    * `key` must identify the relation `build` makes, settings its plan
    * pins included, e.g. `("embDouble", sfDir, numShufflePartitions)`. */
  def cached(key: Any)(build: => DataFrame): DataFrame = synchronized {
    reapPairs()
    keyed.getOrElseUpdate(key, cached(build))
  }

  /** The GlobalRank double-cache with the scaffold's shorter
    * lifecycle (ADVICE r10: rankCore pinned TWO corpus-scale
    * relations until release, though the input cache only exists to
    * keep `repartitionByRange`'s sampling pass + shuffle write from
    * executing the input pipeline twice during the DERIVED cache's
    * first materialization). The input is cached WITHOUT pool
    * registration; once the derived relation's column buffers are
    * observed loaded — checked lazily at the next [[cached]] /
    * [[memoized]] touch, i.e. between queries in a bench/verify
    * sweep — the scaffold is unpersisted: every later read hits the
    * derived cache, and even a derived-partition recompute re-reads
    * the already-written range-shuffle output, never the scaffold.
    * Dropping the scaffold early is thus always CORRECT (worst case:
    * a never-materialized derived plan pays the input twice, exactly
    * the single-cache behavior). */
  def cachedPair(input: DataFrame)(build: DataFrame => DataFrame)
      : DataFrame = synchronized {
    val in = input.cache()
    val out = cached(build(in))
    pairs += ((in, out))
    out
  }

  /** True once the derived cache's buffers exist (or its cache entry
    * is gone) — the point after which the scaffold is dead weight. */
  private def materialized(out: DataFrame): Boolean =
    out.queryExecution.optimizedPlan.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
    }.getOrElse(true)

  private def reapPairs(): Unit = {
    val (done, live) = pairs.partition { case (_, out) => materialized(out) }
    if (done.nonEmpty) {
      done.foreach(_._1.unpersist(false))
      pairs.clear()
      pairs ++= live
    }
  }

  /** Unpersist the pooled cached relations but KEEP the memoized
    * model state — a lifecycle for memory-constrained callers: the
    * pool holds the corpus-scale relations whose accretion pressures
    * unrelated queries' memory, while memo entries are trained models
    * (centroids, merges, weights, built index-table names) that are
    * expensive to retrain and mostly driver-sized. A memoized value
    * that referenced a pooled cache recomputes lazily — correctness
    * is unaffected, only the cache cost is re-paid on next touch.
    * [[serving]] calls it at a dataset switch. Releasing at every
    * query-family boundary instead measured 185.4 s vs 167.1 s for the
    * full suite at sf0.1/local[32] (the rebuilds cost more than the
    * memory they free). */
  def releaseCaches(): Unit = synchronized {
    pairs.foreach(_._1.unpersist(false))
    pairs.clear()
    pool.foreach(_.unpersist(false))
    pool.clear()
    seen.clear()
    keyed.clear()
  }

  // the dataset the last face was served on; see [[serving]]
  private var servingDir: String = null

  /** The dataset-switch boundary: called with the dataset directory
    * before each face is built. When it differs from the directory of
    * the previous call, the previous dataset's cached relations are
    * released ([[releaseCaches]]); memoized models stay. */
  def serving(sfDir: String): Unit = synchronized {
    if (servingDir != null && servingDir != sfDir) releaseCaches()
    servingDir = sfDir
  }

  /** Unpersist every registered relation (non-blocking) and forget it,
    * models included — the corpus-lifecycle boundary. */
  def release(): Unit = synchronized {
    releaseCaches()
    memo.clear()
  }

  // Memoized model state (trained once per (owner, dataset), reused by
  // every query that serves it — the stored-model analog of the
  // bucketed indexes). Cleared with [[release]] at the same corpus
  // lifecycle boundaries; entries hold localCheckpointed relations
  // whose blocks the ContextCleaner frees once dereferenced.
  private val memo = scala.collection.mutable.HashMap.empty[Any, Any]

  /** Build-once lookup: returns the cached value for `key`, building
    * and remembering it on first touch. */
  def memoized[T](key: Any)(build: => T): T = synchronized {
    reapPairs()
    memo.getOrElseUpdate(key, build).asInstanceOf[T]
  }

  /** Forget ONE memo entry — the targeted lifecycle boundary for a
    * maintenance job that rewrote the tables a build-once key stands
    * for (e.g. the ingest-history compaction), where a full
    * [[release]] would needlessly drop every other trained model. */
  def memoDrop(key: Any): Unit = synchronized { memo.remove(key); () }

  /** Diagnostic counts: how much pooled/memoized state the session has
    * accreted. perfbench records them as its `pool.size`/`pool.memo`
    * metrics; the tests read `poolSize` to check pooling. */
  def poolSize: Int = synchronized { pool.size }
  def memoSize: Int = synchronized { memo.size }
}
