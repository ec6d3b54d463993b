package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The session's dataset-scoped store: one map holds every relation the
  * query faces pin and every model they train.
  *
  * Key rule. Every entry is keyed on (name, dataset, shuffle partition
  * count, extra): the caller's name, the dataset directory, the setting
  * the entry's plans pin (the count `Tables`, the corpora and the range
  * ranks partition to), and the caller's own parameters (`extra`, e.g. a
  * table namespace or a round count; `GlobalRank`, which ranks any
  * input, passes no dataset and its ranked plan instead). A caller
  * passes only its name and extras, so a build, a hit and a [[drop]]
  * always use one key shape. A hit returns the stored value without
  * building anything.
  *
  * Entries. A relation holds blocks: a `cache()`d plan ([[cached]],
  * [[cachedOver]]) or the `localCheckpoint`ed RDDs under a plan
  * ([[checkpointed]]). A model ([[memoized]]) is a driver-side value:
  * centroids, codebooks, merges, built table names, Bloom broadcasts,
  * counters. A model must not hold a relation: a switch would keep its
  * blocks.
  *
  * Switch. `SparkEntry.queries` calls [[serving]] before every face; the
  * first face served on another dataset frees every relation entry's
  * blocks ([[releaseCaches]]) and keeps every model (keyed by dataset,
  * driver-sized, seconds to retrain). A bench that warms up on sf0.001
  * and then sweeps sf0.01 holds only sf0.01 blocks during the sweeps.
  * The switch, not a face-family boundary, is the release point:
  * releasing at every family boundary measured 185.4 s vs 167.1 s for
  * the full suite at sf0.1/local[32] (the rebuilds cost more than the
  * memory they free). [[release]] (end of a suite) drops everything.
  *
  * A handle built before a switch must not be executed after it: a
  * released cache recomputes outside the store, and a released
  * `localCheckpoint` cannot recompute at all. `Bench`, `Verify` and the
  * perfbench harness build and execute each face on one dataset.
  */
object CachePool {
  /** A relation entry; every other stored value is a model. `scaffold`:
    * the cached input of a [[cachedOver]] entry, held until `df`'s
    * column buffers are loaded. */
  private final class Relation(val df: DataFrame, var scaffold: Option[DataFrame]) {
    def loaded: Boolean = df.queryExecution.optimizedPlan.collectFirst {
      case m: InMemoryRelation => m.cacheBuilder.isCachedColumnBuffersLoaded
    }.getOrElse(true)
    def freeScaffold(): Unit = { scaffold.foreach(_.unpersist(false)); scaffold = None }
    def free(): Unit = {
      freeScaffold()
      df.unpersist(false)
      // the blocks of a localCheckpoint sit in the RDDs under its plan
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }.foreach(_.unpersist(false))
    }
  }

  private val store = scala.collection.mutable.HashMap.empty[Any, Any]
  // the dataset the last face was served on; see [[serving]]
  private var servingDir: String = null

  private def key(s: SparkSession, d: String, name: String, extra: Seq[Any]) =
    (name, d, s.sessionState.conf.numShufflePartitions, extra)

  private def entry[T](s: SparkSession, d: String, name: String, extra: Seq[Any])(
      make: => Any): T = synchronized {
    store.valuesIterator.foreach {
      case r: Relation if r.scaffold.nonEmpty && r.loaded => r.freeScaffold()
      case _ =>
    }
    store.getOrElseUpdate(key(s, d, name, extra), make).asInstanceOf[T]
  }

  /** The relation stored under the key, `build` cached on first touch. */
  def cached(s: SparkSession, d: String, name: String, extra: Any*)(
      build: => DataFrame): DataFrame =
    entry[Relation](s, d, name, extra)(new Relation(build.cache(), None)).df

  /** [[cached]] for a relation whose first materialization reads `input`
    * twice (`repartitionByRange` samples its child, then shuffles it):
    * `input` is cached first, as a scaffold that the first store touch
    * after `derived`'s buffers load unpersists. Every later read hits
    * `derived`'s cache or its range-shuffle output, never the scaffold,
    * so dropping it early is always correct. */
  def cachedOver(s: SparkSession, d: String, name: String, extra: Any*)(
      input: DataFrame, derived: DataFrame): DataFrame =
    entry[Relation](s, d, name, extra) {
      input.cache()
      new Relation(derived.cache(), Some(input))
    }.df

  /** The relation `build` returns on first touch: a plan over
    * `localCheckpoint`ed RDDs, whose blocks a drop unpersists. */
  def checkpointed(s: SparkSession, d: String, name: String, extra: Any*)(
      build: => DataFrame): DataFrame =
    entry[Relation](s, d, name, extra)(new Relation(build, None)).df

  /** The model stored under the key, built on first touch. */
  def memoized[T](s: SparkSession, d: String, name: String, extra: Any*)(
      build: => T): T =
    entry[T](s, d, name, extra)(build)

  /** Forget one model: for a maintenance job that rewrote the tables the
    * model stands for (the ingest-history compaction), where [[release]]
    * would drop every other model too. */
  def drop(s: SparkSession, d: String, name: String, extra: Any*): Unit =
    synchronized { store.remove(key(s, d, name, extra)); () }

  /** Free every relation entry's blocks and forget it; keep the models. */
  def releaseCaches(): Unit = synchronized {
    store.filterInPlace {
      case (_, r: Relation) => r.free(); false
      case _ => true
    }
  }

  /** The dataset-switch boundary: called with the dataset directory
    * before each face is built; a directory other than the previous
    * call's runs [[releaseCaches]]. */
  def serving(sfDir: String): Unit = synchronized {
    if (servingDir != null && servingDir != sfDir) releaseCaches()
    servingDir = sfDir
  }

  /** Drop every entry, models included: the end of a suite. */
  def release(): Unit = synchronized {
    releaseCaches()
    store.clear()
  }

  /** Relation and model entry counts; perfbench records them as
    * `pool.size` and `pool.memo`. */
  def poolSize: Int = synchronized { store.valuesIterator.count(_.isInstanceOf[Relation]) }
  def memoSize: Int = synchronized { store.size - poolSize }
}
