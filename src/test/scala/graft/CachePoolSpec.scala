package graft

import graft.pipeline.{CachePool, DedupQueries, SimilarityQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The keyed pooled handles of `CachePool.cached(key)(build)`: a steady
  * call returns the pooled handle without growing the pool, and a
  * release drops the handle so the next call caches again. */
class CachePoolSpec extends SparkSpec {

  private val keyedRelations: Seq[(String, () => DataFrame)] = Seq(
    "minhashPairs" -> (() => DedupQueries.minhashPairs(spark, Sf)),
    "embDouble" -> (() => SimilarityQueries.embDouble(spark, Sf)))

  private def inMemory(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r
    }.nonEmpty

  for ((name, touch) <- keyedRelations) {
    test(s"repeated $name calls return the pooled handle, pool does not grow") {
      val first = touch()
      val size = CachePool.poolSize
      val again = touch()
      assert(again eq first, "a steady call must return the pooled handle")
      assert(CachePool.poolSize == size)
      assert(inMemory(again))
    }

    test(s"after releaseCaches, the next $name call caches again") {
      val before = touch()
      CachePool.releaseCaches()
      assert(CachePool.poolSize == 0)
      val after = touch()
      assert(after ne before, "released handle must not be served again")
      assert(inMemory(after), "the plan must read an InMemoryRelation")
      assert(CachePool.poolSize > 0, "the pool must grow again")
    }
  }
}
