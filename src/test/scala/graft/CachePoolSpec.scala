package graft

import graft.etl.Corpus
import graft.pipeline.{CachePool, DedupQueries, DupCorpus, SimilarityQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The keyed pooled handles of `CachePool.cached(key)(build)`: a steady
  * call returns the pooled handle without growing the pool, and a
  * release drops the handle so the next call caches again. */
class CachePoolSpec extends SparkSpec {

  private val keyedRelations: Seq[(String, () => DataFrame)] = Seq(
    "minhashPairs" -> (() => DedupQueries.minhashPairs(spark, Sf)),
    "embDouble" -> (() => SimilarityQueries.embDouble(spark, Sf)),
    "dupCorpus" -> (() => DupCorpus.corpus(spark, Sf)),
    "requests" -> (() => Corpus.requests(spark, Sf)))

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

    test(s"$name under another shuffle partition count is another handle") {
      val four = touch()
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      try {
        val three = touch()
        assert(three ne four, "the handle must not pin the first caller's partition count")
        assert(touch() eq three)
        assert(inMemory(three))
      } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      assert(touch() eq four)
    }
  }

  for ((name, touch) <- keyedRelations.filter(r => Set("dupCorpus", "requests")(r._1)))
    test(s"$name is cached with the caller's shuffle partition count") {
      def cachedPartitions(df: DataFrame): Int =
        df.queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation => r.cacheBuilder.logicalPlan
        }.get.collectFirst { case r: RepartitionByExpression => r.numPartitions }.get
      assert(cachedPartitions(touch()) == 4)
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      try assert(cachedPartitions(touch()) == 3)
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
}
