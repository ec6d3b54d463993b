package graft

import graft.etl.Corpus
import graft.pipeline.{CachePool, DedupQueries, DupCorpus, SimilarityQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The keyed relation entries of `CachePool.cached`: a steady call
  * returns the pooled handle without growing the pool, and a release
  * drops the handle so the next call caches again. Through
  * `SparkEntry.queries`, a dataset switch frees the blocks of every
  * relation entry of the previous dataset, `localCheckpoint`ed ones
  * included, and keeps its models. */
class CachePoolSpec extends SparkSpec {

  private val keyedRelations: Seq[(String, () => DataFrame)] = Seq(
    "minhashPairs" -> (() => DedupQueries.minhashPairs(spark, Sf)),
    "embDouble" -> (() => SimilarityQueries.embDouble(spark, Sf)),
    "dupCorpus" -> (() => DupCorpus.corpus(spark, Sf)),
    "requests" -> (() => Corpus.requests(spark, Sf)),
    "shingleRows" -> (() => DedupQueries.shingleRows(spark, Sf)),
    "minhashCandidates" -> (() => DedupQueries.minhashCandidates(spark, Sf)))

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

  /** The id of the RDD holding `df`'s cached column buffers, which must
    * already be materialized. */
  private def cachedRdd(df: DataFrame): Int =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation =>
        assert(r.cacheBuilder.isCachedColumnBuffersLoaded, "relation not materialized")
        r.cacheBuilder.cachedColumnBuffers.id
    }.get

  private def storedRdds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  // faces that pool the dup corpus, shingle rows, minhash candidates
  // and pairs, the cast embeddings and the ETL requests between them
  private val pooling = Seq("dedup_minhash", "ann_topk_brute", "etl_route")
  private def serve(face: String, d: String): DataFrame =
    SparkEntry.queries(face)(spark, d)

  /** The keyed pooled handles the `pooling` faces leave on `d`. */
  private def keyedOn(d: String): Seq[DataFrame] = Seq(
    DupCorpus.corpus(spark, d), DedupQueries.minhashPairs(spark, d),
    SimilarityQueries.embDouble(spark, d), Corpus.requests(spark, d))

  test("a dataset switch frees every block of the previous dataset's pooled relations") {
    requireFixture(SfMid)
    pooling.foreach(serve(_, Sf).count())
    val sfPooled = keyedOn(Sf) ++ Seq(
      DedupQueries.shingleRows(spark, Sf),
      DedupQueries.minhashCandidates(spark, Sf))
    val rdds = sfPooled.map(cachedRdd).toSet
    assert(rdds.subsetOf(storedRdds))
    serve("etl_route", SfMid)
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert((rdds & storedRdds).isEmpty, "the switch must unpersist every Sf relation")
    }
  }

  test("a second call on the served dataset returns the same handles and releases nothing") {
    requireFixture(SfMid)
    pooling.foreach(serve(_, SfMid).count())
    val handles = keyedOn(SfMid)
    val rdds = handles.map(cachedRdd).toSet
    val size = CachePool.poolSize
    pooling.foreach(serve(_, SfMid).count())
    assert(keyedOn(SfMid).lazyZip(handles).forall(_ eq _),
      "a call on the same dataset must keep the pooled handles")
    assert(CachePool.poolSize == size)
    assert(rdds.subsetOf(storedRdds))
  }

  /** The ids of the `localCheckpoint`ed RDDs under `df`'s plan. */
  private def checkpointRdds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("a switch frees the memoized relations and keeps the models") {
    requireFixture(SfMid)
    val rows = serve("dedup_cluster", Sf).count()
    serve("embed_remove_top_pc", Sf).count()
    serve("ann_topk_ivf_kmeans", Sf).count()
    val cents = SimilarityQueries.corpusCentroids(spark, Sf)
    // the CC labels and both power-iteration relations
    val rdds = checkpointRdds(DedupQueries.ccLabels(spark, Sf, "minhash")(
      fail("the labels must be stored"))) ++
      checkpointRdds(serve("embed_remove_top_pc", Sf))
    assert(rdds.size == 3 && rdds.subsetOf(storedRdds))
    serve("etl_route", SfMid)
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert((rdds & storedRdds).isEmpty, "the switch must free every Sf checkpoint")
    }
    serve("etl_route", Sf)
    assert(SimilarityQueries.corpusCentroids(spark, Sf) eq cents,
      "the switch dropped the memoized centroids")
    assert(serve("dedup_cluster", Sf).count() == rows,
      "re-touching the dataset must rebuild the same labels")
  }

  test("CachePool.release drops every pinned corpus relation") {
    // run queries that pin corpus + shingle + fingerprint caches, then
    // release: a long-lived session must end the corpus lifecycle
    // without accreted relations. (Asserted per-relation, not via a
    // global cacheManager.isEmpty — suites run one after another in
    // one forked JVM and share its session, so relations other suites
    // cached may still be live.)
    val sf = SfMid
    requireFixture(sf)
    DedupQueries.queries("dedup_minhash")(spark, sf).count()
    val corpus = graft.pipeline.DupCorpus.corpus(spark, sf)
    assert(corpus.storageLevel.useMemory) // pinned while in use
    graft.pipeline.CachePool.release()
    assert(corpus.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }
}
