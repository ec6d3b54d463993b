package graft

import graft.pipeline.SimilarityQueries
import org.apache.spark.sql.GraftDatasetBridge

/** `embed_drift` computes its per-batch means inside the plan: building
  * the face runs no Spark job once the pooled embeddings exist, and
  * running it leaves no block behind. */
class EmbedDriftSpec extends SparkSpec {
  private def sc = spark.sparkContext
  private def face = SimilarityQueries.queries("embed_drift")

  test("embed_drift construction runs no job after first touch") {
    face(spark, Sf).count()
    val c = new QueryCounters
    sc.addSparkListener(c)
    try {
      sc.setJobGroup("drift|build", "drift|build")
      try face(spark, Sf) finally sc.clearJobGroup()
    } finally {
      GraftDatasetBridge.drain(sc)
      sc.removeSparkListener(c)
    }
    assert(c("drift|build")(0) == 0L, s"construction ran jobs: ${c("drift|build")}")
  }

  test("embed_drift pins no block") {
    face(spark, Sf).count()
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    face(spark, Sf).count()
    val added = sc.getRDDStorageInfo.map(_.id).toSet -- before
    assert(added.isEmpty, s"a run left cached RDDs $added")
  }
}
