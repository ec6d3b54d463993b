package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup test corpus: `documents` augmented with deterministic synthetic
  * duplicates, so the dedup operators have real work to do (the base
  * table's 500 texts are all distinct).
  *
  *  - exact dups:  doc_id % 7 == 0  → copy at doc_id + 10000, same text
  *  - near dups:   doc_id % 11 == 0 → copy at doc_id + 20000 with the
  *                 first 6 words dropped (high shingle-Jaccard survivor)
  *
  * Mirrored byte-for-byte in SQL by [[graft.oracle.OraclePipeline.DupCte]].
  */
object DupCorpus {

  /** Shared 60-bit hash: first 15 hex chars of md5, as BIGINT. Identical
    * in DuckDB as CAST('0x' || substring(md5(s),1,15) AS BIGINT). */
  def h60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Universal-hash permutation family over the base h60 hash:
    * perm_i(h) = (a_i * (h mod P) + b_i) mod P, P = 2^31 - 1.
    * One md5 per value feeds every minhash permutation — the seeded-md5
    * alternative costs k md5 evaluations per row (k=8 bands measured
    * ~9x the hash work at sf0.1). All intermediates stay < 2^62 so the
    * arithmetic is overflow-free in both engines (DuckDB raises on
    * BIGINT overflow; Spark would silently wrap). */
  val PermP: Long = 2147483647L
  def permConsts(seed: Int): (Long, Long) = (
    Math.floorMod(0x9E3779B9L * (2L * seed + 1), PermP - 1) + 1,
    Math.floorMod(0x85EBCA6BL * (seed + 1L), PermP))
  def perm(seed: Int, h: Column): Column = {
    val (a, b) = permConsts(seed)
    (lit(a) * (h % lit(PermP)) + lit(b)) % lit(PermP)
  }

  /** doc_id, text, lang, source, n_chars — base ∪ exact dups ∪ near dups.
    * A keyed pooled handle: after the first call per dataset and
    * shuffle partition count (the count the corpus is repartitioned
    * to), every call returns the same cached DataFrame without
    * building it. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame =
    CachePool.cached(spark, sfDir, "dupCorpus")(build(spark, sfDir))

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    // raw scan: the repartition(doc_id) below supplies parallelism
    // (see Corpus.requests note)
    val docs = Tables.raw(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val exactDup = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val nearText = concat_ws(" ",
      slice(split(col("text"), " "), lit(7), size(split(col("text"), " "))))
    val nearDup = docs.filter(col("doc_id") % 11 === 0)
      .withColumn("text", nearText)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("doc_id", col("doc_id") + 20000)
    docs.unionAll(exactDup).unionAll(nearDup)
      // MB-scale; referenced by every dedup query and several times
      // within one (canonical-plan cache dedupe applies). Repartition
      // so the cached copy keeps full parallelism for the explode-heavy
      // consumers (see DedupQueries.shingleRows note). Lifecycle:
      // pooled as "dupCorpus", released at a dataset switch.
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
  }

}
