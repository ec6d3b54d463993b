package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** `PruneScanGuard`: a `Tables` scan guard is deleted where its rows
  * reach the next exchange through cheap order-free operators only, and
  * kept where a kernel, regex or string-transform work, a generator, an
  * order-dependent aggregate, a nondeterministic expression or the lack
  * of any exchange above makes it load-bearing. Every shape returns the rows of the same query over
  * `Tables.raw`, which has no guard at all. */
class ScanGuardSpec extends SparkSpec {

  /** Round-robin guards in the final adaptive plan of `df`, after it ran. */
  private def guards(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        val self = p match {
          case ShuffleExchangeExec(_: RoundRobinPartitioning, _, REPARTITION_BY_NUM, _) => 1
          case _ => 0
        }
        self + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** One query shape, built over a table loader (`Tables.apply` or
    * `Tables.raw`). */
  private type Shape = ((SparkSession, String, String) => DataFrame) => DataFrame

  private def check(shape: Shape, kept: Int): Unit = {
    val guarded = shape(Tables(_, _, _))
    val got = rows(guarded)
    assert(guards(guarded) == kept)
    assert(got == rows(shape(Tables.raw)))
    assert(got.nonEmpty)
  }

  for (face <- Seq("infra_quality_checks", "sql_small_qty_revenue"))
    test(s"$face: no round-robin exchange in the final plan") {
      val df = SparkEntry.queries(face)(spark, Sf)
      df.collect()
      assert(guards(df) == 0)
    }

  private val pruned: Seq[(String, Shape)] = Seq(
    "filter, project, partial count/min/max/integral sum" -> (t =>
      t(spark, Sf, "lineitem").filter(col("l_quantity") > 10)
        .select(col("l_returnflag"), (col("l_linenumber") + 1).as("n"), col("l_shipdate"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)), sum("n"), min("l_shipdate"), max("l_shipdate"))),
    "broadcast build side and streamed side of a broadcast join" -> (t =>
      t(spark, Sf, "orders")
        .join(broadcast(t(spark, Sf, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey").agg(count(lit(1)))))

  for ((name, shape) <- pruned)
    test(s"guard pruned: $name") { check(shape, kept = 0) }

  private val keptShapes: Seq[(String, Shape)] = Seq(
    "graft kernel (graft_cosine)" -> (t =>
      t(spark, Sf, "embeddings")
        .select(col("label"), expr("graft_cosine(cast(embedding as array<double>), " +
          "cast(embedding as array<double>))").as("c"))
        .groupBy("label").agg(count(when(col("c") > 0.5, 1)).as("n"))),
    // the text_tokens shape: regex tokenisation of full document text
    // feeding a join exchange
    "regex and string transform (regexp_extract_all, lower)" -> (t =>
      t(spark, Sf, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("n"))
        .join(t(spark, Sf, "documents").select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(sum("n"))),
    "generator (explode)" -> (t =>
      t(spark, Sf, "documents").select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").count()),
    // l_tax: no registered lineitem summary covers it, so the
    // SummaryRewrite rule leaves these two aggregates on the base scan
    "sum over double" -> (t =>
      t(spark, Sf, "lineitem").groupBy("l_returnflag")
        .agg(sum("l_tax").as("s"))
        .select(col("l_returnflag"), round(col("s"), 4))),
    "max over double" -> (t =>
      t(spark, Sf, "lineitem").groupBy("l_returnflag").agg(max("l_tax"))),
    // keeps every row (quantities are positive); a bare `rand() >= 0`
    // would be folded away by the optimizer
    "nondeterministic filter (rand)" -> (t =>
      t(spark, Sf, "lineitem").filter(col("l_quantity") + rand(7) * 0 >= 0)
        .groupBy("l_returnflag").count()))

  for ((name, shape) <- keptShapes)
    test(s"guard kept: $name") { check(shape, kept = 1) }

  test("guard kept with no exchange above it: cached embDouble keeps its partitions") {
    val df = graft.pipeline.SimilarityQueries.embDouble(spark, Sf)
    assert(df.rdd.getNumPartitions == spark.sessionState.conf.numShufflePartitions)
  }
}
