package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact global order statistics — the shared primitive
  * behind every "rank the whole relation" query in the repo, extracted
  * from the four hand-rolled sites (pareto's user rank, surprisal's
  * vocabulary rank, the AUC prefix sum, peak-concurrency's sweep) so
  * no query ever falls back to a single-task global sort again.
  *
  * The house two-phase pattern:
  *
  *  1. `repartitionByRange` on the rank order — ranges are
  *     non-overlapping and emitted in partition order, so every row in
  *     partition i precedes every row in partition i+1;
  *  2. local ranks WITHIN each partition (an in-partition sort + the
  *     `monotonically_increasing_id` offset — all tasks working, no
  *     windowed row_number, no second data-sized exchange; see
  *     [[rankCore]]);
  *  3. shift each partition's local ranks by the total row count of
  *     all earlier partitions. The offset relation is ONE row per
  *     partition (constant-size, never data-sized), so its
  *     cumulative-sum window runs over ≤`parts` rows and its
  *     single-partition `WindowExec` is the one shape the plan-hygiene
  *     ban explicitly whitelists (child aggregates over the
  *     id-derived partition key).
  *
  * The sort columns must form a total order (tie-break on a unique
  * key) for ranks to be deterministic regardless of where the range
  * boundaries land. NTILE is then pure arithmetic on (rank, total):
  * with N rows and n buckets, q = N div n and r = N mod n, the first
  * r buckets take q+1 rows — `Window.ntile`'s exact floor/ceil split —
  * so the derived bands hash-match an oracle `NTILE(n) OVER (ORDER BY
  * …)` while never sorting the relation on one task.
  */
object GlobalRank {

  /** `df` plus a 1-based exact global `row_number` over `sortCols`
    * (which must totally order the rows), named `out` — computed with
    * the two-phase range-partition pattern above; no single-task sort
    * of the data-sized relation anywhere in the plan. */
  def withRank(df: DataFrame, sortCols: Seq[Column], out: String,
      parts: Int = -1): DataFrame =
    rankedWithN(df, sortCols, out, parts).drop("__n")

  /** The rank plus a `__n` total-count column (carried on the
    * broadcast offset relation, not via a second scan) — the internal
    * form [[withNtile]] derives its band arithmetic from. */
  private def rankedWithN(df: DataFrame, sortCols: Seq[Column], out: String,
      parts: Int): DataFrame =
    rankCore(df, Nil, sortCols, parts).withColumnRenamed("__i", out)

  /** The shared two-phase core: range-partition + in-partition sort,
    * then `monotonically_increasing_id` — whose encoding is
    * (partitionId << 33) + rowOffset — gives every row its partition
    * id AND its physical offset in one codegen'd projection, with NO
    * windowed row_number and NO extra data-sized hash exchange (a
    * `Window.partitionBy(pid)` would shuffle the whole relation again
    * because Catalyst cannot prove the range exchange already
    * clusters pid). The ids are deterministic because the sort is a
    * total order (callers must tie-break on a unique key): every
    * (re-)execution sorts identical shuffle output identically.
    * Per-(partition, group) min-id and row count come from ONE
    * aggregate over the same shuffle (runtime-reused exchange);
    * local rank = id − min-id + 1, global rank adds the broadcast
    * cumulative offset of earlier partitions. Bounds: ≤ 2³³ rows per
    * partition (the id encoding), ≤ 2⁵³ rows total (exact long→double
    * division in the ntile arithmetic). */
  private def rankCore(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], parts0: Int): DataFrame = {
    // parts ≤ 0 → the session's shuffle parallelism: on a 1000-executor
    // cluster the rank spreads over the configured width instead of a
    // hardcoded 32; ranks are partitioning-invariant, so the choice
    // never changes results, only parallelism. The offset relation is
    // parts·|groups| rows — still broadcast-scale at any real width.
    val parts = if (parts0 > 0) parts0
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val order = groupCols.map(col) ++ sortCols
    // Two lazy caches with DIFFERENT lifecycles (no construction-time
    // job — the events_rfm invariant; see CachePool.cachedOver):
    //
    //  1. the INPUT, as a short-lived SCAFFOLD — `repartitionByRange`'s
    //     RangePartitioner runs a SAMPLING pass over the child before
    //     the shuffle write, so an un-materialized input executes twice
    //     end-to-end (measured 2× on text_quality_buckets, whose input
    //     is the whole LM-scoring pipeline — the round-9→10 perf
    //     finding). It is redundant the moment the keyed cache
    //     materializes, so CachePool reaps it then instead of pinning
    //     BOTH corpus-scale relations until release (ADVICE r10);
    //  2. the KEYED relation (ids included), pooled — the id
    //     assignment MUST materialize exactly once: RangePartitioner's
    //     sample seed derives from the shuffle RDD's id, so two
    //     materializations of the same range exchange draw DIFFERENT
    //     boundaries, and the stats branch's min-ids then disagree
    //     with the probe branch's ids (duplicate/missing ranks —
    //     Round12Spec's gapless pin). Round 9 relied on AQE exchange
    //     reuse for this, which held only while the two subtrees
    //     canonicalized equal; the cache makes the single-
    //     materialization invariant STRUCTURAL instead of an
    //     optimizer courtesy.
    //
    // The keyed cache holds the PROJECTED rank input (keys + order
    // columns) plus the two id columns, not the raw corpus; at 100 TB
    // the same role is played by materializing the scored relation
    // before ranking, with disk spill absorbing what memory cannot.
    // The input is any relation, so the entry is keyed on the ranked
    // plan (its dataset is in its scans) rather than on a dataset.
    val ranged = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33))
    val keyed = graft.pipeline.CachePool.cachedOver(df.sparkSession, "", "rank",
      ranged.queryExecution.analyzed.canonicalized)(df, ranged)
    val gcols = "__pid" +: groupCols
    val stats = keyed.groupBy(gcols.map(col): _*)
      .agg(min("__mid").as("__mn"), count(lit(1)).as("__pc"))
    val wOff =
      (if (groupCols.isEmpty) Window.orderBy("__pid")
       else Window.partitionBy(groupCols.map(col): _*).orderBy("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
    // __n (the group's total row count) rides along on the same
    // ≤ parts·|groups|-row offset relation — full-frame window over
    // the per-partition stats, so ntile consumers get N for free.
    val wTot = if (groupCols.isEmpty) Window.partitionBy(lit(0))
               else Window.partitionBy(groupCols.map(col): _*)
    // the offset relation is ≤ parts·|groups| rows — collapse it to
    // one partition BEFORE the windows, so both window specs are
    // satisfied without another exchange+sort stage (SinglePartition
    // satisfies any clustered distribution); the single-task windows
    // ride a constant-size relation, the exact shape the plan-hygiene
    // ban whitelists
    val offs = stats.coalesce(1).select(gcols.map(col) ++ Seq(col("__mn"),
      coalesce(sum("__pc").over(wOff), lit(0L)).as("__off"),
      sum("__pc").over(wTot).as("__n")): _*)
    // null-safe equality on the group keys: a NULL group is a group
    // like any other to the aggregate and the windows above, so it
    // must also RECEIVE its offset row here — the plain Seq-form join
    // (null-unsafe =) silently dropped null-keyed rows (ADVICE r9 #1).
    // EqualNullSafe is still a hash-join key, so the broadcast join
    // shape is unchanged.
    val offsR = gcols.foldLeft(offs)((o, c) => o.withColumnRenamed(c, s"__o$c"))
    val cond = gcols.map(c => col(c) <=> col(s"__o$c")).reduce(_ && _)
    keyed.join(broadcast(offsR), cond)
      .withColumn("__i", col("__mid") - col("__mn") + 1L + col("__off"))
      .drop(gcols.map(c => s"__o$c"): _*)
      .drop("__pid", "__mid", "__mn", "__off")
  }

  /** `df` plus an exact `NTILE(n) OVER (ORDER BY sortCols)` column
    * named `out` (IntegerType, matching `Window.ntile`), derived
    * arithmetically from the distributed global rank — identical band
    * boundaries to the single-task window form, without the
    * single-task sort. `sortCols` must totally order the rows. */
  def withNtile(df: DataFrame, n: Int, sortCols: Seq[Column], out: String,
      parts: Int = -1): DataFrame =
    rankedWithN(df, sortCols, "__i", parts)
      .withColumn(out, ntileExpr(n, col("__i"), col("__n")))
      .drop("__i", "__n")

  /** Per-group exact NTILE — ONE two-phase pass bands every group's
    * rows at once (the melt-then-band shape `events_rfm` uses for its
    * three metrics): range-partition on (group, sortCols), rank within
    * (partition, group), shift by the per-(partition, group) offsets.
    * The offset relation is one row per (partition, group) — `groupCol`
    * must therefore have BOUNDED cardinality (a vocabulary or metric
    * list, never data-sized ids) for the broadcast to stay constant.
    * Compared to one [[withNtile]] per group this references the input
    * twice TOTAL instead of twice per group — both plan size and
    * shuffle count stay flat as metrics are added. */
  def withNtilePerGroup(df: DataFrame, n: Int, groupCol: String,
      sortCols: Seq[Column], out: String, parts: Int = -1): DataFrame =
    rankCore(df, Seq(groupCol), sortCols, parts)
      .withColumn(out, ntileExpr(n, col("__i"), col("__n")))
      .drop("__i", "__n")

  /** Per-group exact rank AND group size in one pass — the raw
    * (i, N) pair every peer-free order statistic reduces to:
    * percent_rank = (i−1)/(N−1), cume_dist = i/N, ntile = the
    * arithmetic above. Same [[rankCore]] machinery, same bounded-
    * cardinality requirement on `groupCol`. */
  def withRankAndCountPerGroup(df: DataFrame, groupCol: String,
      sortCols: Seq[Column], outRank: String, outCount: String,
      parts: Int = -1): DataFrame =
    rankCore(df, Seq(groupCol), sortCols, parts)
      .withColumnRenamed("__i", outRank)
      .withColumnRenamed("__n", outCount)

  /** `NTILE(n)` as pure arithmetic on (global rank i, total N):
    * q = N div n, r = N mod n; ranks 1..r·(q+1) land in the first r
    * (size q+1) buckets, the rest split into size-q buckets — exactly
    * `Window.ntile`'s floor/ceil split. Integral long division of
    * non-negatives: a div b = (a - a mod b) / b — the numerator is
    * exactly divisible, so the double division is exact up to 2^53
    * rows (well past any real relation). The `greatest(q,1)` floor
    * only guards the divisor in the branch that is unreachable when
    * q = 0 (then cut = N, every rank ≤ cut). */
  private def ntileExpr(n: Int, i: Column, nTot: Column): Column = {
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val qi = idiv(nTot, lit(n.toLong))
    val r = nTot % n
    val cut = r * (qi + 1L)
    when(i <= cut, idiv(i - 1L, qi + 1L) + 1L)
      .otherwise(r + idiv(i - cut - 1L, greatest(qi, lit(1L))) + 1L)
      .cast("int")
  }
}
