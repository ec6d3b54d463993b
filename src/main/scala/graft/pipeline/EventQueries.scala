package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowed analytics over the `events` table — the
  * streaming-shaped operators (SURVEY.md §2.10 notes the reference has
  * none; these are the north-star additions that make the engine useful
  * for event streams). Batch expressions here are written exactly as
  * their Structured Streaming counterparts (`window`, `session_window`
  * are the same functions on a `readStream` DataFrame + watermark — see
  * graft.streaming).
  *
  * Double sums are computed as exact DECIMAL sums then converted once to
  * DOUBLE — associative, so the result is shuffle-order-independent
  * (plain double sums are not, and would flap the oracle hash).
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  private def valSum = round(
    sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
  private val ValSumSql =
    "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)"

  // ------------------------------------------------------------ tumbling
  /** Tumbling 1-hour windows per event_type: count + exact-decimal sum.
    * Map-side partial agg on (window, type) — the canonical streaming
    * aggregate, one shuffle. Takes the events relation as an argument so
    * the SAME expressions run batch (here) and streaming
    * ([[graft.streaming.StreamingEvents.tumblingStream]]) — parity by
    * construction, proven by StreamingSpec. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count("*").as("n_events"), valSum.as("val_sum"))
      .select(unix_millis(col("w.start")).as("window_start_ms"), col("event_type"),
        col("n_events"), col("val_sum"))
  private val tumbling: Q = (s, d) =>
    tumblingAgg(Tables.events(s, d))
      .orderBy("window_start_ms", "event_type")
  private val tumblingSql =
    s"""SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms, event_type,
  count(*) AS n_events, $ValSumSql AS val_sum
FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type"""

  // ------------------------------------------------------------- sliding
  /** Sliding windows (1 hour, slide 15 min) per event_type. Spark emits
    * each event into size/slide = 4 windows; the oracle mirrors that
    * fan-out with an explicit unnest([0..3]). Shared batch/stream
    * expression like [[tumblingAgg]]
    * ([[graft.streaming.StreamingEvents.slidingStream]]). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count("*").as("n_events"), valSum.as("val_sum"))
      .select(unix_millis(col("w.start")).as("window_start_ms"), col("event_type"),
        col("n_events"), col("val_sum"))
  private val sliding: Q = (s, d) =>
    slidingAgg(Tables.events(s, d))
      .orderBy("window_start_ms", "event_type")
  private val slidingSql =
    s"""SELECT epoch_ms(time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE) AS window_start_ms,
  event_type, count(*) AS n_events, $ValSumSql AS val_sum
FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
GROUP BY 1, 2 ORDER BY window_start_ms, event_type"""

  // ------------------------------------------------------------- session
  /** Per-user session windows, 6-hour inactivity gap. Spark's
    * session_window end = last event + gap; the oracle reproduces the
    * gaps-and-islands equivalent with lag + cumulative sum. Shared
    * batch/stream expression like [[tumblingAgg]]
    * ([[graft.streaming.StreamingEvents.sessionStream]]). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "6 hours").as("w"), col("user_id"))
      .agg(count("*").as("n_events"), valSum.as("val_sum"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"), col("val_sum"))
  private val session: Q = (s, d) =>
    sessionAgg(Tables.events(s, d))
      .orderBy("user_id", "session_start_ms")
  private val sessionSql =
    s"""WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts, value,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, new_session
      ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, epoch_ms(date_trunc('milliseconds', min(ts))) AS session_start_ms,
  epoch_ms(date_trunc('milliseconds', max(ts) + INTERVAL 6 HOUR)) AS session_end_ms,
  count(*) AS n_events, $ValSumSql AS val_sum
FROM islands GROUP BY user_id, sid
ORDER BY user_id, session_start_ms"""

  // -------------------------------------------------------- heavy users
  /** Heavy hitters: top-3 users per event_type by event count (count
    * desc, user asc tie-break) — partial-agg + tiny per-group window. */
  private val topkUsers: Q = (s, d) => {
    val counts = Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count("*").as("n_events"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("n_events").desc, col("user_id"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("event_type", "rank")
  }
  private val topkUsersSql =
    """SELECT event_type, user_id, count(*) AS n_events,
  CAST(row_number() OVER w AS INT) AS rank
FROM events GROUP BY event_type, user_id
WINDOW w AS (PARTITION BY event_type ORDER BY count(*) DESC, user_id)
QUALIFY row_number() OVER w <= 3
ORDER BY event_type, rank"""

  // ---------------------------------------------------------- as-of join
  /** As-of join — an operator Spark has no native form of (the oracle
    * uses DuckDB's ASOF JOIN): each purchase matched to the same
    * user's latest click at-or-before it. Composed from existing ops
    * per the preference order (no custom plan needed): tag both sides,
    * union, ONE shuffle on user_id, and a running last(click,
    * ignoreNulls) window carries the most recent click forward onto
    * each purchase row. Equal timestamps sort clicks first (tag 0 < 1),
    * matching ASOF's ts_purchase >= ts_click inclusivity. The
    * alternatives are strictly worse at 100 TB: a per-row "latest
    * earlier" subquery is O(n²) inside hot users, and a range cross-
    * join materializes every (purchase, earlier-click) pair before
    * aggregating them away; the carry-forward form ships each event
    * exactly once and sorts once per user partition. */
  /** The as-of operator over any events relation (needs ts, user_id,
    * event_type, event_id, value) — shared by the batch query below and
    * the streaming parity test against
    * [[graft.streaming.StreamingEvents.asofStream]]. */
  def asofAgg(ev: DataFrame): DataFrame = {
    def side(typ: String, tag: Int) =
      ev.filter(col("event_type") === typ)
        .select(col("user_id"), col("ts"), lit(tag).as("tag"),
          col("event_id"), col("value"))
    // event_id completes the total order: with two clicks at the same
    // (user_id, ts), last() must not depend on shuffle arrival order —
    // the carried click is the max-(ts, event_id) one, matching
    // asofStream's replay order exactly.
    val w = Window.partitionBy("user_id").orderBy("ts", "tag", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    side("click", 0).unionAll(side("purchase", 1))
      .withColumn("last_click", last(
        when(col("tag") === 0, struct(col("event_id"), col("ts"), col("value"))),
        ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("last_click").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_millis(col("ts")).as("purchase_ms"),
        col("last_click.event_id").as("click_id"),
        unix_millis(col("last_click.ts")).as("click_ms"),
        col("last_click.value").as("click_value"))
      .orderBy("purchase_id")
  }
  private val asofJoin: Q = (s, d) => asofAgg(Tables.events(s, d))

  /** The same as-of semantics through the NATIVE operator
    * ([[graft.plans.AsofJoin]]: custom LogicalPlan + planner strategy +
    * physical merge — the (c) escalation path, vs the composition form
    * above which is the (a) path). Each side keeps its own schema to
    * the final projection; the oracle is shared verbatim with
    * [[asofJoin]], and AsofSpec pins that the physical plan really
    * contains AsofJoinExec under the sort-merge regime (one exchange +
    * one sort per side). */
  private val asofNative: Q = (s, d) => {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id")
    val clicks = Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_eid"), col("value").as("c_val"))
    graft.plans.AsofJoin.asof(purchases, clicks,
        key = "user_id", time = "ts",
        rightKey = "c_user", rightTime = "c_ts", rightTie = "c_eid")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_millis(col("ts")).as("purchase_ms"),
        col("c_eid").as("click_id"),
        unix_millis(col("c_ts")).as("click_ms"),
        col("c_val").as("click_value"))
      .orderBy("purchase_id")
  }
  /** LATERAL top-1 rather than DuckDB's native ASOF JOIN: ASOF picks an
    * arbitrary click among equal timestamps, while this formulation pins
    * the same max-(ts, event_id) tie-break the Spark window uses — both
    * engines are deterministic and agree by construction. */
  private val asofJoinSql =
    """SELECT p.event_id AS purchase_id, p.user_id,
  epoch_ms(p.ts) AS purchase_ms, c.event_id AS click_id,
  epoch_ms(c.ts) AS click_ms, c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p,
LATERAL (
  SELECT event_id, ts, value FROM events c
  WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
) c
ORDER BY purchase_id"""

  // ------------------------------------------------- as-of from layout
  /** The native as-of join served ENTIRELY FROM STORAGE LAYOUT — the
    * 100 TB serving shape for a continuously-queried as-of relation
    * (market data, feature stores): both sides persisted once as
    * bucketed-by-user, sorted-by-(user, ts[, tie]) tables with one
    * file per bucket, so the scans advertise both the hash
    * partitioning AND the in-bucket order, and [[graft.plans
    * .AsofJoinExec]]'s sort-merge-regime requirements are satisfied
    * without ANY exchange or sort — the whole join is a zipped
    * streaming merge over co-located bucket files (spec-pinned: zero
    * shuffles, zero sorts in the join subtree). The write shuffle is
    * paid once and amortized over every subsequent as-of query — vs
    * [[asofNative]] which pays one exchange + sort per side per query.
    * Same semantics, same oracle as the runtime forms. */
  private val asofStoreDone = scala.collection.mutable.Set[String]()
  private[graft] def asofBucketedJoined(s: SparkSession, d: String): DataFrame = {
    val suf = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(d) & 0x7fffffff)
    val (pt, ct) = (s"graft_asof_purchase_$suf", s"graft_asof_click_$suf")
    val key = s"${s.sparkContext.applicationId}|$d"
    asofStoreDone.synchronized {
      if (!asofStoreDone(key)) {
        val ev = Tables.events(s, d)
        graft.sources.BucketedStore.write(
          graft.sources.BucketedStore.oneFilePerBucket(
            ev.filter(col("event_type") === "purchase")
              .select("user_id", "ts", "event_id"), Seq("user_id"), 8),
          pt, Seq("user_id"), Seq("user_id", "ts"), 8)
        graft.sources.BucketedStore.write(
          graft.sources.BucketedStore.oneFilePerBucket(
            ev.filter(col("event_type") === "click")
              .select("user_id", "ts", "event_id", "value"),
            Seq("user_id"), 8),
          ct, Seq("user_id"), Seq("user_id", "ts", "event_id"), 8)
        asofStoreDone += key
      }
    }
    val purchases = s.table(pt)
    val clicks = s.table(ct).select(col("user_id").as("c_user"),
      col("ts").as("c_ts"), col("event_id").as("c_eid"),
      col("value").as("c_val"))
    graft.plans.AsofJoin.asof(purchases, clicks,
        key = "user_id", time = "ts",
        rightKey = "c_user", rightTime = "c_ts", rightTie = "c_eid")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_millis(col("ts")).as("purchase_ms"),
        col("c_eid").as("click_id"),
        unix_millis(col("c_ts")).as("click_ms"),
        col("c_val").as("click_value"))
  }
  private val asofBucketed: Q = (s, d) =>
    asofBucketedJoined(s, d).orderBy("purchase_id")

  // --------------------------------------------------------- range join
  /** Binned range join — the scale-safe form of an interval join (an
    * operator Spark's optimizer has no native strategy for; the oracle
    * uses a plain BETWEEN theta-join): how many error events (any user)
    * fall inside each user session's time interval. Naive evaluation is
    * a cartesian filtered by the range (sessions × errors pairs); the
    * binned form explodes each session onto fixed-width time buckets,
    * equi-joins errors on their single bucket, and applies the range
    * residual — candidate pairs are localized to co-bucketed rows, so
    * cost tracks temporal density, not |sessions|·|errors|. Bucket
    * width = the 6 h session gap: a session spans few buckets (its
    * length is bounded-ish by activity), an error exactly one. */
  private val rangeJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val w = 6L * 3600 * 1000
    val sess = sessionAgg(ev)
      .select("user_id", "session_start_ms", "session_end_ms")
      .withColumn("bucket", explode(expr(
        s"sequence(session_start_ms div $w, session_end_ms div $w)")))
    val errors = ev.filter(col("event_type") === "error")
      .select(unix_millis(col("ts")).as("ems"))
      .withColumn("bucket", expr(s"ems div $w"))
    sess.join(errors, Seq("bucket"))
      .filter(col("ems").between(col("session_start_ms"), col("session_end_ms")))
      .groupBy("user_id", "session_start_ms", "session_end_ms")
      .agg(count(lit(1)).as("n_errors"))
      .orderBy("user_id", "session_start_ms")
  }
  private val rangeJoinSql =
    """WITH marked AS (
  SELECT user_id, ts, event_id,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, new_session
      ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), sessions AS (
  SELECT user_id, epoch_ms(date_trunc('milliseconds', min(ts))) AS session_start_ms,
    epoch_ms(date_trunc('milliseconds', max(ts) + INTERVAL 6 HOUR)) AS session_end_ms
  FROM islands GROUP BY user_id, sid
), errors AS (
  SELECT epoch_ms(date_trunc('milliseconds', ts)) AS ems FROM events
  WHERE event_type = 'error'
)
SELECT s.user_id, s.session_start_ms, s.session_end_ms, count(*) AS n_errors
FROM sessions s JOIN errors e ON e.ems BETWEEN s.session_start_ms AND s.session_end_ms
GROUP BY 1, 2, 3
ORDER BY 1, 2"""

  // ------------------------------------------------------------- pivot
  /** Wide-format hourly matrix: one row per hour, one count column per
    * event type — Spark's `pivot` with an EXPLICIT value list (the
    * implicit form runs a distinct-scan job first and can't be planned
    * in one pass; with pinned values the pivot is a single map-side
    * combinable aggregate, and the schema is stable when hours carry no
    * traffic for a type). Oracle: conditional aggregation, which is
    * exactly what the pivot compiles to. */
  val PivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  /** The pivot over any events relation — shared by the batch query
    * below and the streaming parity test against
    * [[graft.streaming.StreamingEvents.pivotHourlyStream]] (which writes
    * the conditional-agg form the pivot compiles to, since a streaming
    * aggregate must key on the event-time `window` for the watermark to
    * finalize rows). */
  def pivotHourlyAgg(events: DataFrame): DataFrame =
    events
      .withColumn("hour_ms", unix_millis(date_trunc("hour", col("ts"))))
      .groupBy("hour_ms")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotTypes)
  private val pivotHourly: Q = (s, d) =>
    pivotHourlyAgg(Tables.events(s, d)).orderBy("hour_ms")
  private val pivotHourlySql = {
    val cols = PivotTypes.map(t =>
      s"""  count(*) FILTER (WHERE event_type = '$t') AS "$t"""").mkString(",\n")
    s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
$cols
FROM events GROUP BY 1 ORDER BY hour_ms"""
  }

  // ----------------------------------------------------- running total
  /** Per-user running aggregate — the ordered-window analytic face
    * (cumulative spend, session position): one shuffle on user_id, one
    * in-partition sort, then a single forward pass computes both the
    * running decimal-exact sum and the event sequence number. (ts,
    * event_id) is a total order, so the running values are
    * deterministic; at 100 TB a per-user window is the honest plan —
    * partitions are user-bounded, never global. */
  /** The running-total expression over any events relation — shared by
    * the batch query below and the streaming parity test against
    * [[graft.streaming.StreamingEvents.runningTotalStream]] (which
    * replays watermark-released events in the same (ts, event_id)
    * order with the same decimal(18,6) accumulator). */
  def runningTotalAgg(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("event_id"),
      unix_millis(col("ts")).as("ts_ms"),
      round(sum(col("value").cast("decimal(18,6)")).over(w)
        .cast("double"), 4).as("running_value"),
      row_number().over(w).as("event_seq"))
  }
  private val runningTotal: Q = (s, d) =>
    runningTotalAgg(Tables.events(s, d)).orderBy("user_id", "event_seq")
  private val runningTotalSql =
    """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 4) AS running_value,
  CAST(row_number() OVER w AS INT) AS event_seq
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
ORDER BY user_id, event_seq"""

  // ------------------------------------------------------ interval join
  /** Per-user time-band join: every (purchase, click) pair of the same
    * user with the click inside the hour before the purchase. Unlike
    * the as-of join (latest match only) this keeps ALL in-band pairs —
    * the attribution-window shape. The equi-key (user_id) does the
    * heavy lifting: one shuffle on user_id, band predicate as the join
    * residual, so cost tracks per-user traffic, never |clicks|·
    * |purchases|. (The binned form, [[rangeJoin]], is the fallback when
    * no equi-key exists.) Written against any events relation so the
    * streaming face ([[graft.streaming.StreamingEvents.intervalJoinStream]])
    * shares the expression verbatim — there it is Spark's canonical
    * watermarked stream-stream join, state bounded by band + delay. */
  def intervalPairs(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id"))
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"),
      col("event_id").as("purchase_id"))
    p.join(c, Seq("user_id")).where(
      col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
      col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("user_id"),
        unix_millis(col("purchase_ts")).as("purchase_ms"),
        col("click_id"), unix_millis(col("click_ts")).as("click_ms"))
  }
  private val intervalJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    intervalPairs(ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
      .orderBy("purchase_id", "click_id")
  }
  private val intervalJoinSql =
    """SELECT p.event_id AS purchase_id, p.user_id,
  epoch_ms(p.ts) AS purchase_ms, c.event_id AS click_id, epoch_ms(c.ts) AS click_ms
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
ORDER BY purchase_id, click_id"""

  // ------------------------------------------------------------- rollup
  /** Multi-level daily rollup — GROUPING SETS as ONE aggregate: the
    * (type, day), (type), and grand-total levels come out of a single
    * shuffle (Spark expands the grouping set in the map side, partial
    * aggs stay combinable), not three scans unioned. The grouping_id
    * bitmask disambiguates levels; rolled-up keys are pinned to
    * sentinels so null never reaches the sort or the hash compare. */
  private val rollupDaily: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("day_ms", unix_millis(date_trunc("day", col("ts"))))
      .rollup("event_type", "day_ms")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("val_sum"),
        grouping_id().cast("int").as("lvl"))
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("day_ms"), lit(-1L)).as("day_ms"),
        col("lvl"), col("n_events"), col("val_sum"))
      .orderBy("lvl", "event_type", "day_ms")
  private val rollupDailySql =
    """SELECT coalesce(event_type, '(all)') AS event_type,
  coalesce(epoch_ms(date_trunc('day', ts)), -1) AS day_ms,
  CAST(GROUPING(event_type, date_trunc('day', ts)) AS INT) AS lvl,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum
FROM events
GROUP BY ROLLUP (event_type, date_trunc('day', ts))
ORDER BY lvl, event_type, day_ms"""

  // --------------------------------------------------------------- cube
  /** Full CUBE over (event_type, hour-of-day) — completes the
    * grouping-sets family next to [[rollupDaily]]: the cube adds the
    * hour-only marginal the rollup can't produce, and all four levels
    * ((type,hour), (type), (hour), grand total) still come out of ONE
    * shuffle — Spark expands grouping sets map-side and the partial
    * aggs stay combinable, so the cost is 4× the map output of a plain
    * group-by, not 4 scans. Same grouping_id bitmask + null-sentinel
    * discipline as the rollup (both engines agree on the mask, pinned
    * by the rollup's hash match). */
  private val cubeHourly: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("hod", hour(col("ts")))
      .cube("event_type", "hod")
      .agg(count(lit(1)).as("n_events"),
        valSum.as("val_sum"),
        grouping_id().cast("int").as("lvl"))
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("hod"), lit(-1)).as("hod"),
        col("lvl"), col("n_events"), col("val_sum"))
      .orderBy("lvl", "event_type", "hod")
  private val cubeHourlySql =
    s"""SELECT coalesce(event_type, '(all)') AS event_type,
  coalesce(CAST(hour(ts) AS INT), -1) AS hod,
  CAST(GROUPING(event_type, hour(ts)) AS INT) AS lvl,
  count(*) AS n_events,
  $ValSumSql AS val_sum
FROM events
GROUP BY CUBE (event_type, hour(ts))
ORDER BY lvl, event_type, hod"""

  // ------------------------------------------------ range-frame window
  /** Trailing 7-day moving aggregate — the RANGE frame, the one window
    * frame family the rest of the surface doesn't exercise (lag/rank/
    * ntile are ROWS-framed): the frame is bounded by ORDER-COLUMN VALUE
    * (day_num−6 .. day_num), so gap days shrink the window — a ROWS
    * frame would silently reach 7 *rows* back across gaps, which is
    * wrong for calendar semantics. Two shuffles total: the daily
    * pre-aggregation and the per-user window sort; the window input is
    * |user×active-day|, already ≪ events. Day numbers are integer
    * epoch-day arithmetic (identical div/floor on positives in both
    * engines); the trailing sum stays decimal-exact until one final
    * round. */
  private val trailing7d: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .withColumn("day_num",
        expr("unix_millis(date_trunc('day', ts)) div 86400000"))
      .groupBy("user_id", "day_num")
      .agg(sum(col("value").cast("decimal(18,6)")).as("day_val"))
    val w = Window.partitionBy("user_id").orderBy("day_num")
      .rangeBetween(-6, 0)
    daily.select(col("user_id"), col("day_num"),
        round(sum(col("day_val")).over(w).cast("double"), 4).as("val_7d"),
        count(lit(1)).over(w).as("active_days_7d"))
      .orderBy("user_id", "day_num")
  }
  private val trailing7dSql =
    """WITH daily AS (
  SELECT user_id, epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    sum(CAST(value AS DECIMAL(18,6))) AS day_val
  FROM events GROUP BY 1, 2
)
SELECT user_id, day_num,
  round(CAST(sum(day_val) OVER w AS DOUBLE), 4) AS val_7d,
  CAST(count(*) OVER w AS BIGINT) AS active_days_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY user_id, day_num"""

  // ----------------------------------------------------- grouping sets
  /** ARBITRARY grouping sets — the shape rollup and cube cannot
    * express: ((type, dow), (dow), ()) deliberately SKIPS the
    * type-only marginal, so Spark computes exactly the three requested
    * levels in one shuffle (grouping-set expansion is map-side; an
    * unwanted marginal in a cube would be paid for and thrown away).
    * Day-of-week is integer arithmetic on epoch days — not the
    * engines' dayofweek(), whose week-start conventions differ. */
  private val groupingSetsQ: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("dow", expr(
        "CAST((unix_millis(date_trunc('day', ts)) div 86400000) % 7 AS INT)"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("dow")), Seq(col("dow")), Seq()),
        col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"),
        valSum.as("val_sum"),
        grouping_id().cast("int").as("lvl"))
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("dow"), lit(-1)).as("dow"),
        col("lvl"), col("n_events"), col("val_sum"))
      .orderBy("lvl", "event_type", "dow")
  private val groupingSetsSql =
    s"""WITH e AS (
  SELECT event_type,
    CAST((epoch_ms(date_trunc('day', ts)) // 86400000) % 7 AS INT) AS dow,
    value
  FROM events
)
SELECT coalesce(event_type, '(all)') AS event_type,
  coalesce(dow, -1) AS dow,
  CAST(GROUPING(event_type, dow) AS INT) AS lvl,
  count(*) AS n_events,
  $ValSumSql AS val_sum
FROM e
GROUP BY GROUPING SETS ((event_type, dow), (dow), ())
ORDER BY lvl, event_type, dow"""

  // -------------------------------------------------------- attribution
  /** First/last-touch attribution per user — the min_by/max_by
    * aggregate family: one shuffle on user_id, every aggregate
    * map-side combinable (argmin/argmax partials merge associatively),
    * no window, no self-join. The ordering key is the scalar composite
    * epoch_ms(ts)·10¹⁸ + event_id, computed in WIDE EXACT integers —
    * decimal(38,0) here, HUGEINT in the oracle — because DuckDB's
    * arg_min can't order by a struct, so both engines need one scalar
    * with a total (ts, event_id) order. The 10¹⁸ multiplier gives
    * event_id the full int64 range (an int64 composite caps event_id
    * at ~10⁶ — a bound a 100 TB event table blows through), and the
    * composite tops out near 10³¹, far inside both engines' exact
    * 38-digit/128-bit range. */
  /** Shared by the batch query and [[graft.streaming.StreamingEvents
    * .attributionStream]] — parity by construction. */
  private[graft] def attributionAggs: Seq[Column] = {
    val ordKey = unix_millis(col("ts")).cast("decimal(38,0)") *
      lit(1000000000000000000L) + col("event_id")
    Seq(count(lit(1)).as("n_events"),
      min_by(col("event_type"), ordKey).as("first_type"),
      max_by(col("event_type"), ordKey).as("last_type"),
      (unix_millis(max(col("ts"))) - unix_millis(min(col("ts"))))
        .as("span_ms"))
  }
  private val attribution: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(attributionAggs.head, attributionAggs.tail: _*)
      .orderBy("user_id")
  private val attributionSql =
    """SELECT user_id, count(*) AS n_events,
  arg_min(event_type, CAST(epoch_ms(ts) AS HUGEINT) * 1000000000000000000 + event_id) AS first_type,
  arg_max(event_type, CAST(epoch_ms(ts) AS HUGEINT) * 1000000000000000000 + event_id) AS last_type,
  epoch_ms(max(ts)) - epoch_ms(min(ts)) AS span_ms
FROM events
GROUP BY user_id
ORDER BY user_id"""
  // ---------------------------------------------------- percentile ranks
  /** Per-type user spend percentile — the percent_rank/cume_dist
    * members of the window family: one shuffle for the (type, user)
    * spend aggregate, then the per-type global rank via
    * [[graft.operators.GlobalRank.withRankAndCountPerGroup]] — the
    * ORDER BY includes user_id so every row is its own peer group,
    * and the statistics collapse to pure rank arithmetic
    * (percent_rank = (i−1)/(n−1), cume_dist = i/n — the identical
    * IEEE divisions the window functions compute), so the hot type of
    * a skewed corpus never sorts its full user set on one task (the
    * former `Window.partitionBy(type)` form would). Spend stays
    * decimal-exact through the ordering. */
  private val userRank: Q = (s, d) => {
    val spend = Tables.events(s, d)
      .groupBy("event_type", "user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).as("total"))
    graft.operators.GlobalRank.withRankAndCountPerGroup(
      spend, "event_type", Seq(col("total"), col("user_id")), "__r", "__cnt")
      .select(col("event_type"), col("user_id"),
        round(col("total").cast("double"), 4).as("total_value"),
        round(when(col("__cnt") > 1L,
          (col("__r") - 1L).cast("double") / (col("__cnt") - 1L))
          .otherwise(lit(0.0)), 6).as("prank"),
        round(col("__r").cast("double") / col("__cnt"), 6).as("cdist"))
      .orderBy("event_type", "user_id")
  }
  private val userRankSql =
    """WITH spend AS (
  SELECT event_type, user_id, sum(CAST(value AS DECIMAL(18,6))) AS total
  FROM events GROUP BY event_type, user_id
)
SELECT event_type, user_id,
  round(CAST(total AS DOUBLE), 4) AS total_value,
  round(percent_rank() OVER w, 6) AS prank,
  round(cume_dist() OVER w, 6) AS cdist
FROM spend
WINDOW w AS (PARTITION BY event_type ORDER BY total, user_id)
ORDER BY event_type, user_id"""

  // ---------------------------------------------------------- quantiles
  /** Exact interpolated percentiles of event value per type — the
    * latency/spend-distribution report. Spark's `percentile` and
    * DuckDB's `quantile_cont` share the (n-1)·p linear-interpolation
    * definition, so the oracle is exact (modulo the pinned rounding).
    * Exact percentile sorts each group once; at 100 TB the same query
    * swaps in `percentile_approx` (mergeable t-digest-style sketch, no
    * per-group sort) — the exact form is the oracle contract at sf0.01,
    * same pattern as text_profile vs text_profile_approx. */
  private val quantiles: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99)))
          .as("qs"))
      .select(col("event_type"), col("n_events"),
        round(col("qs").getItem(0), 4).as("p50"),
        round(col("qs").getItem(1), 4).as("p90"),
        round(col("qs").getItem(2), 4).as("p99"))
      .orderBy("event_type")
  private val quantilesSql =
    """WITH q AS (
  SELECT event_type, count(*) AS n_events,
    quantile_cont(value, [0.5, 0.9, 0.99]) AS qs
  FROM events GROUP BY event_type
)
SELECT event_type, n_events,
  round(qs[1], 4) AS p50, round(qs[2], 4) AS p90, round(qs[3], 4) AS p99
FROM q ORDER BY event_type"""

  /** The sketch face of [[quantiles]] — `approx_percentile` builds a
    * mergeable quantile summary (Greenwald-Khanna-style) per partition
    * and merges them: no per-group sort, bounded memory, the form the
    * same report takes at 100 TB. Graduated from rows-only to a
    * hash-matched RANK-TOLERANCE CONTRACT: the sketch returns an ACTUAL
    * element whose rank must sit within the sketch's accuracy of the
    * target rank (value-distance is the wrong contract — the exact form
    * interpolates BETWEEN elements, so at p99 of a small group the two
    * legitimately differ by a whole gap). The query joins the sketch
    * output back to the events and computes each estimate's occupied
    * rank interval [#(v<a), #(v≤a)−1]; `pXX_ok` asserts the target rank
    * p·(n−1) falls inside it ± the sketch's OWN guarantee, ⌈εn⌉ with
    * ε = 1/accuracy, plus 2 for edge rounding. The slack MUST scale
    * with n (round 12, caught by the sf0.1 re-verification of a
    * contract written at sf0.01 sizes): a fixed ±2 held only while
    * εn < 1 — at n≈20k the sketch is permitted rank error 2.008 and
    * legitimately exceeded the fixed band; at 10⁹ rows a fixed band
    * would be asserting something no mergeable summary promises. The
    * oracle recounts the groups exactly and asserts the contract
    * literally; the sketch is deterministic on fixed data, so the
    * booleans are stable. At 100 TB only the sketch aggregate runs —
    * this face is its verification harness. */
  private val ApproxAcc = 10000
  private val quantilesApprox: Q = (s, d) => {
    val ev = Tables.events(s, d).select("event_type", "value")
    val ap = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_ev"),
        approx_percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99)),
          lit(ApproxAcc)).as("qs"))
      .select(col("event_type").as("t"), col("n_ev"),
        col("qs").getItem(0).as("a50"), col("qs").getItem(1).as("a90"),
        col("qs").getItem(2).as("a99"))
    // rank interval of estimate a: [#(v<a), #(v≤a)−1]; ok ⟺ the target
    // rank p·(n−1) lies within ⌈n/accuracy⌉+2 of it (aggregate booleans)
    def okFor(a: Column, p: Double): Column = {
      val lo = sum(when(col("value") < a, 1L).otherwise(0L))
      val hi = sum(when(col("value") <= a, 1L).otherwise(0L)) - 1L
      val n = first(col("n_ev"))
      val target = lit(p) * (n - 1L)
      // ceil(n/accuracy) via floor((n+acc−1)/acc): Column `/` on longs
      // is double division, but the quotient here is far below 2^53 so
      // the floor is exact
      val tol = lit(2L) +
        floor((n + lit(ApproxAcc.toLong - 1L)) / lit(ApproxAcc.toLong))
          .cast("long")
      target >= lo - tol && target <= hi + tol
    }
    ev.join(broadcast(ap), col("event_type") === col("t"))
      .groupBy("event_type")
      .agg(first(col("n_ev")).as("n_events"),
        okFor(col("a50"), 0.5).as("p50_ok"),
        okFor(col("a90"), 0.9).as("p90_ok"),
        okFor(col("a99"), 0.99).as("p99_ok"))
      .orderBy("event_type")
  }
  private val quantilesApproxSql =
    """SELECT event_type, count(*) AS n_events,
  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM events GROUP BY event_type ORDER BY event_type"""

  /** Windowed sketch quantiles, shared by the batch path and
    * [[graft.streaming.StreamingEvents.quantilesStream]]: per
    * (1-hour window, type) approx_percentile. The sketch's partials
    * merge associatively — exactly the property that makes the SAME
    * expression a legal watermarked streaming aggregate: each open
    * window carries one bounded summary per type and emits once on
    * close. Parity is by construction (one expression tree), proven in
    * StreamingSpec. */
  def windowedQuantilesAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99)),
          lit(10000)).as("qs"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"),
        round(col("qs").getItem(0), 4).as("p50"),
        round(col("qs").getItem(1), 4).as("p90"),
        round(col("qs").getItem(2), 4).as("p99"))

  // --------------------------------------------------------- json props
  /** Semi-structured column handling: `props` is a JSON payload; the
    * path extraction (`get_json_object`, codegen'd, schema-on-read)
    * happens at the scan and only the extracted integer travels through
    * the aggregate — the payload column itself is pruned out before the
    * shuffle. The 100 TB posture for ragged event properties: never
    * shuffle the raw JSON, extract then aggregate. */
  private val jsonProps: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("k").as("k_sum"), min("k").as("k_min"), max("k").as("k_max"),
        count_distinct(col("k")).as("k_distinct"))
      .orderBy("event_type")
  private val jsonPropsSql =
    """SELECT event_type, count(*) AS n_events,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
  count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_distinct
FROM events GROUP BY event_type ORDER BY event_type"""

  // -------------------------------------------------------------- funnel
  /** Ordered conversion funnel — signup → first click at/after it →
    * first purchase at/after that click, per user. ONE scan: the
    * per-stage-join formulation reads the fact table once per stage
    * (three full scans at 100 TB); instead, stage eligibility is a
    * running min over each user's time-ordered events — a RANGE frame
    * to unboundedPreceding marks whether a signup (then a qualified
    * click) exists at-or-before each row, exactly the `ts >= t_prev`
    * join predicate (RANGE, not ROWS, so equal-timestamp events see
    * each other regardless of tie order). Both windows share one
    * partitioning + sort, and the final per-user aggregate is
    * co-partitioned with them — plan: scan → one Exchange on user_id →
    * Sort → Window → HashAggregate. Stage timestamps pin to -1
    * sentinels where the user never converted (null-free hash). */
  private val funnel: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
    val w = Window.partitionBy("user_id").orderBy("ts_ms")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = ev
      .withColumn("sgn_seen",
        min(when(col("event_type") === "signup", col("ts_ms"))).over(w))
      .withColumn("qual_click",
        when(col("event_type") === "click" && col("sgn_seen").isNotNull,
          col("ts_ms")))
      .withColumn("click_seen", min(col("qual_click")).over(w))
    staged.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts_ms")))
          .as("t_signup"),
        min(col("qual_click")).as("t_click"),
        min(when(col("event_type") === "purchase" &&
          col("click_seen").isNotNull, col("ts_ms"))).as("t_purchase"))
      .filter(col("t_signup").isNotNull)
      .select(col("user_id"), col("t_signup").as("signup_ms"),
        coalesce(col("t_click"), lit(-1L)).as("click_ms"),
        coalesce(col("t_purchase"), lit(-1L)).as("purchase_ms"))
      .orderBy("user_id")
  }
  private val funnelSql =
    """WITH s AS (
  SELECT user_id, min(ts) AS t_signup FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT s.user_id, min(e.ts) AS t_click
  FROM s JOIN events e ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.t_signup
  GROUP BY s.user_id
), p AS (
  SELECT c.user_id, min(e.ts) AS t_purchase
  FROM c JOIN events e ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY c.user_id
)
SELECT s.user_id, epoch_ms(date_trunc('milliseconds', s.t_signup)) AS signup_ms,
  coalesce(epoch_ms(date_trunc('milliseconds', c.t_click)), -1) AS click_ms,
  coalesce(epoch_ms(date_trunc('milliseconds', p.t_purchase)), -1) AS purchase_ms
FROM s LEFT JOIN c ON c.user_id = s.user_id
LEFT JOIN p ON p.user_id = s.user_id
ORDER BY s.user_id"""

  // ----------------------------------------------------------- retention
  /** Day-over-day retention — the cohort metric every engagement
    * dashboard runs: of the users active on day d, how many were also
    * active on d+1. ONE scan: the (user, day) active set is the
    * distinct of the scan, then a per-user `lead` over its day sequence
    * marks each row retained iff the next active day is exactly d+1 —
    * equivalent to the textbook active-set self-join, but the self-join
    * plan reads the fact table once per side plus once for the DAU leg
    * (three full scans + three distincts at 100 TB, verified in the
    * physical plan); this form scans once, shuffles the already-tiny
    * active set twice ((user, day) distinct, then user window), and
    * zero-retention days fall out of the same aggregate for free. */
  /** The lead-based retention finish over an already-distinct
    * (user_id, day_ms) active relation — shared by the batch query
    * and the streaming face's query-time serve (there the relation is
    * the store's accreted closed-day partials). */
  private[graft] def retentionOf(active: DataFrame): DataFrame = {
    val DayMs = 86400L * 1000
    val w = Window.partitionBy("user_id").orderBy("day_ms")
    active
      .withColumn("next_day", lead("day_ms", 1).over(w))
      .groupBy("day_ms")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("next_day") === col("day_ms") + DayMs, 1L)
          .otherwise(0L)).as("retained"))
      .select(col("day_ms"), col("dau"), col("retained"),
        round(col("retained") / col("dau"), 6).as("retention_rate"))
      .orderBy("day_ms")
  }
  private val retention: Q = (s, d) =>
    retentionOf(Tables.events(s, d)
      .select(col("user_id"),
        unix_millis(date_trunc("day", col("ts"))).as("day_ms"))
      .distinct())
  private val retentionSql =
    """WITH active AS (
  SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms FROM events
), ret AS (
  SELECT a.day_ms, count(*) AS retained
  FROM active a JOIN active b
    ON b.user_id = a.user_id AND b.day_ms = a.day_ms + 86400000
  GROUP BY a.day_ms
)
SELECT a.day_ms, count(*) AS dau,
  coalesce(any_value(r.retained), 0) AS retained,
  round(CAST(coalesce(any_value(r.retained), 0) AS DOUBLE) / count(*), 6)
    AS retention_rate
FROM active a LEFT JOIN ret r ON r.day_ms = a.day_ms
GROUP BY a.day_ms ORDER BY a.day_ms"""

  // ------------------------------------------------------------- anomaly
  /** Z-score outliers per event type (value > mean + 3σ) — the
    * monitoring query every event pipeline runs. The per-type moments
    * come from EXACT decimal sums (Σv, Σv²) so they are
    * shuffle-order-independent, then mean/σ/z are computed in double
    * with the IDENTICAL expression in both engines — the 3σ cut
    * therefore lands on bit-identical z values and the flagged set
    * can't flap. Plan: one scan + one tiny stats aggregate broadcast
    * back onto the stream — the second scan leg is filter+project only
    * (no shuffle of the fact side); a sampled-stats variant drops even
    * that at 100 TB. */
  /** Per-type moments from exact decimal sums — reused by the batch
    * query and as the static side of the streaming enrichment join
    * ([[graft.streaming.StreamingEvents.anomalyStream]]). */
  def anomalyStats(ev: DataFrame): DataFrame =
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,10)")).cast("double").as("s"),
        sum((col("value") * col("value")).cast("decimal(25,10)"))
          .cast("double").as("s2"))
      .select(col("event_type"), (col("s") / col("n")).as("mean"),
        sqrt((col("s2") - col("s") * col("s") / col("n")) / (col("n") - 1))
          .as("std"))

  /** The 3σ cut against a precomputed stats relation — shared verbatim
    * by the batch face and the stream-static join. */
  def flagAnomalies(ev: DataFrame, stats: DataFrame): DataFrame = {
    val z = (col("value") - col("mean")) / col("std")
    ev.join(broadcast(stats), "event_type")
      .filter(z > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(z, 4).as("z"))
  }

  private val anomaly: Q = (s, d) => {
    val ev = Tables.events(s, d)
    flagAnomalies(ev, anomalyStats(ev)).orderBy("event_type", "event_id")
  }
  private val anomalySql =
    """WITH st AS (
  SELECT event_type, count(*) AS n,
    CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS s,
    CAST(sum(CAST(value * value AS DECIMAL(25,10))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
), m AS (
  SELECT event_type, s / n AS mean, sqrt((s2 - s * s / n) / (n - 1)) AS std
  FROM st
)
SELECT e.event_id, e.event_type, e.value,
  round((e.value - m.mean) / m.std, 4) AS z
FROM events e JOIN m USING (event_type)
WHERE (e.value - m.mean) / m.std > 3.0
ORDER BY e.event_type, e.event_id"""

  // ------------------------------------------------------------- deciles
  /** Per-type value deciles via exact distributed NTILE — the
    * equi-height-bucket report (spend bands, latency bands). The
    * banding is [[graft.operators.GlobalRank.withNtilePerGroup]]: a
    * RANGE partition on (type, value, ts, id) spreads every type's
    * sort across all tasks, so a hot type no longer lands its full
    * event set on one task (the former `Window.partitionBy(type)`
    * form's acknowledged 100 TB weakness — now erased; the approx
    * sibling `events_quantiles_approx` remains the sketch path).
    * (ts, event_id) breaks value ties deterministically so boundary
    * rows land in stable buckets cross-engine. */
  private val deciles: Q = (s, d) => {
    graft.operators.GlobalRank.withNtilePerGroup(
      Tables.events(s, d)
        .select(col("event_type"), col("value"), col("ts"), col("event_id")),
      10, "event_type", Seq(col("value"), col("ts"), col("event_id")),
      "decile")
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n_events"),
        round(min("value"), 4).as("lo"),
        round(max("value"), 4).as("hi"))
      .orderBy("event_type", "decile")
  }
  private val decilesSql =
    """WITH t AS (
  SELECT event_type, value,
    ntile(10) OVER (PARTITION BY event_type ORDER BY value, ts, event_id)
      AS decile
  FROM events
)
SELECT event_type, CAST(decile AS INT) AS decile, count(*) AS n_events,
  round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM t GROUP BY event_type, decile
ORDER BY event_type, decile"""

  // ----------------------------------------------------------- anti join
  /** Churn-risk cut — clickers with NO purchase in the final week: the
    * LEFT ANTI join face (the only join type the rest of the surface
    * doesn't exercise). The anti join ships no payload columns from the
    * right side and drops a left group on first match; both sides are
    * pre-aggregated to distinct/counted user sets before the join, so
    * the shuffle carries |users| rows, not |events|. Oracle: NOT
    * EXISTS, which is exactly what anti-join implements. */
  private val antiJoin: Q = (s, d) => {
    val cutoff = expr("TIMESTAMP '2024-01-25 00:00:00'")
    val ev = Tables.events(s, d)
    val clickers = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(count(lit(1)).as("n_clicks"),
        unix_millis(max("ts")).as("last_click_ms"))
    val recentPurchasers = ev.filter(col("event_type") === "purchase" &&
        col("ts") >= cutoff)
      .select("user_id").distinct()
    clickers.join(recentPurchasers, Seq("user_id"), "left_anti")
      .orderBy("user_id")
  }
  private val antiJoinSql =
    """SELECT user_id, count(*) AS n_clicks,
  epoch_ms(date_trunc('milliseconds', max(ts))) AS last_click_ms
FROM events c
WHERE event_type = 'click'
  AND NOT EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                    AND p.ts >= TIMESTAMP '2024-01-25 00:00:00')
GROUP BY user_id ORDER BY user_id"""

  // ------------------------------------------------------- daily balance
  /** Click-vs-purchase daily balance — the FULL OUTER join face
    * (completing the join-type matrix next to inner/left/semi/anti):
    * two per-day aggregates joined keeping days present in EITHER leg,
    * absent legs pinned to 0 so the imbalance ratio is total. Both
    * sides collapse to |days| rows before the join (map-side partial
    * aggs), so the full-outer shuffle is trivially small no matter the
    * fact volume. */
  private val dailyBalance: Q = (s, d) => {
    val ev = Tables.events(s, d)
    def daily(t: String, as: String) = ev.filter(col("event_type") === t)
      .groupBy(unix_millis(date_trunc("day", col("ts"))).as("day_ms"))
      .agg(count(lit(1)).as(as))
    daily("click", "n_clicks")
      .join(daily("purchase", "n_purchases"), Seq("day_ms"), "full_outer")
      .select(col("day_ms"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        round(coalesce(col("n_purchases"), lit(0L)) /
          greatest(coalesce(col("n_clicks"), lit(0L)), lit(1L)), 6)
          .as("purchase_per_click"))
      .orderBy("day_ms")
  }
  private val dailyBalanceSql =
    """WITH c AS (
  SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, count(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1
), p AS (
  SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, count(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT coalesce(c.day_ms, p.day_ms) AS day_ms,
  coalesce(c.n_clicks, 0) AS n_clicks,
  coalesce(p.n_purchases, 0) AS n_purchases,
  round(CAST(coalesce(p.n_purchases, 0) AS DOUBLE) /
    greatest(coalesce(c.n_clicks, 0), 1), 6) AS purchase_per_click
FROM c FULL JOIN p ON c.day_ms = p.day_ms
ORDER BY day_ms"""

  // ------------------------------------------------------------ lag gaps
  /** Inter-arrival gap statistics per user — the `lag` window face
    * (rate limiting, bot detection, engagement cadence): one shuffle on
    * user_id, one in-partition sort, each event's gap to its
    * predecessor, then a per-user summary riding the same partitioning
    * (no second exchange). Gap math in integer milliseconds — no
    * float drift for the oracle hash. */
  private val lagGaps: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("gap_ms", col("ts_ms") - lag("ts_ms", 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        min("gap_ms").as("min_gap_ms"),
        max("gap_ms").as("max_gap_ms"),
        // floor, not cast: DuckDB CAST(double AS BIGINT) rounds while
        // Spark truncates — floor is identical in both for positive gaps
        floor(sum("gap_ms") / count(lit(1))).cast("long").as("avg_gap_ms"))
      .orderBy("user_id")
  }
  private val lagGapsSql =
    """WITH g AS (
  SELECT user_id,
    epoch_ms(date_trunc('milliseconds', ts)) -
      lag(epoch_ms(date_trunc('milliseconds', ts))) OVER
        (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events
)
SELECT user_id, count(*) AS n_gaps,
  min(gap_ms) AS min_gap_ms, max(gap_ms) AS max_gap_ms,
  CAST(floor(CAST(sum(gap_ms) AS DOUBLE) / count(*)) AS BIGINT) AS avg_gap_ms
FROM g WHERE gap_ms IS NOT NULL
GROUP BY user_id ORDER BY user_id"""

  // ------------------------------------------------------------- unpivot
  /** Wide → long melt, the inverse API face of [[pivotHourlyAgg]]:
    * `unpivot` turns the hourly count matrix back into (hour, type,
    * count) rows — the normalization step reporting marts run before
    * re-aggregating differently. Unpivot is a per-row expression
    * expansion (no shuffle of its own); the only shuffle in the plan is
    * the pivot's hour aggregate underneath. Zero-count cells survive
    * the melt (the pivot's zero fill is part of its contract), so the
    * oracle densifies hours × types with a left join. */
  private val unpivotHourly: Q = (s, d) =>
    pivotHourlyAgg(Tables.events(s, d))
      .unpivot(Array(col("hour_ms")),
        PivotTypes.map(col).toArray, "event_type", "n_events")
      .orderBy("hour_ms", "event_type")
  private val unpivotHourlySql = {
    val types = PivotTypes.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH h AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms FROM events GROUP BY 1
), c AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
    count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT h.hour_ms, t.event_type, coalesce(c.n, 0) AS n_events
FROM h CROSS JOIN (SELECT unnest($types) AS event_type) t
LEFT JOIN c ON c.hour_ms = h.hour_ms AND c.event_type = t.event_type
ORDER BY h.hour_ms, t.event_type"""
  }

  // ----------------------------------------------------------- intersect
  /** Stable-cohort cut — users active on BOTH the first and the final
    * day: the INTERSECT set-op face (union and anti-join are exercised
    * elsewhere; this completes the family). Spark compiles intersect to
    * a distinct + left-semi join, so each side collapses to its user
    * set map-side before one |users|-row shuffle meets the other. */
  private val intersectWeeks: Q = (s, d) => {
    val ev = Tables.events(s, d)
    def dayUsers(from: String, to: String) = ev
      .filter(col("ts") >= expr(s"TIMESTAMP '$from'") &&
        col("ts") < expr(s"TIMESTAMP '$to'"))
      .select("user_id")
    dayUsers("2024-01-01 00:00:00", "2024-01-02 00:00:00")
      .intersect(dayUsers("2024-01-30 00:00:00", "2024-01-31 00:00:00"))
      .orderBy("user_id")
  }
  private val intersectWeeksSql =
    """SELECT user_id FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-02 00:00:00'
INTERSECT
SELECT user_id FROM events
WHERE ts >= TIMESTAMP '2024-01-30 00:00:00' AND ts < TIMESTAMP '2024-01-31 00:00:00'
ORDER BY user_id"""

  // -------------------------------------------------------------- except
  /** Browse-only user-days — (user, day) pairs with a click but no
    * purchase: the EXCEPT set-op face, closing the family next to
    * [[intersectWeeks]] (the anti-join covers the row-level NOT
    * EXISTS; EXCEPT is the set-semantic sibling with built-in dedup).
    * Spark compiles it to a distinct + left-anti join — both sides
    * collapse to their (user, day) sets map-side before one
    * set-cardinality shuffle. */
  private val exceptUsers: Q = (s, d) => {
    val ev = Tables.events(s, d)
    def typeDays(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"),
        unix_millis(date_trunc("day", col("ts"))).as("day_ms"))
    typeDays("click").except(typeDays("purchase")).orderBy("user_id", "day_ms")
  }
  private val exceptUsersSql =
    """SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms
FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms
FROM events WHERE event_type = 'purchase'
ORDER BY user_id, day_ms"""

  // ----------------------------------------------------------- histogram
  /** Fixed-width value histogram per type — the equi-WIDTH complement
    * to [[deciles]]' equi-height bands: bin = floor(value / 25), pure
    * scan-side arithmetic (no sort, no window — the cheapest possible
    * distribution sketch) feeding one map-side-combinable aggregate.
    * Integer-ms-style floor keeps the bin id exact in both engines. */
  private val histogram: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") / 25.0).cast("long").as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type", "bin")
  private val histogramSql =
    """SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin,
  count(*) AS n_events
FROM events GROUP BY event_type, bin
ORDER BY event_type, bin"""

  // ------------------------------------------------- transition matrix
  /** First-order Markov transition matrix over per-user event
    * sequences — the "next-event" dataset-prep shape (sequence
    * modeling corpora are exactly (state, next-state) pairs). One
    * window pass per user (partitioned by user_id, ordered by the
    * unique (ts, event_id)) emits each adjacent pair once; the counts
    * are exact integers, so both engines agree bit-for-bit. Scale: the
    * window shuffle partitions by user — per-user sequences sort
    * locally — and the pair counting is a map-side-combinable
    * aggregate over a |types|² key space. */
  private val markov: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct("user_id").as("n_users"))
      .orderBy("from_type", "to_type")
  }
  private val markovSql =
    """WITH seq AS (
  SELECT user_id, event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n_transitions,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE to_type IS NOT NULL
GROUP BY from_type, to_type ORDER BY from_type, to_type"""

  // ------------------------------------------------------- change point
  /** CUSUM change-point detection — the "when did this metric shift"
    * readout (deploy regressions, data-source cutover): per type, the
    * cumulative sum of daily deviations from the overall mean peaks in
    * magnitude at the most likely change day. Daily sums and the
    * per-type mean both come from ONE daily aggregate ([[gapFill]]'s
    * shape); the CUSUM is a day-ordered running sum of
    * DECIMAL(25,15)-cast deviations, so every prefix is exact and
    * order-free; the argmax breaks |CUSUM| ties to the earlier day.
    * All windows partition by type — never global — and the relation
    * under them is |types|·|days|. */
  private val changepoint: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"),
        col("value"))
      .groupBy("event_type", "day_num")
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("x"))
      .localCheckpoint()
    val means = daily.groupBy("event_type")
      .agg((sum(col("x").cast("decimal(25,15)")).cast("double")
        / count(lit(1))).as("mu"), count(lit(1)).as("n_days"))
    val wc = Window.partitionBy("event_type").orderBy("day_num")
    val wm = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum")).desc, col("day_num"))
    daily.join(broadcast(means), "event_type")
      .withColumn("cusum",
        sum((col("x") - col("mu")).cast("decimal(25,15)")).over(wc)
          .cast("double"))
      .withColumn("rk", row_number().over(wm))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day_num").as("change_day"),
        round(col("cusum"), 6).as("peak_cusum"), col("n_days"))
      .orderBy("event_type")
  }
  private val changepointSql =
    """WITH daily AS (
  SELECT event_type,
    epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), means AS (
  SELECT event_type,
    CAST(sum(CAST(x AS DECIMAL(25,15))) AS DOUBLE) / count(*) AS mu,
    count(*) AS n_days
  FROM daily GROUP BY event_type
), cus AS (
  SELECT d.event_type, d.day_num, m.n_days,
    CAST(sum(CAST(d.x - m.mu AS DECIMAL(25,15)))
      OVER (PARTITION BY d.event_type ORDER BY d.day_num) AS DOUBLE)
      AS cusum
  FROM daily d JOIN means m USING (event_type)
)
SELECT event_type, day_num AS change_day,
  round(cusum, 6) AS peak_cusum, n_days
FROM cus
QUALIFY row_number() OVER (PARTITION BY event_type
  ORDER BY abs(cusum) DESC, day_num) = 1
ORDER BY event_type"""

  // ------------------------------------------------------ trigram paths
  /** Top user paths at trigram grain — the sequence-mining step above
    * [[markov]]'s bigram matrix (funnels tell you A→B; this surfaces
    * the DOMINANT A→B→C journeys worth instrumenting): two leads over
    * each user's ordered stream, a corpus-wide path census, and the
    * global top-10 by (count, path). Same single user-partitioned
    * window pass as markov — both leads share one shuffle and one sort
    * — and the top-10 plans as TakeOrderedAndProject over the
    * |types|³-bounded census, never a single-partition global sort.
    * Counts exact → hash-stable. */
  private val trigramPaths: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val census = Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n_paths"),
        countDistinct("user_id").as("n_users"))
    census
      .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("n_paths").desc, col("e1"), col("e2"), col("e3"))).cast("int"))
      .select("rank", "e1", "e2", "e3", "n_paths", "n_users")
  }
  private val trigramPathsSql =
    """WITH seq AS (
  SELECT user_id, event_type AS e1,
    lead(event_type, 1) OVER w AS e2,
    lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), census AS (
  SELECT e1, e2, e3, count(*) AS n_paths,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
  GROUP BY e1, e2, e3
)
SELECT CAST(row_number() OVER (ORDER BY n_paths DESC, e1, e2, e3) AS INT)
    AS rank,
  e1, e2, e3, n_paths, n_users
FROM census
ORDER BY n_paths DESC, e1, e2, e3 LIMIT 10"""

  // --------------------------------------------- state history (SCD2)
  /** Gaps-and-islands → SCD-Type-2 state history: collapse each user's
    * consecutive same-type runs into validity intervals
    * [valid_from, valid_to) with the last run open (is_current) — the
    * dimension-history shape every warehouse keeps, and the classic
    * islands formulation: a lag-window marks change points, a running
    * sum numbers the islands, one aggregate per island, and a lead
    * over islands closes each interval with its successor's start.
    * All three windows share the user_id partitioning, so the whole
    * query is ONE shuffle + per-user local sorts; epoch-ms integers
    * keep the hash engine-stable. */
  /** Gaps-and-islands run derivation: collapse a per-user event stream
    * into its consecutive same-type runs, (user_id, island, event_type,
    * valid_from_ms, n_events). Shared by [[stateHistory]] and the
    * point-in-time join ([[scd2Join]]). One shuffle on user_id. */
  private def stateRuns(events: DataFrame): DataFrame = {
    val wRow = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevType = lag(col("event_type"), 1).over(wRow)
    val changed = when(prevType.isNull ||
      prevType =!= col("event_type"), 1L).otherwise(0L)
    val island = sum(changed)
      .over(wRow.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("island", island)
      .groupBy("user_id", "island", "event_type")
      .agg(min(unix_millis(col("ts"))).as("valid_from_ms"),
        count(lit(1)).as("n_events"))
  }
  private val stateHistory: Q = (s, d) => {
    val wIsl = Window.partitionBy("user_id").orderBy(col("island"))
    stateRuns(Tables.events(s, d))
      .select(col("user_id"), col("event_type"), col("valid_from_ms"),
        lead(col("valid_from_ms"), 1).over(wIsl).as("valid_to_ms"),
        col("n_events"))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .orderBy("user_id", "valid_from_ms")
  }
  private val stateHistorySql =
    """WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
      AS changed
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts, event_type,
    sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
), runs AS (
  SELECT user_id, island, event_type,
    min(epoch_ms(ts)) AS valid_from_ms, count(*) AS n_events
  FROM islands GROUP BY user_id, island, event_type
)
SELECT user_id, event_type, valid_from_ms,
  lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY island)
    AS valid_to_ms,
  n_events,
  (lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY island)
    IS NULL) AS is_current
FROM runs ORDER BY user_id, valid_from_ms"""

  // ------------------------------------------------------- SCD2 join
  /** Point-in-time dimension join — the "which version of the
    * dimension was true WHEN the fact happened" lookup every
    * history-correct warehouse (and every feature store) must answer:
    * each purchase is enriched with the user's activity state (the
    * SCD2 run from [[stateRuns]], derived from the NON-purchase
    * stream) that was valid at the purchase timestamp, then revenue
    * rolls up per state. Joining on is_current instead would silently
    * leak future states into past facts — the classic SCD2 bug this
    * query exists to demonstrate against. Implementation is the
    * ASOF-backward composition, not a range join: version rows
    * (k=0) and facts (k=1) union into one per-user stream ordered by
    * (t, k), and `last(state, ignoreNulls)` propagates the most
    * recent version boundary forward — one shuffle on user_id, one
    * window pass, per-row state O(1), regardless of how many
    * versions a user has (a per-fact interval probe would fan out by
    * version count instead). Purchases before any state map to
    * 'none' explicitly. */
  private val scd2Join: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val versions = stateRuns(ev.filter(col("event_type") =!= "purchase"))
      .select(col("user_id"), col("valid_from_ms").as("t"),
        lit(0).as("k"), col("event_type").as("state"),
        lit(null).cast("decimal(18,6)").as("v"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("t"),
        lit(1).as("k"), lit(null).cast("string").as("state"),
        col("value").cast("decimal(18,6)").as("v"))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions.unionByName(facts)
      .withColumn("cur_state", last(col("state"), ignoreNulls = true).over(w))
      .filter(col("k") === 1)
      .groupBy(coalesce(col("cur_state"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("v").cast("double"), 4).as("val_sum"))
      .orderBy("state")
  }
  private val scd2JoinSql =
    """WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
      AS changed
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts, event_type,
    sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
), runs AS (
  SELECT user_id, island, event_type,
    min(epoch_ms(ts)) AS valid_from_ms
  FROM islands GROUP BY user_id, island, event_type
), p AS (
  SELECT user_id, epoch_ms(ts) AS pms,
    CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.user_id, p.pms, p.v,
    (SELECT r.event_type FROM runs r
     WHERE r.user_id = p.user_id AND r.valid_from_ms <= p.pms
     ORDER BY r.valid_from_ms DESC LIMIT 1) AS state
  FROM p
)
SELECT coalesce(state, 'none') AS state, count(*) AS n_purchases,
  round(CAST(sum(v) AS DOUBLE), 4) AS val_sum
FROM j GROUP BY 1 ORDER BY 1"""

  // ----------------------------------------------------------- DAU/MAU
  /** DAU / trailing-30-day MAU / stickiness per day — the engagement
    * ratio every product dashboard leads with, and a trailing-window
    * DISTINCT (not a sum — distinct counts don't decompose, so the
    * pre-aggregated-summary trick of `events_trailing_7d` doesn't
    * apply). Shape: the fact table reduces ONCE to the distinct
    * (day, user) relation; the MAU band join then broadcasts the
    * DAY dimension (one row per day — trivially broadcastable forever)
    * against it, so fan-out is ≤30 rows per (day, user) and the only
    * wide state is the distinct reduction itself. Stickiness ships as
    * integer permille ((dau·1000) div mau) — no double rounding to
    * flap. */
  private val dauMau: Q = (s, d) => {
    val ud = Tables.events(s, d)
      .select(unix_millis(date_trunc("DAY", col("ts"))).as("day_ms"),
        col("user_id")).distinct()
    val days = ud.select(col("day_ms").as("d")).distinct()
    val mau = ud.join(broadcast(days),
        col("day_ms") <= col("d") &&
          col("day_ms") > col("d") - lit(30L * 86400000L))
      .groupBy("d").agg(countDistinct("user_id").as("mau"))
    val dau = ud.groupBy(col("day_ms").as("d2"))
      .agg(countDistinct("user_id").as("dau"))
    dau.join(mau, col("d2") === col("d"))
      .select(col("d").as("day_ms"), col("dau"), col("mau"),
        expr("(dau * 1000) div mau").as("stickiness_permille"))
      .orderBy("day_ms")
  }
  private val dauMauSql =
    """WITH ud AS (
  SELECT DISTINCT epoch_ms(date_trunc('day', ts)) AS day_ms, user_id
  FROM events
), days AS (
  SELECT DISTINCT day_ms AS d FROM ud
), mau AS (
  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM ud JOIN days ON day_ms <= d AND day_ms > d - 2592000000
  GROUP BY d
), dau AS (
  SELECT day_ms AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ud GROUP BY day_ms
)
SELECT d AS day_ms, dau, mau,
  CAST((dau * 1000) // mau AS BIGINT) AS stickiness_permille
FROM dau JOIN mau USING (d) ORDER BY day_ms"""

  /** Per-day HLL user sketches — the mergeable partial behind the
    * approximate distinct-count pipeline. This is the 100 TB shape for
    * trailing-window distinct counts: the fact reduces once per day to
    * one fixed-size sketch (lgK=14 → ≤16 KB, ~0.8% rel. std. error),
    * stored partials union in O(days) at query time, and the SAME
    * aggregation runs unbounded as [[graft.streaming.StreamingEvents
    * .dauMauStream]] (day windows close at the watermark — exactly the
    * layer batch jobs can't provide). Day key via window(ts, 1 day)
    * rather than date_trunc: identical UTC bucketing, but the windowed
    * form is what streaming watermark eviction keys on, so batch and
    * stream share this expression tree verbatim. */
  private[graft] def dayUserSketch(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 day").as("w"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("user_hll"))
      .select(unix_millis(col("w.start")).as("day_ms"), col("user_hll"))

  /** Fold stored per-day sketches to (day_ms, dau_est, mau_est):
    * per-day estimate directly, trailing-30-day MAU by unioning the
    * ≤30 sketches in the band — register-max merge, so the result is
    * order-independent and identical whether the partials came from a
    * batch build or accreted from the stream. */
  private[graft] def dauMauFold(sk: DataFrame): DataFrame = {
    val days = sk.select(col("day_ms").as("d")).distinct()
    val mau = sk.join(broadcast(days),
        col("day_ms") <= col("d") &&
          col("day_ms") > col("d") - lit(30L * 86400000L))
      .groupBy("d")
      .agg(hll_sketch_estimate(hll_union_agg(col("user_hll"))).as("mau_est"))
    sk.select(col("day_ms").as("d2"),
        hll_sketch_estimate(col("user_hll")).as("dau_est"))
      .join(mau, col("d2") === col("d"))
      .select(col("d").as("day_ms"), col("dau_est"), col("mau_est"))
  }

  /** The HLL pipeline against ground truth, as a tolerance contract:
    * exact DAU/MAU (the [[dauMau]] derivation verbatim) joined with the
    * sketch estimates, shipping booleans |est − exact| ≤ max(5%, 1).
    * Datasketches HLL is deterministic (fixed seed, register maxima),
    * so the booleans are stable and hash-matchable; the oracle pins
    * them TRUE from the exact side alone. At test cardinalities the
    * sketch sits in sparse mode and the estimates are EXACT — the 5%
    * band is the documented contract for dense-mode scale, not slack
    * observed here. */
  private val dauMauApprox: Q = (s, d) => {
    val est = dauMauFold(dayUserSketch(Tables.events(s, d)))
    def ok(e: Column, x: Column) =
      abs(e - x.cast("double")) <= greatest(x.cast("double") * 0.05, lit(1.0))
    dauMau(s, d).join(est, "day_ms")
      .select(col("day_ms"), col("dau"), col("mau"),
        ok(col("dau_est"), col("dau")).as("dau_ok"),
        ok(col("mau_est"), col("mau")).as("mau_ok"))
      .orderBy("day_ms")
  }
  private val dauMauApproxSql =
    """WITH ud AS (
  SELECT DISTINCT epoch_ms(date_trunc('day', ts)) AS day_ms, user_id
  FROM events
), days AS (
  SELECT DISTINCT day_ms AS d FROM ud
), mau AS (
  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM ud JOIN days ON day_ms <= d AND day_ms > d - 2592000000
  GROUP BY d
), dau AS (
  SELECT day_ms AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ud GROUP BY day_ms
)
SELECT d AS day_ms, dau, mau, TRUE AS dau_ok, TRUE AS mau_ok
FROM dau JOIN mau USING (d) ORDER BY day_ms"""

  // --------------------------------------------------------------- RFM
  /** RFM segmentation — the classic customer-value cut (recency /
    * frequency / monetary, each banded into quintiles, concatenated
    * into a segment code): one groupBy(user) computes all three
    * metrics exactly (recency anchored to the corpus max-ts carried as
    * a broadcast 1-row aggregate — no eager driver action at
    * construction — so the query is deterministic, monetary
    * decimal-exact), then three exact distributed quintile bands via
    * [[graft.operators.GlobalRank.withNtile]] over the user-level
    * relation. The banding is |users|-sized and each band is a
    * range-partitioned two-phase rank — NEVER a single-task global
    * sort, which the three unpartitioned `ntile(5)` windows this
    * replaced were (the repo's one standing violation of its own
    * house rule). Every band orders by (metric, user_id), making band
    * boundaries deterministic in both engines; the monetary band
    * ranks on the decimal sum, not its double rendering. */
  private val rfm: Q = (s, d) => {
    import graft.operators.GlobalRank
    val ev = Tables.events(s, d)
    val anchor = broadcast(ev.agg(
      max(unix_millis(col("ts"))).as("anchor_ms")))
    val perUser = ev.groupBy("user_id")
      .agg(max(unix_millis(col("ts"))).as("last_ms"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,6)")).as("monetary_d"))
      .crossJoin(anchor)
      // integer floor division — identical to DuckDB // on positive ms
      .withColumn("recency_days",
        expr("(anchor_ms - last_ms) div 86400000"))
      .drop("anchor_ms")
    // All three bands in ONE two-phase rank: melt the per-user relation
    // into (user, metric-kind, sort_key) long form — descending metrics
    // negate their key, so every kind orders ascending by (key, user) —
    // and band per kind with [[GlobalRank.withNtilePerGroup]]. One
    // range shuffle ranks all three metrics (vs three chained ntiles
    // whose plans would nest 2³ copies of the events aggregation), the
    // per-user relation is referenced twice total, and construction
    // stays action-free (the eager-anchor lesson).
    val perUserC = CachePool.cached(s, d, "rfmPerUser")(perUser)
    val melt = perUserC.select(col("user_id"), explode(map(
      lit("r"), col("recency_days").cast("decimal(30,6)"),
      lit("f"), (-col("frequency")).cast("decimal(30,6)"),
      lit("m"), (-col("monetary_d")).cast("decimal(30,6)")))
      .as(Seq("kind", "sort_key")))
    val bands = GlobalRank.withNtilePerGroup(melt, 5, "kind",
      Seq(col("sort_key"), col("user_id")), "band")
      .groupBy("user_id").pivot("kind", Seq("r", "f", "m"))
      .agg(first("band"))
      .select(col("user_id"), col("r").as("r_band"),
        col("f").as("f_band"), col("m").as("m_band"))
    val banded = perUserC.join(bands, "user_id")
    banded.select(col("user_id"), col("recency_days"), col("frequency"),
      round(col("monetary_d").cast("double"), 4).as("monetary"),
      col("r_band"), col("f_band"), col("m_band"))
      .withColumn("segment", concat(col("r_band"), col("f_band"), col("m_band")))
      .orderBy("user_id")
  }
  private val rfmSql =
    """WITH anchor AS (
  SELECT max(epoch_ms(ts)) AS a FROM events
), pu AS (
  SELECT user_id,
    CAST(((SELECT a FROM anchor) - max(epoch_ms(ts))) // 86400000
      AS BIGINT) AS recency_days,
    count(*) AS frequency,
    sum(CAST(value AS DECIMAL(18,6))) AS monetary_d
  FROM events GROUP BY user_id
)
SELECT user_id, recency_days, frequency,
  round(CAST(monetary_d AS DOUBLE), 4) AS monetary,
  CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS INT) AS r_band,
  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_band,
  CAST(ntile(5) OVER (ORDER BY monetary_d DESC, user_id) AS INT) AS m_band,
  CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS VARCHAR)
    || CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS VARCHAR)
    || CAST(ntile(5) OVER (ORDER BY monetary_d DESC, user_id) AS VARCHAR)
    AS segment
FROM pu ORDER BY user_id"""

  // ----------------------------------------------------- winsorization
  /** Winsorized aggregation — the outlier-robust cleaning pass (clip
    * each value into its group's [p05, p95] band before aggregating;
    * standard prep before training on noisy numeric telemetry). Two
    * passes by necessity — the percentiles are a property of the whole
    * group — but the first pass produces one 2-double row per type
    * (broadcast back), and the second is a plain map-side-combinable
    * aggregate over the clipped projection. Exact interpolated
    * percentiles match DuckDB's quantile_cont bit-for-bit (pinned by
    * `events_quantiles`), so the clip boundaries — and the booleans
    * they gate — cannot flap cross-engine; the clipped sum is
    * decimal-exact. */
  private val winsorize: Q = (s, d) => {
    val ev = Tables.events(s, d).select("event_type", "value")
    val bands = ev.groupBy("event_type")
      .agg(percentile(col("value"), array(lit(0.05), lit(0.95))).as("qs"))
      .select(col("event_type").as("t"),
        col("qs").getItem(0).as("p05"), col("qs").getItem(1).as("p95"))
    ev.join(broadcast(bands), col("event_type") === col("t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L))
          .as("clipped_low"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L))
          .as("clipped_high"),
        round(sum(least(greatest(col("value"), col("p05")), col("p95"))
          .cast("decimal(18,6)")).cast("double"), 4).as("wins_sum"))
      .orderBy("event_type")
  }
  private val winsorizeSql =
    """WITH bands AS (
  SELECT event_type, quantile_cont(value, 0.05) AS p05,
    quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n_events,
  CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT)
    AS clipped_low,
  CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT)
    AS clipped_high,
  round(CAST(sum(CAST(least(greatest(value, p05), p95)
    AS DECIMAL(18,6))) AS DOUBLE), 4) AS wins_sum
FROM events e JOIN bands b ON e.event_type = b.event_type
GROUP BY e.event_type ORDER BY e.event_type"""

  // ---------------------------------------------- CMS heavy hitters
  /** Count-min-sketch heavy hitters under a tolerance contract — the
    * third sketch family next to HLL (`text_profile_approx`) and the
    * percentile summaries (`events_quantiles_approx`), and the one
    * that answers "top keys by frequency" on a stream the exact
    * groupBy can't hold: the sketch is a fixed ε×δ counter grid that
    * merges associatively, so at 100 TB it builds in one combinable
    * aggregate pass with O(1/ε·ln 1/δ) state, not O(keys). Input is
    * the deterministically skewed fact relation (75% of traffic on
    * user 0 — uniform data has no heavy hitters to find). Like the
    * other approximate ops, the unverifiable estimate values stay out
    * of the output; what ships is the CMS CONTRACT per top key:
    * est ≥ true (structural) and est ≤ true + ⌈ε·N⌉ (the 1−δ bound,
    * deterministic here because the seed is fixed) — the oracle emits
    * the exact top keys with literal TRUE. The sketch collect is
    * constant-size model state (one ~23 KB grid), as are the 5 probe
    * keys. */
  private val heavyHitters: Q = (s, d) => {
    val fact = graft.queries.InfraQueries.skewedFact(s, d)
    val eps = 0.001
    val skBytes = fact
      .agg(expr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val budget = math.ceil(eps * cms.totalCount()).toLong
    val top = fact.groupBy("user_id").agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("user_id")).limit(5)
      .collect().map { r =>
        val uid = r.getLong(0); val nt = r.getLong(1)
        val est = cms.estimateCount(uid)
        (uid, nt, est >= nt && est <= nt + budget)
      }.toSeq
    import s.implicits._
    top.toDF("user_id", "n_true", "within_eps").orderBy("user_id")
  }
  private val heavyHittersSql =
    """WITH fact AS (
  SELECT CASE WHEN user_id % 4 <> 0 THEN 0 ELSE user_id END AS user_id
  FROM events
), cnt AS (
  SELECT user_id, count(*) AS n_true FROM fact GROUP BY user_id
), top AS (
  SELECT user_id, n_true FROM cnt ORDER BY n_true DESC, user_id LIMIT 5
)
SELECT user_id, n_true, TRUE AS within_eps FROM top ORDER BY user_id"""

  // ------------------------------------------------------------ A/B test
  /** Experiment readout — the A/B analysis every event platform ships:
    * users are hash-split into two cohorts (user_id parity stands in
    * for the assignment hash), and per event_type the Welch t
    * statistic compares cohort means of `value`. One scan, one
    * combinable group-by on (event_type): the cohort split is a
    * conditional-aggregation column, NOT a self-join — at 100 TB this
    * is the same single-pass shape as [[tumbling]]. Determinism: first
    * and second moments accumulate as exact DECIMAL(25,15) (order-free;
    * value² is one IEEE multiply on identical doubles before the cast),
    * and every derived stat (mean/var/t) is a fixed IEEE expression on
    * the exact sums — hash-identical cross-engine, no tolerance. */
  private[graft] val abTestAggs: Seq[Column] = {
    def side(c: Int) = col("user_id") % 2 === c
    def n(c: Int) = sum(when(side(c), 1L).otherwise(0L)).as(s"n$c")
    def sv(c: Int) =
      sum(when(side(c), col("value").cast("decimal(25,15)"))).as(s"s$c")
    def sq(c: Int) =
      sum(when(side(c), (col("value") * col("value")).cast("decimal(25,15)")))
        .as(s"q$c")
    Seq(n(0), n(1), sv(0), sv(1), sq(0), sq(1))
  }
  /** Welch readout over the accumulated moments — shared by the batch
    * query and the streaming face's final projection (the moments are
    * the mergeable state; this is the stateless finish). */
  private[graft] def abTestFinish(moments: DataFrame): DataFrame = {
    def mean(c: Int) = (col(s"s$c").cast("double") / col(s"n$c")).as(s"m$c")
    def vr(c: Int) =
      ((col(s"q$c").cast("double")
        - col(s"s$c").cast("double") * col(s"s$c").cast("double") / col(s"n$c"))
        / (col(s"n$c") - 1)).as(s"v$c")
    moments
      .select(col("event_type"), col("n0"), col("n1"),
        mean(0), mean(1), vr(0), vr(1))
      .select(col("event_type"), col("n0"), col("n1"),
        round(col("m0"), 6).as("mean_a"), round(col("m1"), 6).as("mean_b"),
        round((col("m0") - col("m1"))
          / sqrt(col("v0") / col("n0") + col("v1") / col("n1")), 6)
          .as("t_stat"))
  }
  private val abTest: Q = (s, d) =>
    abTestFinish(Tables.events(s, d)
      .groupBy("event_type")
      .agg(abTestAggs.head, abTestAggs.tail: _*))
      .orderBy("event_type")
  private val abTestSql =
    """WITH agg AS (
  SELECT event_type,
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    sum(CASE WHEN user_id % 2 = 0
        THEN CAST(value AS DECIMAL(25,15)) END) AS s0,
    sum(CASE WHEN user_id % 2 = 1
        THEN CAST(value AS DECIMAL(25,15)) END) AS s1,
    sum(CASE WHEN user_id % 2 = 0
        THEN CAST(value * value AS DECIMAL(25,15)) END) AS q0,
    sum(CASE WHEN user_id % 2 = 1
        THEN CAST(value * value AS DECIMAL(25,15)) END) AS q1
  FROM events GROUP BY event_type
), stats AS (
  SELECT event_type, n0, n1,
    CAST(s0 AS DOUBLE) / n0 AS m0, CAST(s1 AS DOUBLE) / n1 AS m1,
    (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0)
      / (n0 - 1) AS v0,
    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
      / (n1 - 1) AS v1
  FROM agg
)
SELECT event_type, n0, n1,
  round(m0, 6) AS mean_a, round(m1, 6) AS mean_b,
  round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 6) AS t_stat
FROM stats ORDER BY event_type"""

  // ----------------------------------------------------------- gap fill
  /** Calendar gap-fill + cumulative series — the date-spine op every
    * reporting layer needs (a day with no events must appear as an
    * explicit zero, or downstream moving averages and charts silently
    * skip it): build the full [min_day, max_day] spine per event_type
    * from a 1-row broadcast bounds aggregate × the distinct types,
    * LEFT join the daily aggregates onto it, zero-fill, then running
    * totals over the filled series. The spine is |types|·|days| rows —
    * trivial at any corpus scale — and the only fact-sized work is the
    * one daily group-by; the running-total window partitions by type
    * (never global). Counts exact, sums decimal → the cumulative
    * series is hash-identical cross-engine. */
  /** The zero-filled per-(type, day) series with the global day origin
    * carried as `d0` — shared by [[gapFill]] and the EWMA filter. */
  private def filledDaily(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"),
        col("value"))
      .groupBy("event_type", "day_num")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sval"))
      // |types|·|days| rows, materialized once: bounds, the type list,
      // and the spine join all branch off it — without the checkpoint
      // each branch re-scans and re-aggregates the fact.
      .localCheckpoint()
    val bounds = broadcast(daily.agg(
      min("day_num").as("d0"), max("day_num").as("d1")))
    val spine = daily.select("event_type").distinct()
      .crossJoin(bounds)
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day_num"), col("d0"))
    spine.join(daily, Seq("event_type", "day_num"), "left")
      .select(col("event_type"), col("day_num"), col("d0"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sval"), lit(0).cast("decimal(18,6)")).as("sval"))
  }
  private val gapFill: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("day_num")
    filledDaily(s, d)
      .select(col("event_type"), col("day_num"), col("n_events"),
        round(col("sval").cast("double"), 4).as("val"),
        sum("n_events").over(w).as("cum_n"),
        round(sum("sval").over(w).cast("double"), 4).as("cum_val"))
      .orderBy("event_type", "day_num")
  }
  private val gapFillSql =
    """WITH daily AS (
  SELECT event_type, epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    count(*) AS n_events, sum(CAST(value AS DECIMAL(18,6))) AS sval
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(day_num) AS d0, max(day_num) AS d1 FROM daily
), spine AS (
  SELECT event_type, unnest(range(d0, d1 + 1)) AS day_num
  FROM (SELECT DISTINCT event_type FROM daily), bounds
), filled AS (
  SELECT s.event_type, s.day_num,
    coalesce(d.n_events, 0) AS n_events,
    coalesce(d.sval, CAST(0 AS DECIMAL(18,6))) AS sval
  FROM spine s LEFT JOIN daily d USING (event_type, day_num)
)
SELECT event_type, day_num, CAST(n_events AS BIGINT) AS n_events,
  round(CAST(sval AS DOUBLE), 4) AS val,
  CAST(sum(n_events) OVER w AS BIGINT) AS cum_n,
  round(CAST(sum(sval) OVER w AS DOUBLE), 4) AS cum_val
FROM filled
WINDOW w AS (PARTITION BY event_type ORDER BY day_num)
ORDER BY event_type, day_num"""

  // ----------------------------------------------------------- trend
  /** Per-type linear trend — ordinary least squares over the
    * zero-filled daily count series (the [[gapFill]] spine, so a quiet
    * day pulls the slope down instead of vanishing): slope and
    * intercept in events/day from the five classic moments, all exact
    * BIGINT sums over integer (day-offset, count) pairs; the two
    * closed-form double expressions are written identically in both
    * engines. The growth/decay readout next to [[forecastBaseline]]'s
    * seasonal profile and [[ewma]]'s smoother. Scale: one fact
    * aggregate to |types|·|days|, then a |types|-row result — the
    * moments fold map-side. */
  private val trend: Q = (s, d) => {
    val xy = filledDaily(s, d)
      .select(col("event_type"), (col("day_num") - col("d0")).as("x"),
        col("n_events").as("y"))
    val cov = col("m") * col("sxy") - col("sx") * col("sy")
    val varx = col("m") * col("sxx") - col("sx") * col("sx")
    val slope = cov.cast("double") / varx.cast("double")
    xy.groupBy("event_type")
      .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("m").as("n_days"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("m").cast("double"), 6).as("intercept"))
      .orderBy("event_type")
  }
  private val trendSql =
    """WITH daily AS (
  SELECT event_type, epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    count(*) AS n_events
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(day_num) AS d0, max(day_num) AS d1 FROM daily
), spine AS (
  SELECT event_type, unnest(range(d0, d1 + 1)) AS day_num, d0
  FROM (SELECT DISTINCT event_type FROM daily), bounds
), xy AS (
  SELECT s.event_type, s.day_num - s.d0 AS x, coalesce(d.n_events, 0) AS y
  FROM spine s LEFT JOIN daily d USING (event_type, day_num)
), mom AS (
  SELECT event_type, count(*) AS m, sum(x) AS sx, sum(y) AS sy,
    sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy GROUP BY event_type
)
SELECT event_type, CAST(m AS BIGINT) AS n_days,
  round(CAST(m * sxy - sx * sy AS DOUBLE)
      / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS slope,
  round((CAST(sy AS DOUBLE)
       - CAST(m * sxy - sx * sy AS DOUBLE)
       / CAST(m * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      / CAST(m AS DOUBLE), 6) AS intercept
FROM mom ORDER BY event_type"""

  // ----------------------------------------------------- cohort matrix
  /** Cohort retention matrix — the acquisition-day × day-offset grid
    * every growth dashboard renders (`events_retention` is the
    * day-over-day diagonal; this is the full triangle): each user's
    * cohort is their first active day, each (cohort, offset) cell
    * counts distinct users active offset days later, and the rate
    * divides by the cohort's size. Two aggregates over one distinct
    * (user, day) reduction — cohort assignment is a per-user min, the
    * grid is |days|² cells max. Exact integers; the rate is one IEEE
    * divide of two longs. */
  /** The triangle over an already-distinct (user_id, day_num) active
    * relation — shared by the batch query and the streaming day-active
    * store's serve (the THIRD metric the one store answers, next to
    * retention and streaks). */
  private[graft] def cohortMatrixOf(userDays0: DataFrame): DataFrame = {
    val userDays = userDays0.localCheckpoint()
    val cohorts = userDays.groupBy("user_id")
      .agg(min("day_num").as("cohort_day"))
    val sizes = cohorts.groupBy("cohort_day")
      .agg(countDistinct("user_id").as("cohort_size"))
    userDays.join(cohorts, "user_id")
      .groupBy(col("cohort_day"),
        (col("day_num") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }
  private val cohortMatrix: Q = (s, d) =>
    cohortMatrixOf(Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"))
      .distinct())

  /** The triangle's sketch sibling — per-cell HLL distinct estimates
    * under the [[dauMauApprox]] tolerance contract (|est − exact| ≤
    * max(5%, 1) booleans, oracle-pinned TRUE): at 100 TB the exact
    * per-cell countDistinct re-shuffles users every rebuild, while the
    * per-cell sketches are MERGEABLE — the day-active store can
    * accrete them incrementally and the triangle re-renders without
    * touching history (the dau/mau store/serve economics applied to
    * the cohort grid). Datasketches HLL is deterministic, so the
    * booleans are stable and hash-matchable; at test cardinalities
    * the sketches sit in sparse mode and the estimates are exact. */
  private val cohortMatrixApprox: Q = (s, d) => {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"))
      .distinct()
    val withC = ud.withColumn("cohort_day",
      min("day_num").over(Window.partitionBy("user_id")))
    val est = withC
      .groupBy(col("cohort_day"),
        (col("day_num") - col("cohort_day")).as("day_offset"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 14))
        .as("n_est"))
    def ok(e: Column, x: Column) =
      abs(e - x.cast("double")) <= greatest(x.cast("double") * 0.05, lit(1.0))
    cohortMatrixOf(ud).join(est, Seq("cohort_day", "day_offset"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        ok(col("n_est"), col("n_active")).as("n_ok"))
      .orderBy("cohort_day", "day_offset")
  }
  private val cohortMatrixApproxSql =
    """WITH ud AS (
  SELECT DISTINCT user_id,
    epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num
  FROM events
), wc AS (
  SELECT user_id, day_num,
    min(day_num) OVER (PARTITION BY user_id) AS cohort_day
  FROM ud
), cells AS (
  SELECT cohort_day, day_num - cohort_day AS day_offset,
    count(DISTINCT user_id) AS n_active
  FROM wc GROUP BY 1, 2
)
SELECT cohort_day, day_offset, CAST(n_active AS BIGINT) AS n_active,
  TRUE AS n_ok
FROM cells ORDER BY cohort_day, day_offset"""
  private val cohortMatrixSql =
    """WITH ud AS (
  SELECT DISTINCT user_id,
    epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num
  FROM events
), cohorts AS (
  SELECT user_id, min(day_num) AS cohort_day FROM ud GROUP BY user_id
), sizes AS (
  SELECT cohort_day, count(DISTINCT user_id) AS cohort_size
  FROM cohorts GROUP BY cohort_day
), cells AS (
  SELECT c.cohort_day, u.day_num - c.cohort_day AS day_offset,
    count(DISTINCT u.user_id) AS n_active
  FROM ud u JOIN cohorts c USING (user_id)
  GROUP BY c.cohort_day, u.day_num - c.cohort_day
)
SELECT l.cohort_day, l.day_offset,
  CAST(l.n_active AS BIGINT) AS n_active,
  CAST(s.cohort_size AS BIGINT) AS cohort_size,
  round(CAST(l.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM cells l JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, day_offset"""

  // ------------------------------------------------------ MAD outliers
  /** Median-absolute-deviation outliers — the ROBUST anomaly face next
    * to `events_anomaly`'s 3-sigma gate (which a single extreme value
    * drags; the median/MAD pair is what monitoring uses on heavy
    * tails): per type, med = p50(value), MAD = p50(|value − med|),
    * outliers are |value − med| > 4.4478·MAD (3σ-equivalent via the
    * 1.4826 consistency constant, folded into ONE literal so both
    * engines do a single multiply). Exact interpolated percentiles
    * (the hash-proven `percentile`/`quantile_cont` pair) broadcast
    * back — the winsorize discipline; the fact is scanned per stage
    * (med → MAD → gate), the standard robust-stats cascade, with each
    * stats relation |types| rows. */
  private val madOutliers: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = broadcast(ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med")))
    val dev = ev.join(med, "event_type")
      .withColumn("dv", abs(col("value") - col("med")))
    val mad = broadcast(dev.groupBy("event_type", "med")
      .agg(percentile(col("dv"), lit(0.5)).as("mad"),
        count(lit(1)).as("n_events")))
    dev.select(col("event_type"), col("dv"))
      .join(mad, "event_type")
      .groupBy(col("event_type"), col("n_events"), col("med"), col("mad"))
      .agg(sum(when(col("dv") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
        .cast("long").as("n_outliers"))
      .select(col("event_type"), col("n_events"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"),
        col("n_outliers"))
      .orderBy("event_type")
  }
  private val madOutliersSql =
    """WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS dv
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, med, quantile_cont(dv, 0.5) AS mad,
    count(*) AS n_events
  FROM dev GROUP BY event_type, med
)
SELECT d.event_type, m.n_events,
  round(m.med, 4) AS med, round(m.mad, 4) AS mad,
  CAST(sum(CASE WHEN d.dv > CAST(4.4478 AS DOUBLE) * m.mad
    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, m.n_events, m.med, m.mad
ORDER BY d.event_type"""

  // ------------------------------------------------------------- EWMA
  /** Exponentially-weighted moving average over the zero-filled daily
    * series — the IIR smoothing every monitoring stack runs, made
    * HASH-EXACT by choosing α = ½: every weight is a power of two, so
    * y_t = Σ x_k·2^(k−t−1) = (Σ x_k·2^k) / 2^(t+1) where the prefix
    * sum accumulates x_k·2^k — a DECIMAL-exact quantity, because
    * multiplying a 6-dp decimal by 2^k never grows its fraction digits
    * — and the final divide is one exact IEEE scaling. The recurrence
    * becomes one ordered window prefix-sum per type (the [[gapFill]]
    * spine supplies the zeros the decay must see; day indexes are
    * rebased to the spine origin so 2^k stays small). No transcendental
    * is evaluated: pow(2, int) is exact in both engines. */
  private val ewma: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("rel")
    filledDaily(s, d)
      .select(col("event_type"), col("day_num"),
        (col("day_num") - col("d0")).as("rel"),
        col("sval").cast("double").as("x"))
      .withColumn("scaled", (col("x") * pow(lit(2.0), col("rel")))
        .cast("decimal(30,6)"))
      .withColumn("ewma",
        sum("scaled").over(w).cast("double") / pow(lit(2.0), col("rel") + 1))
      .select(col("event_type"), col("day_num"),
        round(col("x"), 4).as("val"), round(col("ewma"), 6).as("ewma"))
      .orderBy("event_type", "day_num")
  }
  private val ewmaSql =
    """WITH daily AS (
  SELECT event_type, epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    sum(CAST(value AS DECIMAL(18,6))) AS sval
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(day_num) AS d0, max(day_num) AS d1 FROM daily
), spine AS (
  SELECT event_type, unnest(range(d0, d1 + 1)) AS day_num, d0
  FROM (SELECT DISTINCT event_type FROM daily), bounds
), filled AS (
  SELECT s.event_type, s.day_num, s.day_num - s.d0 AS rel,
    CAST(coalesce(d.sval, CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS x
  FROM spine s LEFT JOIN daily d USING (event_type, day_num)
), scaled AS (
  SELECT *, CAST(x * pow(2, rel) AS DECIMAL(30,6)) AS scaled FROM filled
)
SELECT event_type, day_num, round(x, 4) AS val,
  round(CAST(sum(scaled) OVER w AS DOUBLE) / pow(2, rel + 1), 6) AS ewma
FROM scaled
WINDOW w AS (PARTITION BY event_type ORDER BY rel)
ORDER BY event_type, day_num"""

  // ----------------------------------------------------- forecast base
  /** Seasonal-naive forecast + backtest — the baseline every anomaly/
    * capacity system must beat, and a one-query demonstration that the
    * engine covers the train/score/evaluate loop: the hour-of-day
    * profile (mean hourly event count per type over all training days,
    * missing hours counting as zero via a fixed day denominator) is
    * the model; the held-out last day is scored against it; the
    * readout is per-type MAE over the 24-hour horizon plus actual/
    * forecast day totals. One (type,day,hour) aggregate feeds both
    * sides; the profile⋈actual join key space is |types|·24 — model
    * size is constant in corpus scale, exactly the profile-serving
    * shape at 100 TB. Counts exact, error terms decimal-summed —
    * hash-identical cross-engine. */
  private val forecastBaseline: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"),
        hour(col("ts")).as("hr"))
      .groupBy("event_type", "day_num", "hr")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val last = broadcast(hourly.agg(max("day_num").as("maxd"),
      (countDistinct("day_num") - 1).as("n_train")))
    val profile = hourly.crossJoin(last)
      .filter(col("day_num") < col("maxd"))
      .groupBy("event_type", "hr")
      .agg((sum(col("cnt")).cast("double")
        / first(col("n_train"))).as("fc"))
    val actual = hourly.crossJoin(last)
      .filter(col("day_num") === col("maxd"))
      .select(col("event_type"), col("hr"), col("cnt"))
    profile.join(actual, Seq("event_type", "hr"), "full")
      .select(col("event_type"),
        coalesce(col("fc"), lit(0.0)).as("fc"),
        coalesce(col("cnt"), lit(0L)).cast("double").as("a"))
      .groupBy("event_type")
      .agg(sum(col("a").cast("decimal(25,15)")).cast("long")
          .as("actual_total"),
        round(sum(col("fc").cast("decimal(25,15)")).cast("double"), 6)
          .as("forecast_total"),
        round((sum(abs(col("a") - col("fc")).cast("decimal(25,15)"))
          .cast("double") / 24), 6).as("mae"))
      .orderBy("event_type")
  }
  private val forecastBaselineSql =
    """WITH hourly AS (
  SELECT event_type,
    epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    hour(ts) AS hr, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3
), last AS (
  SELECT max(day_num) AS maxd, count(DISTINCT day_num) - 1 AS n_train
  FROM hourly
), profile AS (
  SELECT event_type, hr,
    CAST(sum(cnt) AS DOUBLE) / any_value(n_train) AS fc
  FROM hourly, last WHERE day_num < maxd GROUP BY event_type, hr
), actual AS (
  SELECT event_type, hr, cnt FROM hourly, last WHERE day_num = maxd
), joined AS (
  SELECT coalesce(p.event_type, a.event_type) AS event_type,
    coalesce(p.fc, CAST(0 AS DOUBLE)) AS fc,
    CAST(coalesce(a.cnt, 0) AS DOUBLE) AS a
  FROM profile p FULL JOIN actual a
    ON p.event_type = a.event_type AND p.hr = a.hr
)
SELECT event_type,
  CAST(sum(CAST(a AS DECIMAL(25,15))) AS BIGINT) AS actual_total,
  round(CAST(sum(CAST(fc AS DECIMAL(25,15))) AS DOUBLE), 6)
    AS forecast_total,
  round(CAST(sum(CAST(abs(a - fc) AS DECIMAL(25,15))) AS DOUBLE) / 24, 6)
    AS mae
FROM joined GROUP BY event_type ORDER BY event_type"""

  // ----------------------------------------------------- autocorrelation
  /** Lagged autocorrelation of the hourly count series per event type —
    * the seasonality/burstiness probe behind lag-aware anomaly models
    * (a strong lag-24 says "daily cycle"; a strong lag-1 says "bursty"):
    * Pearson r between the series and its k-hour-shifted self, k ∈
    * {1, 2, 24}, over the hour pairs where BOTH ends exist (sparse
    * convention — no gap fill, documented). All five moments (Σx, Σy,
    * Σx², Σy², Σxy) are exact BIGINT aggregates over integer counts;
    * r touches doubles once in a single closed-form expression
    * (products of exact longs, one sqrt), so the value is IEEE-
    * identical cross-engine. Scale: the series relation is
    * |types|·|hours| (tiny vs the fact table, one aggregate to build);
    * the lag join is an equi-join on (type, hour+k) over that
    * aggregate, never over raw events — at 100 TB this is one
    * map-side-combinable pass plus joins on a relation ~10⁶× smaller
    * than the input. */
  private val autocorr: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(ts) div 3600000").as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("x"))
      .localCheckpoint()
    val lags = hourly
      .select(col("event_type"), col("h"), col("x"),
        explode(array(lit(1), lit(2), lit(24))).as("lag"))
    val shifted = hourly.select(col("event_type"),
      col("h").as("hb"), col("x").as("y"))
    val num = (col("m") * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val varx = col("m") * col("sxx") - col("sx") * col("sx")
    val vary = col("m") * col("syy") - col("sy") * col("sy")
    lags.join(shifted,
        lags("event_type") === shifted("event_type") &&
        col("h") + col("lag") === col("hb"))
      .select(lags("event_type"), col("lag"), col("x"), col("y"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("lag"), col("m").as("n_pairs"),
        when(varx > 0 && vary > 0,
          round(num / sqrt(varx.cast("double") * vary.cast("double")), 6))
          .as("r"))
      .orderBy("event_type", "lag")
  }
  private val autocorrSql =
    """WITH hourly AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS h, count(*) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, l.lag, a.x, b.x AS y
  FROM hourly a, (SELECT unnest([1, 2, 24]) AS lag) l
  JOIN hourly b
    ON b.event_type = a.event_type AND b.h = a.h + l.lag
), mom AS (
  SELECT event_type, lag, count(*) AS m,
    sum(x) AS sx, sum(y) AS sy,
    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM pairs GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS INT) AS lag, CAST(m AS BIGINT) AS n_pairs,
  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
    THEN round(CAST(m * sxy - sx * sy AS DOUBLE)
      / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
           * CAST(m * syy - sy * sy AS DOUBLE)), 6)
    ELSE NULL END AS r
FROM mom ORDER BY event_type, lag"""

  // ----------------------------------------------------- basket lift
  /** Association rules over the (user, event_type) basket — the
    * market-basket co-occurrence readout (support / confidence / lift)
    * that drives "users who do A also do B" recommendations and
    * feature-correlation audits. The fact table first reduces to the
    * DISTINCT (user, type) relation (one map-side-combinable pass —
    * the same distinct-reduction events_dau_mau uses), so the pair
    * self-join fans out at most |types| rows per user and the pair key
    * space is |types|² — both bounded by the type vocabulary, NOT the
    * corpus. Counts are exact longs; support/confidence/lift each
    * touch doubles once from integer inputs (lift cross-multiplied as
    * n_ab·n_users / n_a·n_b), so nothing flaps cross-engine. At
    * 100 TB: one distinct shuffle + one bounded self-join + a
    * |types|²-row aggregate — the classic two-pass frequent-pair scan. */
  private val basketLift: Q = (s, d) => {
    val ut = Tables.events(s, d)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint()
    val nUsers = ut.agg(countDistinct("user_id").as("n_users"))
    val perType = ut.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    val pairs = ut.join(b, Seq("user_id"))
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_users"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
        round((col("n_ab") * col("n_users")).cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
      .orderBy("type_a", "type_b")
  }
  private val basketLiftSql =
    """WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
pt AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY event_type),
pr AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, CAST(n_ab AS BIGINT) AS n_ab,
  round(CAST(n_ab AS DOUBLE) / n_users, 6) AS support,
  round(CAST(n_ab AS DOUBLE) / pa.n_t, 6) AS confidence,
  round(CAST(n_ab * n_users AS DOUBLE) / CAST(pa.n_t * pb.n_t AS DOUBLE), 6)
    AS lift
FROM pr
JOIN pt pa ON pa.event_type = pr.type_a
JOIN pt pb ON pb.event_type = pr.type_b, nu
ORDER BY type_a, type_b"""

  // ------------------------------------------------ seasonal anomaly
  /** Deseasonalized spike detection on the COUNT series — the
    * time-series twin of [[anomaly]] (which z-scores per-row values
    * against a global per-type mean): here each (type, day, hour)
    * cell's count is z-scored against that type's HOUR-OF-DAY profile
    * (mean/σ over all days at the same wall-clock hour, absent days
    * counting as zero via a fixed day denominator — the
    * [[forecastBaseline]] convention), so a 3 a.m. spike isn't masked
    * by the 3 p.m. rush. Moments are exact BIGINT sums over integer
    * counts; mean/σ/z are closed-form doubles from those integers.
    * Scale: the series aggregate is the only fact-table pass; the
    * profile relation is |types|·24 — broadcast — and the z-gate rides
    * the series relation. */
  /** Hour-of-day profile (mean/σ per (type, wall-clock hour), absent
    * days as zero via a fixed day denominator) from the (type, day,
    * hour) count cells — the trained model side of the seasonal gate,
    * shared with the stream face like [[anomalyStats]]. */
  private[graft] def seasonalProfile(hourly: DataFrame): DataFrame = {
    val nDays = hourly.agg(countDistinct("day_num").as("nd"))
    hourly.groupBy("event_type", "hr")
      .agg(sum("cnt").as("sc"), sum(col("cnt") * col("cnt")).as("sc2"))
      .crossJoin(broadcast(nDays))
      .select(col("event_type"), col("hr"),
        (col("sc").cast("double") / col("nd")).as("mean"),
        sqrt((col("sc2") - col("sc") * col("sc") / col("nd").cast("double"))
          / (col("nd") - 1).cast("double")).as("std"))
  }
  /** The z > 3σ spike gate over count cells — shared batch/stream
    * (parity by construction, like [[flagAnomalies]]). */
  private[graft] def flagSeasonalCells(cells: DataFrame,
                                       profile: DataFrame): DataFrame = {
    val z = (col("cnt") - col("mean")) / col("std")
    cells.join(broadcast(profile), Seq("event_type", "hr"))
      .filter(col("std") > 0 && z > 3.0)
      .select(col("event_type"), col("day_num"), col("hr"), col("cnt"),
        round(z, 4).as("z"))
  }
  private val seasonalAnomaly: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"),
        hour(col("ts")).as("hr"))
      .groupBy("event_type", "day_num", "hr")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    flagSeasonalCells(hourly, seasonalProfile(hourly))
      .orderBy("event_type", "day_num", "hr")
  }
  private val seasonalAnomalySql =
    """WITH hourly AS (
  SELECT event_type,
    epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    hour(ts) AS hr, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3
), nd AS (SELECT count(DISTINCT day_num) AS nd FROM hourly),
profile AS (
  SELECT event_type, hr,
    CAST(sum(cnt) AS DOUBLE) / nd AS mean,
    sqrt((sum(cnt * cnt) - sum(cnt) * sum(cnt) / CAST(nd AS DOUBLE))
         / CAST(nd - 1 AS DOUBLE)) AS std
  FROM hourly, nd GROUP BY event_type, hr, nd
)
SELECT h.event_type, h.day_num, CAST(h.hr AS INT) AS hr,
  CAST(h.cnt AS BIGINT) AS cnt,
  round((h.cnt - p.mean) / p.std, 4) AS z
FROM hourly h JOIN profile p
  ON h.event_type = p.event_type AND h.hr = p.hr
WHERE p.std > 0 AND (h.cnt - p.mean) / p.std > 3.0
ORDER BY h.event_type, h.day_num, h.hr"""

  // ----------------------------------------------- cross-correlation
  /** Cross-correlation matrix between event types — Pearson r between
    * each type pair's hourly count series at lag 0 ("do purchases move
    * with logins?"), the co-movement readout next to [[autocorr]]'s
    * self-lags and [[basketLift]]'s user-level co-occurrence. Series
    * align on the shared hour grid via inner join (hours where both
    * types are present — sparse convention, same as autocorr); the
    * five moments are exact BIGINT sums, r is one closed-form double.
    * Scale: the |types|·|hours| aggregate is the only fact pass; the
    * pair join is |types|-bounded fan-out over that tiny relation,
    * output is C(|types|, 2) rows. */
  private val typeCorr: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(ts) div 3600000").as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("x"))
      .localCheckpoint()
    val b = hourly.select(col("event_type").as("type_b"), col("h"),
      col("x").as("y"))
    val num = (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varx = col("m") * col("sxx") - col("sx") * col("sx")
    val vary = col("m") * col("syy") - col("sy") * col("sy")
    hourly.join(b, Seq("h"))
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("type_a"), col("type_b"), col("m").as("n_hours"),
        when(varx > 0 && vary > 0,
          round(num / sqrt(varx.cast("double") * vary.cast("double")), 6))
          .as("r"))
      .orderBy("type_a", "type_b")
  }
  private val typeCorrSql =
    """WITH hourly AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS h, count(*) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, a.x, b.x AS y
  FROM hourly a JOIN hourly b
    ON a.h = b.h AND a.event_type < b.event_type
), mom AS (
  SELECT type_a, type_b, count(*) AS m,
    sum(x) AS sx, sum(y) AS sy,
    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM pairs GROUP BY type_a, type_b
)
SELECT type_a, type_b, CAST(m AS BIGINT) AS n_hours,
  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
    THEN round(CAST(m * sxy - sx * sy AS DOUBLE)
      / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
           * CAST(m * syy - sy * sy AS DOUBLE)), 6)
    ELSE NULL END AS r
FROM mom ORDER BY type_a, type_b"""

  // -------------------------------------------------- user lifecycle
  /** Growth accounting — every day's active users classified as
    * `new` (first day ever), `retained` (active yesterday),
    * `resurrected` (seen before, but not yesterday), plus the day's
    * `churned` count (active yesterday, absent today) — the
    * new/retained/resurrected/churned ledger every growth team reads.
    * One distinct (user, day) reduction; per-user lag/min windows
    * classify each active day; churn falls out of the identity
    * churned(d) = active(d−1) − retained(d) — no second pass, no
    * anti-join. All counts exact longs. Scale: the windows partition
    * by user over the distinct relation (corpus-independent width),
    * and the final aggregate is |days|-sized. */
  /** Per-(user, active-day) lifecycle class from the distinct
    * (user_id, day_num) relation — shared with the stream face
    * ([[graft.streaming.StreamingEvents.lifecycleStream]]). */
  private[graft] def lifecycleClassed(ud: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day_num")
    ud.withColumn("prev", lag("day_num", 1).over(w))
      .select(col("user_id"), col("day_num"),
        when(col("prev").isNull, "new")
          .when(col("prev") === col("day_num") - 1, "retained")
          .otherwise("resurrected").as("cls"))
  }
  private val userLifecycle: Q = (s, d) => {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"))
      .distinct()
    val daily = lifecycleClassed(ud).groupBy("day_num").agg(
      sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
        .as("n_resurrected"))
    val active = ud.groupBy("day_num").agg(count(lit(1)).as("n_active"))
    val prevActive = active.select((col("day_num") + 1).as("day_num"),
      col("n_active").as("prev_active"))
    daily.join(active, "day_num").join(prevActive, Seq("day_num"), "left")
      .select(col("day_num"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
      .orderBy("day_num")
  }
  private val userLifecycleSql =
    """WITH ud AS (
  SELECT DISTINCT user_id,
    epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num
  FROM events
), classed AS (
  SELECT day_num,
    CASE WHEN prev IS NULL THEN 'new'
         WHEN prev = day_num - 1 THEN 'retained'
         ELSE 'resurrected' END AS cls
  FROM (SELECT user_id, day_num,
          lag(day_num) OVER (PARTITION BY user_id ORDER BY day_num) AS prev
        FROM ud)
), daily AS (
  SELECT day_num,
    sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS n_new,
    sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS n_retained,
    sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS n_resurrected
  FROM classed GROUP BY day_num
), active AS (
  SELECT day_num, count(*) AS n_active FROM ud GROUP BY day_num
)
SELECT d.day_num, CAST(a.n_active AS BIGINT) AS n_active,
  CAST(d.n_new AS BIGINT) AS n_new,
  CAST(d.n_retained AS BIGINT) AS n_retained,
  CAST(d.n_resurrected AS BIGINT) AS n_resurrected,
  CAST(coalesce(p.n_active, 0) - d.n_retained AS BIGINT) AS n_churned
FROM daily d
JOIN active a ON a.day_num = d.day_num
LEFT JOIN active p ON p.day_num = d.day_num - 1
ORDER BY d.day_num"""

  // ------------------------------------------------------ funnel time
  /** Time-to-convert — the latency half of the funnel story
    * ([[funnel]] counts who converts; this measures HOW LONG):
    * per user, first click → first purchase at-or-after it, with the
    * latency distribution reported as exact interpolated percentiles
    * (the [[quantiles]] percentile↔quantile_cont pair) plus the max.
    * Two per-user min-aggregates and one equi-join — latencies are
    * exact epoch-ms longs, the percentile interpolation is the only
    * double. Scale: both aggregates fold map-side; the join carries
    * one row per (user, purchase), and the final distribution is one
    * combinable aggregate — no windows, no ordering. */
  private val funnelTime: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val lat = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("tp"))
      .join(firstClick, "user_id")
      .filter(col("tp") >= col("t0"))
      .groupBy("user_id").agg(min("tp").as("t1"), min("t0").as("t0"))
      .select((unix_millis(col("t1")) - unix_millis(col("t0")))
        .as("lat_ms"))
    lat.agg(count(lit(1)).as("n_converted"),
        percentile(col("lat_ms"), array(lit(0.5), lit(0.9))).as("qs"),
        max("lat_ms").as("max_ms"))
      .select(col("n_converted"),
        round(col("qs").getItem(0), 4).as("p50_ms"),
        round(col("qs").getItem(1), 4).as("p90_ms"), col("max_ms"))
  }
  private val funnelTimeSql =
    """WITH fc AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'click' GROUP BY user_id
), conv AS (
  SELECT e.user_id,
    epoch_ms(min(e.ts)) - epoch_ms(min(f.t0)) AS lat_ms
  FROM events e JOIN fc f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= f.t0
  GROUP BY e.user_id
)
SELECT count(*) AS n_converted,
  round(quantile_cont(lat_ms, 0.5), 4) AS p50_ms,
  round(quantile_cont(lat_ms, 0.9), 4) AS p90_ms,
  CAST(max(lat_ms) AS BIGINT) AS max_ms
FROM conv"""

  // ----------------------------------------------------------- pareto
  /** Traffic-concentration readout — the Lorenz/Gini answer to "how
    * top-heavy is the workload": Gini coefficient of per-user event
    * counts (0 = uniform, →1 = one user is the corpus) plus the share
    * of events from the top user decile, in integer permille. Needs a
    * GLOBAL rank of users by count — produced with the distributed
    * two-phase rank (range-partition on (count, user) → per-partition
    * row_number → broadcast one-row-per-partition offsets; the same machinery as
    * text_surprisal's vocabulary rank and the AUC prefix sum — never a
    * single-task sort). Everything is integer (Σx, Σi·x exact longs)
    * until the two closed-form divisions. The skew diagnostic that
    * justifies [[graft.operators.SkewJoin]]'s salting at 100 TB. */
  /** The distributed two-phase global rank of users by event count —
    * exposed pre-checkpoint so Round9Spec can pin the plan shape (the
    * checkpoint in [[pareto]] is an eager barrier that hides the
    * WindowExec from the final query plan). */
  private[graft] def paretoRanked(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
    // cached for the same two reasons as GlobalRank.rankCore: the range
    // sampler otherwise executes the input twice, and the two branches
    // below (local ranks + per-pid counts) must see ONE materialization
    // of the partitioning (RangePartitioner's sample seed is rdd-id-
    // derived, so re-materialization can shift boundaries)
    val parted = graft.pipeline.CachePool.cached(s, d, "paretoRanged")(
      u.repartitionByRange(
          s.sessionState.conf.numShufflePartitions, col("x"), col("user_id"))
        .withColumn("pid", spark_partition_id()))
    val wP = Window.partitionBy("pid").orderBy(col("x"), col("user_id"))
    val local = parted.withColumn("rn", row_number().over(wP).cast("long"))
    val counts = parted.groupBy("pid").agg(count(lit(1)).as("pc"))
    val wOff = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts.select(col("pid"),
      coalesce(sum("pc").over(wOff), lit(0L)).as("off"))
    local.join(broadcast(offs), "pid")
      .select(col("x"), (col("rn") + col("off")).as("i"))
  }
  private val pareto: Q = (s, d) => {
    val ranked = paretoRanked(s, d).localCheckpoint()
    val tot = broadcast(ranked.agg(count(lit(1)).as("n"), sum("x").as("s"),
      sum(col("i") * col("x")).as("t")))
    val top = ranked.crossJoin(tot)
      .filter(col("i") > col("n") - expr("n div 10"))
      .agg(sum("x").as("topx"))
    tot.crossJoin(broadcast(top))
      .select(col("n").as("n_users"), col("s").as("n_events"),
        round(lit(2.0) * col("t") / (col("n") * col("s"))
          - (col("n") + lit(1.0)) / col("n"), 6).as("gini"),
        expr("(1000 * topx) div s").as("top_decile_permille"))
  }
  private val paretoSql =
    """WITH u AS (
  SELECT user_id, count(*) AS x FROM events GROUP BY user_id
), r AS (
  SELECT user_id, x, row_number() OVER (ORDER BY x, user_id) AS i FROM u
), t AS (
  SELECT count(*) AS n, sum(x) AS s, sum(i * x) AS t FROM r
), td AS (
  SELECT sum(x) AS topx FROM r, t WHERE i > n - n // 10
)
SELECT CAST(n AS BIGINT) AS n_users, CAST(s AS BIGINT) AS n_events,
  round(2.0 * t / (n * s) - (n + 1.0) / n, 6) AS gini,
  CAST((1000 * topx) // s AS BIGINT) AS top_decile_permille
FROM t, td"""

  // --------------------------------------------------- clamped balance
  /** Clamped running balance — inventory / credit-limit / token-bucket
    * semantics: per user, purchases credit `value` and other events
    * debit value/8, with the balance CLAMPED into [0, 500] after every
    * step. The clamp makes the fold NON-ASSOCIATIVE (the running total
    * is no longer a prefix sum — each step depends on the clamped
    * previous state), so no window frame or combinable aggregate can
    * express it: this is the documented boundary where the engine
    * drops to typed per-group iteration (rung (d) of the
    * custom-operator ladder — the same rung the streaming as-of join
    * uses for its state). Cost shape at 100 TB: ONE shuffle on
    * user_id with a SECONDARY SORT (`repartition` +
    * `sortWithinPartitions(user, ts, id)`, Spark's
    * repartition-and-sort shape) and a streaming O(1)-state fold over
    * each group boundary — no `toArray` of a group anywhere, so one
    * pathological user with a 100 TB history cannot land a task's
    * heap (the buffer-free property the streaming face already had);
    * arithmetic is java.math.BigDecimal at scale 9, so the fold is
    * exact and cross-engine-identical to the oracle's recursive CTE
    * replay. */
  case class BalRow(user_id: Long, final_balance: java.math.BigDecimal,
                    n_floor: Long, n_cap: Long, n_events: Long)
  private val clampedBalance: Q = (s, d) => {
    import s.implicits._
    // all arithmetic at scale 9: the debit factor 1/8 = 0.125 is exact,
    // so the fold never rounds — no rounding-mode drift vs the oracle
    val zero = java.math.BigDecimal.ZERO.setScale(9)
    val cap = new java.math.BigDecimal("500").setScale(9)
    val eighth = new java.math.BigDecimal("0.125")
    Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("v"))
      .as[(Long, Long, Long, String, java.math.BigDecimal)]
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_ms", "event_id")
      .mapPartitions { rows =>
        // streaming group-boundary fold over the secondary-sorted
        // partition: one accumulator per live group, never a
        // materialized group
        val buf = rows.buffered
        new Iterator[BalRow] {
          def hasNext: Boolean = buf.hasNext
          def next(): BalRow = {
            val uid = buf.head._1
            var bal = zero
            var nFloor = 0L; var nCap = 0L; var n = 0L
            while (buf.hasNext && buf.head._1 == uid) {
              val (_, _, _, etype, v) = buf.next()
              val delta =
                if (etype == "purchase") v.setScale(9)
                else v.multiply(eighth).negate()
              bal = bal.add(delta).setScale(9)
              if (bal.compareTo(zero) < 0) { bal = zero; nFloor += 1 }
              else if (bal.compareTo(cap) > 0) { bal = cap; nCap += 1 }
              n += 1
            }
            BalRow(uid, bal, nFloor, nCap, n)
          }
        }
      }
      .toDF()
      .select(col("user_id"),
        col("final_balance").cast("decimal(21,9)").cast("double")
          .as("final_balance"),
        col("n_floor"), col("n_cap"), col("n_events"))
      .orderBy("user_id")
  }
  private val clampedBalanceSql =
    """WITH RECURSIVE s AS (
  SELECT user_id,
    CAST(row_number() OVER (PARTITION BY user_id
      ORDER BY epoch_ms(ts), event_id) AS BIGINT) AS rn,
    CAST(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6))
         ELSE -(CAST(value AS DECIMAL(18,6)) * CAST(0.125 AS DECIMAL(4,3)))
         END AS DECIMAL(21,9)) AS delta
  FROM events
), rec(user_id, rn, bal, n_floor, n_cap) AS (
  SELECT user_id, rn,
    CAST(greatest(CAST(0 AS DECIMAL(21,9)),
      least(CAST(500 AS DECIMAL(21,9)), delta)) AS DECIMAL(21,9)),
    CASE WHEN delta < 0 THEN 1 ELSE 0 END,
    CASE WHEN delta > 500 THEN 1 ELSE 0 END
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn,
    CAST(greatest(CAST(0 AS DECIMAL(21,9)),
      least(CAST(500 AS DECIMAL(21,9)), rec.bal + s.delta))
      AS DECIMAL(21,9)),
    rec.n_floor + CASE WHEN rec.bal + s.delta < 0 THEN 1 ELSE 0 END,
    rec.n_cap + CASE WHEN rec.bal + s.delta > 500 THEN 1 ELSE 0 END
  FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
), last AS (
  SELECT user_id, max(rn) AS n_events FROM s GROUP BY user_id
)
SELECT r.user_id, CAST(CAST(r.bal AS DECIMAL(21,9)) AS DOUBLE) AS final_balance,
  CAST(r.n_floor AS BIGINT) AS n_floor, CAST(r.n_cap AS BIGINT) AS n_cap,
  l.n_events
FROM rec r JOIN last l ON l.user_id = r.user_id AND r.rn = l.n_events
ORDER BY r.user_id"""

  // ---------------------------------------------- conversion A/B test
  /** Two-proportion experiment readout — the conversion-rate half of
    * the A/B story ([[abTest]] compares MEANS; most product launches
    * compare RATES): per cohort (user-parity split, as everywhere),
    * the conversion rate is "users with a high-value purchase
    * (value > 95) / users" — a non-degenerate gate on this corpus,
    * where plain any-purchase converts everyone — and the
    * pooled two-proportion z statistic prices the difference. Shape at
    * 100 TB: the fact reduces once to per-user flags (one combinable
    * group-by), then ONE 4-sum global aggregate — no self-join, no
    * window. Exact integer counts; the z expression is a fixed IEEE
    * closed form over them. */
  private val abConversion: Q = (s, d) => {
    val perUser = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 95, 1L).otherwise(0L))
        .as("converted"))
    val m = perUser.agg(
      sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("user_id") % 2 === 0, col("converted")).otherwise(0L))
        .as("c0"),
      sum(when(col("user_id") % 2 === 1, col("converted")).otherwise(0L))
        .as("c1"))
    def D(n: String) = col(n).cast("double")
    m.select(col("n0"), col("n1"), col("c0"), col("c1"),
        (D("c0") / D("n0")).as("p0"), (D("c1") / D("n1")).as("p1"),
        ((D("c0") + D("c1")) / (D("n0") + D("n1"))).as("pp"))
      .select(col("n0"), col("n1"), col("c0"), col("c1"),
        round(col("p0"), 6).as("rate_a"), round(col("p1"), 6).as("rate_b"),
        when(col("pp") > 0 && col("pp") < 1 && col("n0") > 0 && col("n1") > 0,
          round((col("p0") - col("p1"))
            / sqrt(col("pp") * (lit(1.0) - col("pp"))
              * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), 6))
          .as("z_stat"))
  }
  private val abConversionSql =
    """WITH pu AS (
  SELECT user_id,
    max(CASE WHEN event_type = 'purchase' AND value > 95
      THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), m AS (
  SELECT
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END)
      AS BIGINT) AS c0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END)
      AS BIGINT) AS c1
  FROM pu
), f AS (
  SELECT n0, n1, c0, c1,
    CAST(c0 AS DOUBLE) / n0 AS p0, CAST(c1 AS DOUBLE) / n1 AS p1,
    (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))
      / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) AS pp
  FROM m
)
SELECT n0, n1, c0, c1,
  round(p0, 6) AS rate_a, round(p1, 6) AS rate_b,
  CASE WHEN pp > 0 AND pp < 1 AND n0 > 0 AND n1 > 0
    THEN round((p0 - p1) / sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)), 6)
    ELSE NULL END AS z_stat
FROM f"""

  // --------------------------------------------- peak concurrency
  /** Peak concurrency — the sweep-line answer to "how many sessions
    * were open at once at the worst moment", the capacity-planning
    * number every serving tier sizes against: session intervals
    * ([[sessionAgg]], the shared 6-hour-gap windows) become ±1
    * boundary events, and the global running sum's maximum is the
    * peak. The global prefix sum uses the distributed two-phase rank
    * machinery (range-partition the boundaries → per-partition
    * cumulative window → broadcast one-row-per-partition totals as
    * offsets) — never a single-task global sort; ties at one instant
    * order (ms, delta, user) with ends (−1) before starts, so
    * touching sessions don't count as overlapping, identically in
    * both engines. Reported instant = the earliest moment the peak is
    * attained (order-invariant: within a tie group only the group-end
    * cumulative can equal the global max). */
  private val peakConcurrency: Q = (s, d) => {
    val sess = sessionAgg(Tables.events(s, d))
    val bounds = sess.select(col("session_start_ms").as("ms"),
        lit(1L).as("delta"), col("user_id"))
      .unionByName(sess.select(col("session_end_ms").as("ms"),
        lit(-1L).as("delta"), col("user_id")))
    // cached for the same two reasons as GlobalRank.rankCore: the range
    // sampler otherwise executes the input twice, and the two branches
    // below (local ranks + per-pid counts) must see ONE materialization
    // of the partitioning (RangePartitioner's sample seed is rdd-id-
    // derived, so re-materialization can shift boundaries)
    val parted = graft.pipeline.CachePool.cached(s, d, "peakRanged")(
      bounds
        .repartitionByRange(
          s.sessionState.conf.numShufflePartitions, col("ms"), col("delta"), col("user_id"))
        .withColumn("pid", spark_partition_id()))
    val wP = Window.partitionBy("pid")
      .orderBy(col("ms"), col("delta"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("lsum", sum("delta").over(wP))
    val wOff = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parted.groupBy("pid").agg(sum("delta").as("pt"))
      .select(col("pid"), coalesce(sum("pt").over(wOff), lit(0L)).as("off"))
    val cum = local.join(broadcast(offs), "pid")
      .select(col("ms"), (col("lsum") + col("off")).as("cum"))
      .localCheckpoint()
    val peak = broadcast(cum.agg(max("cum").as("peak")))
    cum.crossJoin(peak).filter(col("cum") === col("peak"))
      .groupBy("peak").agg(min("ms").as("at_ms"))
      .select(col("peak").as("peak_concurrency"), col("at_ms"))
  }
  private val peakConcurrencySql =
    s"""WITH sess AS (
  SELECT session_start_ms, session_end_ms, user_id FROM ($sessionSql)
), b AS (
  SELECT session_start_ms AS ms, 1 AS delta, user_id FROM sess
  UNION ALL
  SELECT session_end_ms, -1, user_id FROM sess
), c AS (
  SELECT ms, sum(delta) OVER (ORDER BY ms, delta, user_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM b
), p AS (SELECT max(cum) AS peak FROM c)
SELECT CAST(p.peak AS BIGINT) AS peak_concurrency,
  min(c.ms) AS at_ms
FROM c, p WHERE c.cum = p.peak GROUP BY p.peak"""

  // ------------------------------------------------ diff-in-diff
  /** Difference-in-differences — the quasi-experimental estimator for
    * when assignment ISN'T randomized (a rollout hit one cohort at a
    * known time): effect = (treat_post − treat_pre) − (control_post −
    * control_pre), which nets out both the stable cohort difference
    * and the shared time trend. Completes the causal family: Welch
    * means ([[abTest]]), variance reduction ([[cuped]]), proportions
    * ([[abConversion]]), heterogeneity ([[uplift]]), and now the
    * observational fallback. Same skeleton as [[cuped]]: the period
    * split is the data-range midpoint via a 1-row broadcast bounds
    * aggregate, cohort is the parity split, and the whole readout is
    * ONE 8-sum conditional aggregation over the fact — exact decimal
    * sums, closed-form IEEE finish. */
  private val diffInDiff: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val mid = broadcast(ev.agg(
      expr("(min(unix_millis(ts)) + max(unix_millis(ts))) div 2")
        .as("mid_ms")))
    def cell(coh: Int, post: Boolean) = {
      val inCell = (col("user_id") % 2 === coh) &&
        (if (post) unix_millis(col("ts")) >= col("mid_ms")
         else unix_millis(col("ts")) < col("mid_ms"))
      (sum(when(inCell, col("value").cast("decimal(18,6)"))),
        sum(when(inCell, 1L).otherwise(0L)))
    }
    val cells = Seq((0, false), (0, true), (1, false), (1, true))
    val aggs = cells.flatMap { case (c, p) =>
      val suffix = s"${c}_${if (p) "post" else "pre"}"
      val (sv, n) = cell(c, p)
      Seq(sv.as(s"s$suffix"), n.as(s"n$suffix"))
    }
    def m(sfx: String) =
      (col(s"s$sfx").cast("double") / col(s"n$sfx")).as(s"m$sfx")
    ev.crossJoin(mid)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n0_pre"), col("n0_post"), col("n1_pre"), col("n1_post"),
        m("0_pre"), m("0_post"), m("1_pre"), m("1_post"))
      .select(col("n0_pre"), col("n0_post"), col("n1_pre"), col("n1_post"),
        round(col("m0_post") - col("m0_pre"), 6).as("delta_treat"),
        round(col("m1_post") - col("m1_pre"), 6).as("delta_control"),
        round((col("m0_post") - col("m0_pre"))
          - (col("m1_post") - col("m1_pre")), 6).as("did_effect"))
  }
  private val diffInDiffSql =
    """WITH mid AS (
  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid_ms FROM events
), m AS (
  SELECT
    sum(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) < mid_ms
      THEN CAST(value AS DECIMAL(18,6)) END) AS s0_pre,
    CAST(sum(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) < mid_ms
      THEN 1 ELSE 0 END) AS BIGINT) AS n0_pre,
    sum(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) >= mid_ms
      THEN CAST(value AS DECIMAL(18,6)) END) AS s0_post,
    CAST(sum(CASE WHEN user_id % 2 = 0 AND epoch_ms(ts) >= mid_ms
      THEN 1 ELSE 0 END) AS BIGINT) AS n0_post,
    sum(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) < mid_ms
      THEN CAST(value AS DECIMAL(18,6)) END) AS s1_pre,
    CAST(sum(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) < mid_ms
      THEN 1 ELSE 0 END) AS BIGINT) AS n1_pre,
    sum(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) >= mid_ms
      THEN CAST(value AS DECIMAL(18,6)) END) AS s1_post,
    CAST(sum(CASE WHEN user_id % 2 = 1 AND epoch_ms(ts) >= mid_ms
      THEN 1 ELSE 0 END) AS BIGINT) AS n1_post
  FROM events, mid
), f AS (
  SELECT n0_pre, n0_post, n1_pre, n1_post,
    CAST(s0_pre AS DOUBLE) / n0_pre AS m0_pre,
    CAST(s0_post AS DOUBLE) / n0_post AS m0_post,
    CAST(s1_pre AS DOUBLE) / n1_pre AS m1_pre,
    CAST(s1_post AS DOUBLE) / n1_post AS m1_post
  FROM m
)
SELECT n0_pre, n0_post, n1_pre, n1_post,
  round(m0_post - m0_pre, 6) AS delta_treat,
  round(m1_post - m1_pre, 6) AS delta_control,
  round((m0_post - m0_pre) - (m1_post - m1_pre), 6) AS did_effect
FROM f"""

  // --------------------------------------------------------- streaks
  /** Longest consecutive-day streak per user, as a streak-length
    * histogram — the engagement metric behind every "7-day streak"
    * product mechanic, and a different gaps-and-islands instance than
    * [[stateHistory]] (days, not event types, and the grain is the
    * DISTINCT (user, day) relation — the [[dauMau]] reduction, so the
    * islands window rides users×days, never the fact). A streak is a
    * maximal run of consecutive calendar days with ≥1 event; island
    * key = day_num − dense row index. Exact integers end-to-end. */
  /** The streak histogram over an already-distinct (user_id, day_num)
    * relation — shared with the day-active store's serve. */
  private[graft] def streaksOf(ud: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day_num")
    val best = ud
      .withColumn("isl", col("day_num") - row_number().over(w))
      .groupBy("user_id", "isl").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max("len").as("best_streak"))
    best.groupBy("best_streak").agg(count(lit(1)).as("n_users"))
      .orderBy("best_streak")
  }
  private val streaks: Q = (s, d) =>
    streaksOf(Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"))
      .distinct())
  private val streaksSql =
    """WITH ud AS (
  SELECT DISTINCT user_id,
    epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num
  FROM events
), isl AS (
  SELECT user_id,
    day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num)
      AS isl
  FROM ud
), runs AS (
  SELECT user_id, isl, count(*) AS len FROM isl GROUP BY user_id, isl
), best AS (
  SELECT user_id, max(len) AS best_streak FROM runs GROUP BY user_id
)
SELECT CAST(best_streak AS BIGINT) AS best_streak,
  count(*) AS n_users
FROM best GROUP BY best_streak ORDER BY best_streak"""

  // ------------------------------------------------------ cohort LTV
  /** Cohort lifetime-value curve — the revenue half of the retention
    * triangle ([[cohortMatrix]] counts WHO came back; this sums what
    * they SPENT): users grouped by acquisition day (their min event
    * day), purchase revenue bucketed by day offset since acquisition,
    * and accumulated across offsets — each cohort row traces its LTV
    * curve, the payback readout acquisition spend is judged against.
    * Shape: one fact scan joined to the per-user acquisition day
    * (user-keyed broadcast-able relation), one (cohort, offset)
    * aggregate, and a running-total window over the small
    * cohort×offset triangle — never the fact. Decimal-exact sums
    * throughout. */
  /** The cohort-LTV finish over per-(user, day) activity partials
    * (`user_id, day_num, rev: decimal, n_purchases`) — shared by the
    * batch query and the streaming face's query-time serve (there the
    * partials are the store's watermark-closed day rows). Acquisition
    * day is min(day_num) over ALL partials (activity, not just
    * purchases); zero-purchase days feed acquisition but produce no
    * cell, exactly the batch purchase-filter semantics. */
  private[graft] def ltvOf(partials: DataFrame): DataFrame = {
    // acquisition day as a per-user window (one user_id shuffle, no
    // self-join — a self-join of a served store relation would also
    // trip analyzer reference dedup on some sinks)
    val withAcq = partials.withColumn("acq_day",
      min("day_num").over(Window.partitionBy("user_id")))
    val cells = withAcq.filter(col("n_purchases") > 0)
      .groupBy(col("acq_day"), (col("day_num") - col("acq_day")).as("offset"))
      .agg(sum(col("rev")).as("rev"),
        sum(col("n_purchases")).as("n_purchases"))
    val w = Window.partitionBy("acq_day").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .select(col("acq_day"), col("offset"), col("n_purchases"),
        round(col("rev").cast("double"), 4).as("rev"),
        round(sum(col("rev")).over(w).cast("double"), 4).as("cum_ltv"))
      .orderBy("acq_day", "offset")
  }
  /** The per-(user, day) partial reduction — shared by the batch face
    * and StreamingSpec's batch-expectation recompute. */
  private[graft] def ltvPartialsOf(ev: DataFrame): DataFrame =
    ev.select(col("user_id"),
        expr("unix_millis(date_trunc('day', ts)) div 86400000")
          .as("day_num"),
        col("event_type"), col("value"))
      .groupBy("user_id", "day_num")
      .agg(sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,6)"))
          .otherwise(lit(0).cast("decimal(18,6)"))).as("rev"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
  private val ltvCohort: Q = (s, d) =>
    ltvOf(ltvPartialsOf(Tables.events(s, d)))
  private val ltvCohortSql =
    """WITH ev AS (
  SELECT user_id, epoch_ms(date_trunc('day', ts)) // 86400000 AS day_num,
    event_type, value
  FROM events
), acq AS (
  SELECT user_id, min(day_num) AS acq_day FROM ev GROUP BY user_id
), cells AS (
  SELECT acq_day, day_num - acq_day AS "offset",
    sum(CAST(value AS DECIMAL(18,6))) AS rev,
    count(*) AS n_purchases
  FROM ev JOIN acq USING (user_id)
  WHERE event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT acq_day, "offset", n_purchases,
  round(CAST(rev AS DOUBLE), 4) AS rev,
  round(CAST(sum(rev) OVER (PARTITION BY acq_day ORDER BY "offset"
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
    AS cum_ltv
FROM cells ORDER BY acq_day, "offset" """

  // -------------------------------------------------- velocity flags
  /** Velocity rule — the fraud/abuse primitive "more than K events
    * within any trailing window": per user, each event counts its
    * predecessors within the trailing hour via an event-time RANGE
    * frame (value-bounded, so calendar gaps shrink the window — the
    * [[trailing7d]] frame semantics at second granularity), and users
    * whose peak trailing-hour count reaches the threshold are flagged
    * with their peak and when it happened. One user_id shuffle, one
    * ordered window pass; the frame is O(events in the hour) per row
    * — no self-join, no banded explosion. Exact integers
    * throughout. */
  private val VelocityK = 3
  private val velocityFlags: Q = (s, d) => {
    val wRange = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    val counted = Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .withColumn("n_hour", count(lit(1)).over(wRange))
    counted.groupBy("user_id")
      .agg(max(struct(col("n_hour"), col("ts_ms"))).as("peak"))
      .filter(col("peak.n_hour") >= VelocityK)
      .select(col("user_id"), col("peak.n_hour").as("peak_hour_events"),
        col("peak.ts_ms").as("peak_at_ms"))
      .orderBy("user_id")
  }
  private val velocityFlagsSql =
    s"""WITH counted AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
    count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS n_hour
  FROM events
), peaks AS (
  SELECT user_id, max(struct_pack(n_hour := n_hour, ts_ms := ts_ms)) AS peak
  FROM counted GROUP BY user_id
)
SELECT user_id,
  CAST(peak.n_hour AS BIGINT) AS peak_hour_events,
  peak.ts_ms AS peak_at_ms
FROM peaks
WHERE peak.n_hour >= $VelocityK
ORDER BY user_id"""

  // -------------------------------------------------- segment uplift
  /** Segmented experiment readout (heterogeneous treatment effects) —
    * the question after any flat A/B result: WHO moved? Users are cut
    * into activity terciles (exact distributed NTILE(3) by event count
    * with the deterministic (count, user) order — the [[rfm]]
    * segmentation idiom via [[graft.operators.GlobalRank.withNtile]],
    * a two-phase rank over the |users|-sized relation, never a
    * single-task sort and never the fact), and the two-proportion
    * conversion readout runs per tercile. A launch that helps light users while hurting heavy
    * ones nets to zero in [[abConversion]] — this face is where that
    * shows. Exact counts per cell; the per-segment z is the same
    * fixed closed form. */
  private val uplift: Q = (s, d) => {
    val perUser = Tables.events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase" &&
          col("value") > 95, 1L).otherwise(0L)).as("converted"))
    val seg = graft.operators.GlobalRank.withNtile(
      perUser, 3, Seq(col("n_ev"), col("user_id")), "segment")
    val m = seg.groupBy("segment").agg(
      sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("user_id") % 2 === 0, col("converted")).otherwise(0L))
        .as("c0"),
      sum(when(col("user_id") % 2 === 1, col("converted")).otherwise(0L))
        .as("c1"))
    def D(n: String) = col(n).cast("double")
    m.select(col("segment"), col("n0"), col("n1"), col("c0"), col("c1"),
        (D("c0") / D("n0")).as("p0"), (D("c1") / D("n1")).as("p1"),
        ((D("c0") + D("c1")) / (D("n0") + D("n1"))).as("pp"))
      .select(col("segment"), col("n0"), col("n1"), col("c0"), col("c1"),
        round(col("p0") - col("p1"), 6).as("lift"),
        // a degenerate cell (everyone or no one converts) has zero
        // pooled variance — the z is undefined, reported as null in
        // BOTH engines rather than an engine-specific inf/error
        when(col("pp") > 0 && col("pp") < 1 && col("n0") > 0 && col("n1") > 0,
          round((col("p0") - col("p1"))
            / sqrt(col("pp") * (lit(1.0) - col("pp"))
              * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), 6))
          .as("z_stat"))
      .orderBy("segment")
  }
  private val upliftSql =
    """WITH pu AS (
  SELECT user_id, count(*) AS n_ev,
    max(CASE WHEN event_type = 'purchase' AND value > 95
      THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), seg AS (
  SELECT user_id, converted,
    ntile(3) OVER (ORDER BY n_ev, user_id) AS segment
  FROM pu
), m AS (
  SELECT segment,
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END)
      AS BIGINT) AS c0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END)
      AS BIGINT) AS c1
  FROM seg GROUP BY segment
), f AS (
  SELECT segment, n0, n1, c0, c1,
    CAST(c0 AS DOUBLE) / n0 AS p0, CAST(c1 AS DOUBLE) / n1 AS p1,
    (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))
      / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) AS pp
  FROM m
)
SELECT CAST(segment AS INT) AS segment, n0, n1, c0, c1,
  round(p0 - p1, 6) AS lift,
  CASE WHEN pp > 0 AND pp < 1 AND n0 > 0 AND n1 > 0
    THEN round((p0 - p1)
      / sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)), 6)
    ELSE NULL END AS z_stat
FROM f ORDER BY segment"""

  // ----------------------------------------------- budget allocation
  /** Largest-remainder (Hamilton) integer allocation — the exact
    * proportional-split every ads/finance pipeline needs: divide a
    * fixed integer budget of 1 000 000 units across event types in
    * proportion to their exact decimal revenue, with NO unit lost or
    * invented. Floor shares are integer division on the milli-unit
    * integer weights (overflow-safe: budget·wᵢ needs wtot < 9·10¹²,
    * i.e. corpus revenue below ~9 billion currency units — raise the
    * weight scale or split the budget hierarchically past that); the
    * leftover units
    * go to the largest fractional remainders, ranked by the exact
    * integer (remainder, type) order. The whole computation is
    * integer-exact — the allocation column provably sums to the
    * budget (spec-pinned), which no rounded-double split guarantees.
    * Rank window rides the |types|-row relation only. */
  private val BudgetUnits = 1000000L
  private val budgetAllocation: Q = (s, d) => {
    val byType = Tables.events(s, d)
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,6)")).as("rev"))
      // unscaled long of the scale-6 decimal — exact integer weight
      .select(col("event_type"),
        (col("rev") * lit(1000L)).cast("long").as("w"))
    val tot = broadcast(byType.agg(sum("w").as("wtot")))
    val shares = byType.crossJoin(tot)
      .select(col("event_type"), col("w"),
        expr(s"($BudgetUnits * w) div wtot").as("floor_share"),
        expr(s"($BudgetUnits * w) % wtot").as("rem"))
    val leftover = broadcast(shares
      .agg((lit(BudgetUnits) - sum("floor_share")).as("k")))
    val wRank = Window.orderBy(col("rem").desc, col("event_type"))
    shares.crossJoin(leftover)
      .withColumn("rnk", row_number().over(wRank))
      .select(col("event_type"), col("floor_share"),
        (col("floor_share") +
          when(col("rnk") <= col("k"), 1L).otherwise(0L)).as("allocated"))
      .orderBy("event_type")
  }
  private val budgetAllocationSql =
    s"""WITH byt AS (
  SELECT event_type,
    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000 AS BIGINT) AS w
  FROM events GROUP BY event_type
), tot AS (SELECT sum(w) AS wtot FROM byt),
shares AS (
  SELECT event_type, w,
    ($BudgetUnits * w) // wtot AS floor_share,
    ($BudgetUnits * w) % wtot AS rem
  FROM byt, tot
), lo AS (SELECT $BudgetUnits - sum(floor_share) AS k FROM shares)
SELECT event_type, CAST(floor_share AS BIGINT) AS floor_share,
  CAST(floor_share + CASE WHEN row_number()
      OVER (ORDER BY rem DESC, event_type) <= k
    THEN 1 ELSE 0 END AS BIGINT) AS allocated
FROM shares, lo
ORDER BY event_type"""

  // ----------------------------------------------------- bitemporal
  /** Bitemporal snapshot — the two-axis temporal query a
    * history-correct warehouse must answer: "what did we BELIEVE (at
    * transaction time T) the state was AT valid time V". Valid time
    * comes from the [[stateRuns]] intervals; transaction time is when
    * each version was recorded — originals at their valid_from, plus
    * planted CORRECTIONS (every run with island ≡ 3 mod 7 is revised
    * to 'corrected' in one end-of-data restatement batch, tx = the
    * corpus max timestamp — the quarter-end restatement
    * bitemporality exists for). The query reports, per
    * state, how many users were in it at the valid-time midpoint V as
    * believed at T₁ = V (corrections not yet recorded) vs T₂ = ∞
    * (full hindsight) — the delta IS the restatement effect, and
    * joining on is_current or ignoring tx time would silently show
    * hindsight as history. Shape: per-user windows for intervals and
    * per-(user, island) latest-belief rank — all user-partitioned —
    * then two tiny per-type aggregates full-outer-joined ('corrected'
    * exists only in hindsight). */
  private val bitemporal: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val mid = broadcast(ev.agg(
      expr("(min(unix_millis(ts)) + max(unix_millis(ts))) div 2")
        .as("v_ms"),
      expr("max(unix_millis(ts))").as("restate_ms")))
    val wIsl = Window.partitionBy("user_id").orderBy("island")
    val runs = stateRuns(ev.filter(col("event_type") =!= "purchase"))
      .select(col("user_id"), col("island"), col("event_type"),
        col("valid_from_ms"),
        lead(col("valid_from_ms"), 1).over(wIsl).as("valid_to_ms"))
      .localCheckpoint() // originals + corrections both read it
    val originals = runs.select(col("user_id"), col("island"),
      col("event_type").as("state"), col("valid_from_ms"),
      col("valid_to_ms"), col("valid_from_ms").as("tx_ms"))
    val corrections = runs.crossJoin(mid.select("restate_ms"))
      .filter(col("island") % 7 === 3)
      .select(col("user_id"), col("island"), lit("corrected").as("state"),
        col("valid_from_ms"), col("valid_to_ms"),
        col("restate_ms").as("tx_ms"))
    val versions = originals.unionByName(corrections)
    // Both snapshots in ONE pass over the version relation (round 18,
    // guide §2.4): the T₁ and T₂ latest-belief selections previously
    // each paid a (user, island) window (exchange + sort) plus a state
    // aggregate — two scans, four shuffles, two sorts. The latest
    // version at a tx cut is just max_by over tx_ms, and a conditional
    // ordering key (NULL where tx > cut, which max_by skips like any
    // null) computes the T₁ winner in the same aggregate; a group whose
    // versions all postdate the cut yields NULL and drops exactly as
    // the windowed form emitted no rn=1 row. tx_ms is unique per
    // (user, island) by construction (originals carry distinct
    // valid_from_ms per island; the one correction lands at the
    // restatement instant), so the argmax is deterministic.
    val ver = struct(col("state"), col("valid_from_ms"),
      col("valid_to_ms"), col("v_ms"))
    val snaps = versions.crossJoin(mid)
      .groupBy("user_id", "island")
      .agg(
        max_by(ver, when(col("tx_ms") <= col("v_ms"), col("tx_ms")))
          .as("b"),
        max_by(ver, col("tx_ms")).as("a"))
    // Both per-state counts in ONE pass over snaps (round 19, guide
    // §2.4): the two snapCounts branches each re-ran the whole snaps
    // aggregate (the plan carried every subtree twice — 8 scans).
    // Unpivot the two winner structs and count conditionally; a NULL
    // winner (all versions postdate the cut) drops at the validity
    // filter exactly as its branch emitted no row, and a state seen on
    // one side only counts 0 on the other — the full_outer + coalesce
    // semantics, one aggregate.
    snaps.select(explode(array(
        struct(lit(false).as("hind"), col("b").as("w")),
        struct(lit(true).as("hind"), col("a").as("w")))).as("x"))
      .select(col("x.hind").as("hind"), col("x.w.state").as("state"),
        col("x.w.valid_from_ms").as("vf"), col("x.w.valid_to_ms").as("vt"),
        col("x.w.v_ms").as("v"))
      .filter(col("vf") <= col("v") &&
        (col("vt").isNull || col("v") < col("vt")))
      .groupBy("state").agg(
        sum(when(!col("hind"), 1L).otherwise(0L)).as("n_before"),
        sum(when(col("hind"), 1L).otherwise(0L)).as("n_after"))
      .orderBy("state")
  }
  private val bitemporalSql =
    """WITH mid AS (
  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS v_ms,
    max(epoch_ms(ts)) AS restate_ms
  FROM events
), marked AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
      AS changed
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts, event_type,
    sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
), runs0 AS (
  SELECT user_id, island, event_type,
    min(epoch_ms(ts)) AS valid_from_ms
  FROM islands GROUP BY user_id, island, event_type
), runs AS (
  SELECT user_id, island, event_type, valid_from_ms,
    lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY island)
      AS valid_to_ms
  FROM runs0
), versions AS (
  SELECT user_id, island, event_type AS state, valid_from_ms,
    valid_to_ms, valid_from_ms AS tx_ms
  FROM runs
  UNION ALL
  SELECT user_id, island, 'corrected', valid_from_ms, valid_to_ms,
    restate_ms
  FROM runs, mid WHERE island % 7 = 3
), s1 AS (
  SELECT state, count(*) AS n_before FROM (
    SELECT v.*, row_number() OVER (PARTITION BY user_id, island
      ORDER BY tx_ms DESC) AS rn
    FROM versions v, mid WHERE tx_ms <= v_ms
  ), mid
  WHERE rn = 1 AND valid_from_ms <= v_ms
    AND (valid_to_ms IS NULL OR v_ms < valid_to_ms)
  GROUP BY state
), s2 AS (
  SELECT state, count(*) AS n_after FROM (
    SELECT v.*, row_number() OVER (PARTITION BY user_id, island
      ORDER BY tx_ms DESC) AS rn
    FROM versions v
  ), mid
  WHERE rn = 1 AND valid_from_ms <= v_ms
    AND (valid_to_ms IS NULL OR v_ms < valid_to_ms)
  GROUP BY state
)
SELECT coalesce(s1.state, s2.state) AS state,
  coalesce(n_before, 0) AS n_before, coalesce(n_after, 0) AS n_after
FROM s1 FULL JOIN s2 ON s1.state = s2.state
ORDER BY state"""

  // ------------------------------------------------------------- CUPED
  /** CUPED variance-reduced experiment readout — the standard upgrade
    * to [[abTest]] every experimentation platform ships (Deng et al.,
    * WSDM'13): regress the experiment metric on a pre-experiment
    * covariate and analyze the residual, cutting variance by the
    * squared correlation ρ². The observed time range is split at its
    * integer-millisecond midpoint (a 1-row broadcast bounds aggregate,
    * the gap-fill pattern); per user, X = pre-period value sum and
    * Y = post-period value sum; θ = cov(X,Y)/var(X) is pooled across
    * both cohorts (assignment-independent, so the adjustment is
    * unbiased). Shape at 100 TB: one fact scan → one combinable
    * group-by on user_id → a single 9-sum global aggregate over the
    * per-user relation; no self-join, no window. Determinism: X and Y
    * are exact decimal sums cast once to double; the cross-moment
    * products are single IEEE multiplies cast to decimal for the
    * order-free global sum (the [[abTest]] contract); every reported
    * stat is a fixed closed-form expression over those exact partials. */
  /** Per-user covariate/metric moments keyed by the pre/post split at
    * `mid_ms` — shared verbatim with
    * [[graft.streaming.StreamingEvents.cupedStream]] (there the split
    * point is the known experiment start; here it is the data range
    * midpoint carried on each row by a broadcast bounds aggregate).
    * Decimal sums: mergeable across micro-batches, order-free. */
  private[graft] val cupedUserAggs: Seq[Column] = {
    val z = lit(0).cast("decimal(18,6)")
    Seq(
      sum(when(unix_millis(col("ts")) < col("mid_ms"),
        col("value").cast("decimal(18,6)")).otherwise(z)).as("xd"),
      sum(when(unix_millis(col("ts")) >= col("mid_ms"),
        col("value").cast("decimal(18,6)")).otherwise(z)).as("yd"))
  }
  /** Stateless CUPED readout over the per-user (xd, yd) moment
    * relation: one 9-sum global aggregate + the closed-form θ/ρ²
    * projection. Shared by the batch query and the streaming face's
    * query-time finish. */
  private[graft] def cupedFinish(perUser0: DataFrame): DataFrame = {
    val perUser = perUser0.select(col("user_id"),
      col("xd").cast("double").as("x"), col("yd").cast("double").as("y"))
    def dsum(c: Column) = sum(c.cast("decimal(25,10)"))
    val m = perUser.agg(
      sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n1"),
      dsum(when(col("user_id") % 2 === 0, col("x"))).as("sx0"),
      dsum(when(col("user_id") % 2 === 1, col("x"))).as("sx1"),
      dsum(when(col("user_id") % 2 === 0, col("y"))).as("sy0"),
      dsum(when(col("user_id") % 2 === 1, col("y"))).as("sy1"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    def D(name: String) = col(name).cast("double")
    m.select(col("n0"), col("n1"),
        (D("n0") + D("n1")).as("n"),
        (D("sx0") + D("sx1")).as("sx"), (D("sy0") + D("sy1")).as("sy"),
        D("sxy").as("sxy"), D("sxx").as("sxx"), D("syy").as("syy"),
        (D("sy0") / D("n0") - D("sy1") / D("n1")).as("diff_raw"),
        (D("sx0") / D("n0") - D("sx1") / D("n1")).as("diff_x"))
      // a degenerate pre- or post-period (all X equal / all Y equal)
      // has zero variance — θ and ρ² are undefined, reported as null
      // in BOTH engines rather than an engine-specific Inf/NaN
      // rendering (the assortativity/uplift/abConversion guard).
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("n0"), col("n1"), col("diff_raw"), col("diff_x"),
        when(col("vx") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) / col("vx"))
          .as("theta"),
        when(col("vx") > 0 && col("vy") > 0,
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            * (col("n") * col("sxy") - col("sx") * col("sy")))
            / (col("vx") * col("vy")))
          .as("rho_sq"))
      .select(col("n0"), col("n1"),
        round(col("diff_raw"), 6).as("diff_raw"),
        round(col("theta"), 6).as("theta"),
        round(col("diff_raw") - col("theta") * col("diff_x"), 6)
          .as("diff_cuped"),
        round(col("rho_sq"), 6).as("rho_sq"))
  }
  private val cuped: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val mid = broadcast(ev.agg(
      expr("(min(unix_millis(ts)) + max(unix_millis(ts))) div 2")
        .as("mid_ms")))
    cupedFinish(ev.crossJoin(mid)
      .groupBy("user_id")
      .agg(cupedUserAggs.head, cupedUserAggs.tail: _*))
  }
  private val cupedSql =
    """WITH mid AS (
  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid_ms FROM events
), pu AS (
  SELECT user_id,
    CAST(sum(CASE WHEN epoch_ms(ts) < mid_ms
      THEN CAST(value AS DECIMAL(18,6))
      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS x,
    CAST(sum(CASE WHEN epoch_ms(ts) >= mid_ms
      THEN CAST(value AS DECIMAL(18,6))
      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS y
  FROM events, mid GROUP BY user_id
), m AS (
  SELECT
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    sum(CASE WHEN user_id % 2 = 0 THEN CAST(x AS DECIMAL(25,10)) END) AS sx0,
    sum(CASE WHEN user_id % 2 = 1 THEN CAST(x AS DECIMAL(25,10)) END) AS sx1,
    sum(CASE WHEN user_id % 2 = 0 THEN CAST(y AS DECIMAL(25,10)) END) AS sy0,
    sum(CASE WHEN user_id % 2 = 1 THEN CAST(y AS DECIMAL(25,10)) END) AS sy1,
    sum(CAST(x * y AS DECIMAL(25,10))) AS sxy,
    sum(CAST(x * x AS DECIMAL(25,10))) AS sxx,
    sum(CAST(y * y AS DECIMAL(25,10))) AS syy
  FROM pu
), f AS (
  SELECT n0, n1,
    CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) AS n,
    CAST(sx0 AS DOUBLE) + CAST(sx1 AS DOUBLE) AS sx,
    CAST(sy0 AS DOUBLE) + CAST(sy1 AS DOUBLE) AS sy,
    CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
    CAST(syy AS DOUBLE) AS syy,
    CAST(sy0 AS DOUBLE) / n0 - CAST(sy1 AS DOUBLE) / n1 AS diff_raw,
    CAST(sx0 AS DOUBLE) / n0 - CAST(sx1 AS DOUBLE) / n1 AS diff_x
  FROM m
)
SELECT n0, n1, round(diff_raw, 6) AS diff_raw,
  CASE WHEN n * sxx - sx * sx > 0
    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS theta,
  CASE WHEN n * sxx - sx * sx > 0
    THEN round(diff_raw
      - (n * sxy - sx * sy) / (n * sxx - sx * sx) * diff_x, 6)
    END AS diff_cuped,
  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS rho_sq
FROM f"""

  // -------------------------------------------------- audience overlap
  /** Audience-overlap matrix — "how much do the users of feature A and
    * feature B coincide", the segment-sizing query behind every
    * cross-sell / cannibalization readout: for each unordered pair of
    * event types, |users(A) ∩ users(B)| and the Jaccard overlap.
    * Shape at 100 TB: the fact reduces FIRST to the distinct
    * (event_type, user_id) relation (≤ |types|·|users|, orders of
    * magnitude below the fact — the [[dauMau]] reduction), the pair
    * count is a self-equi-join on user_id whose per-user fan-out is
    * capped at C(|types|,2) (type vocabulary, not data, scale), and
    * per-type sizes arrive by a broadcast join. Never an all-pairs
    * comparison of users. */
  /** The pairwise matrix over an already-distinct (event_type,
    * user_id) relation — shared by the batch query and the streaming
    * face's query-time serve (there the distinct relation is the
    * accreted dropDuplicates state). */
  private[graft] def audienceOverlapOf(du: DataFrame): DataFrame = {
    val sizes = du.groupBy("event_type").agg(count(lit(1)).as("na"))
    val pairs = du.toDF("type_a", "user_id")
      .join(du.toDF("type_b", "ub"),
        col("user_id") === col("ub") && col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.toDF("type_a", "n_a")), "type_a")
      .join(broadcast(sizes.toDF("type_b", "n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
      .orderBy("type_a", "type_b")
  }
  private val audienceOverlap: Q = (s, d) =>
    audienceOverlapOf(
      Tables.events(s, d).select("event_type", "user_id").distinct())
  private val audienceOverlapSql =
    """WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, count(*) AS na FROM du GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    count(*) AS n_both
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.na AS n_a, sb.na AS n_b, n_both,
  round(CAST(n_both AS DOUBLE) / (sa.na + sb.na - n_both), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
ORDER BY type_a, type_b"""

  val queries: Map[String, Q] = Map(
    "events_cuped" -> cuped,
    "events_audience_overlap" -> audienceOverlap,
    "events_scd2_join" -> scd2Join,
    "events_clamped_balance" -> clampedBalance,
    "events_bitemporal" -> bitemporal,
    "events_budget_allocation" -> budgetAllocation,
    "events_ab_conversion" -> abConversion,
    "events_uplift" -> uplift,
    "events_ltv_cohort" -> ltvCohort,
    "events_diff_in_diff" -> diffInDiff,
    "events_peak_concurrency" -> peakConcurrency,
    "events_streaks" -> streaks,
    "events_velocity_flags" -> velocityFlags,
    "events_ab_test" -> abTest,
    "events_autocorr" -> autocorr,
    "events_type_corr" -> typeCorr,
    "events_pareto" -> pareto,
    "events_funnel_time" -> funnelTime,
    "events_user_lifecycle" -> userLifecycle,
    "events_basket_lift" -> basketLift,
    "events_seasonal_anomaly" -> seasonalAnomaly,
    "events_trend" -> trend,
    "events_gap_fill" -> gapFill,
    "events_ewma" -> ewma,
    "events_mad_outliers" -> madOutliers,
    "events_cohort_matrix" -> cohortMatrix,
    "events_cohort_matrix_approx" -> cohortMatrixApprox,
    "events_forecast_baseline" -> forecastBaseline,
    "events_trigram_paths" -> trigramPaths,
    "events_changepoint" -> changepoint,
    "events_tumbling" -> tumbling,
    "events_sliding" -> sliding,
    "events_session" -> session,
    "events_topk_users" -> topkUsers,
    "events_asof_join" -> asofJoin,
    "events_asof_native" -> asofNative,
    "events_asof_bucketed" -> asofBucketed,
    "events_interval_join" -> intervalJoin,
    "events_range_join" -> rangeJoin,
    "events_running_total" -> runningTotal,
    "events_pivot_hourly" -> pivotHourly,
    "events_funnel" -> funnel,
    "events_retention" -> retention,
    "events_anomaly" -> anomaly,
    "events_deciles" -> deciles,
    "events_anti_join" -> antiJoin,
    "events_daily_balance" -> dailyBalance,
    "events_lag_gaps" -> lagGaps,
    "events_unpivot_hourly" -> unpivotHourly,
    "events_intersect_days" -> intersectWeeks,
    "events_except_users" -> exceptUsers,
    "events_histogram" -> histogram,
    "events_rollup_daily" -> rollupDaily,
    "events_cube_hourly" -> cubeHourly,
    "events_grouping_sets" -> groupingSetsQ,
    "events_trailing_7d" -> trailing7d,
    "events_attribution" -> attribution,
    "events_user_rank" -> userRank,
    "events_quantiles" -> quantiles,
    "events_quantiles_approx" -> quantilesApprox,
    "events_json_props" -> jsonProps,
    "events_markov" -> markov,
    "events_state_history" -> stateHistory,
    "events_heavy_hitters" -> heavyHitters,
    "events_winsorize" -> winsorize,
    "events_rfm" -> rfm,
    "events_dau_mau" -> dauMau,
    "events_dau_mau_approx" -> dauMauApprox)

  val oracle: Map[String, String] = Map(
    "events_cuped" -> cupedSql,
    "events_audience_overlap" -> audienceOverlapSql,
    "events_scd2_join" -> scd2JoinSql,
    "events_clamped_balance" -> clampedBalanceSql,
    "events_bitemporal" -> bitemporalSql,
    "events_budget_allocation" -> budgetAllocationSql,
    "events_ab_conversion" -> abConversionSql,
    "events_uplift" -> upliftSql,
    "events_ltv_cohort" -> ltvCohortSql,
    "events_diff_in_diff" -> diffInDiffSql,
    "events_peak_concurrency" -> peakConcurrencySql,
    "events_streaks" -> streaksSql,
    "events_velocity_flags" -> velocityFlagsSql,
    "events_ab_test" -> abTestSql,
    "events_gap_fill" -> gapFillSql,
    "events_autocorr" -> autocorrSql,
    "events_type_corr" -> typeCorrSql,
    "events_pareto" -> paretoSql,
    "events_funnel_time" -> funnelTimeSql,
    "events_user_lifecycle" -> userLifecycleSql,
    "events_basket_lift" -> basketLiftSql,
    "events_seasonal_anomaly" -> seasonalAnomalySql,
    "events_trend" -> trendSql,
    "events_ewma" -> ewmaSql,
    "events_mad_outliers" -> madOutliersSql,
    "events_cohort_matrix" -> cohortMatrixSql,
    "events_cohort_matrix_approx" -> cohortMatrixApproxSql,
    "events_forecast_baseline" -> forecastBaselineSql,
    "events_trigram_paths" -> trigramPathsSql,
    "events_changepoint" -> changepointSql,
    "events_tumbling" -> tumblingSql,
    "events_sliding" -> slidingSql,
    "events_session" -> sessionSql,
    "events_topk_users" -> topkUsersSql,
    "events_asof_join" -> asofJoinSql,
    // the native-operator form shares the composition form's oracle
    "events_asof_native" -> asofJoinSql,
    // layout-served shape, identical semantics: shares the oracle
    "events_asof_bucketed" -> asofJoinSql,
    "events_interval_join" -> intervalJoinSql,
    "events_range_join" -> rangeJoinSql,
    "events_running_total" -> runningTotalSql,
    "events_pivot_hourly" -> pivotHourlySql,
    "events_funnel" -> funnelSql,
    "events_retention" -> retentionSql,
    "events_anomaly" -> anomalySql,
    "events_deciles" -> decilesSql,
    "events_anti_join" -> antiJoinSql,
    "events_daily_balance" -> dailyBalanceSql,
    "events_lag_gaps" -> lagGapsSql,
    "events_unpivot_hourly" -> unpivotHourlySql,
    "events_intersect_days" -> intersectWeeksSql,
    "events_except_users" -> exceptUsersSql,
    "events_histogram" -> histogramSql,
    "events_rollup_daily" -> rollupDailySql,
    "events_cube_hourly" -> cubeHourlySql,
    "events_grouping_sets" -> groupingSetsSql,
    "events_trailing_7d" -> trailing7dSql,
    "events_attribution" -> attributionSql,
    "events_user_rank" -> userRankSql,
    "events_quantiles" -> quantilesSql,
    "events_quantiles_approx" -> quantilesApproxSql,
    "events_json_props" -> jsonPropsSql,
    "events_markov" -> markovSql,
    "events_state_history" -> stateHistorySql,
    "events_heavy_hitters" -> heavyHittersSql,
    "events_winsorize" -> winsorizeSql,
    "events_rfm" -> rfmSql,
    "events_dau_mau" -> dauMauSql,
    "events_dau_mau_approx" -> dauMauApproxSql)
}
