package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Event-stream analytics, batch form (SURVEY §2 block C). The
  * streaming twins of e1/e2 live in [[graft.streaming.EventStream]] —
  * same logic over `readStream` with watermarks / stateful timeouts.
  *
  * Scale notes: e1 is one shuffle on (hour, event_type); e2/e3 shuffle
  * once on user_id and do everything else inside the partition via
  * windows — the classic sessionization shape that scales linearly
  * with users. Sums run decimal-exact so results are identical under
  * any partitioning (and match the DuckDB oracle bit-for-bit).
  */
object Events {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** e1: tumbling 1-hour windowed aggregation per event type. */
  def e1WindowedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(dec($"value")).cast("double"), 4).as("sum_value"))
      .select(date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
        $"event_type", $"n_events", $"sum_value")
  }

  val e1Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** e2: gap-based sessionization (30-minute inactivity gap) — one
    * shuffle on user_id; lag + cumulative-sum windows inside it. */
  def e2Sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"),
        unix_micros(min($"ts")).as("start_us"),
        unix_micros(max($"ts")).as("end_us"),
        round(sum(dec($"value")).cast("double"), 4).as("sum_value"))
  }

  val e2Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
      |FROM sess GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** e4: semi-structured extraction — the `props` JSON column parsed
    * with `get_json_object` (codegen'd Jackson path eval, no UDF) and
    * aggregated per user. At scale prefer `from_json` with an explicit
    * schema once the shape is known; the path form handles ragged
    * payloads. */
  def e4JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        round(avg($"k"), 6).as("avg_k"),
        max($"k").as("max_k"))
  }

  val e4Sql: String =
    """SELECT user_id, count(*) AS n_events,
      |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** e5: last-touch attribution — for every purchase, the most recent
    * preceding non-purchase event of the same user (ignore-nulls
    * `last` over an unbounded-to-previous frame; one shuffle on
    * user_id, everything else inside the partition). */
  def e5LastTouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("prior_touch", last(
        when($"event_type" =!= "purchase", $"event_type"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("ts_us"), $"prior_touch")
  }

  val e5Sql: String =
    """SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS ts_us, prior_touch
      |FROM (
      |  SELECT *, last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_touch
      |  FROM events) t
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin

  /** e3: ordered funnel view → click → purchase per user. Stage joins
    * over per-user minima (compose, no UDF): step N's timestamp is the
    * earliest step-N event at-or-after step N-1's timestamp. */
  def e3Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("view_ts"))
    val c = ev.filter($"event_type" === "click").as("e")
      .join(v.as("v"), $"e.user_id" === $"v.user_id" && $"e.ts" >= $"view_ts")
      .groupBy($"e.user_id".as("user_id")).agg(min($"e.ts").as("click_ts"))
    val p = ev.filter($"event_type" === "purchase").as("e")
      .join(c.as("c"), $"e.user_id" === $"c.user_id" && $"e.ts" >= $"click_ts")
      .groupBy($"e.user_id".as("user_id")).agg(min($"e.ts").as("purchase_ts"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select($"user_id",
        unix_micros($"view_ts").as("view_us"),
        unix_micros($"click_ts").as("click_us"),
        unix_micros($"purchase_ts").as("purchase_us"))
  }

  val e3Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS view_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.view_ts
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT v.user_id, epoch_us(view_ts) AS view_us,
      |  epoch_us(click_ts) AS click_us, epoch_us(purchase_ts) AS purchase_us
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** e6: as-of join — every purchase paired with the user's LATEST
    * click at-or-before it ([[graft.operators.AsOf.asofJoin]]: the
    * union+window shape, one shuffle, no range join). Clicks are
    * first deduped to one per (user, ts) (max event_id) so the ≤-tie
    * winner is engine-independent; DuckDB's native ASOF JOIN is the
    * oracle. */
  def e6AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("click_id"))
      .withColumn("click_ts", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    graft.operators.AsOf.asofJoin(purchases, clicks, Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id", "click_ts"), rightTieBreak = "click_id")
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("purchase_ts_us"),
        $"asof_click_id", unix_micros($"asof_click_ts").as("click_ts_us"))
  }

  /** e7: range join — per maintenance window ([hh:10, hh:40] of every
    * active hour) the events it contains.
    * [[graft.operators.RangeJoin.rangeJoin]]'s binned equi-join: the
    * naive `BETWEEN` join is a BroadcastNestedLoopJoin (points ×
    * intervals); binning makes it an equi-join on the 30-min bin with
    * the range predicate as a residual filter (plan-asserted BNLJ-free). */
  def e7RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(unix_micros($"ts").as("t_us"), $"value")
    val windows = Tables.events(spark, dir)
      .select(unix_micros(date_trunc("hour", $"ts")).as("h_us")).distinct()
      .select(($"h_us" + 600000000L).as("lo_us"), ($"h_us" + 2400000000L).as("hi_us"))
    graft.operators.RangeJoin.rangeJoin(ev, windows,
        t = "t_us", lo = "lo_us", hi = "hi_us", binWidth = 1800000000L)
      .groupBy($"lo_us", $"hi_us")
      .agg(count(lit(1)).as("n_events"),
        round(sum(dec($"value")).cast("double"), 4).as("sum_value"))
  }

  val e7Sql: String =
    """WITH w AS (
      |  SELECT DISTINCT epoch_us(date_trunc('hour', ts)) + 600000000 AS lo_us,
      |         epoch_us(date_trunc('hour', ts)) + 2400000000 AS hi_us
      |  FROM events)
      |SELECT lo_us, hi_us, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
      |FROM events e JOIN w ON epoch_us(e.ts) BETWEEN lo_us AND hi_us
      |GROUP BY lo_us, hi_us ORDER BY lo_us""".stripMargin

  val e6Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |purchases AS (
      |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_ts_us,
      |  c.click_id AS asof_click_id, epoch_us(c.ts) AS click_ts_us
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.user_id, purchase_id""".stripMargin

  /** e9: e7's interval-containment workload written the way a USER
    * writes it — the naive `t BETWEEN lo AND hi` join — executed
    * through the conf-gated optimizer rewrite
    * ([[graft.plans.BinnedRangeJoinRule]] via `GraftExtensions`): the
    * planner's BroadcastNestedLoopJoin becomes the binned equi-join
    * automatically, no operator-API call in sight. Spec-asserted
    * BNLJ-free.
    *
    * The conf is enabled on a scoped `newSession()` (shared
    * SparkContext, extensions, and builder confs; fresh session
    * state): planning happens lazily at action time, so a
    * set-then-restore on the caller's session would hand the executor
    * the nested loop back — and a leaked `set` would make every later
    * naive interval join in the session silently inherit e9's
    * 30-minute bin width. The scoped session bounds both: the
    * returned DataFrame carries its own session whose conf never
    * changes again, and the caller's session is untouched. */
  def e9AutoRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    import s.implicits._
    s.conf.set(graft.plans.BinnedRangeJoinRule.EnabledKey, "true")
    s.conf.set(graft.plans.BinnedRangeJoinRule.BinWidthKey, "1800000000")
    val ev = Tables.events(s, dir)
      .select(unix_micros($"ts").as("t_us"), $"value")
    val windows = Tables.events(s, dir)
      .select(unix_micros(date_trunc("hour", $"ts")).as("h_us")).distinct()
      .select(($"h_us" + 600000000L).as("lo_us"), ($"h_us" + 2400000000L).as("hi_us"))
    ev.join(windows, $"t_us" >= $"lo_us" && $"t_us" <= $"hi_us")
      .groupBy($"lo_us", $"hi_us")
      .agg(count(lit(1)).as("n_events"),
        round(sum(dec($"value")).cast("double"), 4).as("sum_value"))
  }

  /** e9 oracle: the same naive BETWEEN join DuckDB plans natively. */
  val e9Sql: String = e7Sql

  /** e36: e6's as-of workload written the way a USER writes it — the
    * exploded history join winnowed by `row_number() = 1` — made
    * scale-safe by the OPTIMIZER ([[graft.plans.AsofJoinRule]] via
    * `GraftExtensions`), e9's pattern for the temporal operator: the
    * Σ|clicks ≤ purchase| blowup becomes the union+window plan with
    * no operator-API call in sight. Scoped `newSession()` for the
    * same reason as e9 (lazy planning; no conf leak). The naive
    * inner idiom drops clickless purchases, so the oracle is DuckDB's
    * native INNER `ASOF JOIN` (e6 is the LEFT variant). */
  def e36AutoAsof(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    import s.implicits._
    s.conf.set(graft.plans.AsofJoinRule.EnabledKey, "true")
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id".as("c_user"), $"ts".as("click_ts"))
      .agg(max($"event_id").as("click_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    purchases.join(clicks, $"user_id" === $"c_user" && $"click_ts" <= $"ts")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_id").orderBy($"click_ts".desc, $"click_id".desc)))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("purchase_ts_us"),
        $"click_id".as("asof_click_id"),
        unix_micros($"click_ts").as("click_ts_us"))
  }

  /** e37: as-of join WITH A STALENESS BOUND — the production form of
    * e6 (kdb's `aj` plus a max-age guard; Flink's temporal join TTL):
    * a purchase pairs with the user's latest click at-or-before it
    * ONLY if that click is within `tolMinutes`; older context is
    * noise, not attribution. Composition, not a new operator (build
    * rule (a)): the unbounded as-of already returns the LATEST match,
    * and if the latest is stale every earlier one is staler — so
    * "latest within the window" ≡ "latest overall, masked when
    * stale". One `when()` over e6's plan; staleness rides along for
    * threshold tuning. Same union+window scale shape as e6. */
  def e37AsofTolerance(spark: SparkSession, dir: String,
                       tolMinutes: Long = 60L): DataFrame = {
    import spark.implicits._
    val tolUs = tolMinutes * 60000000L
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("click_id"))
      .withColumn("click_ts", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val stale = unix_micros($"ts") - unix_micros($"asof_click_ts") > tolUs
    graft.operators.AsOf.asofJoin(purchases, clicks, Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        rightPayload = Seq("click_id", "click_ts"), rightTieBreak = "click_id")
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("purchase_ts_us"),
        when(stale, lit(null).cast("long")).otherwise($"asof_click_id").as("click_id"),
        when(stale || $"asof_click_ts".isNull, lit(null).cast("long"))
          .otherwise(unix_micros($"ts") - unix_micros($"asof_click_ts"))
          .as("staleness_us"),
        ($"asof_click_ts".isNotNull && stale).cast("long").as("dropped_stale"))
  }

  /** e37 oracle: the native as-of join with the same staleness mask. */
  val e37Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |purchases AS (
      |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT p.user_id, p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_ts_us,
      |    c.click_id, epoch_us(p.ts) - epoch_us(c.ts) AS age_us
      |  FROM purchases p ASOF LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND p.ts >= c.ts)
      |SELECT user_id, purchase_id, purchase_ts_us,
      |  CASE WHEN age_us > 3600000000 THEN NULL ELSE click_id END AS click_id,
      |  CASE WHEN age_us > 3600000000 THEN NULL ELSE age_us END AS staleness_us,
      |  CAST(CASE WHEN age_us > 3600000000 THEN 1 ELSE 0 END AS BIGINT) AS dropped_stale
      |FROM m ORDER BY user_id, purchase_id""".stripMargin

  /** e36 oracle: the inner native as-of join. */
  val e36Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |purchases AS (
      |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_ts_us,
      |  c.click_id AS asof_click_id, epoch_us(c.ts) AS click_ts_us
      |FROM purchases p ASOF JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.user_id, purchase_id""".stripMargin

  /** e8: cohort retention — users grouped into daily cohorts by their
    * first activity date; the matrix counts how many of each cohort
    * were active again k days later (the product-analytics retention
    * triangle).
    *
    * Shape: first-touch = one map-side-combined min-aggregation on
    * user_id; activity = distinct (user, date) — the same user_id
    * shuffle key, so the join is co-partitioned with no extra
    * exchange; the final aggregation collapses to cohorts × offsets
    * rows (metadata-sized at any corpus: days², independent of event
    * volume). A user appears once per active date, so the matrix
    * count is already distinct users — no count(DISTINCT) Expand. */
  def e8Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d"))
    val firsts = ev.groupBy($"user_id").agg(min($"d").as("cohort"))
    ev.distinct()
      .join(firsts, Seq("user_id"))
      .groupBy($"cohort", datediff($"d", $"cohort").cast("long").as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
      .select(date_format($"cohort", "yyyy-MM-dd").as("cohort_date"),
        $"day_offset", $"active_users")
  }

  val e8Sql: String =
    """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |firsts AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY user_id)
      |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_date,
      |  date_diff('day', f.cohort, a.d) AS day_offset,
      |  count(*) AS active_users
      |FROM ev a JOIN firsts f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_date, day_offset""".stripMargin

  /** e11: funnel latency distribution — per funnel stage pair, the
    * exact p50/p90/max time-to-convert in seconds (the metric a
    * growth team actually reads off e3's funnel). Composes e3's
    * stage timestamps with q25's histogram-first exact-percentile
    * shape: latencies bucket to whole seconds (bounded histogram at
    * any user count — the q25 scale rule), the cumulative windows run
    * over the aggregated histogram, never per-user rows. */
  def e11FunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    val lat = e3Funnel(spark, dir).select(expr(
      """stack(3,
        |'click_to_purchase', (purchase_us - click_us) DIV 1000000,
        |'view_to_click', (click_us - view_us) DIV 1000000,
        |'view_to_purchase', (purchase_us - view_us) DIV 1000000)
        |AS (stage, lat_s)""".stripMargin))
      .filter($"lat_s".isNotNull)
    val hist = lat.groupBy($"stage", $"lat_s").agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy($"stage").orderBy($"lat_s")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy($"stage")
    def pick(rank: Column) = min(when($"cum" >= rank, $"lat_s")).cast("long")
    hist.withColumn("cum", sum($"cnt").over(cum))
      .withColumn("n", sum($"cnt").over(tot))
      .groupBy($"stage")
      .agg(max($"n").as("n_users"),
        pick(expr("(n + 1) DIV 2")).as("p50_s"),
        pick(expr("(9 * n + 9) DIV 10")).as("p90_s"),
        max($"lat_s").cast("long").as("max_s"))
      .orderBy("stage")
  }

  val e11Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS view_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.view_ts
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
      |f AS (
      |  SELECT v.user_id, epoch_us(view_ts) AS view_us,
      |    epoch_us(click_ts) AS click_us, epoch_us(purchase_ts) AS purchase_us
      |  FROM v LEFT JOIN c ON v.user_id = c.user_id
      |  LEFT JOIN p ON v.user_id = p.user_id),
      |lat AS (
      |  SELECT 'click_to_purchase' AS stage, (purchase_us - click_us) // 1000000 AS lat_s
      |  FROM f WHERE purchase_us IS NOT NULL
      |  UNION ALL
      |  SELECT 'view_to_click', (click_us - view_us) // 1000000
      |  FROM f WHERE click_us IS NOT NULL
      |  UNION ALL
      |  SELECT 'view_to_purchase', (purchase_us - view_us) // 1000000
      |  FROM f WHERE purchase_us IS NOT NULL),
      |h AS (SELECT stage, lat_s, count(*) AS cnt FROM lat GROUP BY 1, 2),
      |cc AS (
      |  SELECT stage, lat_s,
      |    sum(cnt) OVER (PARTITION BY stage ORDER BY lat_s) AS cum,
      |    sum(cnt) OVER (PARTITION BY stage) AS n
      |  FROM h)
      |SELECT stage, CAST(max(n) AS BIGINT) AS n_users,
      |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lat_s END) AS BIGINT) AS p50_s,
      |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lat_s END) AS BIGINT) AS p90_s,
      |  CAST(max(lat_s) AS BIGINT) AS max_s
      |FROM cc GROUP BY stage ORDER BY stage""".stripMargin

  /** e10: calendar gap-fill — the complete hourly time series per
    * event type with ZERO rows for silent hours (dashboards, anomaly
    * detection and downstream window math all need the empty slots a
    * plain groupBy never emits).
    *
    * Shape: the fact table is touched EXACTLY ONCE (the groupBy) —
    * plan-asserted in EventsSpec. Everything else derives from the
    * hours×types-sized aggregate itself: the global calendar bounds
    * ride a window over it (min(hour) over a truncated column IS the
    * truncated global min; the single-partition window holds only
    * metadata-sized rows), and each type's row explodes its observed
    * entries PLUS the zero-filled complement `array_except(calendar,
    * observed)` in one pass. Every step is linear in the hour count —
    * the round-5 variant looked each exploded calendar hour up in a
    * per-type map, but GetMapValue is a SCAN of the map, so the fill
    * was O(hours²) per type (measured 2.1 s vs 0.6 s at sf0.1's ~9k
    * hours; at a year of seconds-grain it would be the whole query).
    * array_except builds a hash set once. No second scan, no cache,
    * no join back. */
  def e10GapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val agg = ev.groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(dec($"value")).cast("double"), 4).as("sv"))
    val all = Window.partitionBy()
    agg
      .withColumn("lo", min($"hour").over(all))
      .withColumn("hi", max($"hour").over(all))
      .groupBy($"event_type")
      .agg(min($"lo").as("lo"), min($"hi").as("hi"),
        // sv coalesced HERE (all-null value groups sum to null; the
        // oracle and the r4 shape both emit 0.0 for them)
        collect_list(struct($"hour", $"n",
          coalesce($"sv", lit(0.0)).as("sv"))).as("pres"))
      .select($"event_type", explode(concat(
          $"pres",
          transform(
            array_except(sequence($"lo", $"hi", expr("interval 1 hour")),
              transform($"pres", x => x("hour"))),
            h => struct(h.as("hour"), lit(0L).as("n"), lit(0.0).as("sv"))))).as("r"))
      .select(date_format($"r.hour", "yyyy-MM-dd HH:mm:ss").as("hour"), $"event_type",
        $"r.n".as("n_events"), $"r.sv".as("sum_value"))
  }

  val e10Sql: String =
    """WITH ag AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sv
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
      |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
      |ty AS (SELECT DISTINCT event_type FROM events)
      |SELECT strftime(hours.hour, '%Y-%m-%d %H:%M:%S') AS hour, ty.event_type,
      |  coalesce(ag.n, 0) AS n_events, coalesce(ag.sv, 0.0) AS sum_value
      |FROM hours CROSS JOIN ty
      |LEFT JOIN ag ON ag.h = hours.hour AND ag.event_type = ty.event_type
      |ORDER BY 1, 2""".stripMargin

  /** w4: per-user inter-event gap statistics — the empirical input to
    * choosing e2's sessionization gap (and the staleness signal of an
    * event stream). One shuffle on user_id; the lag window and the
    * aggregation ride the same partitioning. Gaps in exact integer
    * microseconds; the mean is floor-divided (`DIV`), identical in
    * DuckDB (`//`). Users with a single event have no gap and drop. */
  def w4GapStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .filter($"prev_ts".isNotNull)
      .select($"user_id", (unix_micros($"ts") - unix_micros($"prev_ts")).as("gap_us"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum($"gap_us").as("sum_gap_us"),
        max($"gap_us").as("max_gap_us"))
      .withColumn("avg_gap_us", expr("sum_gap_us DIV n_gaps"))
  }

  val w4Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |  FROM events)
      |SELECT user_id, count(*) AS n_gaps,
      |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us, max(gap_us) AS max_gap_us,
      |  CAST(sum(gap_us) // count(*) AS BIGINT) AS avg_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** e12: hourly anomaly flags over the gap-filled series — e10's
    * output IS the input, because anomaly detection needs the explicit
    * zero rows: a silent hour is exactly the anomaly a plain groupBy
    * can never surface. Per event type, an hour is anomalous when its
    * count deviates from the type's mean by more than z = 2 population
    * standard deviations.
    *
    * The z-test is cross-multiplied into EXACT integer arithmetic —
    * with n = hours in the series, S = Σx, Q = Σx²:
    *     |x − μ| > z·σ   ⇔   (n·x − S)² > z²·(n·Q − S²)
    * — no sqrt, no doubles, no half-boundary risk anywhere. The
    * squared terms ride DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), both
    * exact for integral values below 10³⁸: the test survives hourly
    * counts ~10⁹ over ~10⁵ hours with ~10¹⁰ headroom, where plain
    * BIGINT squares would overflow.
    *
    * Shape: e10's single fact scan → hours×types aggregate; the
    * per-type stats windows and the flag projection run entirely over
    * that metadata-sized frame (each type's partition is its hour
    * count — thousands of rows, never data-sized). */
  def e12Anomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = DecimalType(38, 0)
    val byType = Window.partitionBy($"event_type")
    val st = e10GapFill(spark, dir)
      .select($"hour", $"event_type", $"n_events",
        $"n_events".cast(d38).as("x"))
      .withColumn("n", count(lit(1)).over(byType).cast(d38))
      .withColumn("s", sum($"x").over(byType))
      .withColumn("q", sum($"x" * $"x").over(byType))
    st.withColumn("dev", $"n" * $"x" - $"s")
      .select($"hour", $"event_type", $"n_events",
        ($"dev" * $"dev" > lit(4).cast(d38) * ($"n" * $"q" - $"s" * $"s"))
          .cast("int").as("is_anomaly"))
  }

  /** e12 oracle: e10's oracle composed as a CTE + the same
    * cross-multiplied test in HUGEINT (DuckDB's BIGINT sums already
    * promote to HUGEINT; products are exact below 2¹²⁷). */
  val e12Sql: String =
    s"""WITH gf AS ($e10Sql),
       |st AS (
       |  SELECT hour, event_type, n_events,
       |    count(*) OVER (PARTITION BY event_type) AS n,
       |    sum(CAST(n_events AS HUGEINT)) OVER (PARTITION BY event_type) AS s,
       |    sum(CAST(n_events AS HUGEINT) * n_events) OVER (PARTITION BY event_type) AS q
       |  FROM gf)
       |SELECT hour, event_type, n_events,
       |  CAST(CASE WHEN (CAST(n AS HUGEINT)*n_events - s)*(CAST(n AS HUGEINT)*n_events - s)
       |              > 4*(CAST(n AS HUGEINT)*q - s*s) THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
       |FROM st ORDER BY hour, event_type""".stripMargin

  /** e13: count–min-sketch heavy hitters (Cormode & Muthukrishnan,
    * "An improved data stream summary: the count-min sketch", 2005) —
    * the frequent-users report (count ≥ 1.15× the per-user mean) with
    * the sketch estimate next to the exact count, auditing the
    * one-sided error (CMS only ever OVER-estimates; `overcount`
    * quantifies by how much at this d×w).
    *
    * The sketch is d=4 hash rows × w=64 counters built relationally:
    * the per-event explode to (i, j) rows map-side combines straight
    * down to ≤ d·w counter rows per partition, so the only fact-sized
    * work is the scan — the shuffle moves ≤ d·w rows per partition
    * regardless of input size, which is precisely the CMS guarantee
    * (fixed-size summary of an unbounded stream; the streaming twin
    * would keep the same d×w grid in mapGroupsWithState). Hashes are
    * [[graft.functions.DetHash]] md5-derived → the whole grid and the
    * min-over-rows estimates reproduce bit-for-bit in DuckDB, unlike
    * a seeded random sketch. Candidate set and threshold come from
    * the exact side (one groupBy — the audit's yardstick, same
    * convention as s4/d10's recall audits); estimates are min over
    * the candidate×d lookups against the broadcast-sized grid. */
  def e13HeavyHitters(spark: SparkSession, dir: String,
                      w: Int = 64, d: Int = 4, meanPctE2: Long = 115L): DataFrame = {
    import spark.implicits._
    import graft.functions.DetHash
    val events = Tables.events(spark, dir)
    def slot(i: Int, user: org.apache.spark.sql.Column) =
      DetHash.md5Long60Col(concat(lit(s"cms:$i:"), user.cast("string"))) % w
    // the grid builder is SHARED with the streaming twin
    // (EventStream.cmsGrid) — one plan, batch or stream
    val grid = graft.streaming.EventStream.cmsGrid(events, w, d)
    // "heavy" is relative to the per-user MEAN (count ≥ 1.15×mean) so
    // the report scales with the data: a fixed φ share of n empties
    // out as the user base grows with the corpus. Total and user
    // count both derive from the per-user aggregate — no second scan
    // of the fact table (the e10 lesson).
    val perUser = events.groupBy($"user_id").agg(count(lit(1)).as("exact_cnt"))
    val tot = perUser.agg(sum($"exact_cnt").as("n"), count(lit(1)).as("n_users"))
    val heavy = perUser
      .crossJoin(broadcast(tot))
      .filter($"exact_cnt" * $"n_users" * 100L >= lit(meanPctE2) * $"n")
      .select($"user_id", $"exact_cnt")
    val lookups = heavy.select($"user_id", $"exact_cnt",
        explode(array((0 until d).map(i =>
          struct(lit(i).as("i"), slot(i, $"user_id").as("j"))): _*)).as("s"))
      .select($"user_id", $"exact_cnt", $"s.i".as("i"), $"s.j".as("j"))
    lookups.join(broadcast(grid), Seq("i", "j"))
      .groupBy($"user_id", $"exact_cnt")
      .agg(min($"c").as("cms_est"))
      .select($"user_id", $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overcount"))
      .orderBy($"exact_cnt".desc, $"user_id")
  }

  val e13Sql: String = {
    def h(iExpr: String) = graft.functions.DetHash.sql60(
      s"'cms:' || CAST($iExpr AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
    s"""WITH r AS (SELECT unnest(range(4)) AS i),
       |grid AS (
       |  SELECT r.i AS i, ${h("r.i")} % 64 AS j, count(*) AS c
       |  FROM events CROSS JOIN r GROUP BY 1, 2),
       |pu AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id),
       |tot AS (SELECT sum(exact_cnt) AS n, count(*) AS n_users FROM pu),
       |hh AS (SELECT pu.user_id, pu.exact_cnt FROM pu, tot
       |       WHERE pu.exact_cnt * tot.n_users * 100 >= 115 * tot.n),
       |est AS (
       |  SELECT hh.user_id, hh.exact_cnt, min(g.c) AS cms_est
       |  FROM hh CROSS JOIN r
       |  JOIN grid g ON g.i = r.i AND g.j = ${h("r.i")} % 64
       |  GROUP BY hh.user_id, hh.exact_cnt)
       |SELECT user_id, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
       |FROM est ORDER BY exact_cnt DESC, user_id""".stripMargin
  }

  /** e14: sessionization via Spark's NATIVE `session_window` operator —
    * the built-in e2 hand-rolls with explicit windows. Both exist on
    * purpose: e2 pins the gaps-and-islands semantics relationally
    * (lag + running sum — portable to any engine), e14 exercises the
    * operator a Spark user should reach for first (one groupBy, merges
    * in the aggregation layer, and the SAME API runs incrementally
    * under Structured Streaming — EventStream's sessionize twin).
    * Boundary semantics match e2 exactly — an event at PRECISELY
    * last+gap still merges; only a strictly larger gap splits
    * (spec-verified with a planted exact-30-minute pair, since the
    * documented "[start, last+gap)" phrasing reads as if the boundary
    * event would split — it does not).
    *
    * One shuffle on user_id; no window-function sort pass — the
    * session merge happens inside the aggregation. */
  def e14SessionWindow(spark: SparkSession, dir: String,
                       gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    Tables.events(spark, dir)
      .groupBy($"user_id", session_window($"ts", s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(dec($"value")).cast("double"), 4).as("sum_value"))
      .select($"user_id",
        unix_micros($"sw.start").as("start_us"),
        (unix_micros($"sw.end") - gapUs).as("last_us"),
        $"n_events", $"sum_value")
  }

  /** e14 oracle: gaps-and-islands with e2's strict-`>` boundary. */
  val e14Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
      |  FROM flagged)
      |SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS last_us,
      |  count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
      |FROM sess GROUP BY user_id, seq
      |ORDER BY user_id, start_us""".stripMargin

  /** w5: daily activity with EXACT cumulative distinct users — the
    * growth-dashboard series. Naive count(DISTINCT) per expanding
    * prefix is quadratic (or an Expand at best); the first-touch
    * transform makes it linear: cumulative distinct users through day
    * D = users whose FIRST event is ≤ D, so one (user, day) partial
    * agg feeds daily totals, first-touch counts, and the running sum.
    * ONE scan of the fact table (the e10 lesson); the only
    * unpartitioned window runs over the ≤#days aggregate frame (the
    * t12 convention). */
  def w5CumeUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // a naive "days ⋈ firsts" both derived from the partials would
    // INLINE the un-materialized partial aggregate twice = two fact
    // scans (the optimizer shares nothing across DataFrame reuse) —
    // plan-shape-tested against. Instead: one scan → (user, day)
    // partials → user-window tags each row with the user's first day
    // → one day-level aggregate produces totals AND new-user counts.
    val pu = Tables.events(spark, dir)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("first_day",
        min($"day").over(Window.partitionBy($"user_id")))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pu.groupBy($"day")
      .agg(sum($"n").as("n_events"),
        sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("new_users"))
      .withColumn("cume_users", sum($"new_users").over(w))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_events", $"new_users", $"cume_users")
  }

  val w5Sql: String =
    """WITH pu AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |pw AS (
      |  SELECT day, n,
      |    CASE WHEN day = min(day) OVER (PARTITION BY user_id)
      |         THEN 1 ELSE 0 END AS is_first
      |  FROM pu),
      |d AS (
      |  SELECT day, CAST(sum(n) AS BIGINT) AS n_events,
      |    CAST(sum(is_first) AS BIGINT) AS new_users
      |  FROM pw GROUP BY day)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n_events, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume_users
      |FROM d ORDER BY day""".stripMargin

  /** z1: quadtree-cell profile of events under the z-order curve over
    * (user_id, epoch-hour) — the curve [[graft.sources.Layout
    * .zorderWrite]] clusters by. Each cell (top z bits = an aligned
    * user×time tile) reports its event/user mass and exact z extent:
    * the planning artifact a 100 TB compaction job reads to decide
    * tile split points, and the cross-engine proof that the
    * [[graft.functions.ZOrder]] bit-interleave (the layout's ordering
    * key) is deterministic down to every bit — z_min/z_max hash-match
    * DuckDB computing the same magic-mask spread.
    *
    * One shuffle: (cell, user) partials map-side combine, then the
    * tiny per-cell re-agg — distinct users without a count-DISTINCT
    * Expand (the d12 convention). The pruning BENEFIT of the layout
    * is measured in SourcesSpec (z-ordered vs 1-D-sorted file boxes +
    * actual scan-materialized rows under a box predicate). */
  def z1ZorderCells(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // hour index is OFFSET from the dataset's first hour: the raw
    // epoch hour's high bits are constant over any real time range, so
    // interleaving them would put every row in one tile — normalizing
    // dims to dense local offsets before the curve is how z-order
    // layouts are actually keyed. The anchor min is a scalar pre-agg
    // (at scale: a parquet footer-stats lookup, not a second scan).
    val ev = Tables.events(spark, dir)
      .select($"user_id",
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
    val h0 = ev.agg(min($"h").as("h0"))
    val z = graft.functions.ZOrder.zvalue($"user_id", $"h" - $"h0")
    val perUser = ev.crossJoin(broadcast(h0))
      .select(shiftright(z, 8).as("cell"), $"user_id", z.as("z"))
      .groupBy($"cell", $"user_id")
      .agg(count(lit(1)).as("n"), min($"z").as("zmin"), max($"z").as("zmax"))
    perUser.groupBy($"cell")
      .agg(sum($"n").as("n_events"), count(lit(1)).as("n_users"),
        min($"zmin").as("z_min"), max($"zmax").as("z_max"))
  }

  /** z1 oracle: the identical spread chain via [[graft.functions
    * .ZOrder.zvalueSql]]; `//` on non-negative BIGINTs matches Spark's
    * `div`. */
  val z1Sql: String = {
    val zExpr = graft.functions.ZOrder.zvalueSql("b.user_id", "(b.h - h0.h0)")
    s"""WITH b AS (
       |  SELECT user_id,
       |    (epoch_us(date_trunc('hour', ts)) // 3600000000) AS h
       |  FROM events),
       |h0 AS (SELECT min(h) AS h0 FROM b),
       |z AS (SELECT b.user_id, $zExpr AS z FROM b, h0),
       |pu AS (
       |  SELECT (z >> 8) AS cell, user_id, count(*) AS n,
       |         min(z) AS zmin, max(z) AS zmax
       |  FROM z GROUP BY 1, 2)
       |SELECT cell, CAST(sum(n) AS BIGINT) AS n_events,
       |  CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(min(zmin) AS BIGINT) AS z_min, CAST(max(zmax) AS BIGINT) AS z_max
       |FROM pu GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** Shared z2/z3 cell-statistics formation: the normalized (u, ho)
    * base frame plus the per-cell count/min/max stats frame (cell-
    * count-sized, referenced by both audits' touched legs, extent rows
    * and boxes frames — memoized under ONE key so each consumer reads
    * one materialization instead of re-scanning the fact table, and so
    * the two audits can never silently drift apart under that shared
    * key). */
  private def zCellStats(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id",
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
    val h0 = ev.agg(min($"h").as("h0"))
    val base = ev.crossJoin(broadcast(h0))
      .select($"user_id".as("u"), ($"h" - $"h0").as("ho"))
    val z = graft.functions.ZOrder.zvalue($"u", $"ho")
    val cells = graft.operators.Indexes.memo(s"z2_cells:$dir") {
      base
        .select(shiftright(z, 8).as("cell"), $"u", $"ho")
        .groupBy($"cell")
        .agg(count(lit(1)).as("n"), min($"u").as("min_u"), max($"u").as("max_u"),
          min($"ho").as("min_h"), max($"ho").as("max_h"))
    }
    (base, cells)
  }

  /** z2: DATA-SKIPPING audit of the z-order layout — for three box
    * predicates (user range × hour range), how many curve cells the
    * engine must touch going by per-cell per-dimension min/max stats
    * (exactly what parquet row-group pruning sees), how many rows
    * that scans, and how many actually match: skip_e6 is the fraction
    * of the table the layout lets a reader SKIP, false_pos_e6 the
    * scanned-but-useless fraction (stats-box false positives). This
    * is the audit a 100 TB lakehouse runs to decide whether an
    * OPTIMIZE ZORDER pass paid for itself — z1 plans the tiles, this
    * prices the read path over them. (SourcesSpec measures the same
    * effect physically on written files; this is the queryable,
    * oracle-checked form over the cell statistics.)
    *
    * Boxes derive from the data's own extent (low-user stripe,
    * early-time stripe, center tile) so the audit is scale-free and
    * deterministic. Shapes: the cell-stats frame is z1's one-shuffle
    * family; boxes are a 3-row broadcast; the exact-match pass is one
    * additional scan with the 3-row predicate frame broadcast against
    * it. All arithmetic exact integers. */
  def z2SkipAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, cells) = zCellStats(spark, dir)
    // extent/total derive from the CELL frame (sum/max over ≤cells
    // rows), not another corpus aggregate — one fewer base-table pass
    val ext = cells.agg(max($"max_u").as("mu"), max($"max_h").as("mh"),
      sum($"n").as("rows_total"))
    val boxes = ext.select(explode(array(
        struct(lit(1L).as("box_id"), lit(0L).as("lo_u"),
          expr("mu DIV 10").as("hi_u"), lit(0L).as("lo_h"), $"mh".as("hi_h")),
        struct(lit(2L).as("box_id"), lit(0L).as("lo_u"), $"mu".as("hi_u"),
          lit(0L).as("lo_h"), expr("mh DIV 10").as("hi_h")),
        struct(lit(3L).as("box_id"), expr("mu DIV 4").as("lo_u"),
          expr("mu DIV 2").as("hi_u"), expr("mh DIV 4").as("lo_h"),
          expr("mh DIV 2").as("hi_h")))).as("b"), $"rows_total")
      .select($"b.*", $"rows_total")
    val touched = cells.crossJoin(broadcast(boxes))
      .groupBy($"box_id", $"lo_u", $"hi_u", $"lo_h", $"hi_h", $"rows_total")
      .agg(count(lit(1)).as("n_cells"),
        sum(when($"max_u" >= $"lo_u" && $"min_u" <= $"hi_u" &&
          $"max_h" >= $"lo_h" && $"min_h" <= $"hi_h", 1L).otherwise(0L))
          .as("n_cells_touched"),
        sum(when($"max_u" >= $"lo_u" && $"min_u" <= $"hi_u" &&
          $"max_h" >= $"lo_h" && $"min_h" <= $"hi_h", $"n").otherwise(0L))
          .as("rows_scanned"))
    val matched = base.crossJoin(broadcast(boxes.select($"box_id".as("bid"),
        $"lo_u".as("blu"), $"hi_u".as("bhu"), $"lo_h".as("blh"), $"hi_h".as("bhh"))))
      .filter($"u" >= $"blu" && $"u" <= $"bhu" && $"ho" >= $"blh" && $"ho" <= $"bhh")
      .groupBy($"bid").agg(count(lit(1)).as("rows_matched"))
    val halfUp = graft.functions.IntMath.halfUpDiv _
    touched.join(matched, $"box_id" === $"bid", "left")
      .select($"box_id", $"lo_u", $"hi_u", $"lo_h", $"hi_h",
        $"n_cells", $"n_cells_touched", $"rows_total", $"rows_scanned",
        coalesce($"rows_matched", lit(0L)).as("rows_matched"))
      .withColumn("skip_e6",
        halfUp(($"rows_total" - $"rows_scanned") * 1000000L, $"rows_total"))
      .withColumn("false_pos_e6",
        halfUp(($"rows_scanned" - $"rows_matched") * 1000000L,
          greatest($"rows_scanned", lit(1L))))
      .orderBy("box_id")
  }

  /** z2 oracle: the same spread chain, cell stats, stats-box
    * intersection and exact-match counts. */
  val z2Sql: String = {
    val zExpr = graft.functions.ZOrder.zvalueSql("b.u", "b.ho")
    s"""WITH e AS (
       |  SELECT user_id AS u,
       |    (epoch_us(date_trunc('hour', ts)) // 3600000000) AS h
       |  FROM events),
       |h0 AS (SELECT min(h) AS h0 FROM e),
       |b AS (SELECT u, (h - h0.h0) AS ho FROM e, h0),
       |cz AS (SELECT u, ho, ($zExpr >> 8) AS cell FROM b),
       |cells AS (
       |  SELECT cell, count(*) AS n, min(u) AS min_u, max(u) AS max_u,
       |         min(ho) AS min_h, max(ho) AS max_h
       |  FROM cz GROUP BY cell),
       |ext AS (SELECT max(u) AS mu, max(ho) AS mh, count(*) AS rows_total FROM b),
       |boxes AS (
       |  SELECT 1 AS box_id, 0 AS lo_u, mu // 10 AS hi_u, 0 AS lo_h, mh AS hi_h, rows_total FROM ext
       |  UNION ALL SELECT 2, 0, mu, 0, mh // 10, rows_total FROM ext
       |  UNION ALL SELECT 3, mu // 4, mu // 2, mh // 4, mh // 2, rows_total FROM ext),
       |tch AS (
       |  SELECT box_id, lo_u, hi_u, lo_h, hi_h, rows_total,
       |    count(*) AS n_cells,
       |    sum(CASE WHEN c.max_u >= lo_u AND c.min_u <= hi_u
       |              AND c.max_h >= lo_h AND c.min_h <= hi_h THEN 1 ELSE 0 END) AS n_cells_touched,
       |    sum(CASE WHEN c.max_u >= lo_u AND c.min_u <= hi_u
       |              AND c.max_h >= lo_h AND c.min_h <= hi_h THEN c.n ELSE 0 END) AS rows_scanned
       |  FROM cells c, boxes GROUP BY 1, 2, 3, 4, 5, 6),
       |mt AS (
       |  SELECT box_id AS bid, count(*) AS rows_matched
       |  FROM b, boxes
       |  WHERE u >= lo_u AND u <= hi_u AND ho >= lo_h AND ho <= hi_h
       |  GROUP BY 1)
       |SELECT box_id, CAST(lo_u AS BIGINT) AS lo_u, CAST(hi_u AS BIGINT) AS hi_u,
       |  CAST(lo_h AS BIGINT) AS lo_h, CAST(hi_h AS BIGINT) AS hi_h,
       |  CAST(n_cells AS BIGINT) AS n_cells,
       |  CAST(n_cells_touched AS BIGINT) AS n_cells_touched,
       |  CAST(rows_total AS BIGINT) AS rows_total,
       |  CAST(rows_scanned AS BIGINT) AS rows_scanned,
       |  CAST(coalesce(mt.rows_matched, 0) AS BIGINT) AS rows_matched,
       |  CAST((2 * (rows_total - rows_scanned) * 1000000 + rows_total)
       |       // (2 * rows_total) AS BIGINT) AS skip_e6,
       |  CAST((2 * (rows_scanned - coalesce(mt.rows_matched, 0)) * 1000000 + greatest(rows_scanned, 1))
       |       // (2 * greatest(rows_scanned, 1)) AS BIGINT) AS false_pos_e6
       |FROM tch LEFT JOIN mt ON mt.bid = tch.box_id
       |ORDER BY box_id""".stripMargin
  }

  /** z3: LAYOUT DECISION TABLE — z2 prices ONE layout (z-order);
    * this prices the CHOICE: for the same three probe boxes, how many
    * files does each candidate layout let the reader skip?
    *   by_user — rows bucketed by user range (a linear sort on the
    *             entity key: perfect for user probes, blind to time);
    *   by_time — bucketed by hour range (ingestion order: perfect for
    *             time probes, blind to users);
    *   zorder  — z2's interleaved cells (balanced on both).
    * The (layout × box) skip grid is the artifact a table owner
    * reads before choosing a sort spec — the s32 pattern (collapse
    * the priced alternatives into one decision table) applied to
    * data layout.
    *
    * Scale shape: one corpus pass per layout (3 total, each a
    * map-side-combinable rollup to a files-count-sized frame — the
    * z cells frame is the SAME memoized artifact z2 reads); boxes
    * derive from the cell frame's extents (no extra corpus pass);
    * intersection = files × 3-row broadcast. Integer-exact. */
  def z3LayoutTable(spark: SparkSession, dir: String, targetFiles: Int = 64): DataFrame = {
    import spark.implicits._
    val (base, cells) = zCellStats(spark, dir)
    val ext = cells.agg(max($"max_u").as("mu"), max($"max_h").as("mh"),
      sum($"n").as("rows_total"))
    def bucketed(key: String, tag: String): DataFrame =
      graft.operators.Indexes.memo(s"z3_${tag}_files:$dir:$targetFiles") {
        base.crossJoin(broadcast(ext.select($"mu", $"mh")))
          .select(expr(s"$key DIV (${if (key == "u") "mu" else "mh"} DIV $targetFiles + 1)")
            .as("f"), $"u", $"ho")
          .groupBy($"f")
          .agg(count(lit(1)).as("n"), min($"u").as("min_u"), max($"u").as("max_u"),
            min($"ho").as("min_h"), max($"ho").as("max_h"))
      }
    val frames = Seq(
      ("by_user", bucketed("u", "u")),
      ("by_time", bucketed("ho", "h")),
      ("zorder", cells)
    ).map { case (tag, df) =>
      df.select(lit(tag).as("layout"), $"n", $"min_u", $"max_u", $"min_h", $"max_h")
    }.reduce(_ unionAll _)
    val boxes = ext.select(explode(array(
        struct(lit(1L).as("box_id"), lit(0L).as("lo_u"),
          expr("mu DIV 10").as("hi_u"), lit(0L).as("lo_h"), $"mh".as("hi_h")),
        struct(lit(2L).as("box_id"), lit(0L).as("lo_u"), $"mu".as("hi_u"),
          lit(0L).as("lo_h"), expr("mh DIV 10").as("hi_h")),
        struct(lit(3L).as("box_id"), expr("mu DIV 4").as("lo_u"),
          expr("mu DIV 2").as("hi_u"), expr("mh DIV 4").as("lo_h"),
          expr("mh DIV 2").as("hi_h")))).as("b"), $"rows_total")
      .select($"b.*", $"rows_total")
    val hit = $"max_u" >= $"lo_u" && $"min_u" <= $"hi_u" &&
      $"max_h" >= $"lo_h" && $"min_h" <= $"hi_h"
    val halfUp = graft.functions.IntMath.halfUpDiv _
    frames.crossJoin(broadcast(boxes))
      .groupBy($"layout", $"box_id", $"rows_total")
      .agg(count(lit(1)).as("n_files"),
        sum(when(hit, 1L).otherwise(0L)).as("files_touched"),
        sum(when(hit, $"n").otherwise(0L)).as("rows_scanned"))
      .select($"layout", $"box_id", $"n_files", $"files_touched", $"rows_scanned",
        halfUp(($"rows_total" - $"rows_scanned") * 1000000L, $"rows_total")
          .as("skip_e6"))
      .orderBy($"layout", $"box_id")
  }

  /** z3 oracle: z2's spread/cell/box chain + the two range-bucket
    * file frames + the same intersection rollup per layout. */
  val z3Sql: String = {
    val zExpr = graft.functions.ZOrder.zvalueSql("b.u", "b.ho")
    s"""WITH e AS (
       |  SELECT user_id AS u,
       |    (epoch_us(date_trunc('hour', ts)) // 3600000000) AS h
       |  FROM events),
       |h0 AS (SELECT min(h) AS h0 FROM e),
       |b AS (SELECT u, (h - h0.h0) AS ho FROM e, h0),
       |cz AS (SELECT u, ho, ($zExpr >> 8) AS cell FROM b),
       |cells AS (
       |  SELECT cell, count(*) AS n, min(u) AS min_u, max(u) AS max_u,
       |         min(ho) AS min_h, max(ho) AS max_h
       |  FROM cz GROUP BY cell),
       |ext AS (SELECT max(max_u) AS mu, max(max_h) AS mh, sum(n) AS rows_total FROM cells),
       |fu AS (
       |  SELECT u // (mu // 64 + 1) AS f, count(*) AS n, min(u) AS min_u,
       |         max(u) AS max_u, min(ho) AS min_h, max(ho) AS max_h
       |  FROM b, ext GROUP BY 1),
       |fh AS (
       |  SELECT ho // (mh // 64 + 1) AS f, count(*) AS n, min(u) AS min_u,
       |         max(u) AS max_u, min(ho) AS min_h, max(ho) AS max_h
       |  FROM b, ext GROUP BY 1),
       |frames AS (
       |  SELECT 'by_user' AS layout, n, min_u, max_u, min_h, max_h FROM fu
       |  UNION ALL SELECT 'by_time', n, min_u, max_u, min_h, max_h FROM fh
       |  UNION ALL SELECT 'zorder', n, min_u, max_u, min_h, max_h FROM cells),
       |boxes AS (
       |  SELECT 1 AS box_id, 0 AS lo_u, mu // 10 AS hi_u, 0 AS lo_h, mh AS hi_h, rows_total FROM ext
       |  UNION ALL SELECT 2, 0, mu, 0, mh // 10, rows_total FROM ext
       |  UNION ALL SELECT 3, mu // 4, mu // 2, mh // 4, mh // 2, rows_total FROM ext)
       |SELECT layout, CAST(box_id AS BIGINT) AS box_id,
       |  CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN max_u >= lo_u AND min_u <= hi_u
       |           AND max_h >= lo_h AND min_h <= hi_h THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
       |  CAST(sum(CASE WHEN max_u >= lo_u AND min_u <= hi_u
       |           AND max_h >= lo_h AND min_h <= hi_h THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST((2 * (rows_total - sum(CASE WHEN max_u >= lo_u AND min_u <= hi_u
       |           AND max_h >= lo_h AND min_h <= hi_h THEN n ELSE 0 END)) * 1000000 + rows_total)
       |       // (2 * rows_total) AS BIGINT) AS skip_e6
       |FROM frames, boxes GROUP BY layout, box_id, rows_total
       |ORDER BY layout, box_id""".stripMargin
  }

  /** e15: first-order Markov transition matrix over per-user event
    * sequences — the behavioral-sequence statistic (next-action
    * prediction priors, journey analysis, and the bigram counts a
    * session-sequence language model trains on). Each user's events
    * ordered by (ts, event_id) yield (from → to) bigrams via `lead`;
    * transition probability = row-normalized count, ×1e6 round-half-up
    * ([[graft.functions.IntMath.halfUpDiv]]) so the matrix is exact
    * integer arithmetic end to end.
    *
    * Scale shape: ONE shuffle of the fact table on user_id for the
    * sequence window (pre-bucketed event stores skip even that), then
    * a map-side-combined agg collapses corpus-sized bigrams to the
    * ≤|types|² matrix; the row-normalizing window runs over that tiny
    * aggregate frame only (the t12 convention — never over raw rows).
    */
  def e15Markov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val bi = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(seq))
      .filter($"to_type".isNotNull)
    val counts = bi.groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
    val row = Window.partitionBy($"from_type")
    counts
      .withColumn("p_e6", graft.functions.IntMath.halfUpDiv(
        $"n" * 1000000L, sum($"n").over(row)))
      .select($"from_type", $"to_type", $"n", $"p_e6")
      .orderBy("from_type", "to_type")
  }

  /** e15 oracle: the same lead-bigram chain; numerators are positive
    * so DuckDB's truncating `//` IS floor and `(2n+d)//(2d)` is the
    * identical half-up division. */
  val e15Sql: String =
    """WITH bi AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n FROM bi
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |  CAST((2 * n * 1000000 + sum(n) OVER (PARTITION BY from_type))
      |    // (2 * sum(n) OVER (PARTITION BY from_type)) AS BIGINT) AS p_e6
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** e16: per-user sequence likelihood under e15's transition matrix
    * — the model→score pairing (t20→t21's shape for behavior): each
    * user's journey is scored by the mean and minimum transition
    * probability of its steps. Low mean = atypical journey (bot
    * traffic, broken instrumentation, a new flow the model hasn't
    * seen); the min pinpoints the single most surprising hop. This is
    * the anomaly companion to e12: e12 flags WHEN volume deviates,
    * e16 flags WHO behaves off-pattern.
    *
    * Scale shape: the "model" is e15's ≤|types|² matrix → BROADCAST
    * hash join onto the bigram stream (never a shuffle of the fact by
    * matrix key); the fact shuffles once on user_id for the sequence
    * window, and the per-user agg map-side combines. Users with one
    * event have no transitions and drop out (scored elsewhere by
    * volume, not sequence). Integer-exact: scores are half-up means
    * of e15's ×1e6 cells. */
  def e16SeqLikelihood(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = e15Markov(spark, dir).select($"from_type", $"to_type", $"p_e6")
    val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val bi = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("from_type"))
      .withColumn("to_type", lead($"from_type", 1).over(seq))
      .filter($"to_type".isNotNull)
    bi.join(broadcast(model), Seq("from_type", "to_type"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_trans"),
        graft.functions.IntMath.halfUpDiv(sum($"p_e6"), count(lit(1)))
          .as("mean_p_e6"),
        min($"p_e6").as("min_p_e6"))
  }

  /** e16 oracle: e15's oracle as the model CTE, the same bigram
    * stream, half-up integer mean. */
  val e16Sql: String =
    s"""WITH m AS ($e15Sql),
       |bi AS (
       |  SELECT user_id, event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |j AS (
       |  SELECT bi.user_id, m.p_e6 FROM bi
       |  JOIN m ON m.from_type = bi.from_type AND m.to_type = bi.to_type)
       |SELECT user_id, count(*) AS n_trans,
       |  CAST((2 * sum(p_e6) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_p_e6,
       |  CAST(min(p_e6) AS BIGINT) AS min_p_e6
       |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  /** e17: complex-event-pattern matching — the MATCH_RECOGNIZE / CEP
    * primitive (Flink CEP's core shape) expressed relationally: each
    * user's journey, ordered by (ts, event_id), is rendered as a
    * comma-terminated type string and scanned by regex for business
    * patterns — the browse-to-buy journey `view (click)* purchase`
    * and the failure streak `error error+`. Output is the per-user
    * pattern profile (journeys completed, error streaks, total
    * events) a CEP alert rule or cohort definition consumes; unlike
    * e3's fixed 3-step funnel this counts EVERY non-overlapping
    * occurrence of an arbitrary regular pattern, Kleene stars
    * included.
    *
    * Scale shape: ONE fact shuffle on user_id (the e15 sequence
    * family); the journey string is a partially-aggregated
    * collect+sort bounded by per-user activity (in production,
    * sessionize first — e2 — so the unit is a session, not an
    * unbounded history). The pattern scan is a codegen'd projection
    * over per-user strings — cost ∝ total events, zero extra
    * shuffles. Patterns are RE2-safe (no backrefs/lookaround, the
    * t10 convention) and ambiguity-free, so greedy leftmost
    * non-overlapping counting agrees bit-for-bit across engines. */
  def e17PatternMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val journeyRe = "view,(?:click,)*purchase,"
    val streakRe = "error,(?:error,)+"
    val seq = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        concat(array_join(transform(
          sort_array(collect_list(struct($"ts", $"event_id", $"event_type"))),
          e => e("event_type")), ","), lit(",")).as("s"))
    seq.select($"user_id", $"n_events",
        size(regexp_extract_all($"s", lit(journeyRe), lit(0)))
          .cast("long").as("n_journeys"),
        size(regexp_extract_all($"s", lit(streakRe), lit(0)))
          .cast("long").as("n_error_streaks"))
  }

  /** e18: DAU / WAU / stickiness — the growth dashboard's headline
    * ratio (DAU÷WAU, Meta's classic engagement metric), EXACT. The
    * trap at scale is the sliding 7-day DISTINCT: per-day
    * `count(DISTINCT user)` over a window is either a quadratic
    * self-join or an approximate sketch. The exact linear form used
    * here is the COVERAGE transform: each (user, active-day) pair
    * covers days d..d+6, so WAU(D) = distinct (user, covered-day)
    * count — turning the sliding distinct into two ordinary
    * map-side-combinable aggregations.
    *
    * Scale shape: the fact table collapses to the (user, day) pair
    * frame in one distinct (∝ active pairs, not events); the ×7
    * coverage explode runs over that compact frame, never the raw
    * events; both counts are plain aggs. Nothing quadratic, no
    * sketch, no per-day re-scan. w5's first-touch transform is the
    * cumulative cousin; this is the sliding one. */
  def e18Stickiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select($"user_id", explode(expr("sequence(0, 6)")).as("i"), $"day")
      .select($"user_id", expr("date_add(day, i)").as("day")).distinct()
      .groupBy($"day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"dau", $"wau",
        graft.functions.IntMath.halfUpDiv($"dau" * 1000000L, $"wau")
          .as("stickiness_e6"))
  }

  /** e18 oracle: the identical coverage transform (DATE + i adds
    * days in DuckDB); WAU rows beyond the last active day drop in
    * the inner join exactly as in the Spark plan. */
  val e18Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      |cov AS (
      |  SELECT DISTINCT user_id, ud.day + CAST(t.i AS INTEGER) AS day
      |  FROM ud, range(0, 7) t(i)),
      |wau AS (SELECT day, count(*) AS wau FROM cov GROUP BY day)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day,
      |  CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
      |  CAST((2 * d.dau * 1000000 + w.wau) // (2 * w.wau) AS BIGINT) AS stickiness_e6
      |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin

  /** w6: U-shaped MULTI-TOUCH attribution — e5's last-touch model
    * generalized to the position-based (40/20/40) credit split every
    * marketing/growth stack ships: for each purchase, the view/click
    * touches in the 7-day lookback window share the conversion
    * credit — first touch 40%, last touch 40%, middle touches split
    * the remaining 20% evenly (one touch takes 100%, two split
    * 50/50). Credit is ×1e6 half-up integer so per-touch rows sum to
    * the conversion total exactly (±rounding), cross-engine.
    *
    * Scale shape: touches⋈purchases is a PER-USER range join — both
    * sides shuffle once on user_id and the time predicate runs
    * inside the partition (the e7 family; a user's 7-day touch
    * window is activity-bounded). Position ranks are windows over
    * per-conversion groups — already co-partitioned by the join key,
    * no extra exchange. Nothing global, nothing quadratic across
    * users. */
  def w6MultiTouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val conv = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("conv_id"), $"ts".as("conv_ts"))
    val touch = ev.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id".as("touch_id"),
        $"event_type".as("touch_type"), $"ts".as("touch_ts"))
    val joined = conv.join(touch, Seq("user_id"))
      .filter($"touch_ts" < $"conv_ts" &&
        $"touch_ts" >= $"conv_ts" - expr("INTERVAL 7 DAYS"))
    val byConv = Window.partitionBy($"conv_id")
    val pos = joined
      .withColumn("rk", row_number().over(
        byConv.orderBy($"touch_ts", $"touch_id")))
      .withColumn("n", count(lit(1)).over(byConv))
    pos.select($"user_id", $"conv_id", $"touch_id", $"touch_type",
        when($"n" === 1, lit("only"))
          .when($"rk" === 1, lit("first"))
          .when($"rk" === $"n", lit("last"))
          .otherwise(lit("middle")).as("position"),
        when($"n" === 1, lit(1000000L))
          .when($"n" === 2, lit(500000L))
          .when($"rk" === 1 || $"rk" === $"n", lit(400000L))
          .otherwise(graft.functions.IntMath.halfUpDiv(
            lit(200000L), $"n" - 2)).as("credit_e6"))
  }

  /** w6 oracle: the same per-user range join and position windows;
    * numerators are positive so `(2n+d)//(2d)` is half-up. */
  val w6Sql: String =
    """WITH conv AS (
      |  SELECT user_id, event_id AS conv_id, ts AS conv_ts
      |  FROM events WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT user_id, event_id AS touch_id, event_type AS touch_type, ts AS touch_ts
      |  FROM events WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT c.user_id, c.conv_id, t.touch_id, t.touch_type,
      |    row_number() OVER (PARTITION BY c.conv_id ORDER BY t.touch_ts, t.touch_id) AS rk,
      |    count(*) OVER (PARTITION BY c.conv_id) AS n
      |  FROM conv c JOIN touch t ON t.user_id = c.user_id
      |    AND t.touch_ts < c.conv_ts
      |    AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY)
      |SELECT user_id, conv_id, touch_id, touch_type,
      |  CASE WHEN n = 1 THEN 'only' WHEN rk = 1 THEN 'first'
      |       WHEN rk = n THEN 'last' ELSE 'middle' END AS position,
      |  CAST(CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000
      |       WHEN rk = 1 OR rk = n THEN 400000
      |       ELSE (2 * 200000 + (n - 2)) // (2 * (n - 2)) END AS BIGINT) AS credit_e6
      |FROM j ORDER BY conv_id, touch_id""".stripMargin

  /** e17 oracle: ordered string_agg builds the identical journey
    * string; DuckDB's RE2 and Spark's java.util.regex agree on these
    * backtracking-free patterns. */
  val e17Sql: String =
    """WITH s AS (
      |  SELECT user_id, count(*) AS n_events,
      |    string_agg(event_type, ',' ORDER BY ts, event_id) || ',' AS s
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
      |  CAST(len(regexp_extract_all(s, 'view,(?:click,)*purchase,')) AS BIGINT) AS n_journeys,
      |  CAST(len(regexp_extract_all(s, 'error,(?:error,)+')) AS BIGINT) AS n_error_streaks
      |FROM s ORDER BY user_id""".stripMargin

  /** e19: top event-type TRIGRAM paths — the order-2 sequence-mining
    * companion to e15's order-1 Markov matrix: the 20 most common
    * 3-step journeys across all users, each with its share of all
    * trigrams ×1e6. Product analytics' "common paths" report, and the
    * empirical check of e15's first-order assumption (a trigram far
    * off the chained bigram product = memory the Markov model
    * misses).
    *
    * Shape: ONE shuffle on user_id; both lead() steps and the
    * per-user boundary filter ride the SAME window sort, then the
    * trigram counts map-side-combine to ≤ |types|³ rows. The global
    * top-20 orders that tiny aggregate (types³ ≤ a few thousand rows
    * — metadata-sized, the t12 single-tiny-window convention), never
    * the events. Deterministic tie-break: (n desc, path asc). */
  def e19TopPaths(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tri = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("t2", lead($"event_type", 1).over(seq))
      .withColumn("t3", lead($"event_type", 2).over(seq))
      .filter($"t3".isNotNull)
      .select(concat_ws(">", $"event_type", $"t2", $"t3").as("path"))
    val counts = tri.groupBy($"path").agg(count(lit(1)).as("n"))
    val all = Window.partitionBy()
    counts
      .withColumn("share_e6", graft.functions.IntMath.halfUpDiv(
        $"n" * 1000000L, sum($"n").over(all)))
      .withColumn("rank", row_number().over(
        Window.partitionBy().orderBy($"n".desc, $"path".asc)))
      .filter($"rank" <= k)
      .select($"rank", $"path", $"n", $"share_e6")
      .orderBy("rank")
  }

  /** e19 oracle: the same double-lead trigram chain; half-up share
    * over the global trigram total. */
  val e19Sql: String =
    """WITH tri AS (
      |  SELECT event_type || '>' ||
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) || '>' ||
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS path,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
      |  FROM events),
      |c AS (
      |  SELECT path, count(*) AS n FROM tri
      |  WHERE t3 IS NOT NULL GROUP BY 1),
      |r AS (
      |  SELECT path, n,
      |    CAST((2 * n * 1000000 + sum(n) OVER ()) // (2 * sum(n) OVER ()) AS BIGINT) AS share_e6,
      |    row_number() OVER (ORDER BY n DESC, path ASC) AS rank
      |  FROM c)
      |SELECT rank, path, CAST(n AS BIGINT) AS n, share_e6
      |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** e20: event-time DISORDER audit — per user: how many events
    * arrive with an event time OLDER than something already seen, and
    * by how much. This is the empirical input to every watermark in
    * the streaming block: `withWatermark(delay)` silently drops
    * events later than `delay`, so the delay must be chosen from the
    * observed disorder distribution — max(max_disorder_us) over this
    * result IS the smallest safe watermark for the corpus.
    *
    * Arrival order: the testdata's ingest sequence (`event_id`) is
    * exactly time-ordered, which would make the audit vacuously zero,
    * so arrival is modeled as ts + a DETERMINISTIC hash-derived
    * ingest delay (md5(event_id) mod 6 h — offline-device buffering /
    * batched retry, the realistic mobile-analytics arrival shape, in
    * the m20/m22 simulated-drift idiom; a real deployment feeds its
    * true arrival sequence, e.g. the Kafka offset, as `arr_us`).
    * Lateness under that arrival order is exact integer microseconds.
    *
    * Shape: ONE shuffle on user_id — the running-max window and the
    * per-user aggregation ride the same partitioning (w4's shape);
    * the rowsBetween(…, -1) frame is a running max, O(1) per row, not
    * a re-scan. */
  def e20DisorderAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byArrival = Window.partitionBy($"user_id")
      .orderBy($"arr_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .withColumn("arr_us", $"ts_us" +
        pmod(graft.functions.DetHash.md5Long60Col($"event_id".cast("string")),
          lit(21600000000L)))
      .withColumn("prev_max", max($"ts_us").over(byArrival))
      .select($"user_id",
        when($"prev_max".isNotNull && $"ts_us" < $"prev_max",
          $"prev_max" - $"ts_us").otherwise(0L).as("disorder_us"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"disorder_us" > 0L, 1L).otherwise(0L)).as("n_late"),
        max($"disorder_us").as("max_disorder_us"))
      .select($"user_id", $"n_events", $"n_late", $"max_disorder_us",
        graft.functions.IntMath.halfUpDiv($"n_late" * 1000000L, $"n_events")
          .as("late_e6"))
  }

  /** e20 oracle: identical jitter hash, running max, integer ratios. */
  val e20Sql: String =
    s"""WITH a AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    epoch_us(ts) + ${graft.functions.DetHash.sql60("CAST(event_id AS VARCHAR)")} % 21600000000 AS arr_us
       |  FROM events),
       |m AS (
       |  SELECT user_id, ts_us,
       |    max(ts_us) OVER (PARTITION BY user_id ORDER BY arr_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM a),
       |d AS (
       |  SELECT user_id,
       |    CASE WHEN prev_max IS NOT NULL AND ts_us < prev_max
       |         THEN prev_max - ts_us ELSE 0 END AS disorder_us
       |  FROM m)
       |SELECT user_id, count(*) AS n_events,
       |  CAST(sum(CASE WHEN disorder_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       |  max(disorder_us) AS max_disorder_us,
       |  CAST((2 * sum(CASE WHEN disorder_us > 0 THEN 1 ELSE 0 END) * 1000000 + count(*))
       |       // (2 * count(*)) AS BIGINT) AS late_e6
       |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  /** e39: WATERMARK DELAY PLAN — the config decision table for every
    * streaming twin in this library: under e20's deterministic
    * arrival model (event time + hashed 0–6 h ingest jitter), how
    * many events would Spark's watermark DROP at each candidate
    * delay? Spark drops an event iff its event time is below the
    * stream's max-seen event time minus the delay at arrival — i.e.
    * iff its GLOBAL arrival-order lateness exceeds the delay. The
    * output row per candidate (15 m / 1 h / 2 h / 4 h / 6 h) carries
    * the exact drop count and rate, and flags the smallest delay
    * whose drop rate meets the budget (default 1%) — e20 measures
    * disorder, e39 turns it into the `withWatermark` argument.
    *
    * Scale shape: the global running max is computed TWO-LEVEL (the
    * blockCum argument): an hour-bucketed local running max
    * (arrival-hour partitions) + a calendar-sized cumulative
    * hour-max frame broadcast back — bit-identical to the oracle's
    * single global window because hour blocks tile arrival order;
    * the only partition-less windows run over the hour calendar and
    * the 5-row candidate frame (aggregate-bounded, whitelist-pinned).
    * One events scan; counting is one map-side-combinable aggregate. */
  def e39WatermarkPlan(spark: SparkSession, dir: String,
                       budgetE6: Long = 10000L): DataFrame = {
    import spark.implicits._
    val delays = Seq(900L, 3600L, 7200L, 14400L, 21600L)
    val floor = lit(Long.MinValue / 4)
    val ev = Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("ts_us"))
      .withColumn("arr_us", $"ts_us" +
        pmod(graft.functions.DetHash.md5Long60Col($"event_id".cast("string")),
          lit(21600000000L)))
      .withColumn("ah", expr("arr_us div 3600000000"))
    val hourMax = ev.groupBy($"ah").agg(max($"ts_us").as("hmax"))
    val hw = Window.orderBy($"ah").rowsBetween(Window.unboundedPreceding, -1)
    val hcum = hourMax.select($"ah", coalesce(max($"hmax").over(hw), floor).as("carry"))
    val ew = Window.partitionBy($"ah").orderBy($"arr_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = ev.join(broadcast(hcum), "ah")
      .withColumn("prev_max",
        greatest(coalesce(max($"ts_us").over(ew), floor), $"carry"))
      .select(when($"prev_max" > $"ts_us", $"prev_max" - $"ts_us")
        .otherwise(0L).as("late_us"))
    val aggs = count(lit(1)).as("n_events") +:
      delays.map(d => sum(when($"late_us" > d * 1000000L, 1L).otherwise(0L)).as(s"d$d"))
    val wide = late.agg(aggs.head, aggs.tail: _*)
    val melted = wide.select(explode(array(delays.map(d =>
        struct(lit(d).as("delay_s"), $"n_events", col(s"d$d").as("n_dropped"))): _*)).as("r"))
      .select($"r.delay_s", $"r.n_events", $"r.n_dropped",
        graft.functions.IntMath.halfUpDiv($"r.n_dropped" * 1000000L, $"r.n_events")
          .as("drop_e6"))
    val all = Window.partitionBy()
    melted
      .withColumn("rec",
        min(when($"drop_e6" <= budgetE6, $"delay_s")).over(all))
      .select($"delay_s", $"n_events", $"n_dropped", $"drop_e6",
        when($"delay_s" === $"rec", 1L).otherwise(0L).as("recommended"))
      .orderBy($"delay_s")
  }

  /** e39 oracle: e20's jitter model + ONE global arrival-order
    * running max (the two-level Spark formation collapses to this by
    * construction), candidate thresholds, budget pick. */
  val e39Sql: String =
    s"""WITH a AS (
       |  SELECT event_id, epoch_us(ts) AS ts_us,
       |    epoch_us(ts) + ${graft.functions.DetHash.sql60("CAST(event_id AS VARCHAR)")} % 21600000000 AS arr_us
       |  FROM events),
       |m AS (
       |  SELECT ts_us,
       |    max(ts_us) OVER (ORDER BY arr_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM a),
       |l AS (
       |  SELECT CASE WHEN prev_max IS NOT NULL AND prev_max > ts_us
       |              THEN prev_max - ts_us ELSE 0 END AS late_us
       |  FROM m),
       |g AS (
       |  SELECT count(*) AS n,
       |    sum(CASE WHEN late_us > 900000000 THEN 1 ELSE 0 END) AS d900,
       |    sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS d3600,
       |    sum(CASE WHEN late_us > 7200000000 THEN 1 ELSE 0 END) AS d7200,
       |    sum(CASE WHEN late_us > 14400000000 THEN 1 ELSE 0 END) AS d14400,
       |    sum(CASE WHEN late_us > 21600000000 THEN 1 ELSE 0 END) AS d21600
       |  FROM l),
       |t AS (
       |  SELECT 900 AS delay_s, n AS n_events, d900 AS n_dropped FROM g
       |  UNION ALL SELECT 3600, n, d3600 FROM g
       |  UNION ALL SELECT 7200, n, d7200 FROM g
       |  UNION ALL SELECT 14400, n, d14400 FROM g
       |  UNION ALL SELECT 21600, n, d21600 FROM g),
       |t2 AS (
       |  SELECT delay_s, n_events, n_dropped,
       |    CAST((2 * n_dropped * 1000000 + n_events) // (2 * n_events) AS BIGINT) AS drop_e6
       |  FROM t)
       |SELECT CAST(delay_s AS BIGINT) AS delay_s,
       |  CAST(n_events AS BIGINT) AS n_events,
       |  CAST(n_dropped AS BIGINT) AS n_dropped, drop_e6,
       |  CAST(CASE WHEN delay_s = (SELECT min(delay_s) FROM t2 WHERE drop_e6 <= 10000)
       |       THEN 1 ELSE 0 END AS BIGINT) AS recommended
       |FROM t2 ORDER BY delay_s""".stripMargin

  /** e21: CHURN / RECENCY BUCKETS — every user's hours since last
    * activity, measured against the corpus's own end of time (the
    * max event ts — a wall-clock "now" would make the result
    * non-reproducible), rolled into recency cohorts keyed by their
    * lower bound (0–5 / 6–11 / 12–23 / 24–47 / 48+ hours) with
    * per-bucket user share ×1e6. e8's retention reads cohorts
    * forward from signup; this reads them backward from now — the
    * re-engagement targeting / DAU-decay view. Hour granularity
    * because recency decays on engagement timescales (day buckets
    * collapse this corpus's 30-day window into one cell).
    *
    * Scale shape: one map-side-combined per-user max + the corpus
    * end as a 1-row broadcast (re-deriving the per-user frame — the
    * two-pass q30 shape, bound 2); idle hours are exact integer
    * microsecond arithmetic (w4's convention); the share window sits
    * over the ≤5-row bucket frame (whitelisted — bucket-domain-
    * bounded). */
  def e21Churn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id").agg(unix_micros(max($"ts")).as("last_us"))
    val endF = perUser.agg(max($"last_us").as("end_us"))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perUser.crossJoin(broadcast(endF))
      .select($"user_id",
        expr("(end_us - last_us) DIV 3600000000").as("hours_idle"))
      .withColumn("idle_hours_ge",
        when($"hours_idle" <= 5L, 0L).when($"hours_idle" <= 11L, 6L)
          .when($"hours_idle" <= 23L, 12L).when($"hours_idle" <= 47L, 24L)
          .otherwise(48L))
      .groupBy($"idle_hours_ge").agg(count(lit(1)).as("n_users"))
      .withColumn("total", sum($"n_users").over(w))
      .select($"idle_hours_ge", $"n_users",
        halfUp($"n_users" * 1000000L, $"total").as("share_e6"))
      .orderBy("idle_hours_ge")
  }

  /** e21 oracle: same per-user max / corpus-end / integer-hour
    * buckets / share arithmetic. */
  val e21Sql: String =
    """WITH pu AS (SELECT user_id, epoch_us(max(ts)) AS last_us FROM events GROUP BY 1),
      |en AS (SELECT max(last_us) AS end_us FROM pu),
      |d AS (
      |  SELECT user_id, (en.end_us - pu.last_us) // 3600000000 AS hours_idle
      |  FROM pu, en),
      |b AS (
      |  SELECT CASE WHEN hours_idle <= 5 THEN 0 WHEN hours_idle <= 11 THEN 6
      |              WHEN hours_idle <= 23 THEN 12 WHEN hours_idle <= 47 THEN 24
      |              ELSE 48 END AS idle_hours_ge,
      |         count(*) AS n_users
      |  FROM d GROUP BY 1)
      |SELECT CAST(idle_hours_ge AS BIGINT) AS idle_hours_ge,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  CAST((2*(n_users*1000000) + (SELECT sum(n_users) FROM b))
      |       // (2*(SELECT sum(n_users) FROM b)) AS BIGINT) AS share_e6
      |FROM b ORDER BY idle_hours_ge""".stripMargin

  /** e22: EVENT-MIX SHIFT — per (week, event_type), this week's
    * traffic share vs last week's, with the signed ×1e6 delta: the
    * categorical-drift monitor (did purchases' share of traffic move,
    * or just traffic?) that complements e12's per-type volume
    * anomalies — a mix SHIFT with flat volume is invisible to volume
    * z-tests and is usually instrumentation drift (a client release
    * renaming/dropping an event). Weeks are epoch-microsecond DIV
    * 7 days (integer-exact both engines); a type absent last week
    * reports prev share 0; the corpus's first week is dropped (no
    * prior — w7's convention).
    *
    * Scale shape: ONE fact scan to the (weeks × types)-sized share
    * frame (map-side-combined counts + a week-PARTITIONED total
    * window), then the frame is localCheckpoint-ed — its three
    * consumers (self, the week+1 shifted copy, the min-week scalar)
    * would otherwise re-derive the scan each (the j2 lazy-lineage
    * disease); everything downstream is tiny-frame joins. */
  def e22MixShift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val wt = Window.partitionBy($"week")
    val shares = graft.operators.State.cut(Tables.events(spark, dir)
      .groupBy(expr("unix_micros(ts) DIV 604800000000").as("week"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum($"n").over(wt))
      .select($"week", $"event_type", $"n",
        halfUp($"n" * 1000000L, $"total").as("share_e6")))
    val prev = shares.select(($"week" + 1L).as("week"), $"event_type",
      $"share_e6".as("prev_share_e6"))
    val minF = shares.agg(min($"week").as("w0"))
    shares.join(prev, Seq("week", "event_type"), "left")
      .crossJoin(broadcast(minF))
      .filter($"week" > $"w0")
      .select($"week", $"event_type", $"n", $"share_e6",
        coalesce($"prev_share_e6", lit(0L)).as("prev_share_e6"),
        ($"share_e6" - coalesce($"prev_share_e6", lit(0L))).as("delta_e6"))
  }

  /** e22 oracle: same week bucketing, share arithmetic and
    * previous-week self-join. */
  val e22Sql: String =
    """WITH wk AS (
      |  SELECT epoch_us(ts) // 604800000000 AS week, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |sh AS (
      |  SELECT week, event_type, n,
      |    CAST((2*(n*1000000) + sum(n) OVER (PARTITION BY week))
      |         // (2*sum(n) OVER (PARTITION BY week)) AS BIGINT) AS share_e6
      |  FROM wk)
      |SELECT s.week, s.event_type, CAST(s.n AS BIGINT) AS n, s.share_e6,
      |  CAST(coalesce(p.share_e6, 0) AS BIGINT) AS prev_share_e6,
      |  CAST(s.share_e6 - coalesce(p.share_e6, 0) AS BIGINT) AS delta_e6
      |FROM sh s
      |LEFT JOIN sh p ON p.week = s.week - 1 AND p.event_type = s.event_type
      |WHERE s.week > (SELECT min(week) FROM sh)
      |ORDER BY s.week, s.event_type""".stripMargin

  /** e23: DEBOUNCE audit — per (user, event_type), an event arriving
    * within `gapSeconds` of the PREVIOUS same-key event is a bounce
    * (UI double-fire, retry storm, sensor chatter); only burst-opening
    * events are "kept". The rollup reports, per event type, how much
    * of the stream a debouncing ingest would drop — the tuning table
    * for the gap parameter (e2 uses the same lag-vs-gap primitive but
    * aggregates the SESSIONS; this classifies the raw events).
    *
    * Scale shape: ONE shuffle on (user_id, event_type) for the lag
    * window, then a map-side-combined global rollup to ≤|event types|
    * rows. Tie-break (ts, event_id) makes same-microsecond bursts
    * deterministic cross-engine. */
  def e23Debounce(spark: SparkSession, dir: String, gapSeconds: Int = 300): DataFrame = {
    import spark.implicits._
    val byKey = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    val gapUs = gapSeconds * 1000000L
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(byKey))
      .withColumn("kept",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > gapUs, 1L).otherwise(0L))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"kept").as("n_kept"))
      .select($"event_type", $"n_events", $"n_kept",
        ($"n_events" - $"n_kept").as("n_suppressed"),
        graft.functions.IntMath.halfUpDiv(
          ($"n_events" - $"n_kept") * 1000000L, $"n_events").as("drop_rate_e6"))
      .orderBy("event_type")
  }

  /** e23 oracle: the same lag + gap classification; half-up division
    * on non-negative operands only. */
  val e23Sql: String =
    """WITH lg AS (
      |  SELECT event_type,
      |    CASE WHEN prev_ts IS NULL
      |           OR epoch_us(ts) - epoch_us(prev_ts) > 300000000
      |         THEN 1 ELSE 0 END AS kept
      |  FROM (SELECT event_type, ts,
      |          lag(ts) OVER (PARTITION BY user_id, event_type
      |                        ORDER BY ts, event_id) AS prev_ts
      |        FROM events))
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(kept) AS BIGINT) AS n_kept,
      |  CAST(count(*) - sum(kept) AS BIGINT) AS n_suppressed,
      |  CAST((2*((count(*) - sum(kept)) * 1000000) + count(*))
      |    // (2*count(*)) AS BIGINT) AS drop_rate_e6
      |FROM lg GROUP BY event_type ORDER BY event_type""".stripMargin

  /** e24: HOPPING (sliding) window aggregation — 1-hour windows every
    * 15 minutes, per event type: e1's tumbling twin with overlap, the
    * smoothing shape behind rate dashboards and alerting baselines
    * (each event lands in exactly windowLen/slide = 4 windows). Batch
    * form of the Structured Streaming
    * `groupBy(window($"ts", "1 hour", "15 minutes"))` aggregation —
    * the streaming twin shares the plan modulo watermarking.
    *
    * Scale shape: the 4× row expansion happens INSIDE the scan
    * projection (Spark's window() generator), then one shuffle on
    * (window, event_type) with map-side combine — never a self-join
    * against a calendar frame. Window starts are epoch-aligned
    * multiples of the slide, which is what makes the DuckDB oracle
    * expressible as integer µs arithmetic. */
  def e24HoppingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(dec($"value")).cast("double"), 4).as("sum_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
        $"event_type", $"n_events", $"sum_value")
  }

  /** e24 oracle: each event expands to its 4 member windows — start =
    * (floor(µs/slide) − k)·slide, k ∈ 0..3 — entirely in BIGINT µs
    * (DuckDB CAST of a fractional epoch() ROUNDS; epoch_us stays
    * exact). */
  val e24Sql: String =
    """SELECT strftime(make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000),
      |         '%Y-%m-%d %H:%M:%S') AS w_start,
      |  event_type, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
      |FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
      |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** e25: SLIDING DISTINCT USERS — per hopping 1h/15min window, event
    * volume AND distinct active users: the live-concurrency /
    * rolling-DAU panel (e24 counts events, e25 counts people — a
    * retry storm moves one and not the other, which is exactly the
    * diagnostic). Exact distinct is the oracle-checked form; at
    * 100 TB the drop-in scale path is the d12 KMV sketch aggregate
    * per window (same plan shape, bounded state, documented there).
    *
    * Scale shape: the 4× window expansion inside the scan projection,
    * then Spark's two-phase distinct aggregation — partial
    * (window, user) dedup map-side, ONE shuffle keyed on the window;
    * never a fact-sized self-join or a global collect. */
  def e25SlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
        $"n_events", $"n_users")
  }

  /** e25 oracle: e24's window expansion + count(DISTINCT). */
  val e25Sql: String =
    """SELECT strftime(make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000),
      |         '%Y-%m-%d %H:%M:%S') AS w_start,
      |  count(*) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
      |GROUP BY 1 ORDER BY w_start""".stripMargin

  /** e26: DISCRETE CHURN-HAZARD TABLE (the life-table form of
    * survival analysis, right-censored at the corpus's end of time):
    * per epoch-week, how many users were under observation (first
    * activity ≤ week ≤ last activity), how many CHURNED there (last
    * activity that week — a real churn event only when the corpus
    * continues past it), how many are CENSORED (still active in the
    * final week — absence of evidence, not churn), and the hazard
    * h(w) = churned/at_risk ×1e6. e8 reads survival forward from a
    * cohort, e21 buckets recency at one instant; this is the
    * per-period conditional churn RATE a retention model actually
    * fits.
    *
    * Scale shape: ONE fact scan to the per-user (first_week,
    * last_week) span (one shuffle); the week domain is a sequence-
    * exploded calendar off a 1-row bounds aggregate (e10's
    * convention), and at_risk(w) derives from cumulative start/end
    * HISTOGRAM counts — never a user×week explode (at 100 TB the
    * span frame is user-sized, the hazard table stays weeks-sized).
    * The cumulative windows ride the weeks-bounded calendar
    * (whitelisted global window). */
  def e26Hazard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    // 4 consumers (starts/ends/bounds) of a user-sized frame
    val spans = graft.operators.State.cut(Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(min(expr("unix_micros(ts) DIV 604800000000")).as("wf"),
        max(expr("unix_micros(ts) DIV 604800000000")).as("wl")))
    val starts = spans.groupBy($"wf".as("week")).agg(count(lit(1)).as("n_start"))
    val ends = spans.groupBy($"wl".as("week")).agg(count(lit(1)).as("n_end"))
    val bounds = spans.agg(min($"wf").as("w0"), max($"wl").as("w1"))
    val cal = bounds.select(explode(sequence($"w0", $"w1")).as("week"))
    val cum = Window.orderBy($"week").rowsBetween(Window.unboundedPreceding, 0)
    val cumPrev = Window.orderBy($"week").rowsBetween(Window.unboundedPreceding, -1)
    cal.join(starts, Seq("week"), "left").join(ends, Seq("week"), "left")
      .na.fill(0L, Seq("n_start", "n_end"))
      .withColumn("at_risk",
        sum($"n_start").over(cum) - coalesce(sum($"n_end").over(cumPrev), lit(0L)))
      .crossJoin(broadcast(bounds.select($"w1")))
      .select($"week", $"at_risk",
        when($"week" < $"w1", $"n_end").otherwise(0L).as("churned"),
        when($"week" === $"w1", $"n_end").otherwise(0L).as("censored"))
      .withColumn("hazard_e6",
        when($"at_risk" > 0, halfUp($"churned" * 1000000L, $"at_risk")))
  }

  /** e26 oracle: the same span/histogram/cumulative formation over a
    * generated week series. */
  val e26Sql: String =
    """WITH sp AS (
      |  SELECT user_id, min(epoch_us(ts) // 604800000000) AS wf,
      |         max(epoch_us(ts) // 604800000000) AS wl
      |  FROM events GROUP BY 1),
      |b AS (SELECT min(wf) AS w0, max(wl) AS w1 FROM sp),
      |cal AS (SELECT unnest(range(w0, w1 + 1)) AS week FROM b),
      |st AS (SELECT wf AS week, count(*) AS n_start FROM sp GROUP BY 1),
      |en AS (SELECT wl AS week, count(*) AS n_end FROM sp GROUP BY 1),
      |t AS (
      |  SELECT c.week, coalesce(st.n_start, 0) AS n_start, coalesce(en.n_end, 0) AS n_end
      |  FROM cal c LEFT JOIN st ON st.week = c.week LEFT JOIN en ON en.week = c.week),
      |r AS (
      |  SELECT week, n_end,
      |    sum(n_start) OVER (ORDER BY week)
      |      - coalesce(sum(n_end) OVER (ORDER BY week
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
      |  FROM t)
      |SELECT r.week, CAST(r.at_risk AS BIGINT) AS at_risk,
      |  CAST(CASE WHEN r.week < b.w1 THEN r.n_end ELSE 0 END AS BIGINT) AS churned,
      |  CAST(CASE WHEN r.week = b.w1 THEN r.n_end ELSE 0 END AS BIGINT) AS censored,
      |  CAST(CASE WHEN r.at_risk > 0 THEN
      |    (2 * (CASE WHEN r.week < b.w1 THEN r.n_end ELSE 0 END * 1000000) + r.at_risk)
      |      // (2 * r.at_risk) END AS BIGINT) AS hazard_e6
      |FROM r, b ORDER BY r.week""".stripMargin

  /** e27: BOT-TIMING FEATURE TABLE — per user, the inter-event
    * timing statistics a traffic-quality filter thresholds on:
    * event count, minimum and disc-MEDIAN inter-event gap (µs;
    * q32's robust-estimator argument — a bot's median gap is
    * machine-small while its mean is easily padded), and the
    * maximum number of events inside any trailing 60 s window
    * (burst rate), plus the deterministic flag. Single-event users
    * report NULL gaps and never flag.
    *
    * Scale shape: ONE shuffle on user_id; the lag, burst and
    * median-rank windows all share that partitioning (one exchange,
    * per-partition sorts), and the rollup is a narrow per-user
    * aggregate — output is user-sized, the feature-table shape a
    * downstream filter joins against. The 60 s burst is a RANGE
    * window over integer µs, never a self-join. */
  def e27BotFlags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
    val burstW = Window.partitionBy($"user_id").orderBy($"s")
      .rangeBetween(-59999999L, 0L)
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("s"))
      .withColumn("gap_us", $"s" - lag($"s", 1).over(byUser))
      .withColumn("burst60", count(lit(1)).over(burstW))
    // disc median of gaps: the ⌈n/2⌉-th smallest (rank over the
    // user's gap rows only; ties share a value so row_number is safe)
    val gapRank = Window.partitionBy($"user_id").orderBy($"gap_us")
    val gapN = Window.partitionBy($"user_id")
    val med = ev.filter($"gap_us".isNotNull)
      .withColumn("rn", row_number().over(gapRank))
      .withColumn("ng", count(lit(1)).over(gapN))
      .filter($"rn" === expr("(ng + 1) DIV 2"))
      .select($"user_id", $"gap_us".as("median_gap_us"))
    ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        min($"gap_us").as("min_gap_us"),
        max($"burst60").as("burst60_max"))
      .join(med, Seq("user_id"), "left")
      .select($"user_id", $"n_events", $"min_gap_us", $"median_gap_us",
        $"burst60_max",
        (coalesce($"median_gap_us" < 600000000L, lit(false)) ||
          $"burst60_max" >= 5L).cast("int").cast("long").as("is_bot"))
  }

  /** e27 oracle: same lag/range-window/rank formation (RANGE over
    * BIGINT µs — CAST(epoch() ...) would round, epoch_us is exact). */
  val e27Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s FROM events),
      |g AS (
      |  SELECT user_id, s,
      |    s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS gap_us,
      |    count(*) OVER (PARTITION BY user_id ORDER BY s
      |      RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS burst60
      |  FROM ev),
      |md AS (
      |  SELECT user_id, gap_us AS median_gap_us FROM (
      |    SELECT user_id, gap_us,
      |      row_number() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
      |      count(*) OVER (PARTITION BY user_id) AS ng
      |    FROM g WHERE gap_us IS NOT NULL)
      |  WHERE rn = (ng + 1) // 2),
      |a AS (
      |  SELECT user_id, count(*) AS n_events, min(gap_us) AS min_gap_us,
      |    max(burst60) AS burst60_max
      |  FROM g GROUP BY 1)
      |SELECT a.user_id, a.n_events, CAST(a.min_gap_us AS BIGINT) AS min_gap_us,
      |  CAST(md.median_gap_us AS BIGINT) AS median_gap_us,
      |  CAST(a.burst60_max AS BIGINT) AS burst60_max,
      |  CAST(CASE WHEN coalesce(md.median_gap_us < 600000000, false)
      |            OR a.burst60_max >= 5 THEN 1 ELSE 0 END AS BIGINT) AS is_bot
      |FROM a LEFT JOIN md ON md.user_id = a.user_id
      |ORDER BY a.user_id""".stripMargin

  /** e28: A/B-TEST LIFT under a deterministic hash assignment — the
    * experimentation readout: users split 50/50 by md5 of the user
    * id (t5's stable-split convention: reproducible across engines,
    * runs and partitionings, unlike rand()), conversion = the user
    * ever purchased, per arm the exact user/converter counts,
    * conversion rate ×1e6, and the treatment row carries absolute
    * and relative lift vs control (signed ratios route sign around
    * the floor/truncate DIV divergence — w7's convention).
    *
    * Scale shape: one fact scan → per-user conversion rollup (one
    * shuffle, map-side-combined max); the arm is a projection of the
    * user id so the 2-row arm rollup map-side-combines too; lift is
    * a broadcast join of the 1-row control frame. */
  def e28AbLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val arms = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("arm",
        conv(substring(md5(concat(lit("ab:"), $"user_id".cast("string"))), 1, 6),
          16, 10).cast("long") % 2)
      .groupBy($"arm")
      .agg(count(lit(1)).as("n_users"), sum($"conv").as("n_conv"))
      .withColumn("rate_e6", halfUp($"n_conv" * 1000000L, $"n_users"))
    // grouping-less aggregate → provably 1 row (the m6 scalar-frame
    // convention the nested-loop gate recognizes)
    val control = arms
      .agg(max(when($"arm" === 0L, $"rate_e6")).as("ctrl_rate_e6"))
    arms.crossJoin(broadcast(control))
      .select($"arm", $"n_users", $"n_conv", $"rate_e6",
        when($"arm" === 0L, 0L)
          .otherwise($"rate_e6" - $"ctrl_rate_e6").as("lift_abs_e6"),
        when($"arm" === 0L, 0L).otherwise(
          signum($"rate_e6" - $"ctrl_rate_e6").cast("long") *
            halfUp(abs($"rate_e6" - $"ctrl_rate_e6") * 1000000L, $"ctrl_rate_e6"))
          .as("lift_rel_e6"))
      .orderBy("arm")
  }

  /** e28 oracle: same hash split, conversion rollup and sign-routed
    * relative lift. */
  val e28Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
      |    CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 6)) AS BIGINT) % 2 AS arm
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT arm, count(*) AS n_users, sum(conv) AS n_conv,
      |    CAST((2 * (sum(conv) * 1000000) + count(*)) // (2 * count(*)) AS BIGINT) AS rate_e6
      |  FROM u GROUP BY arm),
      |c AS (SELECT rate_e6 AS ctrl_rate_e6 FROM a WHERE arm = 0)
      |SELECT CAST(a.arm AS BIGINT) AS arm, a.n_users, CAST(a.n_conv AS BIGINT) AS n_conv,
      |  a.rate_e6,
      |  CAST(CASE WHEN a.arm = 0 THEN 0 ELSE a.rate_e6 - c.ctrl_rate_e6 END AS BIGINT)
      |    AS lift_abs_e6,
      |  CAST(CASE WHEN a.arm = 0 THEN 0 ELSE
      |    CASE WHEN a.rate_e6 >= c.ctrl_rate_e6 THEN
      |      (2 * ((a.rate_e6 - c.ctrl_rate_e6) * 1000000) + c.ctrl_rate_e6)
      |        // (2 * c.ctrl_rate_e6)
      |    ELSE -((2 * ((c.ctrl_rate_e6 - a.rate_e6) * 1000000) + c.ctrl_rate_e6)
      |        // (2 * c.ctrl_rate_e6)) END
      |  END AS BIGINT) AS lift_rel_e6
      |FROM a, c ORDER BY arm""".stripMargin

  /** e29: SEASONALITY profile — per (event_type, day-of-week, hour-
    * of-day): event count and share ×1e6 of the type's total. This is
    * the load-shape baseline everything diurnal reads from: capacity
    * plans size off the peak cells, e12's anomaly fences should be
    * seasonal (a Monday-9am volume is not an anomaly because Sunday
    * 3am was quiet), and a type whose profile is FLAT across hours is
    * itself a bot signature (e27's timing features at population
    * grain).
    *
    * Day-of-week and hour derive from pure epoch-µs arithmetic —
    * day = µs DIV 86400e6, dow = (day + 4) % 7 (the epoch anchor:
    * 1970-01-01 was a Thursday, 0 = Sunday), hour = µs DIV 3600e6
    * % 24 — never from engine date functions whose TZ/locale
    * defaults (WEEKDAY vs ISO dow, session zones) diverge across
    * engines; timestamps here are non-negative so DIV's floor and
    * truncation agree.
    *
    * Scale shape: ONE scan, map-side-combined rollup straight to the
    * domain-bounded (type × 7 × 24) frame; per-type totals re-
    * aggregate THAT frame (metadata-sized, no second scan) and come
    * back via a broadcast join. */
  def e29Seasonality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    // integer DIV, not Column.divide (double division + truncate):
    // the double's 2^-53 relative error approaches the bucket-boundary
    // distance as epoch-µs grows — e31Daily's convention
    val cells = Tables.events(spark, dir)
      .select($"event_type",
        pmod(expr("unix_micros(ts) DIV 86400000000") + 4L, lit(7L)).as("dow"),
        pmod(expr("unix_micros(ts) DIV 3600000000"), lit(24L)).as("hour"))
      .groupBy($"event_type", $"dow", $"hour")
      .agg(count(lit(1)).as("n_events"))
    val totals = cells.groupBy($"event_type".as("et"))
      .agg(sum($"n_events").as("type_total"))
    cells.join(broadcast(totals), cells("event_type") === totals("et"))
      .select($"event_type", $"dow", $"hour", $"n_events",
        halfUp($"n_events" * 1000000L, $"type_total").as("share_e6"))
      .orderBy("event_type", "dow", "hour")
  }

  /** e29 oracle: identical epoch-µs dow/hour arithmetic (DuckDB's
    * `//` floors like Spark DIV on these non-negative operands). */
  val e29Sql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
      |    (epoch_us(ts) // 3600000000) % 24 AS hour,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1, 2, 3),
      |t AS (SELECT event_type AS et, sum(n_events) AS type_total
      |      FROM cells GROUP BY 1)
      |SELECT c.event_type, CAST(c.dow AS BIGINT) AS dow,
      |  CAST(c.hour AS BIGINT) AS hour, CAST(c.n_events AS BIGINT) AS n_events,
      |  CAST((2 * (c.n_events * 1000000) + t.type_total)
      |       // (2 * t.type_total) AS BIGINT) AS share_e6
      |FROM cells c JOIN t ON t.et = c.event_type
      |ORDER BY c.event_type, c.dow, c.hour""".stripMargin

  /** e30: INTER-ARRIVAL time distribution — per event type, the
    * log₂-binned histogram (g9's bit-length binning, in µs) of gaps
    * between a user's consecutive same-type events, with share ×1e6
    * of the type's gaps. The population-grain companion to e27's
    * per-user timing features: humans produce a broad diurnal-tailed
    * distribution, machines a spike at their retry period — a type
    * whose mass concentrates in one or two bins is automated traffic,
    * and the low-bin mass is what e23's debounce gap should be tuned
    * to cover. Bin b spans [2^b, 2^(b+1)) µs; bin 0 holds sub-2µs
    * bursts (same-µs duplicates land there via bin(0)/bin(1) both
    * having bit length 1).
    *
    * Scale shape: ONE shuffle on (user, type) for the lag window
    * ((ts, event_id) tie-break — e23's determinism convention), then
    * a map-side-combined rollup straight to the type × ≤40-bin frame;
    * per-type totals re-aggregate THAT frame and broadcast back. */
  def e30Interarrival(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"us", $"event_id")
    val gaps = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("prev", lag($"us", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"event_type", ($"us" - $"prev").as("gap"))
    val binned = gaps
      .groupBy($"event_type", (length(bin($"gap")) - 1).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_gaps"))
    val totals = binned.groupBy($"event_type".as("et"))
      .agg(sum($"n_gaps").as("type_total"))
    binned.join(broadcast(totals), binned("event_type") === totals("et"))
      .select($"event_type", $"bin", $"n_gaps",
        halfUp($"n_gaps" * 1000000L, $"type_total").as("share_e6"))
      .orderBy("event_type", "bin")
  }

  /** e30 oracle: the same lag/bit-length-bin/share formation. */
  val e30Sql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
      |  FROM events),
      |b AS (
      |  SELECT event_type, CAST(length(bin(gap)) - 1 AS BIGINT) AS bin,
      |    count(*) AS n_gaps
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT event_type AS et, sum(n_gaps) AS type_total FROM b GROUP BY 1)
      |SELECT b.event_type, b.bin, CAST(b.n_gaps AS BIGINT) AS n_gaps,
      |  CAST((2 * (b.n_gaps * 1000000) + t.type_total)
      |       // (2 * t.type_total) AS BIGINT) AS share_e6
      |FROM b JOIN t ON t.et = b.event_type
      |ORDER BY b.event_type, b.bin""".stripMargin

  /** Shared zero-filled daily-count frame over the trailing ≤32-day
    * window: (event_type, t ∈ 1..W, day, x, is_last). Both e31 (SES
    * forecast) and e32 (CUSUM changepoint) consume it, so it is
    * memoized — the events scan happens once per session, not per
    * consumer. Day index = epoch-µs DIV 86400e6 (e29's pure integer
    * calendar — no engine date functions). The window is capped at 32
    * days because e31's α=½ EWMA weights below 2⁻³² are sub-integer
    * noise; the cap is also what BOUNDS the exact arithmetic (2^(W−1)
    * ≤ 2³¹) at any corpus size, making the whole family scale-free.
    * Zero-fill matters: a silent empty day IS signal to both a
    * forecast and a changepoint, and count-only rollups never emit
    * it; the day spine is sequence() over a 1-row broadcast bound
    * (m6 scalar convention), types × ≤32 days — domain-bounded. */
  def e31Daily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Indexes.memo(s"e31_daily:$dir") {
      val daily = Tables.events(spark, dir)
        .groupBy($"event_type",
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val bounds = daily.agg(max($"day").as("hi"), min($"day").as("mn"))
        .select($"hi", greatest($"mn", $"hi" - 31L).as("lo"))
      daily.select($"event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select($"event_type", $"lo", $"hi",
          explode(sequence($"lo", $"hi")).as("day"))
        .join(daily, Seq("event_type", "day"), "left")
        .select($"event_type", ($"day" - $"lo" + 1L).as("t"), $"day",
          coalesce($"x", lit(0L)).as("x"), ($"day" === $"hi").as("is_last"))
    }
  }

  /** Oracle twin of [[e31Daily]] — the CTE chain both e31Sql and
    * e32Sql open with (def: cross-object-safe and single-sourced so a
    * window-bound change cannot desynchronize the two oracles). */
  private[graft] def e31DailyCtes: String =
    """d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |bd AS (SELECT max(day) AS hi, greatest(min(day), max(day) - 31) AS lo FROM d),
      |sp AS (
      |  SELECT ty.event_type, UNNEST(generate_series(bd.lo, bd.hi)) AS day
      |  FROM (SELECT DISTINCT event_type FROM d) ty CROSS JOIN bd),
      |f AS (
      |  SELECT sp.event_type, sp.day - bd.lo + 1 AS t, sp.day,
      |    coalesce(d.x, 0) AS x, sp.day = bd.hi AS is_last
      |  FROM sp CROSS JOIN bd
      |  LEFT JOIN d ON d.event_type = sp.event_type AND d.day = sp.day)""".stripMargin

  /** e31: SES one-day-ahead FORECAST per event type — simple
    * exponential smoothing at α = ½ over the trailing ≤32-day daily
    * counts, exactly: with s₁ = x₁ and sₜ = (xₜ + sₜ₋₁)/2, the
    * recurrence closes to 2^(W−1)·s_W = x₁ + Σₜ₌₂ 2^(t−2)·xₜ — a pure
    * integer WEIGHTED SUM, so the forecast is ×1e6-exact cross-engine
    * with one half-up division at the very end (float EWMA would
    * accumulate rounding per step). Reported next to the same window's
    * plain mean: diff_e6 = ses − sma is the recency signal (positive =
    * traffic accelerating — yesterday outweighs the month; negative =
    * decaying), which is what a capacity planner or c3-style
    * threshold-shift reader actually wants from a forecast.
    *
    * Scale shape: rides the shared [[e31Daily]] memo (one events scan
    * per session); the weighted sum map-side-combines to one row per
    * type; all products stage through DECIMAL(38,0) (x·2³⁰·1e6 passes
    * 2⁶³ long before 100 TB daily volumes do). */
  def e31SesForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    e31Daily(spark, dir)
      .select($"event_type", $"t", $"x", $"is_last",
        when($"t" === 1L, $"x".cast(d38))
          .otherwise($"x".cast(d38) *
            expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(t - 2 AS INT)) AS DECIMAL(38,0))"))
          .as("wx"))
      .groupBy($"event_type")
      .agg(max($"t").as("n_days"), sum($"wx").as("p"),
        sum($"x").cast(d38).as("sx"),
        max(when($"is_last", $"x")).as("x_last"))
      .withColumn("den",
        expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(n_days - 1 AS INT)) AS DECIMAL(38,0))"))
      .select($"event_type", $"n_days", $"x_last",
        expr("CAST((2 * (sx * 1000000) + n_days) DIV (2 * CAST(n_days AS DECIMAL(38,0))) AS BIGINT)")
          .as("sma_e6"),
        expr("CAST((2 * (p * 1000000) + den) DIV (2 * den) AS BIGINT)").as("ses_e6"))
      .withColumn("diff_e6", $"ses_e6" - $"sma_e6")
      .orderBy("event_type")
  }

  /** e31 oracle: identical closed-form weighted sum on HUGEINT. */
  def e31Sql: String =
    s"""WITH $e31DailyCtes,
       |a AS (
       |  SELECT event_type, max(t) AS n_days,
       |    sum(CASE WHEN t = 1 THEN CAST(x AS HUGEINT)
       |        ELSE CAST(x AS HUGEINT) * (CAST(1 AS HUGEINT) << (t - 2)) END) AS p,
       |    CAST(sum(x) AS HUGEINT) AS sx,
       |    max(CASE WHEN is_last THEN x END) AS x_last
       |  FROM f GROUP BY 1)
       |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       |  CAST(x_last AS BIGINT) AS x_last,
       |  CAST((2 * (sx * 1000000) + n_days) // (2 * CAST(n_days AS HUGEINT)) AS BIGINT) AS sma_e6,
       |  CAST((2 * (p * 1000000) + (CAST(1 AS HUGEINT) << (n_days - 1)))
       |       // (2 * (CAST(1 AS HUGEINT) << (n_days - 1))) AS BIGINT) AS ses_e6,
       |  CAST((2 * (sx * 1000000) + n_days) // (2 * CAST(n_days AS HUGEINT)) AS BIGINT) * -1
       |    + CAST((2 * (p * 1000000) + (CAST(1 AS HUGEINT) << (n_days - 1)))
       |       // (2 * (CAST(1 AS HUGEINT) << (n_days - 1))) AS BIGINT) AS diff_e6
       |FROM a ORDER BY event_type""".stripMargin

  /** e32: CUSUM CHANGEPOINT per event type — the day where the
    * cumulative deviation of daily counts from the window's own mean
    * peaks (Page 1954's CUSUM statistic in its division-free integer
    * form: C_t = n·P_t − t·S, P_t the prefix sum, S the total, n the
    * window length; |C| maximal at the single most likely level-shift
    * point). e12 flags WHICH hours are anomalous and e22 says the mix
    * drifted; this names WHEN the regime changed — the day a bot
    * fleet turned on or a release shifted traffic — plus the shift's
    * sign and normalized magnitude ×1e6 (|C| / (n·S): scale-free, so
    * fences transfer across event types of different volumes).
    *
    * Scale shape: rides the shared [[e31Daily]] memo; the prefix sum
    * is a window over the type's ≤32-row spine (domain-bounded, never
    * event-sized); argmax = row_number with the (|C| DESC, t ASC)
    * tie-break — deterministic cross-engine where arg_max is not. */
  def e32Changepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val byType = Window.partitionBy($"event_type")
    val ord = Window.partitionBy($"event_type").orderBy($"t")
    val c = e31Daily(spark, dir)
      .select($"event_type", $"t", $"day", $"x".cast(d38).as("x"))
      .withColumn("n", count(lit(1)).over(byType).cast(d38))
      .withColumn("s", sum($"x").over(byType))
      .withColumn("pt", sum($"x").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("c", expr("n * pt - t * s"))
    c.withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy(abs($"c").desc, $"t")))
      .filter($"rk" === 1)
      .select($"event_type", $"n".cast("long").as("n_days"),
        $"s".cast("long").as("total"), $"t".as("cp_t"), $"day".as("cp_day"),
        expr("CAST(sign(c) AS BIGINT)").as("shift_sign"),
        expr("""CAST(CASE WHEN s = 0 THEN 0
               |  ELSE (2 * (abs(c) * 1000000) + n * s) DIV (2 * n * s)
               |END AS BIGINT)""".stripMargin).as("cusum_e6"))
      .orderBy("event_type")
  }

  /** e33: cohort LTV curve — users cohorted by the WEEK of their first
    * event (signup proxy), purchase revenue rolled up per (cohort,
    * age-in-weeks) cell with the cumulative sum and cumulative
    * revenue PER COHORT USER ×1e6: the growth table every
    * subscription/marketplace review reads (does month-3 LTV clear
    * CAC; are newer cohorts monetizing faster). e8 counts retained
    * USERS per cohort-age; this prices them — same axes, money grain.
    * Weeks are pure epoch arithmetic (day DIV 7 — e29's no-engine-
    * date-functions convention); revenue is the exact DECIMAL(18,4)
    * grid ×1e4 (e1's convention), so cells and cums hash cross-engine
    * where float summation order would drift.
    *
    * Scale shape: two events scans (per-user first-day rollup;
    * purchase rows), both shuffled on user_id so the cohort join is
    * co-partitioned; cells map-side-combine to the ≤ weeks² frame;
    * cohort sizes re-aggregate the user-sized cohort frame and ride
    * back on a broadcast; the cum window partitions by cohort over
    * that tiny cells frame. Ages with zero purchases are absent rows
    * (the cum at present ages is unaffected); a reporting layer
    * zero-fills for display, the engine doesn't ship empty cells. */
  def e33CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val ev = Tables.events(spark, dir)
      .select($"user_id", expr("unix_micros(ts) DIV 86400000000").as("day"),
        $"event_type", $"value")
    // TWO consumers (purchase join's broadcast build, cohort sizes) —
    // materialized once or each re-derives its own events scan (the
    // multi-consumer lesson; would be 3 scans, past the gate's bound)
    val cohorts = graft.operators.State.cut(ev.groupBy($"user_id")
      .agg(expr("min(day) DIV 7").as("cohort_week")))
    val cells = ev.filter($"event_type" === "purchase")
      .select($"user_id", expr("day DIV 7").as("wk"), $"value")
      .join(cohorts, Seq("user_id"))
      .groupBy($"cohort_week", ($"wk" - $"cohort_week").as("age_wk"))
      .agg((sum(dec($"value")) * 10000).cast("long").as("rev_e4"))
    val sizes = cohorts.groupBy($"cohort_week".as("cw"))
      .agg(count(lit(1)).as("n_users"))
    val cum = Window.partitionBy($"cohort_week").orderBy($"age_wk")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.join(broadcast(sizes), $"cohort_week" === $"cw")
      .withColumn("cum_rev_e4", sum($"rev_e4").over(cum))
      .select($"cohort_week", $"age_wk", $"n_users", $"rev_e4", $"cum_rev_e4",
        halfUp($"cum_rev_e4" * 100L, $"n_users").as("ltv_e6"))
  }

  /** e33 oracle: identical epoch-week cohorting and DECIMAL grid. */
  val e33Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type, value
      |  FROM events),
      |c AS (SELECT user_id, min(day) // 7 AS cohort_week FROM ev GROUP BY 1),
      |cells AS (
      |  SELECT c.cohort_week, ev.day // 7 - c.cohort_week AS age_wk,
      |    CAST(sum(CAST(ev.value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev_e4
      |  FROM ev JOIN c ON c.user_id = ev.user_id
      |  WHERE ev.event_type = 'purchase'
      |  GROUP BY 1, 2),
      |s AS (SELECT cohort_week AS cw, count(*) AS n_users FROM c GROUP BY 1),
      |k AS (
      |  SELECT cells.cohort_week, cells.age_wk, s.n_users, cells.rev_e4,
      |    sum(cells.rev_e4) OVER (PARTITION BY cells.cohort_week
      |      ORDER BY cells.age_wk ROWS UNBOUNDED PRECEDING) AS cum_rev_e4
      |  FROM cells JOIN s ON s.cw = cells.cohort_week)
      |SELECT cohort_week, age_wk, n_users, rev_e4,
      |  CAST(cum_rev_e4 AS BIGINT) AS cum_rev_e4,
      |  CAST((2 * (cum_rev_e4 * 100) + n_users) // (2 * n_users) AS BIGINT) AS ltv_e6
      |FROM k ORDER BY cohort_week, age_wk""".stripMargin

  /** e34: ROLLING ROBUST BASELINE — per (event type, day): the
    * trailing-7-day discrete MEDIAN of daily counts and the residual
    * x − median. The robust rolling twin of w3's moving average: one
    * outage or bot spike day drags a trailing MEAN for a week (and
    * with it every fence computed from it), while the rolling median
    * absorbs it — this is the baseline e12-style anomaly fences
    * should subtract before z-testing, and the denominator a
    * day-over-day "% vs typical" dashboard wants. Disc-median over
    * w ≤ 7 values = the ceil(w/2)-th smallest (q32's rank convention
    * at window grain); warm-up days use the short prefix (n_win < 7),
    * they are not dropped — day 1's baseline is itself.
    *
    * Scale shape: rides the shared e31Daily memo (no new events
    * scan); the rolling window runs over the type × ≤32-row day spine
    * — collect_list holds ≤7 longs per row, domain-bounded, never
    * event-sized. */
  def e34RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"t").rowsBetween(-6, 0)
    e31Daily(spark, dir)
      .withColumn("win", sort_array(collect_list($"x").over(w)))
      .select($"event_type", $"day", $"x",
        size($"win").cast("long").as("n_win"),
        element_at($"win", ((size($"win") + 1) / 2).cast("int")).as("roll_med"))
      .withColumn("dev", $"x" - $"roll_med")
  }

  /** e34 oracle: identical sorted-prefix-window rank formula. */
  def e34Sql: String =
    s"""WITH $e31DailyCtes,
       |r AS (
       |  SELECT event_type, day, x,
       |    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY t
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
       |  FROM f)
       |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS x,
       |  CAST(len(win) AS BIGINT) AS n_win,
       |  CAST(list_extract(win, (len(win) + 1) // 2) AS BIGINT) AS roll_med,
       |  CAST(x - list_extract(win, (len(win) + 1) // 2) AS BIGINT) AS dev
       |FROM r ORDER BY event_type, day""".stripMargin

  /** e35: SES BACKTEST — the audit that prices e31's forecast, the
    * same contract the s-family recall audits apply to every
    * approximate index: for each day t ≥ 2 in the window, the
    * one-step-ahead forecast s_{t−1} (published at ×1e6 precision,
    * exactly as e31 would have emitted it that morning) is scored
    * against the actual xₜ; per type: mean absolute error ×1e6, the
    * PERSISTENCE baseline's MAE (naive "tomorrow = today" — the bar
    * any forecast must clear, Hyndman's benchmark discipline), and
    * the skill ratio mae/naive ×1e6 (<1e6 = the smoother earns its
    * keep; ≥1e6 on a type = its counts are a random walk and e31's
    * diff_e6 should be read with suspicion there).
    *
    * Exactness: prefix closed forms ride ONE cumulative window over
    * the day spine (C_t = x₁ + Σ 2^(i−2)xᵢ, so s_{t−1}·1e6 =
    * halfUp(C_{t−1}·1e6, 2^(t−2)) per row — DECIMAL(38,0) staged,
    * no per-step float accumulation); errors and means are then pure
    * integer arithmetic, hash-identical cross-engine.
    *
    * Scale shape: rides the shared e31Daily memo (no events scan);
    * the cumulative window and lag run over the type × ≤32-row spine;
    * the rollup map-side-combines to one row per type. */
  def e35SesBacktest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val ord = Window.partitionBy($"event_type").orderBy($"t")
    val cum = ord.rowsBetween(Window.unboundedPreceding, 0)
    val scored = e31Daily(spark, dir)
      .select($"event_type", $"t", $"x")
      .withColumn("w", when($"t" === 1L, $"x".cast(d38))
        .otherwise($"x".cast(d38) *
          expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(t - 2 AS INT)) AS DECIMAL(38,0))")))
      .withColumn("c", sum($"w").over(cum))
      .withColumn("cprev", lag($"c", 1).over(ord))
      .withColumn("xprev", lag($"x", 1).over(ord))
      .filter($"t" >= 2L)
      .withColumn("sprev_e6", expr(
        """CAST((2 * (cprev * 1000000) +
          |  CAST(shiftleft(CAST(1 AS BIGINT), CAST(t - 2 AS INT)) AS DECIMAL(38,0)))
          |  DIV (2 * CAST(shiftleft(CAST(1 AS BIGINT), CAST(t - 2 AS INT)) AS DECIMAL(38,0)))
          |AS BIGINT)""".stripMargin))
      .select($"event_type",
        abs($"x" * 1000000L - $"sprev_e6").as("err_e6"),
        (abs($"x" - $"xprev") * 1000000L).as("naive_e6"))
    // sums staged through DECIMAL (31 days of ×1e6 errors at 100 TB
    // daily volumes pass 2⁶³ long before the MAE itself does)
    scored.groupBy($"event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum($"err_e6".cast(d38)).as("se"), sum($"naive_e6".cast(d38)).as("sn"))
      .select($"event_type", $"n_scored",
        expr("CAST((2 * se + n_scored) DIV (2 * CAST(n_scored AS DECIMAL(38,0))) AS BIGINT)")
          .as("mae_e6"),
        expr("CAST((2 * sn + n_scored) DIV (2 * CAST(n_scored AS DECIMAL(38,0))) AS BIGINT)")
          .as("naive_mae_e6"))
      .withColumn("skill_e6",
        when($"naive_mae_e6" === 0L, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((2 * (CAST(mae_e6 AS DECIMAL(38,0)) * 1000000) + naive_mae_e6)
              |  DIV (2 * CAST(naive_mae_e6 AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)))
      .orderBy("event_type")
  }

  /** e35 oracle: identical prefix closed form and scoring on HUGEINT. */
  def e35Sql: String =
    s"""WITH $e31DailyCtes,
       |cw AS (
       |  SELECT event_type, t, x,
       |    sum(CASE WHEN t = 1 THEN CAST(x AS HUGEINT)
       |        ELSE CAST(x AS HUGEINT) * (CAST(1 AS HUGEINT) << (t - 2)) END)
       |      OVER (PARTITION BY event_type ORDER BY t ROWS UNBOUNDED PRECEDING) AS c
       |  FROM f),
       |sc AS (
       |  SELECT event_type, t, x,
       |    lag(c) OVER (PARTITION BY event_type ORDER BY t) AS cprev,
       |    lag(x) OVER (PARTITION BY event_type ORDER BY t) AS xprev
       |  FROM cw),
       |er AS (
       |  SELECT event_type,
       |    abs(CAST(x AS HUGEINT) * 1000000 -
       |      (2 * (cprev * 1000000) + (CAST(1 AS HUGEINT) << (t - 2)))
       |        // (2 * (CAST(1 AS HUGEINT) << (t - 2)))) AS err_e6,
       |    abs(CAST(x AS HUGEINT) - xprev) * 1000000 AS naive_e6
       |  FROM sc WHERE t >= 2),
       |a AS (
       |  SELECT event_type, count(*) AS n_scored,
       |    (2 * sum(err_e6) + count(*)) // (2 * CAST(count(*) AS HUGEINT)) AS mae_e6,
       |    (2 * sum(naive_e6) + count(*)) // (2 * CAST(count(*) AS HUGEINT)) AS naive_mae_e6
       |  FROM er GROUP BY 1)
       |SELECT event_type, CAST(n_scored AS BIGINT) AS n_scored,
       |  CAST(mae_e6 AS BIGINT) AS mae_e6,
       |  CAST(naive_mae_e6 AS BIGINT) AS naive_mae_e6,
       |  CAST(CASE WHEN naive_mae_e6 = 0 THEN NULL
       |    ELSE (2 * (mae_e6 * 1000000) + naive_mae_e6) // (2 * naive_mae_e6)
       |  END AS BIGINT) AS skill_e6
       |FROM a ORDER BY event_type""".stripMargin

  /** e32 oracle: the same division-free CUSUM + deterministic argmax. */
  def e32Sql: String =
    s"""WITH $e31DailyCtes,
       |c AS (
       |  SELECT event_type, t, day, CAST(x AS HUGEINT) AS x,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n,
       |    CAST(sum(x) OVER (PARTITION BY event_type) AS HUGEINT) AS s,
       |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS pt
       |  FROM f),
       |k AS (
       |  SELECT event_type, t, day, n, s, n * pt - t * s AS cu,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY abs(n * pt - t * s) DESC, t) AS rk
       |  FROM c)
       |SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS total,
       |  CAST(t AS BIGINT) AS cp_t, CAST(day AS BIGINT) AS cp_day,
       |  CAST(CASE WHEN cu > 0 THEN 1 WHEN cu < 0 THEN -1 ELSE 0 END AS BIGINT) AS shift_sign,
       |  CAST(CASE WHEN s = 0 THEN 0
       |    ELSE (2 * (abs(cu) * 1000000) + n * s) // (2 * n * s) END AS BIGINT) AS cusum_e6
       |FROM k WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** e38: SUSTAINED BURST RUNS (a practical single-pass cousin of
    * Kleinberg's burst states, KDD 2002) — e12's dual: e12 flags
    * single hours against the GLOBAL mean, e38 finds EPISODES where
    * the rate holds above 1.5× its own TRAILING 24-hour mean, grouped
    * into maximal consecutive-hour runs with per-run shape (start,
    * end, length, peak, volume). The alerting/capacity view: a
    * 1-hour spike and a 4-hour sustained surge are different
    * operational events, and only the run table tells them apart.
    * Rides e10's gap-filled hourly frame, so silent hours both break
    * runs and correctly depress the trailing mean.
    *
    * Scale shape: hourly frame is the shared e10 plan (hours×types
    * sized); trailing test = two window functions on ONE
    * type-partitioned sort; episode grouping = the gaps-and-islands
    * rank trick on the epoch hour (d19's pattern) over the FLAGGED
    * subset only; all comparisons cross-multiplied exact integers.
    * minPrev guards cold starts (first hours have no trailing
    * baseline). */
  def e38BurstRuns(spark: SparkSession, dir: String, factorE2: Long = 150L,
                   minPrev: Int = 6, minRun: Int = 1): DataFrame = {
    import spark.implicits._
    val pw = Window.partitionBy($"event_type").orderBy($"eh").rowsBetween(-24, -1)
    val rw = Window.partitionBy($"event_type").orderBy($"eh")
    e10GapFill(spark, dir)
      .withColumn("eh", expr("unix_timestamp(hour) div 3600"))
      .withColumn("pn", count(lit(1)).over(pw))
      .withColumn("ps", sum($"n_events").over(pw))
      .filter($"n_events" * $"pn" * 100L > lit(factorE2) * $"ps" && $"pn" >= minPrev)
      .withColumn("grp", $"eh" - row_number().over(rw))
      .groupBy($"event_type", $"grp")
      .agg(min($"hour").as("run_start"), max($"hour").as("run_end"),
        count(lit(1)).as("n_hours"), max($"n_events").as("peak"),
        sum($"n_events").as("total"))
      .filter($"n_hours" >= minRun)
      .select($"event_type", $"run_start", $"run_end", $"n_hours", $"peak", $"total")
  }

  /** e38 oracle: e10's gap-fill CTE + the same trailing window,
    * cross-multiplied flag, and rank-difference islands. */
  val e38Sql: String =
    s"""WITH gf AS ($e10Sql),
       |eh AS (
       |  SELECT event_type, hour, n_events,
       |    CAST(epoch(CAST(hour AS TIMESTAMP)) AS BIGINT) // 3600 AS eh
       |  FROM gf),
       |w AS (
       |  SELECT event_type, hour, n_events, eh,
       |    count(*) OVER pw AS pn, sum(n_events) OVER pw AS ps
       |  FROM eh
       |  WINDOW pw AS (PARTITION BY event_type ORDER BY eh
       |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
       |f AS (
       |  SELECT event_type, hour, n_events, eh FROM w
       |  WHERE n_events * pn * 100 > 150 * ps AND pn >= 6),
       |r AS (
       |  SELECT event_type, hour, n_events,
       |    eh - row_number() OVER (PARTITION BY event_type ORDER BY eh) AS grp
       |  FROM f)
       |SELECT event_type, min(hour) AS run_start, max(hour) AS run_end,
       |  count(*) AS n_hours, CAST(max(n_events) AS BIGINT) AS peak,
       |  CAST(sum(n_events) AS BIGINT) AS total
       |FROM r GROUP BY event_type, grp ORDER BY event_type, run_start""".stripMargin
}
