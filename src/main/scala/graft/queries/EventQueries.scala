package graft.queries

import graft.scale.{BoundedWindow, ExactRank, GuardedBroadcast}
import graft.{GQuery, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleNum.dsum

/** Event-stream operators, batch-verified (SURVEY.md §2.9: the
  * reference is batch-only; these are the streaming-shaped extensions,
  * kept DuckDB-verifiable by running over the `events` table as a
  * batch). q135's interval join is graft.streaming.StreamOps's, which
  * also runs it under Structured Streaming.
  *
  * All time arithmetic is done in epoch microseconds (bigint) so both
  * engines compute on exact integers.
  */
object EventQueries {
  import Tables.t

  def all: Seq[GQuery] = Seq(

    // tumbling time-window aggregate (streaming window() operator shape)
    GQuery(
      "q34_events_tumbling_window",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(
            window($"ts", "1 hour").getField("start").as("win_start"),
            $"event_type")
          .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type,
             |  count(*) AS n, sum(floor((value) * 10000 + 0.5)) / 10000 AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      headline = true),

    // distinct aggregation per tumbling window: hourly active users —
    // Spark plans COUNT(DISTINCT) as the two-phase expand/partial-agg
    // (dedup shuffles on (window, user), final count on window), so no
    // window's user set ever materializes on one node
    GQuery(
      "q132_window_distinct_users",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(window($"ts", "1 hour").getField("start").as("win_start"))
          .agg(countDistinct($"user_id").as("n_users"),
            count(lit(1)).as("n_events"))
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  count(*) AS n_events
             |FROM events GROUP BY 1""".stripMargin)),

    // the stream-STREAM interval join (StreamOps.attributionJoin) run
    // over the batch table — the SAME transform backs the Structured
    // Streaming path (symmetric-hash-join state, watermark-bounded on
    // both sides; StreamSpec drives it through two MemoryStreams),
    // here DuckDB-verified as a plain interval join
    GQuery(
      "q135_stream_attribution",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        graft.streaming.StreamOps.attributionJoin(ev, ev)
          .select($"user_id", $"view_id", $"click_id",
            (unix_micros($"cts") - unix_micros($"vts")).as("gap_us"))
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
             |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
             |FROM events v JOIN events c
             |  ON c.user_id = v.user_id AND c.event_type = 'click'
             |  AND epoch_us(c.ts) > epoch_us(v.ts)
             |  AND epoch_us(c.ts) <= epoch_us(v.ts) + CAST(3600 AS BIGINT) * 1000000
             |WHERE v.event_type = 'view'""".stripMargin)),

    // the same interval join through the SQL FRONT DOOR: plain
    // `spark.sql` text over a temp view — the planner-strategy
    // detection acts on the logical plan, so SQL text reaches the
    // native RangeJoinExec exactly like the DataFrame spelling
    // (RangeJoinDetectSpec asserts the plan; same oracle as q135)
    GQuery(
      "q136_sql_interval_native",
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("events_v")
        s.sql("""
          SELECT v.user_id, v.view_id, c.click_id, c.cts - v.vts AS gap_us
          FROM (SELECT user_id, event_id AS view_id, unix_micros(ts) AS vts
                FROM events_v WHERE event_type = 'view') v
          JOIN (SELECT user_id AS cu, event_id AS click_id,
                  unix_micros(ts) AS cts
                FROM events_v WHERE event_type = 'click') c
            ON v.user_id = c.cu
            AND c.cts > v.vts AND c.cts <= v.vts + 3600000000""")
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
             |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
             |FROM events v JOIN events c
             |  ON c.user_id = v.user_id AND c.event_type = 'click'
             |  AND epoch_us(c.ts) > epoch_us(v.ts)
             |  AND epoch_us(c.ts) <= epoch_us(v.ts) + CAST(3600 AS BIGINT) * 1000000
             |WHERE v.event_type = 'view'""".stripMargin)),

    // the same SQL front door in the CLOSED-OPEN convention — `>= lo
    // AND < hi`, how most users write "within the hour" — which the
    // detection maps onto the exec's inclusivity flags; without
    // convention-complete classification this spelling would silently
    // fall back to the E²-per-hot-key hash-join-plus-filter plan
    GQuery(
      "q141_sql_interval_closed_open",
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("events_v")
        s.sql("""
          SELECT v.user_id, v.view_id, c.click_id, c.cts - v.vts AS gap_us
          FROM (SELECT user_id, event_id AS view_id, unix_micros(ts) AS vts
                FROM events_v WHERE event_type = 'view') v
          JOIN (SELECT user_id AS cu, event_id AS click_id,
                  unix_micros(ts) AS cts
                FROM events_v WHERE event_type = 'click') c
            ON v.user_id = c.cu
            AND c.cts >= v.vts AND c.cts < v.vts + 3600000000""")
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
             |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
             |FROM events v JOIN events c
             |  ON c.user_id = v.user_id AND c.event_type = 'click'
             |  AND epoch_us(c.ts) >= epoch_us(v.ts)
             |  AND epoch_us(c.ts) < epoch_us(v.ts) + CAST(3600 AS BIGINT) * 1000000
             |WHERE v.event_type = 'view'""".stripMargin)),

    // sessionization: 30-min-gap sessions per user (gaps-and-islands)
    GQuery(
      "q35_events_sessionize",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
          .withColumn("new_sess",
            when($"prev_us".isNull ||
              unix_micros($"ts") - $"prev_us" > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum($"new_sess").over(wRun))
          .groupBy($"user_id")
          .agg(
            max($"sess_id").as("n_sessions"),
            count(lit(1)).as("n_events"),
            (count(lit(1)) * lit(1.0) / max($"sess_id")).as("events_per_session"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    lag(epoch_us(ts)) OVER w AS prev_us,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
             |  FROM g)
             |-- CAST: DuckDB widens sum() OVER to HUGEINT, which the pandas
             |-- harness renders as float64 ("56.0" vs Spark's "56")
             |SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions, count(*) AS n_events,
             |  count(*) * 1.0 / max(sess_id) AS events_per_session
             |FROM sess GROUP BY user_id""".stripMargin),
      headline = true),

    // as-of join: for each purchase, the latest click of the same user
    // at or before it (composed as range join + per-key top-1)
    GQuery(
      "q36_events_asof_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purch = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"user_id",
            unix_micros($"ts").as("pts"))
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("cu"), $"event_id".as("click_id"),
            unix_micros($"ts").as("cts"))
        val w = Window.partitionBy($"purchase_id")
          .orderBy($"cts".desc_nulls_last, $"click_id".desc_nulls_last)
        purch
          .join(clicks, $"user_id" === $"cu" && $"cts" <= $"pts", "left_outer")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"purchase_id", $"user_id", $"click_id",
            ($"pts" - $"cts").as("gap_us"))
      },
      Some("""SELECT purchase_id, user_id, click_id, gap_us FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
             |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY epoch_us(c.ts) DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
             |  FROM events p
             |  LEFT JOIN events c ON c.user_id = p.user_id
             |    AND c.event_type = 'click' AND epoch_us(c.ts) <= epoch_us(p.ts)
             |  WHERE p.event_type = 'purchase')
             |WHERE rn = 1""".stripMargin)),

    // the same as-of semantics through the NATIVE operator (custom
    // LogicalPlan + SparkStrategy + merge-pass SparkPlan,
    // plans/AsOfJoin.scala): two exchanges + two sorts, one O(n+m)
    // merge per partition — no candidate-pair join, no window. Same
    // oracle as q36.
    GQuery(
      "q89_asof_native",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purch = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"user_id",
            unix_micros($"ts").as("pts"))
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("cu"), $"event_id".as("click_id"),
            unix_micros($"ts").as("cts"))
        graft.plans.AsOfJoin
          .asof(purch, clicks, "pts", "cts", "user_id", "cu", "click_id")
          .select($"purchase_id", $"user_id", $"click_id",
            ($"pts" - $"cts").as("gap_us"))
      },
      Some("""SELECT purchase_id, user_id, click_id, gap_us FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
             |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY epoch_us(c.ts) DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
             |  FROM events p
             |  LEFT JOIN events c ON c.user_id = p.user_id
             |    AND c.event_type = 'click' AND epoch_us(c.ts) <= epoch_us(p.ts)
             |  WHERE p.event_type = 'purchase')
             |WHERE rn = 1""".stripMargin)),

    // range (interval) join: activity in the hour after each signup.
    // Spelled composably (left-outer equi + time bounds) — since round
    // 4 the RangeJoinAutoStrategy detects this shape and plans the
    // native merge exec anyway (RangeJoinDetectSpec pins it), so the
    // spelled and native (q93) variants share one physical plan.
    GQuery(
      "q37_events_range_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val signups = ev.filter($"event_type" === "signup")
          .select($"event_id".as("signup_id"), $"user_id",
            unix_micros($"ts").as("sts"))
        val follow = ev.select($"user_id".as("fu"), $"event_id".as("fid"),
          unix_micros($"ts").as("fts"))
        signups
          .join(follow,
            $"user_id" === $"fu" && $"fts" > $"sts" &&
              $"fts" <= $"sts" + 3600L * 1000000L, "left_outer")
          .groupBy($"signup_id", $"user_id")
          .agg(count($"fid").as("n_follow"))
      },
      Some("""SELECT s.event_id AS signup_id, s.user_id, count(f.event_id) AS n_follow
             |FROM events s
             |LEFT JOIN events f ON f.user_id = s.user_id
             |  AND epoch_us(f.ts) > epoch_us(s.ts)
             |  AND epoch_us(f.ts) <= epoch_us(s.ts) + CAST(3600 AS BIGINT) * 1000000
             |WHERE s.event_type = 'signup'
             |GROUP BY 1, 2""".stripMargin)),

    // the same interval semantics through the NATIVE operator (custom
    // LogicalPlan + SparkStrategy + sliding-buffer merge SparkPlan,
    // plans/RangeJoin.scala): two exchanges + two sorts, one pass per
    // partition — no per-user candidate-pair blow-up. Same oracle as
    // q37.
    GQuery(
      "q93_range_native",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val signups = ev.filter($"event_type" === "signup")
          .select($"event_id".as("signup_id"), $"user_id",
            unix_micros($"ts").as("sts"),
            (unix_micros($"ts") + 3600L * 1000000L).as("sts_hi"))
        val follow = ev.select($"user_id".as("fu"), $"event_id".as("fid"),
          unix_micros($"ts").as("fts"))
        graft.plans.RangeJoin
          .range(signups, follow, "sts", "sts_hi", "user_id", "fu", "fts")
          .groupBy($"signup_id", $"user_id")
          .agg(count($"fid").as("n_follow"))
      },
      Some("""SELECT s.event_id AS signup_id, s.user_id, count(f.event_id) AS n_follow
             |FROM events s
             |LEFT JOIN events f ON f.user_id = s.user_id
             |  AND epoch_us(f.ts) > epoch_us(s.ts)
             |  AND epoch_us(f.ts) <= epoch_us(s.ts) + CAST(3600 AS BIGINT) * 1000000
             |WHERE s.event_type = 'signup'
             |GROUP BY 1, 2""".stripMargin)),

    // native session_window sessionization (the declarative path,
    // which also runs under Structured Streaming; Spark merges sessions
    // while consecutive events are strictly less than the 30-min gap
    // apart)
    GQuery(
      "q50_session_window",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
          .select($"user_id",
            $"session_window.start".as("sess_start"),
            $"session_window.end".as("sess_end"),
            $"n_events", $"total_value")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800 * 1000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts, value,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM g)
             |SELECT user_id, min(ts) AS sess_start,
             |  max(ts) + INTERVAL 30 MINUTE AS sess_end,
             |  count(*) AS n_events,
             |  sum(floor(value * 10000 + 0.5)) / 10000 AS total_value
             |FROM s GROUP BY user_id, sid""".stripMargin)),

    // daily event counts + day-over-day delta (lag over aggregate)
    GQuery(
      "q38_events_daily_delta",
      (s, dir) => {
        import s.implicits._
        val daily = t(s, dir, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val w = BoundedWindow.ordered($"day")
        daily.withColumn("delta",
          ($"n" - lag($"n", 1).over(w)).cast("long"))
      },
      Some("""SELECT day, n, CAST(n - lag(n) OVER (ORDER BY day) AS BIGINT) AS delta
             |FROM (SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |      FROM events GROUP BY 1)""".stripMargin)),

    // funnel analysis: view → first click within 24h → first purchase
    // within 24h of that click, per user. Both stages run through the
    // NATIVE RangeJoin operator (plans/RangeJoin.scala): each stage is
    // one co-partitioned sort-merge pass with a sliding right-row
    // buffer, so a hot user with V views and C clicks never
    // materializes V×C candidate pairs the way the composable
    // hash-join + post-filter spelling would — the exact blow-up the
    // operator's scaladoc names. RangeJoin is left-outer, so unmatched
    // stage rows carry a null successor and are dropped before the
    // min-aggregate (inner funnel semantics). Shuffles only on
    // user_id; integer microsecond arithmetic keeps both engines
    // exact.
    GQuery(
      "q122_event_funnel",
      (s, dir) => {
        import s.implicits._
        val dayUs = 24L * 3600L * 1000000L
        val ev = t(s, dir, "events")
          .select($"user_id", $"event_type", unix_micros($"ts").as("tus"))
        def stage(name: String) =
          ev.filter($"event_type" === name).drop("event_type")
        val views = stage("view").select($"user_id", $"tus".as("vts"),
          ($"tus" + dayUs).as("vhi"))
        val clicks = stage("click").select($"user_id".as("cu"), $"tus".as("cts"))
        val firstClick = graft.plans.RangeJoin
          .range(views, clicks, "vts", "vhi", "user_id", "cu", "cts")
          .filter($"cts".isNotNull)
          .groupBy($"user_id", $"vts").agg(min($"cts").as("cts"))
          .withColumn("chi", $"cts" + dayUs)
        val purch = stage("purchase").select($"user_id".as("pu"), $"tus".as("pts"))
        graft.plans.RangeJoin
          .range(firstClick, purch, "cts", "chi", "user_id", "pu", "pts")
          .filter($"pts".isNotNull)
          .groupBy($"user_id", $"vts").agg(min($"pts").as("pts"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_funnels"))
      },
      headline = true,
      oracle = Some("""WITH v AS (SELECT user_id, epoch_us(ts) AS vts FROM events
             |           WHERE event_type = 'view'),
             |c AS (SELECT user_id, epoch_us(ts) AS cts FROM events
             |      WHERE event_type = 'click'),
             |p AS (SELECT user_id, epoch_us(ts) AS pts FROM events
             |      WHERE event_type = 'purchase'),
             |fc AS (SELECT v.user_id, vts, min(cts) AS cts
             |       FROM v JOIN c ON c.user_id = v.user_id
             |         AND cts > vts AND cts <= vts + CAST(86400 AS BIGINT) * 1000000
             |       GROUP BY 1, 2),
             |fp AS (SELECT fc.user_id, vts, min(pts) AS pts
             |       FROM fc JOIN p ON p.user_id = fc.user_id
             |         AND pts > cts AND pts <= cts + CAST(86400 AS BIGINT) * 1000000
             |       GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_funnels
             |FROM fp GROUP BY 1""".stripMargin)),

    // cohort retention: users grouped by first-seen day, activity
    // counted per (cohort, week offset) — the self-derived dimension
    // join every product-analytics stack runs. Integer date arithmetic
    // only (date difference in days, floor-divided to weeks), so both
    // engines agree exactly; the cohort relation is user-count-sized
    // and broadcast.
    GQuery(
      "q123_cohort_retention",
      (s, dir) => {
        import s.implicits._
        val act = t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("day")).distinct()
        val cohort = act.groupBy($"user_id").agg(min($"day").as("cohort_day"))
        act.join(graft.scale.GuardedBroadcast.maybe(cohort), Seq("user_id"))
          .select($"user_id", $"cohort_day",
            expr("datediff(day, cohort_day) div 7").as("week_off"))
          .groupBy($"cohort_day", $"week_off")
          .agg(countDistinct($"user_id").as("n_active"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |           FROM events),
             |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
             |SELECT cohort_day, CAST((day - cohort_day) // 7 AS BIGINT) AS week_off,
             |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
             |FROM a JOIN c USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // interval×interval OVERLAP join (distinct from the point-in-range
    // joins q37/q93): user activity sessions crossed with global error
    // "outage" windows, overlap iff sstart <= oend && ostart <= send.
    // The outage side is error-burst-sized and broadcast, so the
    // session side never shuffles for the join.
    //
    // The outage derivation has NO global event-sized window: errors
    // sessionize per day-shard (partitioned window), and sessions that
    // cross midnight are stitched by linking each shard's last session
    // to the next shard's first (the only cross-shard pair that can be
    // within the gap — any other pair is > a day apart) and closing
    // the link chains with the distributed path-doubling closure. The
    // per-shard session count is bounded by day/gap ≈ 145 regardless
    // of event volume (k sessions need k−1 gaps > 10 min inside one
    // day), so the stitch graph is calendar-sized — at 100× the event
    // rate the windowed stage still scales out and the stitch work is
    // unchanged.
    GQuery(
      "q125_overlap_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val gapO = 600L * 1000000L   // 10-min error gap → one outage
        val gapS = 1800L * 1000000L  // q35's 30-min session gap
        val dayUs = 86400L * 1000000L
        val wo = Window.partitionBy($"shard").orderBy($"t", $"event_id")
        val shardSess = ev.filter($"event_type" === "error")
          .select($"event_id", unix_micros($"ts").as("t"))
          .withColumn("shard", expr(s"t div ${dayUs}L"))
          .withColumn("prev", lag($"t", 1).over(wo))
          .withColumn("nw",
            when($"prev".isNull || $"t" - $"prev" > gapO, 1L).otherwise(0L))
          .withColumn("sid", sum($"nw").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"shard", $"sid")
          .agg(min($"t").as("ostart"), max($"t").as("oend"))
          // sid ≤ 145 < 1024, so (shard, sid) packs into one long key
          .withColumn("skey", $"shard" * 1024L + $"sid")
          .withColumn("mx", max($"sid").over(Window.partitionBy($"shard")))
        val links = shardSess.filter($"sid" === $"mx")
          .select(($"shard" + 1L).as("shard"), $"skey".as("src"), $"oend".as("pend"))
          .join(shardSess.filter($"sid" === 1L)
            .select($"shard", $"skey".as("dst"), $"ostart".as("nstart")),
            Seq("shard"))
          .filter($"nstart" - $"pend" <= gapO)
          .select($"src", $"dst")
        val und = links.unionByName(
          links.select($"dst".as("src"), $"src".as("dst")))
        val reach = graft.graph.PathOps.transitiveClosure(und)
        val outages = shardSess
          .join(reach, $"skey" === reach("src"), "left_outer")
          .groupBy($"skey", $"ostart", $"oend")
          .agg(min($"dst").as("mdst"))
          .withColumn("oid", least(coalesce($"mdst", $"skey"), $"skey"))
          .groupBy($"oid")
          .agg(min($"ostart").as("ostart"), max($"oend").as("oend"))
        val ws = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
        val sessions = ev
          .select($"user_id", $"event_id", unix_micros($"ts").as("t"))
          .withColumn("prev", lag($"t", 1).over(ws))
          .withColumn("nw",
            when($"prev".isNull || $"t" - $"prev" > gapS, 1L).otherwise(0L))
          .withColumn("sid", sum($"nw").over(
            ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"sid")
          .agg(min($"t").as("sstart"), max($"t").as("send"))
        // calendar-bounded by construction (≤ ~sessions-per-day ×
        // day-shards), but the engine owns a measuring guard — use it
        sessions
          .join(graft.scale.GuardedBroadcast.maybe(outages),
            $"sstart" <= $"oend" && $"ostart" <= $"send")
          .groupBy($"user_id")
          .agg(countDistinct($"oid").as("n_outages_hit"),
            count(lit(1)).as("n_overlaps"))
      },
      Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS t FROM events
             |           WHERE event_type = 'error'),
             |og AS (SELECT event_id, t, CASE WHEN lag(t) OVER w IS NULL
             |           OR t - lag(t) OVER w > 600 * 1000000
             |         THEN 1 ELSE 0 END AS nw
             |       FROM e WINDOW w AS (ORDER BY t, event_id)),
             |oid AS (SELECT t, sum(nw) OVER (ORDER BY t, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS oid
             |        FROM og),
             |outage AS (SELECT oid, min(t) AS ostart, max(t) AS oend
             |           FROM oid GROUP BY 1),
             |se AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
             |sg AS (SELECT user_id, event_id, t, CASE WHEN lag(t) OVER w IS NULL
             |           OR t - lag(t) OVER w > 1800 * 1000000
             |         THEN 1 ELSE 0 END AS nw
             |       FROM se WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |sid AS (SELECT user_id, t, sum(nw) OVER (PARTITION BY user_id
             |          ORDER BY t, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |        FROM sg),
             |sess AS (SELECT user_id, sid, min(t) AS sstart, max(t) AS send
             |         FROM sid GROUP BY 1, 2)
             |SELECT user_id,
             |  CAST(count(DISTINCT oid) AS BIGINT) AS n_outages_hit,
             |  CAST(count(*) AS BIGINT) AS n_overlaps
             |FROM sess JOIN outage
             |  ON sstart <= oend AND ostart <= send
             |GROUP BY 1""".stripMargin)),

    // hot/cold split join (SkewOps.skewSplitJoin): keys above the
    // frequency threshold route through a salted (key, salt) shuffle —
    // only THEY pay the replication — cold keys take the plain shuffle
    // join; the union is exactly the plain join, which is what the
    // oracle asserts
    GQuery(
      "q112_skew_split_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val dim = ev.groupBy($"user_id")
          .agg(count(lit(1)).as("user_events"))
        graft.scale.SkewOps
          .skewSplitJoin(ev, dim, "user_id", hotThreshold = 60, salts = 8)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"user_events").as("total"))
      },
      Some("""WITH d AS (SELECT user_id, count(*) AS user_events
             |           FROM events GROUP BY 1)
             |SELECT event_type, count(*) AS n,
             |  CAST(sum(user_events) AS BIGINT) AS total
             |FROM events JOIN d USING (user_id)
             |GROUP BY 1""".stripMargin)),

    // time-grid gap filling + last-observation-carried-forward: the
    // time-series regularization step monitoring/feature pipelines
    // need — materialize the full hour × event-type grid over the
    // stream's span, mark empty cells, and carry the last observed
    // hourly count forward into gaps. The grid is CALENDAR-sized
    // (hours × types), never data-sized, so the cross join is
    // metadata-scale; the LOCF window partitions per type and the
    // only data shuffle is the hourly pre-aggregate.
    GQuery(
      "q155_time_grid_locf",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, dir, "events")
          .select(date_trunc("hour", $"ts").as("hr"), $"event_type")
        val hourly = ev.groupBy($"hr", $"event_type")
          .agg(count(lit(1)).as("cnt"))
        val grid = ev.agg(min($"hr").as("lo"), max($"hr").as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
        val full = grid.crossJoin(ev.select($"event_type").distinct())
        val w = Window.partitionBy($"event_type").orderBy($"hr")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        full.join(hourly, Seq("hr", "event_type"), "left")
          .select($"hr", $"event_type",
            coalesce($"cnt", lit(0L)).as("cnt"),
            $"cnt".isNull.as("is_gap"),
            coalesce(last($"cnt", ignoreNulls = true).over(w), lit(0L))
              .as("locf_cnt"))
      },
      Some("""WITH ev AS (SELECT date_trunc('hour', ts) AS hr, event_type FROM events),
             |hourly AS (SELECT hr, event_type, count(*) AS cnt FROM ev GROUP BY 1, 2),
             |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM ev),
             |grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
             |full_g AS (SELECT g.hr, t.event_type
             |           FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM ev) t),
             |j AS (SELECT f.hr, f.event_type, h.cnt
             |      FROM full_g f LEFT JOIN hourly h USING (hr, event_type))
             |SELECT hr, event_type,
             |  CAST(coalesce(cnt, 0) AS BIGINT) AS cnt,
             |  cnt IS NULL AS is_gap,
             |  CAST(coalesce(last_value(cnt IGNORE NULLS) OVER (
             |    PARTITION BY event_type ORDER BY hr
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
             |    AS locf_cnt
             |FROM j""".stripMargin)),

    // hourly value quantiles: exact p50/p95 of the event value per
    // hour×type cell — the latency-dashboard aggregate. Exact
    // percentile uses the same linear interpolation on sorted values
    // in both engines (the q67 exact-median precedent), and each
    // cell's sort is bounded by the cell's row count — the shuffle is
    // the groupBy, never a global sort.
    GQuery(
      "q165_hourly_quantiles",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
          .agg(count(lit(1)).as("n"),
            expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.95)").as("p95"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hr, event_type,
             |  count(*) AS n,
             |  quantile_cont(value, 0.5) AS p50,
             |  quantile_cont(value, 0.95) AS p95
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // event-transition matrix: per-user consecutive event-type pairs
    // (first-order Markov transitions) with the per-source-state
    // probability — the behavioral-model input and the funnel
    // sanity check. The lead window partitions per user (bounded by a
    // user's history); the matrix itself is typeset-squared-sized.
    GQuery(
      "q166_event_transitions",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .select($"user_id", $"ts", $"event_id", $"event_type".as("from_type"),
            lead($"event_type", 1).over(w).as("to_type"))
          .filter($"to_type".isNotNull)
          .groupBy($"from_type", $"to_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            $"n" * lit(1.0) / sum($"n").over(
              Window.partitionBy($"from_type")))
      },
      Some("""WITH tr AS (SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |agg AS (SELECT from_type, to_type, count(*) AS n
             |        FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  n * 1.0 / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
             |    AS p
             |FROM agg""".stripMargin)),

    // hourly anomaly flags: per hour×type counts tested against the
    // type's own hourly distribution at 2 sigma. The test is the
    // integer cross-product form of (c-mean)^2 > 4*var_pop —
    // (c*n - S)^2 > 4*(n*S2 - S^2) with n/S/S2 the type's hour
    // count / sum / sum-of-squares — so both engines compare exact
    // BIGINTs and the hash can't flip on float summation order. The
    // per-type stats relation is type-count-sized and joins back
    // through the measuring broadcast guard.
    GQuery(
      "q168_hourly_anomalies",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "events")
          .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
          .agg(count(lit(1)).as("c"))
        val stats = c.groupBy($"event_type".as("st_type"))
          .agg(count(lit(1)).as("n"), sum($"c").as("s"),
            sum($"c" * $"c").as("s2"))
        c.join(graft.scale.GuardedBroadcast.maybe(stats),
            $"event_type" === $"st_type")
          .select($"hr", $"event_type", $"c",
            (($"c" * $"n" - $"s") * ($"c" * $"n" - $"s") >
              ($"n" * $"s2" - $"s" * $"s") * 4).as("is_anomaly"))
      },
      Some("""WITH c AS (SELECT date_trunc('hour', ts) AS hr, event_type,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |st AS (SELECT event_type AS st_type, count(*) AS n,
             |    sum(c) AS s, sum(c * c) AS s2
             |  FROM c GROUP BY 1)
             |SELECT hr, event_type, c,
             |  (c * n - s) * (c * n - s) > (n * s2 - s * s) * 4
             |    AS is_anomaly
             |FROM c JOIN st ON event_type = st_type""".stripMargin)),

    // winsorization report: per-type p01/p99 value bounds (exact
    // linear-interpolated percentile, the q165 precedent — the
    // interpolation is bit-identical in both engines, so strict
    // comparisons against the bounds are deterministic) and the
    // clip counts a preprocessing pass would apply. The bounds
    // relation is type-count-sized and joins back through the
    // measuring broadcast guard.
    GQuery(
      "q170_value_winsorize",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val bounds = ev.groupBy($"event_type".as("b_type"))
          .agg(expr("percentile(value, 0.01)").as("p01"),
            expr("percentile(value, 0.99)").as("p99"))
        ev.join(graft.scale.GuardedBroadcast.maybe(bounds),
            $"event_type" === $"b_type")
          .groupBy($"event_type")
          .agg(first($"p01").as("p01"), first($"p99").as("p99"),
            count(lit(1)).as("n_total"),
            count(when($"value" < $"p01", 1)).as("n_below"),
            count(when($"value" > $"p99", 1)).as("n_above"))
      },
      Some("""WITH b AS (SELECT event_type AS b_type,
             |    quantile_cont(value, 0.01) AS p01,
             |    quantile_cont(value, 0.99) AS p99
             |  FROM events GROUP BY 1)
             |SELECT event_type, any_value(p01) AS p01,
             |  any_value(p99) AS p99, count(*) AS n_total,
             |  count(CASE WHEN value < p01 THEN 1 END) AS n_below,
             |  count(CASE WHEN value > p99 THEN 1 END) AS n_above
             |FROM events JOIN b ON event_type = b_type
             |GROUP BY event_type""".stripMargin)),

    // session-basket lift: which event types co-occur in the SAME
    // session more than chance (association mining; q166 covers only
    // adjacent pairs). Sessions reuse q35's 30-minute-gap rule; the
    // per-session type set is bounded by the type inventory, so the
    // self-join on (user, session) emits at most |types|^2 candidates
    // per session — never a data-sized cross product. lift =
    // n_ab * n_sessions / (n_a * n_b), one integer product per side
    // of a single division, so the double is engine-identical.
    GQuery(
      "q172_session_basket_lift",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
          .withColumn("new_sess",
            when($"prev_us".isNull ||
              unix_micros($"ts") - $"prev_us" > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum($"new_sess").over(wRun))
          .select($"user_id", $"sess_id", $"event_type")
          .distinct()
        val totals = sess.select($"user_id", $"sess_id").distinct()
          .agg(count(lit(1)).as("n_sess"))
        val singles = sess.groupBy($"event_type".as("tb")).agg(count(lit(1)).as("n_b"))
        val pairs = sess.as("a")
          .join(sess.as("b"),
            $"a.user_id" === $"b.user_id" && $"a.sess_id" === $"b.sess_id" &&
              $"a.event_type" < $"b.event_type")
          .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(graft.scale.GuardedBroadcast.maybe(
            singles.select($"tb".as("ta"), $"n_b".as("n_a"))), $"type_a" === $"ta")
          .join(graft.scale.GuardedBroadcast.maybe(singles), $"type_b" === $"tb")
          .crossJoin(graft.scale.GuardedBroadcast.maybe(totals))
          .select($"type_a", $"type_b", $"n_ab",
            ($"n_ab" * lit(1.0) * $"n_sess" / ($"n_a" * $"n_b")).as("lift"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT DISTINCT user_id, event_type,
             |    CAST(sum(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS BIGINT) AS sess_id
             |  FROM g),
             |tot AS (SELECT count(*) AS n_sess FROM
             |        (SELECT DISTINCT user_id, sess_id FROM sess)),
             |singles AS (SELECT event_type, count(*) AS n FROM sess GROUP BY 1),
             |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    count(*) AS n_ab
             |  FROM sess a JOIN sess b ON a.user_id = b.user_id
             |    AND a.sess_id = b.sess_id AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, n_ab,
             |  n_ab * 1.0 * tot.n_sess / (sa.n * sb.n) AS lift
             |FROM pairs CROSS JOIN tot
             |JOIN singles sa ON sa.event_type = type_a
             |JOIN singles sb ON sb.event_type = type_b""".stripMargin)),

    // forward as-of with tolerance: for each click, the NEXT purchase
    // by the same user within one hour — time-to-convert, the mirror
    // of q89's backward attribution. Same native O(n+m) merge exec
    // (direction flag flips the cursor rule, tolerance checks the key
    // diff in epoch micros); ties at equal purchase time break on the
    // SMALLEST event_id (closest-first in both directions).
    GQuery(
      "q174_asof_forward",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val clicks = ev.filter($"event_type" === "click")
          .select($"event_id".as("click_id"), $"user_id",
            unix_micros($"ts").as("cts"))
        val purch = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("pu"), $"event_id".as("purchase_id"),
            unix_micros($"ts").as("pts"))
        graft.plans.AsOfJoin
          .asof(clicks, purch, "cts", "pts", "user_id", "pu", "purchase_id",
            direction = "forward", tolerance = Some(3600L * 1000000L))
          .select($"click_id", $"user_id", $"purchase_id",
            ($"pts" - $"cts").as("wait_us"))
      },
      Some("""SELECT click_id, user_id, purchase_id, wait_us FROM (
             |  SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
             |    epoch_us(p.ts) - epoch_us(c.ts) AS wait_us,
             |    row_number() OVER (PARTITION BY c.event_id
             |      ORDER BY epoch_us(p.ts) ASC NULLS LAST, p.event_id ASC NULLS LAST) AS rn
             |  FROM events c
             |  LEFT JOIN events p ON p.user_id = c.user_id
             |    AND p.event_type = 'purchase'
             |    AND epoch_us(p.ts) >= epoch_us(c.ts)
             |    AND epoch_us(p.ts) - epoch_us(c.ts) <= CAST(3600 AS BIGINT) * 1000000
             |  WHERE c.event_type = 'click')
             |WHERE rn = 1""".stripMargin)),

    // nearest as-of: each purchase attributed to the temporally
    // CLOSEST click by the same user within two hours, either side —
    // pandas merge_asof's third direction, completing the trio on the
    // same O(n+m) merge (the exec tracks the last strictly-before row
    // while the cursor rests at-or-after, and picks the closer;
    // equidistant prefers backward, equal-time rows count as forward
    // with smallest-id ties).
    GQuery(
      "q175_asof_nearest",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purch = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"user_id",
            unix_micros($"ts").as("pts"))
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("cu"), $"event_id".as("click_id"),
            unix_micros($"ts").as("cts"))
        graft.plans.AsOfJoin
          .asof(purch, clicks, "pts", "cts", "user_id", "cu", "click_id",
            direction = "nearest", tolerance = Some(7200L * 1000000L))
          .select($"purchase_id", $"user_id", $"click_id",
            abs($"cts" - $"pts").as("dist_us"))
      },
      Some("""SELECT purchase_id, user_id, click_id, dist_us FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    abs(epoch_us(c.ts) - epoch_us(p.ts)) AS dist_us,
             |    row_number() OVER (PARTITION BY p.event_id ORDER BY
             |      abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC NULLS LAST,
             |      CASE WHEN epoch_us(c.ts) < epoch_us(p.ts) THEN 0 ELSE 1 END ASC,
             |      CASE WHEN epoch_us(c.ts) < epoch_us(p.ts) THEN -c.event_id
             |           ELSE c.event_id END ASC NULLS LAST) AS rn
             |  FROM events p
             |  LEFT JOIN events c ON c.user_id = p.user_id
             |    AND c.event_type = 'click'
             |    AND abs(epoch_us(c.ts) - epoch_us(p.ts))
             |        <= CAST(7200 AS BIGINT) * 1000000
             |  WHERE p.event_type = 'purchase')
             |WHERE rn = 1""".stripMargin)),

    // linear interpolation onto the hourly grid — the gap-filling
    // companion to q155's LOCF: missing hours take the straight line
    // between the neighboring sampled hours; ends clamp to the nearest
    // sample. Hourly means use the order-independent davg pattern and
    // the interpolation itself is the same IEEE expression in both
    // engines (integer hour distances, one multiply, one divide), so
    // the hash compare is stable. Scale: two partitioned windows per
    // type — never a global sort — and the grid is hours × types,
    // metadata-sized next to the event scan that feeds it.
    GQuery(
      "q191_time_interpolate",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select(date_trunc("hour", $"ts").as("hr"), $"event_type", $"value")
        val hourly = ev.groupBy($"hr", $"event_type")
          .agg(OracleNum.davg($"value").as("v"))
        val grid = ev.agg(min($"hr").as("lo"), max($"hr").as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
        val full = grid.crossJoin(ev.select($"event_type").distinct())
        val back = Window.partitionBy($"event_type").orderBy($"hr")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = Window.partitionBy($"event_type").orderBy($"hr")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val j = full.join(hourly, Seq("hr", "event_type"), "left")
          .select($"hr", $"event_type", $"v",
            last($"v", ignoreNulls = true).over(back).as("pv"),
            last(when($"v".isNotNull, $"hr"), ignoreNulls = true).over(back).as("pt"),
            first($"v", ignoreNulls = true).over(fwd).as("nv"),
            first(when($"v".isNotNull, $"hr"), ignoreNulls = true).over(fwd).as("nt"))
        j.select($"hr", $"event_type", $"v".isNull.as("is_filled"),
          OracleNum.dround(
            when($"v".isNotNull, $"v")
              .when($"pv".isNull, $"nv")
              .when($"nv".isNull, $"pv")
              .otherwise($"pv" + ($"nv" - $"pv") *
                (unix_micros($"hr") - unix_micros($"pt")).cast("double") /
                (unix_micros($"nt") - unix_micros($"pt")).cast("double")),
            6).as("v_interp"))
      },
      Some(s"""WITH ev AS (SELECT date_trunc('hour', ts) AS hr, event_type, value
             |            FROM events),
             |hourly AS (SELECT hr, event_type,
             |             ${OracleNum.davgSql("value")} AS v
             |           FROM ev GROUP BY 1, 2),
             |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM ev),
             |grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
             |full_g AS (SELECT g.hr, t.event_type
             |           FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM ev) t),
             |j AS (SELECT f.hr, f.event_type, h.v,
             |        last_value(h.v IGNORE NULLS) OVER (
             |          PARTITION BY f.event_type ORDER BY f.hr
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             |        last_value(CASE WHEN h.v IS NOT NULL THEN f.hr END IGNORE NULLS)
             |          OVER (PARTITION BY f.event_type ORDER BY f.hr
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             |        first_value(h.v IGNORE NULLS) OVER (
             |          PARTITION BY f.event_type ORDER BY f.hr
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |        first_value(CASE WHEN h.v IS NOT NULL THEN f.hr END IGNORE NULLS)
             |          OVER (PARTITION BY f.event_type ORDER BY f.hr
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
             |      FROM full_g f LEFT JOIN hourly h USING (hr, event_type))
             |SELECT hr, event_type, v IS NULL AS is_filled,
             |  ${OracleNum.droundSql(
                   """CASE WHEN v IS NOT NULL THEN v
                     |    WHEN pv IS NULL THEN nv
                     |    WHEN nv IS NULL THEN pv
                     |    ELSE pv + (nv - pv) *
                     |      CAST(epoch_us(hr) - epoch_us(pt) AS DOUBLE) /
                     |      CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE)
                     |    END""".stripMargin, 6)} AS v_interp
             |FROM j""".stripMargin)),

    // Z-order clustered layout + 2-D box query: events are rewritten
    // z-clustered on (user_id, day) via scale/ZOrder — every file then
    // covers a narrow square of both dimensions, so the box predicate
    // below prunes files/row groups on BOTH axes instead of just a
    // leading sort key (ZOrderSpec asserts the per-file narrowness and
    // the box's file-overlap count). The registered result proves the
    // layout round-trips: the box aggregation over the clustered
    // readback must equal the oracle's straight scan of the source
    // table. Scale: the rewrite is one range-repartition by z-value
    // (sampled boundaries, contiguous slices — q188's shard sizing
    // applies); the query side is an ordinary pruned parquet scan.
    GQuery(
      "q193_zorder_box",
      (s, dir) => {
        import s.implicits._
        val out = s"target/tmp/q193_z_${java.lang.Integer.toHexString(dir.hashCode)}"
        val src = t(s, dir, "events").select($"event_id", $"user_id",
          dayofmonth($"ts").cast("long").as("d"), $"event_type")
        graft.scale.ZOrder.writeZClustered(src, "user_id", "d", 8, out, 16)
        s.read.parquet(out)
          .filter($"user_id".between(4, 60) && $"d".between(5, 20))
          .groupBy($"d")
          .agg(count(lit(1)).as("n_events"), sum($"event_id").as("id_sum"))
      },
      Some("""SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
             |  count(*) AS n_events, CAST(sum(event_id) AS BIGINT) AS id_sum
             |FROM events
             |WHERE user_id BETWEEN 4 AND 60
             |  AND date_part('day', ts) BETWEEN 5 AND 20
             |GROUP BY 1""".stripMargin)),

    // incremental rollup maintenance: the standing per-(day, type)
    // aggregate is materialized once (here: days < 25, written to
    // parquet — the "yesterday's rollup" table), then a new batch
    // (days ≥ 25) folds in WITHOUT rescanning history: delta-aggregate
    // the batch, full-outer merge on the group key with coalesced
    // counts/sums and recombined min/max. At 100 TB the update cost is
    // O(batch + rollup), never O(corpus) — the q162 incremental-dedup
    // discipline applied to aggregates. All measures are exact-integer
    // (cents = floor(value·100 + ½), bigint sums), so the merged
    // result must hash-match the oracle's one-shot GROUP BY over the
    // full table — which is exactly the invariant that makes
    // incremental maintenance trustworthy.
    GQuery(
      "q196_incremental_rollup",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events").select(
          dayofmonth($"ts").cast("long").as("d"), $"event_type",
          floor($"value" * 100 + 0.5).cast("long").as("cents"))
        val base = ev.filter($"d" < 25)
          .groupBy($"d", $"event_type")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents"),
            min($"cents").as("min_c"), max($"cents").as("max_c"))
        val out = s"target/tmp/q196_rollup_${java.lang.Integer.toHexString(dir.hashCode)}"
        base.write.mode("overwrite").parquet(out)
        val standing = s.read.parquet(out)
        val delta = ev.filter($"d" >= 25)
          .groupBy($"d", $"event_type")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents"),
            min($"cents").as("min_c"), max($"cents").as("max_c"))
        standing.as("b").join(delta.as("x"),
            col("b.d") === col("x.d") &&
              col("b.event_type") === col("x.event_type"), "full_outer")
          .select(
            coalesce(col("b.d"), col("x.d")).as("d"),
            coalesce(col("b.event_type"), col("x.event_type")).as("event_type"),
            (coalesce(col("b.n"), lit(0L)) + coalesce(col("x.n"), lit(0L))).as("n"),
            (coalesce(col("b.cents"), lit(0L)) +
              coalesce(col("x.cents"), lit(0L))).as("cents"),
            least(col("b.min_c"), col("x.min_c")).as("min_c"),
            greatest(col("b.max_c"), col("x.max_c")).as("max_c"))
      },
      Some("""SELECT CAST(date_part('day', ts) AS BIGINT) AS d, event_type,
             |  count(*) AS n,
             |  CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents,
             |  CAST(min(floor(value * 100 + 0.5)) AS BIGINT) AS min_c,
             |  CAST(max(floor(value * 100 + 0.5)) AS BIGINT) AS max_c
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // small-file compaction as table maintenance: fragment the events
    // table into 64 tiny files (what a streaming sink or per-batch
    // writer leaves behind), then bin-pack them back to ~64 KB outputs
    // via scale/Compaction — the plan comes from the file LISTING
    // (metadata-sized), one shuffle routes rows to bins, and
    // CompactionSpec asserts the file count actually shrinks. The
    // registered result re-aggregates the compacted table and must
    // hash-match the oracle's scan of the source — compaction moves
    // bytes, never rows.
    GQuery(
      "q197_compaction",
      (s, dir) => {
        import s.implicits._
        val tag = java.lang.Integer.toHexString(dir.hashCode)
        val frag = s"target/tmp/q197_frag_$tag"
        val out = s"target/tmp/q197_compact_$tag"
        val ev = t(s, dir, "events").select($"event_id", $"event_type",
          floor($"value" * 100 + 0.5).cast("long").as("cents"))
        ev.repartition(64).write.mode("overwrite").parquet(frag)
        graft.scale.Compaction.compact(s, frag, out, targetBytes = 64L * 1024)
        s.read.parquet(out)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"event_id").as("id_sum"),
            sum($"cents").as("cents"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
             |FROM events GROUP BY 1""".stripMargin)),

    // k-anonymity audit (k=5) over the quasi-identifier tuple
    // (event_type, day, value bucket): any equivalence class smaller
    // than k re-identifies its members, so a release pipeline must
    // suppress or generalize those rows. Reports, per event_type, the
    // class count, the risky-class count, and the rows suppression
    // would remove — the aggregate-privacy complement of q147's
    // field-level PII redaction. Scale: one groupBy over the quasi-id
    // tuple (the class table is bounded by the id-tuple domain, far
    // smaller than the data), then a class-table-sized rollup.
    GQuery(
      "q199_k_anonymity",
      (s, dir) => {
        import s.implicits._
        val classes = t(s, dir, "events").select($"event_type",
            dayofmonth($"ts").cast("long").as("d"),
            floor($"value" / 50.0).cast("long").as("vb"))
          .groupBy($"event_type", $"d", $"vb")
          .agg(count(lit(1)).as("n"))
        classes.groupBy($"event_type")
          .agg(count(lit(1)).as("n_classes"),
            sum(when($"n" < 5, 1L).otherwise(0L)).as("n_risky"),
            sum(when($"n" < 5, $"n").otherwise(0L)).as("n_suppressed"))
      },
      Some("""WITH classes AS (SELECT event_type,
             |    CAST(date_part('day', ts) AS BIGINT) AS d,
             |    CAST(floor(value / 50.0) AS BIGINT) AS vb,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2, 3)
             |SELECT event_type, count(*) AS n_classes,
             |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky,
             |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_suppressed
             |FROM classes GROUP BY 1""".stripMargin)),

    // sliding (hopping) windows — 1-hour windows every 15 minutes, the
    // overlapping complement of q34's tumbling hour. Spark assigns each
    // event to width/slide = 4 epoch-aligned windows inside the window()
    // expression (a generate, not a self-join); the oracle spells the
    // same fan-out as an explicit 4-row range unnest. Scale shape: the
    // 4x row expansion happens map-side inside the scan stage, then one
    // shuffle on (window, type) with map-side partial aggregates —
    // identical shape to the tumbling case, just 4x the aggregate input.
    GQuery(
      "q222_sliding_window",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(
            window($"ts", "1 hour", "15 minutes").getField("start")
              .as("win_start"),
            $"event_type")
          .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      },
      Some("""WITH g AS (SELECT unnest(range(4)) AS k)
             |SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
             |         - k * INTERVAL '15 minutes' AS TIMESTAMP) AS win_start,
             |  event_type, count(*) AS n,
             |  sum(floor((value) * 10000 + 0.5)) / 10000 AS total_value
             |FROM events, g GROUP BY 1, 2""".stripMargin)),

    // per-type daily OHLC bars (open/high/low/close): the argmin/argmax
    // aggregate surface. Spark spells open/close as min_by/max_by over
    // the unique (epoch-us, event_id) ordering key — ONE hash aggregate
    // with map-side partials, no sort-window anywhere, which is the
    // shape that survives 100x: first/last-in-group via row_number
    // would sort every partition; min_by carries exactly one candidate
    // row per group through the shuffle. The ordering key is unique
    // (event_id tiebreak), so ties cannot make the answer
    // engine-dependent. high/low/open/close are raw stored doubles —
    // no float arithmetic, both engines hash identical bits. The
    // oracle spells the same bars with ordered window functions
    // (DuckDB 1.0's arg_max can't take a composite key).
    GQuery(
      "q232_event_ohlc",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "events")
          .select($"event_type", to_date($"ts").as("day"), $"value",
            struct(unix_micros($"ts"), $"event_id").as("ord"))
        e.groupBy($"event_type", $"day")
          .agg(
            min_by($"value", $"ord").as("open"),
            max($"value").as("high"),
            min($"value").as("low"),
            max_by($"value", $"ord").as("close"),
            count(lit(1)).as("n"))
      },
      Some("""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value,
             |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
             |      ORDER BY epoch_us(ts), event_id) AS rf,
             |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
             |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rl
             |  FROM events)
             |SELECT event_type, day,
             |  max(CASE WHEN rf = 1 THEN value END) AS open,
             |  max(value) AS high, min(value) AS low,
             |  max(CASE WHEN rl = 1 THEN value END) AS close,
             |  count(*) AS n
             |FROM e GROUP BY 1, 2""".stripMargin)),

    // per-type OLS value trend (least-squares slope over event time):
    // the regression-aggregate surface, spelled scale- and
    // determinism-safe. Naive regr_slope sums double products in
    // shuffle order — not reproducible across engines or runs. Here
    // every regression sum (n, Σx, Σy, Σxy, Σx²) is an EXACT int64:
    // x = minutes since the type's first event (centering keeps
    // Σx² ≤ ~6e14 at sf1 — a fixed epoch would overflow), y = value
    // in 1e-4 units. The closed-form slope then runs an identical
    // IEEE double formula over identical integers in both engines —
    // bit-equal, no rounding discipline needed. Scale shape: one scan,
    // per-type min rejoined via GuardedBroadcast, one partial-agg
    // shuffle; output is type-count-sized.
    GQuery(
      "q236_trend_slopes",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "events").select($"event_type",
          expr("unix_micros(ts) DIV 60000000").as("xm"),
          expr("cast(floor(value * 10000 + 0.5) as bigint)").as("vi"))
        val mn = e.groupBy($"event_type").agg(min($"xm").as("mnx"))
        val sums = e.join(GuardedBroadcast.maybe(mn), Seq("event_type"))
          .select($"event_type", ($"xm" - $"mnx").as("x"), $"vi")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
            sum($"vi").as("sy"), sum($"x" * $"vi").as("sxy"),
            sum($"x" * $"x").as("sxx"))
        val nd = $"n".cast("double"); val sxd = $"sx".cast("double")
        val syd = $"sy".cast("double"); val sxyd = $"sxy".cast("double")
        val sxxd = $"sxx".cast("double")
        sums.select($"event_type", $"n",
          ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) / lit(10000.0))
            .as("slope_per_min"),
          (syd / nd / lit(10000.0)).as("mean_value"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    epoch_us(ts) // 60000000 AS xm,
             |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
             |  FROM events),
             |mn AS (SELECT event_type, min(xm) AS mnx FROM e GROUP BY 1),
             |sums AS (SELECT e.event_type, count(*) AS n,
             |    CAST(sum(xm - mnx) AS BIGINT) AS sx,
             |    CAST(sum(vi) AS BIGINT) AS sy,
             |    CAST(sum((xm - mnx) * vi) AS BIGINT) AS sxy,
             |    CAST(sum((xm - mnx) * (xm - mnx)) AS BIGINT) AS sxx
             |  FROM e JOIN mn ON mn.event_type = e.event_type
             |  GROUP BY 1)
             |SELECT event_type, n,
             |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |  / 10000.0 AS slope_per_min,
             |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mean_value
             |FROM sums""".stripMargin)),

    // CUSUM change-point per event type: the hour where the cumulative
    // deviation of hourly counts from the type's mean rate peaks — the
    // classic "when did the rate shift" detector over a metric series.
    // Exactness: S_i = Σ_{j<=i}(c_j − total/n) is kept as the INTEGER
    // n·S_i = n·prefix_i − i·total (no float mean anywhere); the peak
    // argmax and its sign are decided on integers, and only the
    // reported magnitude divides once into double. Scale shape: hourly
    // counts are aggregate-sized (hours × types), so the per-type
    // ordered prefix window runs over a tiny relation; everything
    // data-sized is the one groupBy scan.
    GQuery(
      "q237_cusum_changepoint",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
          .agg(count(lit(1)).as("c"))
        val wtot = Window.partitionBy($"event_type")
        val word = Window.partitionBy($"event_type").orderBy($"hr")
        val cum = c
          .withColumn("total", sum($"c").over(wtot))
          .withColumn("n", count(lit(1)).over(wtot))
          .withColumn("pref", sum($"c").over(
            word.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("i", row_number().over(word).cast("long"))
          .withColumn("sn", $"n" * $"pref" - $"i" * $"total")
        val wpk = Window.partitionBy($"event_type")
          .orderBy(abs($"sn").desc, $"hr".asc)
        cum.withColumn("rk", row_number().over(wpk)).filter($"rk" === 1)
          .select($"event_type", $"hr".as("change_hr"),
            ($"sn".cast("double") / $"n".cast("double")).as("cusum_peak"),
            $"n".as("n_hours"))
      },
      Some("""WITH c AS (SELECT event_type,
             |    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |cum AS (SELECT event_type, hr,
             |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total,
             |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY hr
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref,
             |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr)
             |      AS BIGINT) AS i
             |  FROM c),
             |s AS (SELECT event_type, hr, n,
             |    n * pref - i * total AS sn FROM cum)
             |SELECT event_type, hr AS change_hr,
             |  CAST(sn AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_peak,
             |  n AS n_hours
             |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
             |    ORDER BY abs(sn) DESC, hr) AS rk FROM s)
             |WHERE rk = 1""".stripMargin)),

    // top user-day event paths (path mining): the full type sequence
    // per (user, day), ranked by frequency — the funnel-DISCOVERY step
    // that precedes q122's fixed-funnel counting (you learn WHICH
    // sequences dominate before you hard-code one). Determinism: the
    // order inside a path is the unique (epoch-us, event_id) key, so
    // collect_list + array_sort rebuilds exactly the oracle's ordered
    // string_agg. Scale shape: one shuffle on (user, day) — session
    // grain, the same key the data naturally clusters on; paths then
    // aggregate to a path-count relation (vocabulary-sized) and the
    // top-10 is a TakeOrderedAndProject (per-partition heads + one
    // driver merge), never a global sort.
    GQuery(
      "q239_session_paths",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("day"),
            struct(unix_micros($"ts").as("u"), $"event_id".as("e"),
              $"event_type".as("t")).as("ev"))
          .groupBy($"user_id", $"day")
          .agg(expr("array_join(transform(array_sort(collect_list(ev))," +
            " x -> x.t), '>')").as("path"))
          .groupBy($"path").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"path".asc)
          .limit(10)
      },
      Some("""WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |    string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id)
             |      AS path
             |  FROM events GROUP BY 1, 2)
             |SELECT path, count(*) AS n FROM p GROUP BY 1
             |ORDER BY n DESC, path LIMIT 10""".stripMargin)),

    // exponentially-weighted moving average of the daily mean value per
    // event type (α = 1/2, y_n = x_n/2 + y_{n-1}/2) — the smoothing
    // step every ops dashboard runs before alerting. Bit-exact across
    // engines by construction: α = 1/2 makes every weight a power of
    // two, so after quantizing the daily mean to 2 decimals (floor
    // half-up — identical IEEE op), the weighted terms q·2^(i-1) are
    // integral doubles whose prefix sum is EXACT in any accumulation
    // order (no float-summation drift between Spark's window and
    // DuckDB's segment tree), and the single final division by
    // 2^n·100 is one identical IEEE op. Magnitude bound: q ≤ 1e5 and
    // the series is day-grained, so the prefix stays under 2^53 for
    // series up to ~45 days (the events table spans 30); longer
    // horizons would restart the recurrence per 45-day block.
    // Scale shape: one shuffle to (type, day) grain — output is
    // days×types-sized — then a per-type window over ≤45 rows.
    GQuery(
      "q242_ewma_daily",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type").orderBy($"day")
        t(s, dir, "events")
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg((dsum($"value") / count(lit(1))).as("avg_raw"))
          .withColumn("q", floor($"avg_raw" * 100 + 0.5))
          .withColumn("rn", row_number().over(w))
          .withColumn("u", $"q" *
            when($"rn" === 1, lit(2L))
              .otherwise(expr("shiftleft(cast(1 as bigint), cast(rn - 1 as int))")))
          .withColumn("psum", sum($"u").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select($"event_type", $"day",
            ($"psum" / (expr("shiftleft(cast(1 as bigint), cast(rn as int))") * lit(100.0)))
              .cast("double").as("ewma"))
      },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    floor((sum(floor(value * 10000 + 0.5)) / 10000 / count(*))
             |          * 100 + 0.5) AS q
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, day, q,
             |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
             |  FROM d),
             |u AS (SELECT event_type, day, rn,
             |    q * (CASE WHEN rn = 1 THEN 2
             |              ELSE (CAST(1 AS BIGINT) << (rn - 1)) END) AS u
             |  FROM r)
             |SELECT event_type, day,
             |  CAST(sum(u) OVER (PARTITION BY event_type ORDER BY day
             |         ROWS UNBOUNDED PRECEDING)
             |       / ((CAST(1 AS BIGINT) << rn) * 100.0) AS DOUBLE) AS ewma
             |FROM u""".stripMargin)),

    // robust per-type outlier count via exact median + MAD (the
    // z-score's heavy-tail-safe replacement). Exact medians are
    // computed by SELECTION — the middle one or two order statistics,
    // averaged — instead of percentile_cont, whose interpolation
    // arithmetic differs between engines; the two-element average and
    // every comparison below run the same IEEE ops on identical
    // doubles. No per-row rank (the r6-verdict fix for the hot-type
    // row_number window — a handful of event types put one type's
    // full stream on one task): a value-tie group with c rows and
    // `below` smaller rows holds ranks below+1 … below+c, so the
    // middle ranks k=(n+1)÷2 and (n+2)÷2 select value GROUPS, not
    // rows — weight w = |{k₁,k₂} ∩ [below+1, below+c]|, median =
    // Σ(v·w)/Σw, identical to averaging the two middle rows because
    // tied rows share v. `below` is ExactRank.belowCounts at
    // (type, value)-group grain: banded, type-partitioned prefix
    // windows only. Scale shape: two group-grain selection passes
    // (value, then deviation), broadcast-sized per-type joins between
    // them — nothing data-grain is windowed or sorted.
    GQuery(
      "q248_median_mad",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events").select($"event_type", $"value", $"event_id")
        def medianOf(df: org.apache.spark.sql.DataFrame, vc: String, out: String) = {
          val grp = df.groupBy($"event_type", df(vc).as("v"))
            .agg(count(lit(1)).as("c"))
          val n = df.groupBy($"event_type").agg(count(lit(1)).as("n"))
          ExactRank.belowCounts(grp, Seq("event_type"), "v", "c", "below")
            .join(GuardedBroadcast.maybe(n), "event_type")
            .withColumn("k1", expr("(n + 1) div 2"))
            .withColumn("k2", expr("(n + 2) div 2"))
            .withColumn("w",
              ($"k1" > $"below" && $"k1" <= $"below" + $"c").cast("long")
                + ($"k2" > $"below" && $"k2" <= $"below" + $"c").cast("long"))
            .filter($"w" > 0)
            .groupBy($"event_type")
            .agg((sum($"v" * $"w") / sum($"w")).as(out))
        }
        val med = medianOf(ev, "value", "med")
        val dev = ev.join(GuardedBroadcast.maybe(med), "event_type")
          .withColumn("dev", abs($"value" - $"med"))
        val mad = medianOf(dev.select($"event_type", $"dev", $"event_id"), "dev", "mad")
        dev.join(GuardedBroadcast.maybe(mad), "event_type")
          .groupBy($"event_type")
          .agg(first($"med").as("median"), first($"mad").as("mad"),
            sum(when($"dev" > $"mad" * lit(1.4826) * lit(3.0), 1L).otherwise(0L))
              .as("n_outliers"),
            count(lit(1)).as("n"))
      },
      Some("""WITH e AS (SELECT event_type, value, event_id FROM events),
             |r1 AS (SELECT *,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value, event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
             |med AS (SELECT event_type, sum(value) / count(*) AS med FROM r1
             |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
             |d AS (SELECT e.event_type, e.event_id,
             |    abs(e.value - med.med) AS dev, med.med
             |  FROM e JOIN med USING (event_type)),
             |r2 AS (SELECT *,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY dev, event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
             |mad AS (SELECT event_type, sum(dev) / count(*) AS mad FROM r2
             |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1)
             |SELECT d.event_type, min(d.med) AS median, min(mad.mad) AS mad,
             |  CAST(sum(CASE WHEN d.dev > mad.mad * 1.4826 * 3.0
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  count(*) AS n
             |FROM d JOIN mad USING (event_type)
             |GROUP BY 1""".stripMargin)),

    // inter-arrival-time profile per event type: gaps between
    // consecutive events in exact epoch microseconds, reported as
    // count / mean / max / interpolated p50 — the arrival-process
    // characterization behind capacity planning and anomaly
    // thresholds. All gap arithmetic is int64; the mean is one
    // bigint-sum divide and the percentile rides the q165-proven
    // interpolation parity. The lag is DAY-SHARDED (the q270/q125
    // carry shape, the r6-verdict fix for the hot-type window — a
    // handful of event types means one type's whole stream on one
    // task): within-day gaps lag over (type, day) partitions, and the
    // day-boundary gap is first-of-day minus last-of-PREVIOUS-active-
    // day from a lag over (type, day)-GRAIN rows (types × days,
    // calendar-bounded — empty days just don't appear, so the carry
    // spans them correctly). The gap MULTISET is identical to the
    // single per-type chain's — successive differences of a sorted
    // sequence don't depend on the tiebreak among equal timestamps —
    // so the oracle keeps the straight per-type lag. Scale shape:
    // (type, day) sort partitions, a day-grain carry window,
    // type-sized output.
    GQuery(
      "q253_interarrival",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_type", unix_micros($"ts").as("us"), $"event_id")
          .withColumn("day", to_date(timestamp_micros($"us")))
        val wDay = Window.partitionBy($"event_type", $"day")
          .orderBy($"us".asc, $"event_id".asc)
        val inDay = ev
          .withColumn("gap_us", $"us" - lag($"us", 1).over(wDay))
          .filter($"gap_us".isNotNull)
          .select($"event_type", $"gap_us")
        val wCarry = Window.partitionBy($"event_type").orderBy($"day")
        val boundary = ev.groupBy($"event_type", $"day")
          .agg(min($"us").as("first_us"), max($"us").as("last_us"))
          .withColumn("prev_last", lag($"last_us", 1).over(wCarry))
          .filter($"prev_last".isNotNull)
          .select($"event_type", ($"first_us" - $"prev_last").as("gap_us"))
        inDay.unionByName(boundary)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_gaps"),
            (sum($"gap_us") * lit(1.0) / count(lit(1))).as("mean_gap_us"),
            max($"gap_us").as("max_gap_us"),
            expr("percentile(gap_us, 0.5)").as("p50_gap_us"))
      },
      Some("""WITH g AS (SELECT event_type,
             |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |      PARTITION BY event_type
             |      ORDER BY epoch_us(ts), event_id) AS gap_us
             |  FROM events)
             |SELECT event_type, count(*) AS n_gaps,
             |  CAST(sum(gap_us) AS BIGINT) * 1.0 / count(*) AS mean_gap_us,
             |  max(gap_us) AS max_gap_us,
             |  quantile_cont(gap_us, 0.5) AS p50_gap_us
             |FROM g WHERE gap_us IS NOT NULL
             |GROUP BY 1""".stripMargin)),

    // RFM segmentation (recency / frequency / monetary quintiles per
    // user — the marketing-analytics workhorse): per-user recency in
    // whole days from the corpus max timestamp, event count, and
    // monetary total in integer cents; each scored 1–5 by the exact
    // ntile formula over ExactRank's banded global row_number, then
    // segments reported with exact-cents means. The quintile order is
    // (value, md5-hash, user_id) — the uniform hash tiebreak, mirrored
    // verbatim in the oracle, is what lets exact value ties split
    // across 256 hash sub-bands instead of serializing on one task.
    // Scale shape: one user-grain aggregate (map-side partials), then
    // three banded exact ranks; EVERY window is partitioned (band
    // histogram under BoundedWindow, value groups by band, rows by
    // (value, hash sub-band)) — the r6-verdict fix for the former
    // partition-less ntile windows, which moved every user to one
    // task. The ntile bucket is derived from rank + total by the
    // standard formula spelled identically in both engines.
    GQuery(
      "q254_rfm_segments",
      (s, dir) => {
        import s.implicits._
        val perUser = t(s, dir, "events")
          .groupBy($"user_id")
          .agg(max(unix_micros($"ts")).as("last_us"),
            count(lit(1)).as("freq"),
            sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
        val mx = perUser.agg(max($"last_us").as("corpus_max_us"),
          count(lit(1)).as("total"))
        // r15: PIN the user-grain base. The earlier "unpinned is
        // faster" measurement predates the banded ExactRank: each of
        // the three rowNumber calls now runs an approx_percentile
        // boundary head over this relation's FULL lineage (events
        // scan + user aggregate) before the final plan replays it a
        // fourth time — 4× the events scan per run, ~85 driver jobs.
        // The pinned relation is user-grain (aggregate-output-sized),
        // so the persist cost is one events pass; re-measured at
        // sf0.1: 8.4 s → ~2 s, and the boundary heads become
        // sub-100 ms scans of the cached rows.
        val base = GuardedBroadcast.pin(perUser
          .crossJoin(GuardedBroadcast.maybe(mx))
          .withColumn("recency_days",
            expr("(corpus_max_us - last_us) div 86400000000"))
          .withColumn("h", ExactRank.h32($"user_id", ":rfm")))
        // r15: UNCHAINED ranks. The old foldLeft fed rank k the output
        // of rank k−1, so rank k's boundary head (and the final plan)
        // replayed every earlier rank's window chain — the three ranks
        // only ever read (value, h, user_id) from base, so compute each
        // against the pinned base and join the user-grain outputs back
        // on the unique user_id (row set unchanged by construction).
        val ranked = Seq(("r_rk", $"recency_days"), ("f_rk", -$"freq"),
          ("m_rk", -$"cents"))
          .map { case (out, v) =>
            ExactRank.rowNumber(base, v, $"h", $"user_id", out)
              .select($"user_id", col(out))
          }
          .foldLeft(base)((d, p) => d.join(p, "user_id"))
        ranked
          .withColumn("r", ExactRank.ntileFromRank($"r_rk", $"total", 5))
          .withColumn("f", ExactRank.ntileFromRank($"f_rk", $"total", 5))
          .withColumn("m", ExactRank.ntileFromRank($"m_rk", $"total", 5))
          .groupBy(concat($"r", $"f", $"m").as("segment"))
          .agg(count(lit(1)).as("n_users"),
            (sum($"cents") * lit(1.0) / count(lit(1))).as("avg_cents"))
      },
      Some(s"""WITH pu AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
             |    count(*) AS freq,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |         AS BIGINT) AS cents
             |  FROM events GROUP BY 1),
             |mx AS (SELECT max(last_us) AS corpus_max_us,
             |    count(*) AS total FROM pu),
             |sc AS (SELECT user_id, cents,
             |    CAST((corpus_max_us - last_us) // 86400000000 AS BIGINT)
             |      AS recency_days,
             |    CAST(concat('0x', substr(md5(concat(
             |      CAST(user_id AS VARCHAR), ':rfm')), 1, 8)) AS BIGINT) AS h,
             |    freq, total FROM pu, mx),
             |rk AS (SELECT cents, total,
             |    CAST(row_number() OVER (ORDER BY recency_days, h, user_id)
             |      AS BIGINT) AS r_rk,
             |    CAST(row_number() OVER (ORDER BY freq DESC, h, user_id)
             |      AS BIGINT) AS f_rk,
             |    CAST(row_number() OVER (ORDER BY cents DESC, h, user_id)
             |      AS BIGINT) AS m_rk
             |  FROM sc),
             |nt AS (SELECT cents,
             |    ${ExactRank.ntileSql("r_rk", "total", 5)} AS r,
             |    ${ExactRank.ntileSql("f_rk", "total", 5)} AS f,
             |    ${ExactRank.ntileSql("m_rk", "total", 5)} AS m
             |  FROM rk)
             |SELECT concat(r, f, m) AS segment, count(*) AS n_users,
             |  CAST(sum(cents) AS BIGINT) * 1.0 / count(*) AS avg_cents
             |FROM nt GROUP BY 1""".stripMargin)),

    // seasonality heatmap: day-of-week × hour-of-day traffic profile
    // per event type with each cell's share of its type — the load
    // pattern behind capacity planning and anomaly baselines (a cell
    // is anomalous relative to ITS weekday-hour, not the global
    // mean). Integer counts, one exact share divide; ISO weekday
    // numbering spelled explicitly (dayofweek is Sunday=1 in Spark,
    // isodow Monday=1 in DuckDB — pinned here to ISO in both).
    // Scale shape: one scan, (type, dow, hr) aggregate with map-side
    // partials — 7×24×types output, no window over the stream.
    GQuery(
      "q261_seasonality",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type")
        t(s, dir, "events")
          .groupBy($"event_type",
            expr("(dayofweek(ts) + 5) % 7 + 1").as("iso_dow"),
            hour($"ts").cast("long").as("hr"))
          .agg(count(lit(1)).as("n"))
          .withColumn("type_share", $"n" * lit(1.0) / sum($"n").over(w))
      },
      Some("""WITH c AS (SELECT event_type,
             |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
             |    CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
             |  FROM events GROUP BY 1, 2, 3)
             |SELECT event_type, iso_dow, hr, n,
             |  n * 1.0 / CAST(sum(n) OVER (PARTITION BY event_type)
             |            AS BIGINT) AS type_share
             |FROM c""".stripMargin)),

    // time-weighted average value (TWAP) per type and day: each
    // observation holds until the next one, so its weight is the
    // exact microsecond duration to the successor (lead over the
    // unique time key; the day's last observation carries to
    // midnight). Duration×cents products stay within int64 by ~35×
    // margin at the 30-day span (bound stated, not assumed), so both
    // sums are exact and the TWAP is one IEEE divide — the
    // irregular-sampling average that plain avg() gets wrong when
    // observations cluster. Scale shape: one (type, day)-keyed sort
    // for the lead, aggregate output (type × day)-sized.
    GQuery(
      "q262_twap",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type", $"day")
          .orderBy($"us".asc, $"event_id".asc)
        t(s, dir, "events")
          .select($"event_type", to_date($"ts").as("day"),
            unix_micros($"ts").as("us"), $"event_id",
            floor($"value" * 100 + 0.5).cast("long").as("cents"))
          .withColumn("next_us", lead($"us", 1).over(w))
          .withColumn("dur", coalesce($"next_us",
            (unix_micros(date_add($"day", 1).cast("timestamp")))) - $"us")
          .groupBy($"event_type", $"day")
          .agg((sum($"cents" * $"dur") * lit(1.0) / sum($"dur") / 100.0)
            .as("twap"),
            count(lit(1)).as("n_obs"))
      },
      Some("""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    epoch_us(ts) AS us, event_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |d AS (SELECT event_type, day, cents,
             |    coalesce(lead(us) OVER (PARTITION BY event_type, day
             |        ORDER BY us, event_id),
             |      epoch_us(CAST(day + 1 AS TIMESTAMP))) - us AS dur
             |  FROM e)
             |SELECT event_type, day,
             |  CAST(sum(cents * dur) AS BIGINT) * 1.0
             |    / CAST(sum(dur) AS BIGINT) / 100.0 AS twap,
             |  count(*) AS n_obs
             |FROM d GROUP BY 1, 2""".stripMargin)),

    // Gini coefficient of per-user value concentration per event
    // type — "does one user dominate the revenue" in one number.
    // Exact formula on cents sorted ascending:
    // G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx); every sum is int64 on
    // integers, so the only float op is the final divide. No per-row
    // rank is materialized (the r6-verdict fix for the hot-type
    // row_number window — a handful of event types means one type's
    // whole user set on one task): a cents-tie group with c users and
    // `below` smaller-cents users occupies ranks below+1 … below+c,
    // and since tied rows share x, Σ(i·xᵢ) over the group is the
    // closed form cents·(c·below + c(c+1)/2) — the user_id tiebreak
    // the rank version needed cancels out, which is why the oracle's
    // row_number formulation hashes identically. `below` comes from
    // ExactRank.belowCounts at (type, cents)-GROUP grain with banded,
    // type-partitioned prefix windows. Scale shape: user-grain
    // aggregate, (type, cents) group reduce, group-grain windows —
    // nothing data-grain is ever windowed or sorted.
    GQuery(
      "q263_gini",
      (s, dir) => {
        import s.implicits._
        val grp = t(s, dir, "events")
          .groupBy($"event_type", $"user_id")
          .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
          .groupBy($"event_type", $"cents")
          .agg(count(lit(1)).as("c"))
        ExactRank.belowCounts(grp, Seq("event_type"), "cents", "c", "below")
          .groupBy($"event_type")
          .agg(sum($"c").as("n_users"),
            sum($"cents" * $"c").as("total_cents"),
            sum($"cents" * ($"c" * $"below"
              + shiftright($"c" * ($"c" + 1), 1))).as("wsum"))
          .select($"event_type", $"n_users", $"total_cents",
            ((lit(2L) * $"wsum" - ($"n_users" + 1) * $"total_cents") * lit(1.0)
              / ($"n_users" * $"total_cents")).as("gini"))
      },
      Some("""WITH u AS (SELECT event_type, user_id,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |         AS BIGINT) AS cents
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, cents, CAST(row_number() OVER (
             |      PARTITION BY event_type ORDER BY cents, user_id)
             |    AS BIGINT) AS i FROM u),
             |g AS (SELECT event_type, count(*) AS n_users,
             |    CAST(sum(cents) AS BIGINT) AS total_cents,
             |    CAST(sum(i * cents) AS BIGINT) AS wsum
             |  FROM r GROUP BY 1)
             |SELECT event_type, n_users, total_cents,
             |  (2 * wsum - (n_users + 1) * total_cents) * 1.0
             |    / (n_users * total_cents) AS gini
             |FROM g""".stripMargin)),

    // churn cohorts: users grouped by first-activity day, reporting
    // cohort size and how many went silent before the final week of
    // the observation window — the retention summary behind every
    // growth dashboard (q123's cohort_retention tracks week-over-week
    // activity; this is the terminal churn cut). All integer date
    // arithmetic on epoch days. Scale shape: one user-grain
    // aggregate (min/max day), then a week-sized rollup.
    GQuery(
      "q264_churn_cohorts",
      (s, dir) => {
        import s.implicits._
        val days = t(s, dir, "events")
          .groupBy($"user_id")
          .agg(min(datediff($"ts".cast("date"), lit("2024-01-01").cast("date")))
            .as("first_day"),
            max(datediff($"ts".cast("date"), lit("2024-01-01").cast("date")))
              .as("last_day"))
        val horizon = days.agg(max($"last_day").as("max_day"))
        days.crossJoin(GuardedBroadcast.maybe(horizon))
          .select($"first_day".as("cohort_day"),
            ($"last_day" < $"max_day" - 6).cast("long").as("churned"))
          .groupBy($"cohort_day")
          .agg(count(lit(1)).as("n_users"), sum($"churned").as("n_churned"),
            (sum($"churned") * lit(1.0) / count(lit(1))).as("churn_rate"))
      },
      Some("""WITH d AS (SELECT user_id,
             |    min(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)))
             |      AS first_day,
             |    max(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)))
             |      AS last_day
             |  FROM events GROUP BY 1),
             |mx AS (SELECT max(last_day) AS max_day FROM d),
             |c AS (SELECT first_day AS cohort_day,
             |    CASE WHEN last_day < max_day - 6 THEN 1 ELSE 0 END AS churned
             |  FROM d, mx)
             |SELECT cohort_day, count(*) AS n_users,
             |  CAST(sum(churned) AS BIGINT) AS n_churned,
             |  CAST(sum(churned) AS BIGINT) * 1.0 / count(*) AS churn_rate
             |FROM c GROUP BY 1""".stripMargin)),

    // maximum drawdown per type over the daily cents series: the
    // largest peak-to-trough drop of the running cumulative value —
    // the risk metric that a mean or variance cannot see (order
    // matters). Running peak via a window max, drawdown = peak −
    // cumulative, argmax with the deterministic (drawdown desc, day)
    // tiebreak; everything is exact int64 prefix sums of cents.
    // Scale shape: (type, day) aggregate, then per-type windows over
    // day-count rows — never the event stream.
    GQuery(
      "q266_drawdown",
      (s, dir) => {
        import s.implicits._
        val byDay = Window.partitionBy($"event_type").orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val rk = Window.partitionBy($"event_type")
          .orderBy($"dd".desc, $"day".asc)
        t(s, dir, "events")
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
          .withColumn("cum", sum($"cents").over(byDay))
          .withColumn("peak", max($"cum").over(byDay))
          .withColumn("dd", $"peak" - $"cum")
          .withColumn("rk", row_number().over(rk))
          .filter($"rk" === 1)
          .select($"event_type", $"day".as("trough_day"),
            $"dd".as("max_drawdown_cents"), $"peak".as("peak_cents"))
      },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |         AS BIGINT) AS cents
             |  FROM events GROUP BY 1, 2),
             |cm AS (SELECT event_type, day,
             |    CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
             |c AS (SELECT event_type, day, cum,
             |    CAST(max(cum) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak FROM cm),
             |r AS (SELECT event_type, day, peak - cum AS dd, peak,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY peak - cum DESC, day) AS rk FROM c)
             |SELECT event_type, day AS trough_day,
             |  dd AS max_drawdown_cents, peak AS peak_cents
             |FROM r WHERE rk = 1""".stripMargin)),

    // burstiness (index of dispersion / Fano factor) of hourly
    // arrivals per type: variance-to-mean of the hourly count series
    // — 1 ≈ Poisson, ≫1 = bursty traffic. Computed entirely from the
    // three integer sums (n, Σc, Σc²) with identical scalar op order,
    // the one float stage being the output arithmetic; hours with no
    // arrivals count as zeros via the dense (type × hour-grid) frame
    // so the statistic matches its definition, not just the observed
    // hours. Scale shape: (type, hour) aggregate + a type-sized
    // reduction; the hour grid is generated, never scanned.
    GQuery(
      "q268_burstiness",
      (s, dir) => {
        import s.implicits._
        val counts = t(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
          .agg(count(lit(1)).as("c"))
        val span = t(s, dir, "events")
          .agg(unix_micros(date_trunc("hour", min($"ts"))).as("lo"),
            unix_micros(date_trunc("hour", max($"ts"))).as("hi"))
        val grid = span.select($"lo", $"hi",
            explode(expr("sequence(lo, hi, 3600000000)")).as("hus"))
          .select(timestamp_micros($"hus").as("hr"))
          .crossJoin(counts.select($"event_type").distinct())
        grid.join(counts, Seq("event_type", "hr"), "left_outer")
          .withColumn("c", coalesce($"c", lit(0L)))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_hours"), sum($"c").as("total"),
            sum($"c" * $"c").as("sq"))
          .select($"event_type", $"n_hours", $"total",
            ((($"sq" * $"n_hours" - $"total" * $"total") * lit(1.0))
              / ($"n_hours" * $"total")).as("fano"))
      },
      Some("""WITH cnt AS (SELECT event_type, date_trunc('hour', ts) AS hr,
             |    count(*) AS c FROM events GROUP BY 1, 2),
             |span AS (SELECT date_trunc('hour', min(ts)) AS lo,
             |    date_trunc('hour', max(ts)) AS hi FROM events),
             |grid AS (SELECT t.event_type, g.hr
             |  FROM (SELECT DISTINCT event_type FROM events) t,
             |       (SELECT unnest(generate_series(lo, hi,
             |          INTERVAL 1 HOUR)) AS hr FROM span) g),
             |f AS (SELECT grid.event_type, coalesce(c, 0) AS c
             |  FROM grid LEFT JOIN cnt ON grid.event_type = cnt.event_type
             |    AND grid.hr = cnt.hr),
             |s AS (SELECT event_type, count(*) AS n_hours,
             |    CAST(sum(c) AS BIGINT) AS total,
             |    CAST(sum(c * c) AS BIGINT) AS sq
             |  FROM f GROUP BY 1)
             |SELECT event_type, n_hours, total,
             |  (sq * n_hours - total * total) * 1.0 / (n_hours * total) AS fano
             |FROM s""".stripMargin)),

    // Hampel filter: rolling-window robust outlier flags on the daily
    // cents series — each day is judged against the MEDIAN and MAD of
    // its ±3-day neighborhood (the despiking filter that a rolling
    // mean cannot provide: one spike drags a mean, never a median).
    // The 7-row frame is materialized per row (collect_list over
    // ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING — constant-bounded,
    // NOT a data-sized array), sorted, and the exact middle taken;
    // the deviations array reuses the same sorted-middle trick. All
    // values are integer cents, so medians are exact halves at worst
    // and every comparison is identical IEEE. Scale shape: one
    // (type, day) aggregate, then type-partitioned windows over day
    // rows with O(w log w) per-row work, w = 7.
    GQuery(
      "q269_hampel",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type").orderBy($"day")
          .rowsBetween(-3, 3)
        t(s, dir, "events")
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
          .withColumn("nb", collect_list($"cents").over(w))
          .withColumn("srt", array_sort($"nb"))
          .withColumn("n", size($"srt"))
          .withColumn("med", (element_at($"srt", expr("cast((n + 1) div 2 as int)"))
            + element_at($"srt", expr("cast((n + 2) div 2 as int)"))) * lit(1.0) / 2)
          .withColumn("devs", expr(
            "array_sort(transform(nb, x -> abs(x - med)))"))
          .withColumn("mad", (element_at($"devs", expr("cast((n + 1) div 2 as int)"))
            + element_at($"devs", expr("cast((n + 2) div 2 as int)"))) * lit(1.0) / 2)
          .withColumn("is_spike",
            abs($"cents" - $"med") > $"mad" * lit(3.0) && $"mad" > 0)
          .select($"event_type", $"day", $"cents", $"med".as("roll_median"),
            $"mad".as("roll_mad"), $"is_spike")
      },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |         AS BIGINT) AS cents
             |  FROM events GROUP BY 1, 2),
             |nbx AS (SELECT event_type, day, cents,
             |    list_sort(list(cents) OVER (PARTITION BY event_type
             |      ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
             |      AS srt
             |  FROM d),
             |m AS (SELECT *, len(srt) AS n,
             |    (srt[(n + 1) // 2] + srt[(n + 2) // 2]) * 1.0 / 2 AS med
             |  FROM nbx),
             |mm AS (SELECT *, list_sort(list_transform(srt,
             |      x -> abs(x - med))) AS devs FROM m),
             |f AS (SELECT event_type, day, cents, med,
             |    (devs[(n + 1) // 2] + devs[(n + 2) // 2]) * 1.0 / 2 AS mad
             |  FROM mm)
             |SELECT event_type, day, cents, med AS roll_median,
             |  mad AS roll_mad,
             |  abs(cents - med) > mad * 3.0 AND mad > 0 AS is_spike
             |FROM f""".stripMargin)),

    // peak concurrency per day: the maximum number of simultaneously
    // open 30-minute-gap sessions (q35's sessionization grain) at any
    // instant, via the sweep line — +1 at session start, −1 after
    // end, running sum over the time-ordered deltas, max per day.
    // Ties are ordered (us, delta asc) so a session ending exactly
    // when another starts never double-counts (ends apply first).
    // Exact integers throughout. Scale shape: sessions are a (user)-
    // keyed window (the q35 shuffle), the sweep is a day-partitioned
    // running sum over 2×sessions-per-day rows — the q125 day-shard
    // argument: no partition-less global window.
    GQuery(
      "q270_concurrency",
      (s, dir) => {
        import s.implicits._
        val byUser = Window.partitionBy($"user_id")
          .orderBy($"us".asc, $"event_id".asc)
        val sessions = t(s, dir, "events")
          .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
          .withColumn("prev", lag($"us", 1).over(byUser))
          .withColumn("new_s",
            ($"prev".isNull || $"us" - $"prev" > 1800L * 1000000L)
              .cast("long"))
          .withColumn("sid", sum($"new_s").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"sid")
          .agg(min($"us").as("s_us"), max($"us").as("e_us"))
        val deltas = sessions
          .select($"s_us".as("us"), lit(1L).as("delta"))
          .unionByName(sessions.select($"e_us".as("us"), lit(-1L).as("delta")))
        // two-phase sweep (q205's banded prefix-sum shape): a running
        // sum WITHIN each day plus a day-level carry-in for sessions
        // still open at midnight — the global instant-ordered window a
        // naive sweep needs never materializes.
        val inDay = Window.partitionBy($"day")
          .orderBy($"us".asc, $"delta".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val dayOrder = BoundedWindow.ordered($"day")
          .rowsBetween(Window.unboundedPreceding, -1)
        val local = deltas
          .withColumn("day", to_date(timestamp_micros($"us")))
          .withColumn("open_local", sum($"delta").over(inDay))
        val carry = local.groupBy($"day")
          .agg(sum($"delta").as("day_total"))
          .withColumn("carry_in",
            coalesce(sum($"day_total").over(dayOrder), lit(0L)))
        local.join(carry.select($"day", $"carry_in"), "day")
          .groupBy($"day")
          .agg(max($"carry_in" + $"open_local").as("peak_concurrency"),
            (sum(when($"delta" === 1, 1L).otherwise(0L))).as("n_sessions"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
             |  FROM events),
             |g AS (SELECT user_id, us, event_id,
             |    CASE WHEN lag(us) OVER w IS NULL
             |           OR us - lag(us) OVER w > 1800 * 1000000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |sid AS (SELECT user_id, us,
             |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM g),
             |sess AS (SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
             |  FROM sid GROUP BY 1, 2),
             |del AS (SELECT s_us AS us, 1 AS delta FROM sess
             |        UNION ALL SELECT e_us, -1 FROM sess),
             |sw AS (SELECT CAST(make_timestamp(us) AS DATE) AS day, delta,
             |    CAST(sum(delta) OVER (PARTITION BY CAST(make_timestamp(us) AS DATE)
             |      ORDER BY us, delta ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |      AS open_local
             |  FROM del),
             |ci AS (SELECT day, coalesce(CAST(sum(sum(delta)) OVER (
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
             |      1 PRECEDING) AS BIGINT), 0) AS carry_in
             |  FROM (SELECT CAST(make_timestamp(us) AS DATE) AS day, delta
             |        FROM del) GROUP BY day)
             |SELECT sw.day, max(carry_in + open_local) AS peak_concurrency,
             |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_sessions
             |FROM sw JOIN ci ON sw.day = ci.day GROUP BY 1""".stripMargin)),

    // per-user activity coverage: total in-session time (q35's 30-min
    // gap sessions) vs the user's observed first-to-last span — the
    // engagement-intensity metric ("active 2% of their 30-day life")
    // that raw event counts can't express. Session durations come
    // from the same gaps-and-islands pass as q35 (one user-keyed
    // window), all arithmetic exact epoch-microsecond integers with
    // one ratio divide at output. Bucketed to a permille histogram so
    // output is distribution-sized, not user-sized.
    GQuery(
      "q277_active_time",
      (s, dir) => {
        import s.implicits._
        val byUser = Window.partitionBy($"user_id")
          .orderBy($"us".asc, $"event_id".asc)
        val per = t(s, dir, "events")
          .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
          .withColumn("prev", lag($"us", 1).over(byUser))
          .withColumn("new_s",
            ($"prev".isNull || $"us" - $"prev" > 1800L * 1000000L)
              .cast("long"))
          .withColumn("sid", sum($"new_s").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"sid")
          .agg(min($"us").as("s_us"), max($"us").as("e_us"))
          .groupBy($"user_id")
          .agg(sum($"e_us" - $"s_us").as("active_us"),
            (max($"e_us") - min($"s_us")).as("span_us"),
            count(lit(1)).as("n_sessions"))
        per
          .select(when($"span_us" > 0,
            expr("active_us * 1000 div span_us")).otherwise(0L)
            .as("permille_bucket"),
            $"n_sessions")
          .groupBy($"permille_bucket")
          .agg(count(lit(1)).as("n_users"),
            sum($"n_sessions").as("total_sessions"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
             |  FROM events),
             |g AS (SELECT user_id, us, event_id,
             |    CASE WHEN lag(us) OVER w IS NULL
             |           OR us - lag(us) OVER w > 1800 * 1000000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |sid AS (SELECT user_id, us,
             |    CAST(sum(new_s) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |      AS sid
             |  FROM g),
             |sess AS (SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
             |  FROM sid GROUP BY 1, 2),
             |per AS (SELECT user_id,
             |    CAST(sum(e_us - s_us) AS BIGINT) AS active_us,
             |    max(e_us) - min(s_us) AS span_us,
             |    count(*) AS n_sessions
             |  FROM sess GROUP BY 1)
             |SELECT CASE WHEN span_us > 0
             |         THEN active_us * 1000 // span_us ELSE 0 END
             |         AS permille_bucket,
             |  count(*) AS n_users,
             |  CAST(sum(n_sessions) AS BIGINT) AS total_sessions
             |FROM per GROUP BY 1""".stripMargin)),

    // bot-regularity scores: users whose inter-event gaps are TOO
    // regular — humans are bursty (q268's Fano ≫ 1 per type), scripts
    // tick (gap dispersion ≈ 0). Per-user gap variance-to-mean from
    // exact integer second-gaps (n, Σg, Σg² — the q268 sums at user
    // grain), flagging high-volume users in the lowest dispersion
    // decile. The decile cut is an exact global rank from ExactRank's
    // banded decomposition over (dispersion, md5-hash, user_id) — the
    // r6-verdict fix for the former partition-less row_number + global
    // count window, which moved every flagged-candidate user to one
    // task; the total is a plain aggregate crossJoin instead of a
    // window. One user-keyed sort for the lag, user-sized everything
    // after; output = flagged users.
    GQuery(
      "q282_bot_scores",
      (s, dir) => {
        import s.implicits._
        val byUser = Window.partitionBy($"user_id")
          .orderBy($"us".asc, $"event_id".asc)
        val gaps = t(s, dir, "events")
          .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
          .withColumn("gap_s",
            ($"us" - lag($"us", 1).over(byUser)) / lit(1000000L))
          .filter($"gap_s".isNotNull)
          .withColumn("g", floor($"gap_s").cast("long"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n"), sum($"g").as("sg"),
            sum($"g" * $"g").as("sgg"))
          .filter($"n" >= 20 && $"sg" > 0)
          .withColumn("dispersion",
            (($"sgg" * $"n" - $"sg" * $"sg") * lit(1.0)) / ($"n" * $"sg"))
        val tot = gaps.agg(count(lit(1)).as("total"))
        ExactRank.rowNumber(
            gaps.withColumn("h", ExactRank.h32($"user_id", ":bot"))
              .crossJoin(GuardedBroadcast.maybe(tot)),
            $"dispersion", $"h", $"user_id", "rk")
          .filter($"rk" * 10 <= $"total")
          .select($"user_id", $"n".as("n_gaps"), $"dispersion")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
             |  FROM events),
             |g AS (SELECT user_id,
             |    CAST(floor((us - lag(us) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id)) / 1000000) AS BIGINT) AS g
             |  FROM e),
             |s AS (SELECT user_id, count(*) AS n,
             |    CAST(sum(g) AS BIGINT) AS sg,
             |    CAST(sum(g * g) AS BIGINT) AS sgg
             |  FROM g WHERE g IS NOT NULL GROUP BY 1
             |  HAVING count(*) >= 20 AND sum(g) > 0),
             |d AS (SELECT user_id, n,
             |    (sgg * n - sg * sg) * 1.0 / (n * sg) AS dispersion,
             |    CAST(concat('0x', substr(md5(concat(
             |      CAST(user_id AS VARCHAR), ':bot')), 1, 8)) AS BIGINT) AS h
             |  FROM s),
             |r AS (SELECT *, row_number() OVER (ORDER BY dispersion, h,
             |        user_id) AS rk, count(*) OVER () AS total FROM d)
             |SELECT user_id, n AS n_gaps, dispersion
             |FROM r WHERE rk * 10 <= total""".stripMargin)),

    // l-diversity audit (l=3) — k-anonymity's companion: a class can
    // be size-k yet leak if everyone in it shares the SAME sensitive
    // value (here event_type as the sensitive attribute over q199's
    // (day, value-bucket) quasi-identifier). Reports classes whose
    // distinct-sensitive count < l and the rows they expose. Same
    // scale shape as q199: one quasi-id groupBy (class table bounded
    // by the id-tuple domain), then a class-sized rollup.
    GQuery(
      "q284_l_diversity",
      (s, dir) => {
        import s.implicits._
        val classes = t(s, dir, "events")
          .select(dayofmonth($"ts").cast("long").as("d"),
            floor($"value" / 50.0).cast("long").as("vb"), $"event_type")
          .groupBy($"d", $"vb")
          .agg(count(lit(1)).as("n"),
            countDistinct($"event_type").as("n_sensitive"))
        classes
          .agg(count(lit(1)).as("n_classes"),
            sum(when($"n_sensitive" < 3, 1L).otherwise(0L))
              .as("n_low_diversity"),
            sum(when($"n_sensitive" < 3, $"n").otherwise(0L))
              .as("n_exposed_rows"),
            min($"n_sensitive").as("min_diversity"))
      },
      Some("""WITH classes AS (SELECT
             |    CAST(date_part('day', ts) AS BIGINT) AS d,
             |    CAST(floor(value / 50.0) AS BIGINT) AS vb,
             |    count(*) AS n,
             |    count(DISTINCT event_type) AS n_sensitive
             |  FROM events GROUP BY 1, 2)
             |SELECT count(*) AS n_classes,
             |  CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_low_diversity,
             |  CAST(sum(CASE WHEN n_sensitive < 3 THEN n ELSE 0 END)
             |       AS BIGINT) AS n_exposed_rows,
             |  min(n_sensitive) AS min_diversity
             |FROM classes""".stripMargin)),

    // survival analysis input table (Kaplan-Meier with censoring):
    // per-user days from first event to first PURCHASE; users who
    // never purchase are right-censored at their last observed day.
    // Output is the discrete KM table — day, number at risk, events,
    // censored — all exact integers (the estimator itself is a
    // running product a chart layer applies; emitting the table keeps
    // the operator engine-exact where a float product would not be).
    // Scale shape: two user-grain aggregates + a day-sized rollup
    // with one cumulative window over day rows.
    GQuery(
      "q285_survival_table",
      (s, dir) => {
        import s.implicits._
        val per = t(s, dir, "events")
          .groupBy($"user_id")
          .agg(min(unix_micros($"ts")).as("first_us"),
            max(unix_micros($"ts")).as("last_us"),
            min(when($"event_type" === "purchase", unix_micros($"ts")))
              .as("conv_us"))
          .select(
            when($"conv_us".isNotNull,
              expr("(conv_us - first_us) div 86400000000"))
              .otherwise(expr("(last_us - first_us) div 86400000000"))
              .as("t_day"),
            $"conv_us".isNotNull.cast("long").as("converted"))
        val byDay = per.groupBy($"t_day")
          .agg(sum($"converted").as("d_events"),
            sum(lit(1L) - $"converted").as("n_censored"),
            count(lit(1)).as("n_leaving"))
        val w = BoundedWindow.ordered($"t_day".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byDay
          .withColumn("total", sum($"n_leaving").over(
            BoundedWindow.all))
          .withColumn("n_at_risk",
            $"total" - sum($"n_leaving").over(w) + $"n_leaving")
          .select($"t_day", $"n_at_risk", $"d_events", $"n_censored")
      },
      Some("""WITH per AS (SELECT user_id,
             |    min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
             |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts)
             |        END) AS conv_us
             |  FROM events GROUP BY 1),
             |t AS (SELECT CASE WHEN conv_us IS NOT NULL
             |        THEN (conv_us - first_us) // 86400000000
             |        ELSE (last_us - first_us) // 86400000000 END AS t_day,
             |    CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS converted
             |  FROM per),
             |d AS (SELECT t_day,
             |    CAST(sum(converted) AS BIGINT) AS d_events,
             |    CAST(sum(1 - converted) AS BIGINT) AS n_censored,
             |    count(*) AS n_leaving
             |  FROM t GROUP BY 1),
             |c AS (SELECT *, CAST(sum(n_leaving) OVER (ORDER BY t_day
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |    CAST(sum(n_leaving) OVER () AS BIGINT) AS total
             |  FROM d)
             |SELECT t_day, total - cum + n_leaving AS n_at_risk,
             |  d_events, n_censored
             |FROM c""".stripMargin)),

    // Markov entropy rate of per-user event-type sequences:
    // H(next | current) over the transition counts q166 tabulates —
    // how PREDICTABLE behavior is (0 bits = deterministic flows,
    // log₂(k) = uniform). Exactly integerized via q240's milli-bit
    // pattern: log₂ p(t|s) = mb(c_st) − mb(c_s) on integer counts, so
    // H = Σ c_st·(mb(c_s) − mb(c_st)) / N / 10⁴ is integer arithmetic
    // until the final divides. Scale shape: one user-keyed sort for
    // the lag (shared with the session family), then a transition-
    // matrix-sized aggregate (k² rows).
    GQuery(
      "q293_markov_entropy",
      (s, dir) => {
        import s.implicits._
        val mb = (c: org.apache.spark.sql.Column) =>
          floor(log2(c) * 10000 + 0.5).cast("long")
        val byUser = Window.partitionBy($"user_id")
          .orderBy($"us".asc, $"event_id".asc)
        val trans = t(s, dir, "events")
          .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
            $"event_type")
          .withColumn("next_type", lead($"event_type", 1).over(byUser))
          .filter($"next_type".isNotNull)
          .groupBy($"event_type", $"next_type")
          .agg(count(lit(1)).as("c_st"))
        val marg = trans.groupBy($"event_type").agg(sum($"c_st").as("c_s"))
        trans.join(marg, "event_type")
          .agg(sum($"c_st").as("n_transitions"),
            sum($"c_st" * (mb($"c_s") - mb($"c_st"))).as("hsum"))
          .select($"n_transitions",
            ($"hsum" * lit(1.0) / $"n_transitions" / lit(10000))
              .as("entropy_rate_bits"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |    event_type FROM events),
             |tr AS (SELECT event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS next_type
             |  FROM e),
             |c AS (SELECT event_type, next_type, count(*) AS c_st
             |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2),
             |m AS (SELECT event_type, CAST(sum(c_st) AS BIGINT) AS c_s
             |  FROM c GROUP BY 1),
             |h AS (SELECT
             |    CAST(sum(c_st) AS BIGINT) AS n_transitions,
             |    CAST(sum(c_st *
             |      (CAST(floor(log2(c_s) * 10000 + 0.5) AS BIGINT)
             |       - CAST(floor(log2(c_st) * 10000 + 0.5) AS BIGINT)))
             |      AS BIGINT) AS hsum
             |  FROM c JOIN m USING (event_type))
             |SELECT n_transitions,
             |  hsum * 1.0 / n_transitions / 10000 AS entropy_rate_bits
             |FROM h""".stripMargin)),

    // A/B experiment assignment + sample-ratio-mismatch check: users
    // deterministically hash-bucketed into two arms (md5 prefix, the
    // portable q188 convention — the ONLY correct way to assign at
    // scale: no coordination, stable across reruns), with the 1-dof
    // chi-square SRM statistic every experimentation platform
    // computes before trusting a readout. Counts are integers; the
    // statistic is (a−b)²/(a+b) under the 50/50 design — identical
    // scalar ops both engines. Output one row.
    GQuery(
      "q294_ab_srm",
      (s, dir) => {
        import s.implicits._
        val arms = t(s, dir, "events")
          .select($"user_id").distinct()
          .withColumn("arm",
            expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8)," +
              " 16, 10) AS BIGINT) % 2"))
          .groupBy($"arm").agg(count(lit(1)).as("n"))
        arms.agg(
            sum(when($"arm" === 0, $"n").otherwise(0L)).as("n_control"),
            sum(when($"arm" === 1, $"n").otherwise(0L)).as("n_treat"))
          .select($"n_control", $"n_treat",
            ((($"n_control" - $"n_treat") * ($"n_control" - $"n_treat"))
              * lit(1.0) / ($"n_control" + $"n_treat")).as("srm_chi2"))
      },
      Some("""WITH a AS (SELECT
             |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 2 AS arm
             |  FROM (SELECT DISTINCT user_id FROM events)),
             |c AS (SELECT
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_control,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_treat
             |  FROM a)
             |SELECT n_control, n_treat,
             |  (n_control - n_treat) * (n_control - n_treat) * 1.0
             |    / (n_control + n_treat) AS srm_chi2
             |FROM c""".stripMargin)),

    // A/B effect readout: per-arm mean value (integer cents) and the
    // pooled-variance t-statistic from the five exact power sums —
    // the two-sample readout computed entirely in integers until the
    // closed-form scalar assembly (same ops, same order, both
    // engines). Pairs with q294: first check SRM, then read the
    // effect. Scale: the user-grain aggregate carries (n, Σ, Σ²) per
    // arm — three numbers each, any corpus size.
    GQuery(
      "q295_ab_effect",
      (s, dir) => {
        import s.implicits._
        val per = t(s, dir, "events")
          .withColumn("arm",
            expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8)," +
              " 16, 10) AS BIGINT) % 2"))
          .withColumn("cents", floor($"value" * 100 + 0.5).cast("long"))
          .groupBy($"arm")
          .agg(count(lit(1)).as("n"), sum($"cents").as("sx"),
            sum($"cents" * $"cents").as("sxx"))
        per.agg(
            sum(when($"arm" === 0, $"n").otherwise(0L)).as("n0"),
            sum(when($"arm" === 0, $"sx").otherwise(0L)).as("sx0"),
            sum(when($"arm" === 0, $"sxx").otherwise(0L)).as("sxx0"),
            sum(when($"arm" === 1, $"n").otherwise(0L)).as("n1"),
            sum(when($"arm" === 1, $"sx").otherwise(0L)).as("sx1"),
            sum(when($"arm" === 1, $"sxx").otherwise(0L)).as("sxx1"))
          .select($"n0", $"n1",
            ($"sx0" * lit(1.0) / $"n0" / 100.0).as("mean_control"),
            ($"sx1" * lit(1.0) / $"n1" / 100.0).as("mean_treat"),
            (($"sx1" * lit(1.0) / $"n1" - $"sx0" * lit(1.0) / $"n0") / 100.0)
              .as("effect"),
            sqrt((($"sxx0" - $"sx0" * ($"sx0" * lit(1.0) / $"n0"))
              + ($"sxx1" - $"sx1" * ($"sx1" * lit(1.0) / $"n1")))
              / ($"n0" + $"n1" - 2)
              * (lit(1.0) / $"n0" + lit(1.0) / $"n1")).as("se_cents"))
      },
      Some("""WITH e AS (SELECT
             |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 2 AS arm,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |p AS (SELECT arm, count(*) AS n,
             |    CAST(sum(cents) AS BIGINT) AS sx,
             |    CAST(sum(cents * cents) AS BIGINT) AS sxx
             |  FROM e GROUP BY 1),
             |w AS (SELECT
             |    CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
             |    CAST(sum(CASE WHEN arm = 0 THEN sx ELSE 0 END) AS BIGINT) AS sx0,
             |    CAST(sum(CASE WHEN arm = 0 THEN sxx ELSE 0 END) AS BIGINT) AS sxx0,
             |    CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN arm = 1 THEN sx ELSE 0 END) AS BIGINT) AS sx1,
             |    CAST(sum(CASE WHEN arm = 1 THEN sxx ELSE 0 END) AS BIGINT) AS sxx1
             |  FROM p)
             |SELECT n0, n1,
             |  sx0 * 1.0 / n0 / 100.0 AS mean_control,
             |  sx1 * 1.0 / n1 / 100.0 AS mean_treat,
             |  (sx1 * 1.0 / n1 - sx0 * 1.0 / n0) / 100.0 AS effect,
             |  sqrt(((sxx0 - sx0 * (sx0 * 1.0 / n0))
             |      + (sxx1 - sx1 * (sx1 * 1.0 / n1)))
             |    / (n0 + n1 - 2)
             |    * (1.0 / n0 + 1.0 / n1)) AS se_cents
             |FROM w""".stripMargin)),

    // A/B funnel readout: view→purchase conversion per arm (q294's
    // assignment × q122's funnel outcome) with the absolute lift — a
    // binary-metric experiment readout. "Converted" = the user has a
    // purchase strictly after some view (the funnel's first-and-last
    // stages; order checked on the exact time key). Integer counts,
    // two ratio divides in identical order. Scale: two user-grain
    // aggregates + arm-sized rollup.
    GQuery(
      "q296_ab_funnel",
      (s, dir) => {
        import s.implicits._
        val per = t(s, dir, "events")
          .groupBy($"user_id")
          .agg(min(when($"event_type" === "view", unix_micros($"ts")))
            .as("first_view"),
            max(when($"event_type" === "purchase", unix_micros($"ts")))
              .as("last_purchase"))
          .select($"user_id",
            ($"first_view".isNotNull && $"last_purchase".isNotNull &&
              $"last_purchase" > $"first_view").cast("long").as("converted"))
          .withColumn("arm",
            expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8)," +
              " 16, 10) AS BIGINT) % 2"))
        val arms = per.groupBy($"arm")
          .agg(count(lit(1)).as("n"), sum($"converted").as("conv"))
        arms.agg(
            sum(when($"arm" === 0, $"n").otherwise(0L)).as("n0"),
            sum(when($"arm" === 0, $"conv").otherwise(0L)).as("c0"),
            sum(when($"arm" === 1, $"n").otherwise(0L)).as("n1"),
            sum(when($"arm" === 1, $"conv").otherwise(0L)).as("c1"))
          .select($"n0", $"c0", $"n1", $"c1",
            ($"c0" * lit(1.0) / $"n0").as("cr_control"),
            ($"c1" * lit(1.0) / $"n1").as("cr_treat"),
            ($"c1" * lit(1.0) / $"n1" - $"c0" * lit(1.0) / $"n0")
              .as("abs_lift"))
      },
      Some("""WITH per AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
             |      AS fv,
             |    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
             |      AS lp
             |  FROM events GROUP BY 1),
             |lab AS (SELECT
             |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 2 AS arm,
             |    CASE WHEN fv IS NOT NULL AND lp IS NOT NULL AND lp > fv
             |         THEN 1 ELSE 0 END AS converted
             |  FROM per),
             |w AS (SELECT
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
             |         AS BIGINT) AS c0,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
             |         AS BIGINT) AS c1
             |  FROM lab)
             |SELECT n0, c0, n1, c1,
             |  c0 * 1.0 / n0 AS cr_control, c1 * 1.0 / n1 AS cr_treat,
             |  c1 * 1.0 / n1 - c0 * 1.0 / n0 AS abs_lift
             |FROM w""".stripMargin)),

    // CUPED variance reduction: per-user pre-period covariate (first
    // 15 days' value, whole units so the int64 moment sums stay under
    // 2^53 at any plausible SF) against the experiment-period metric;
    // θ = cov(X,Y)/var(X) from five exact integer power sums, then
    // the variance-reduction ratio 1 − ρ² the platform quotes as
    // "CUPED bought us N% smaller confidence intervals". The scalar
    // assembly casts each exact sum to double FIRST (n·sxy would
    // overflow int64) — bigint→double is exact below 2^53, and the
    // remaining ops are identical IEEE on both engines. Scale: one
    // user-grain aggregate carrying five sums.
    GQuery(
      "q297_cuped",
      (s, dir) => {
        import s.implicits._
        val mid = lit("2024-01-16").cast("timestamp")
        val per = t(s, dir, "events")
          .groupBy($"user_id")
          .agg(sum(when($"ts" < mid,
            floor($"value" + 0.5).cast("long")).otherwise(0L)).as("x"),
            sum(when($"ts" >= mid,
              floor($"value" + 0.5).cast("long")).otherwise(0L)).as("y"))
        val m = per.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
            sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
            sum($"x" * $"y").as("sxy"), sum($"y" * $"y").as("syy"))
          .select($"n",
            $"n".cast("double").as("nd"), $"sx".cast("double").as("sxd"),
            $"sy".cast("double").as("syd"), $"sxx".cast("double").as("sxxd"),
            $"sxy".cast("double").as("sxyd"), $"syy".cast("double").as("syyd"))
        m.select($"n",
            (($"nd" * $"sxyd" - $"sxd" * $"syd")
              / ($"nd" * $"sxxd" - $"sxd" * $"sxd")).as("theta"),
            ((($"nd" * $"sxyd" - $"sxd" * $"syd")
              * ($"nd" * $"sxyd" - $"sxd" * $"syd"))
              / (($"nd" * $"sxxd" - $"sxd" * $"sxd")
                * ($"nd" * $"syyd" - $"syd" * $"syd"))).as("rho2"),
            (lit(1.0) - (($"nd" * $"sxyd" - $"sxd" * $"syd")
              * ($"nd" * $"sxyd" - $"sxd" * $"syd"))
              / (($"nd" * $"sxxd" - $"sxd" * $"sxd")
                * ($"nd" * $"syyd" - $"syd" * $"syd")))
              .as("variance_ratio"))
      },
      Some("""WITH per AS (SELECT user_id,
             |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value + 0.5) AS BIGINT)
             |      ELSE 0 END) AS BIGINT) AS x,
             |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value + 0.5) AS BIGINT)
             |      ELSE 0 END) AS BIGINT) AS y
             |  FROM events GROUP BY 1),
             |m AS (SELECT count(*) AS n,
             |    CAST(count(*) AS DOUBLE) AS nd,
             |    CAST(sum(x) AS DOUBLE) AS sxd, CAST(sum(y) AS DOUBLE) AS syd,
             |    CAST(sum(x * x) AS DOUBLE) AS sxxd,
             |    CAST(sum(x * y) AS DOUBLE) AS sxyd,
             |    CAST(sum(y * y) AS DOUBLE) AS syyd
             |  FROM per)
             |SELECT n,
             |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS theta,
             |  ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
             |    / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
             |    AS rho2,
             |  1.0 - ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
             |    / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
             |    AS variance_ratio
             |FROM m""".stripMargin)),

    // CUPED-adjusted A/B readout — the experimentation family's
    // capstone: θ fitted on the POOLED pre-period (q297), then the
    // per-arm adjusted means ȳₐ − θ(x̄ₐ − x̄) compared. Every per-arm
    // moment is an exact int64 sum over whole units; the scalar
    // assembly casts to double first (q297's overflow argument) and
    // runs identically on both engines. The point of the operator:
    // the RAW and ADJUSTED effects sit side by side, which is how a
    // platform demonstrates the adjustment changed variance, not the
    // estimate. One user-grain aggregate, arm-sized everything after.
    GQuery(
      "q299_ab_cuped",
      (s, dir) => {
        import s.implicits._
        val mid = lit("2024-01-16").cast("timestamp")
        val per = t(s, dir, "events")
          .groupBy($"user_id")
          .agg(sum(when($"ts" < mid,
            floor($"value" + 0.5).cast("long")).otherwise(0L)).as("x"),
            sum(when($"ts" >= mid,
              floor($"value" + 0.5).cast("long")).otherwise(0L)).as("y"))
          .withColumn("arm",
            expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8)," +
              " 16, 10) AS BIGINT) % 2"))
        val m = per.agg(
            count(lit(1)).cast("double").as("nd"),
            sum($"x").cast("double").as("sxd"),
            sum($"y").cast("double").as("syd"),
            sum($"x" * $"x").cast("double").as("sxxd"),
            sum($"x" * $"y").cast("double").as("sxyd"),
            sum(when($"arm" === 0, 1L).otherwise(0L)).cast("double").as("n0"),
            sum(when($"arm" === 0, $"x").otherwise(0L)).cast("double").as("x0"),
            sum(when($"arm" === 0, $"y").otherwise(0L)).cast("double").as("y0"),
            sum(when($"arm" === 1, 1L).otherwise(0L)).cast("double").as("n1"),
            sum(when($"arm" === 1, $"x").otherwise(0L)).cast("double").as("x1"),
            sum(when($"arm" === 1, $"y").otherwise(0L)).cast("double").as("y1"))
        m.select(
          (($"nd" * $"sxyd" - $"sxd" * $"syd")
            / ($"nd" * $"sxxd" - $"sxd" * $"sxd")).as("theta"),
          ($"y1" / $"n1" - $"y0" / $"n0").as("raw_effect"),
          (($"y1" / $"n1" - ($"nd" * $"sxyd" - $"sxd" * $"syd")
            / ($"nd" * $"sxxd" - $"sxd" * $"sxd")
            * ($"x1" / $"n1" - $"sxd" / $"nd"))
            - ($"y0" / $"n0" - ($"nd" * $"sxyd" - $"sxd" * $"syd")
            / ($"nd" * $"sxxd" - $"sxd" * $"sxd")
            * ($"x0" / $"n0" - $"sxd" / $"nd"))).as("cuped_effect"))
      },
      Some("""WITH per AS (SELECT user_id,
             |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 2 AS arm,
             |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END)
             |      AS BIGINT) AS x,
             |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END)
             |      AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT
             |    CAST(count(*) AS DOUBLE) AS nd,
             |    CAST(sum(x) AS DOUBLE) AS sxd, CAST(sum(y) AS DOUBLE) AS syd,
             |    CAST(sum(x * x) AS DOUBLE) AS sxxd,
             |    CAST(sum(x * y) AS DOUBLE) AS sxyd,
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS DOUBLE) AS x0,
             |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS DOUBLE) AS y0,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS DOUBLE) AS x1,
             |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS DOUBLE) AS y1
             |  FROM per)
             |SELECT
             |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS theta,
             |  y1 / n1 - y0 / n0 AS raw_effect,
             |  (y1 / n1 - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
             |    * (x1 / n1 - sxd / nd))
             |  - (y0 / n0 - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
             |    * (x0 / n0 - sxd / nd)) AS cuped_effect
             |FROM m""".stripMargin))
  )
}
