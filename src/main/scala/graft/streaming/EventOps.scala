package graft.streaming

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table. The reference has
  * no streaming at all (SURVEY.md §2.8) — this is net-new surface.
  *
  * Each aggregation exists in two forms sharing the same plan shape:
  * a batch form (oracle-checkable below) and a Structured Streaming
  * form ([[streamingTumbling]]) with watermarking, verified in the
  * ScalaTest suite via the memory sink. At scale the streaming form
  * runs the identical hash-aggregate with state kept per window.
  */
object EventOps {

  /** Tumbling 1-hour window per event type (batch form). */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** e9: TRENDING — the top-k event types per day by volume, the
    * dashboard/alerting rollup every event pipeline serves. Two
    * bounded wide ops: the count aggregate (map-side combined; its
    * exchange carries days × types rows) and the per-day rank window
    * over that tiny table — the corpus shuffles once into the agg
    * and never again. Deterministic tie-break by event_type. */
  def trendingTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = t(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    counts
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("day"))
          .orderBy(col("n_events").desc, col("event_type").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("day"), col("event_type"), col("n_events"), col("rnk"))
  }

  def trendingTopKOracleSql(k: Int): String =
    s"""SELECT day, event_type, n_events, rnk FROM (
       |  SELECT day, event_type, n_events,
       |    CAST(row_number() OVER (PARTITION BY day
       |      ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rnk
       |  FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |          event_type, CAST(count(*) AS BIGINT) AS n_events
       |        FROM events GROUP BY 1, 2))
       |WHERE rnk <= $k""".stripMargin

  /** JSON prop extraction + aggregation (events.props is a JSON blob). */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))

  /** Gap-based sessionization (30-min inactivity): session count and
    * mean session length per user. Window-lag based; deterministic
    * ordering by (ts, event_id). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
  }

  /** Funnel: per user, did view → click → purchase occur in order? */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val firstOf = (typ: String) =>
      min(when(col("event_type") === typ, col("ts"))).as(s"first_$typ")
    e.groupBy(col("user_id"))
      .agg(firstOf("view"), firstOf("click"), firstOf("purchase"))
      .select(
        col("user_id"),
        col("first_view").isNotNull.as("viewed"),
        (col("first_click") > col("first_view")).as("clicked_after_view"),
        (col("first_purchase") > col("first_click")).as("purchased_after_click"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("viewed"), 1).otherwise(0)).as("n_viewed"),
        sum(when(col("clicked_after_view"), 1).otherwise(0)).as("n_clicked"),
        sum(when(col("purchased_after_click"), 1).otherwise(0)).as("n_purchased"))
  }

  /** e5: AS-OF join — every purchase attributed to the user's most
    * recent view at or before it. Spark has no asof-join operator;
    * the scale-correct formulation is union-both-sides + a
    * carry-forward window: ONE shuffle on user_id, one spillable
    * sort by (ts, side), and `last(view_value, ignoreNulls)` carries
    * the newest view down to each purchase row. No per-row range
    * probe, no inequality-join explosion — the work is O(events)
    * however skewed the time axis. Views are pre-aggregated per
    * (user, ts) so same-instant ties are deterministic; `side` orders
    * a view before a same-timestamp purchase, matching ASOF's `>=`.
    * DuckDB arbitrates with its native ASOF JOIN. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("purchase_value"), col("view_value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"), col("value").as("purchase_value"),
        lit(null).cast("double").as("view_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionAll(purchases)
      .withColumn("carried", last(col("view_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("carried").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("purchase_value"), col("carried").as("view_value"))
  }

  /** e6: RANGE join (point-in-interval, NO equi key) — every error
    * event opens a ±5-minute incident window; count/sum ALL events
    * inside each window. Spark's own planner can only run an
    * equi-key-less interval join as BroadcastNestedLoopJoin (O(n·m));
    * the scale formulation derives the equi key: time is bucketed at
    * the window span, an interval overlaps ≤2 buckets (exploded), a
    * point lives in exactly 1 — so bucket equality is a complete and
    * non-duplicating candidate filter, and the join is an ordinary
    * shuffled equi-join + residual BETWEEN. Work is O(events + 2·
    * incidents + true matches); the plan never contains a nested
    * loop (PlanShapeSpec). */
  def rangeJoin(spark: SparkSession, dir: String, halfWindowUs: Long = 300000000L): DataFrame = {
    val bucketUs = 2 * halfWindowUs
    val e = t(spark, dir, "events").withColumn("ts_us", unix_micros(col("ts")))
    val incidents = e.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"),
        (col("ts_us") - halfWindowUs).as("lo"),
        (col("ts_us") + halfWindowUs).as("hi"))
      .select(col("incident_id"), col("lo"), col("hi"),
        explode(sequence(expr(s"lo div $bucketUs"), expr(s"hi div $bucketUs"))).as("bucket"))
    val points = e.select(col("ts_us"), col("value"),
      expr(s"ts_us div $bucketUs").as("bucket"))
    incidents.join(points, "bucket")
      .filter(col("ts_us") >= col("lo") && col("ts_us") <= col("hi"))
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
  }

  /** e7: weekly COHORT RETENTION — the standard activation/retention
    * triangle: users are cohorted by the week of their first event,
    * and each (cohort, week-offset) cell counts how many of that
    * cohort were active that week. Week = epoch-µs integer division
    * (calendar-free, so the oracle replays it exactly).
    *
    * Scale shape: one groupBy(user_id) collapses each user's history
    * to (first week, distinct active weeks) with map-side combine —
    * the per-user state is bounded by #weeks, not #events — then the
    * exploded (cohort, offset) pairs reduce in a second small agg.
    * No self-join of events against events (the naive cohort SQL),
    * no distinct over the raw event table. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    // FLOOR division in exact integer arithmetic ((a - pmod(a, b))
    // div b): Spark's `div` truncates toward zero, DuckDB's `//`
    // floors — they differ on pre-epoch timestamps, and pmod keeps
    // the two engines identical without a lossy double round-trip.
    t(spark, dir, "events")
      .select(col("user_id"),
        expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $weekUs)) div $weekUs").as("wk"))
      .groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"), collect_set(col("wk")).as("wks"))
      .select(col("cohort_wk"), explode(col("wks")).as("wk"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** DuckDB oracle for [[retention]]: distinct user-weeks, cohort via
    * window min, same integer week arithmetic. */
  def retentionOracleSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      |c AS (
      |  SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort_wk FROM uw)
      |SELECT cohort_wk, wk - cohort_wk AS week_offset,
      |  CAST(count(*) AS BIGINT) AS n_active
      |FROM c GROUP BY 1, 2""".stripMargin

  /** e8: trailing-window VELOCITY features — for every event, the
    * count and (cent-integral) value sum of the SAME user's events in
    * the preceding hour, plus a burst flag: the feature-engineering
    * shape an abuse/fraud/rate-limit pipeline computes per event. A
    * RANGE-interval frame over event time does it in one shuffle on
    * user_id + one spillable frame walk — the naive formulation is an
    * inequality SELF-JOIN (quadratic per user; at 100 TB the thing
    * this operator exists to avoid). The frame's upper bound is
    * exclusive (−1 µs), so same-timestamp peers stay out and the
    * frame is a deterministic SET; with cents kept integral, every
    * aggregate is order-independent and the oracle hash-matches. */
  def trailingVelocity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-hourUs, -1)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_prev_hour", count(lit(1)).over(w))
      .withColumn("cents_prev_hour", coalesce(sum(col("cents")).over(w), lit(0L)))
      .withColumn("burst", col("n_prev_hour") >= 3)
      .select(col("event_id"), col("user_id"), col("n_prev_hour"),
        col("cents_prev_hour"), col("burst"))
  }

  def trailingVelocityOracleSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      |SELECT event_id, user_id,
      |  CAST(count(*) OVER w AS BIGINT) AS n_prev_hour,
      |  CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS cents_prev_hour,
      |  (count(*) OVER w) >= 3 AS burst
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |  RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)""".stripMargin

  /** Streaming twin of [[trailingVelocity]]: per-user state holds the
    * last hour's (ts, cents) history; each event emits its trailing
    * features and is folded into state — continuous per-event feature
    * computation, the form an online abuse detector actually runs.
    * Within a batch the group walks in (ts, event_id) order; state
    * prunes to the trailing hour after every event, so per-user state
    * is bounded by the user's one-hour event volume. Same-timestamp
    * peers are excluded on the walk exactly like the batch frame's
    * exclusive −1 µs bound. Assumes per-user event-time-ordered
    * arrival ACROSS batches (the same contract as [[streamingAsof]]);
    * StreamingSpec proves set-equality to the batch e8. */
  def streamingTrailingVelocity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val hourUs = 3600000000L
    val typed = eventStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          var hist = state.getOption.getOrElse(List.empty) // (ts_us, cents) asc
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Boolean)]
          events.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, tsUs, eventId, cents) =>
            val win = hist.filter(h => h._1 >= tsUs - hourUs && h._1 <= tsUs - 1)
            val n = win.size.toLong
            out += ((eventId, user, n, win.iterator.map(_._2).sum, n >= 3))
            // Prune INCLUSIVE of tsUs - hourUs: the window filter above
            // and the batch RANGE frame both use an inclusive lower
            // bound, so a later event with the SAME timestamp still
            // needs the peer sitting exactly one hour before it.
            hist = (hist :+ (tsUs, cents)).filter(_._1 >= tsUs - hourUs)
          }
          state.update(hist)
          out.iterator
      }
      .toDF("event_id", "user_id", "n_prev_hour", "cents_prev_hour", "burst")
  }

  /** Streaming source over the events parquet: file source (the
    * directory is glob-filtered to the events file); ts normalized to
    * a µs timestamp whichever on-disk generation (nanos-long or
    * timestamp[us]) the schema shows. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.rawEventsSchema(spark, dir)
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Structured Streaming form of [[tumblingCounts]]: 10-minute
    * watermark, 1-hour tumbling window. Verified against the batch
    * result in the streaming spec via the memory sink. */
  def streamingTumbling(spark: SparkSession, dir: String): DataFrame =
    eventStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming sessionization twin of [[sessionize]] (e3): Spark's
    * native session_window merges events separated by <30 min of
    * inactivity — the stateful form of the batch lag/cumsum plan,
    * emitting one row per session. Boundary convention: session_window
    * starts a NEW session at gap ≥ 30 min where the batch plan's
    * strict `>` merges an exact-30-min gap; an exactly-µs-precise
    * 30-min interarrival is the only divergence (none exist in the
    * testdata at any SF — checked). The spec runs the finite replay in
    * COMPLETE mode and checks per-user (n_sessions, n_events)
    * set-equality against batch e3; a production deployment runs
    * Append + this watermark, where a session emits once the
    * watermark passes its close and its state is dropped — state is
    * bounded by OPEN sessions, not stream length. */
  def streamingSessionize(spark: SparkSession, dir: String): DataFrame =
    eventStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"))

  /** Sliding-window variant: 1-hour windows every 15 minutes — each
    * event lands in 4 windows; same state-store mechanics at scale. */
  def streamingSliding(spark: SparkSession, dir: String): DataFrame =
    eventStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n_events"))

  /** Watermarked streaming dedup on event_id — the streaming form of
    * exact dedup: state keeps ids inside the watermark horizon only,
    * so state size is bounded by event-time skew, not stream length. */
  def streamingDedup(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")

  /** Streaming twin of the [[rangeJoin]]: the SAME bucket derivation
    * is what makes the interval join streamable at all — Spark's
    * stream-stream join keeps symmetric hash state per EQUALITY key,
    * so an equi-key-less interval join is not streamable, but with
    * the span-sized bucket as the key it is. Watermarks on both
    * sides plus the event-time BETWEEN bound the state store: a
    * bucket's incidents and points age out once the watermark passes
    * the window. Emits raw (incident_id, value) matches; the spec
    * aggregates them and checks equality with the batch result. */
  def streamingRangeJoin(spark: SparkSession, dir: String,
                         halfWindowUs: Long = 300000000L): DataFrame = {
    val bucketUs = 2 * halfWindowUs
    val incidents = eventStream(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts").as("i_ts"),
        unix_micros(col("ts")).as("i_us"))
      .select(col("incident_id"), col("i_ts"),
        (col("i_us") - halfWindowUs).as("lo"), (col("i_us") + halfWindowUs).as("hi"))
      .withColumn("i_bucket",
        explode(sequence(expr(s"lo div $bucketUs"), expr(s"hi div $bucketUs"))))
      .withWatermark("i_ts", "10 minutes")
    val points = eventStream(spark, dir)
      .select(col("ts").as("p_ts"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("p_bucket", expr(s"ts_us div $bucketUs"))
      .withWatermark("p_ts", "10 minutes")
    incidents.join(points,
      col("i_bucket") === col("p_bucket") &&
        col("ts_us") >= col("lo") && col("ts_us") <= col("hi") &&
        col("p_ts") >= col("i_ts") - expr("INTERVAL 5 MINUTES") &&
        col("p_ts") <= col("i_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("incident_id"), col("value"))
  }

  /** Streaming form of the [[asofJoin]]: per-user state holds the
    * latest view (ts, value); each purchase emits its attribution
    * row. flatMapGroupsWithState gives no intra-batch ordering, so
    * each batch's group is sorted by (ts, side) before the walk —
    * exactly the batch formulation's sort, but scoped to one
    * micro-batch's worth of one user's events (bounded), with the
    * carried view surviving BETWEEN batches in the state store. This
    * is the "enrich a stream against its own latest state" shape a
    * feature pipeline runs continuously. Verified against the batch
    * e5 results in the streaming spec. */
  def streamingAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // (user, ts_us, side 0=view/1=purchase, event_id, value)
    val typed = eventStream(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"),
        col("event_id"), col("value"))
      .as[(Long, Long, Int, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Long, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          var latest = state.getOption // (view ts_us, view value)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Double, Double)]
          events.toSeq.sortBy(e => (e._2, e._3)).foreach {
            case (_, tsUs, 0, _, v) =>
              // same-instant views collapse to max(value), matching
              // the batch pre-aggregation's tie-break
              latest = latest match {
                case Some((t, vv)) if t == tsUs => Some((t, math.max(vv, v)))
                case Some((t, vv)) if t > tsUs => Some((t, vv))
                case _ => Some((tsUs, v))
              }
            case (_, tsUs, _, eventId, v) =>
              latest.foreach { case (_, vv) => out += ((user, eventId, tsUs, v, vv)) }
          }
          latest.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "event_id", "ts_us", "purchase_value", "view_value")
  }

  /** Streaming twin for e4's funnel: per-user state is the earliest
    * timestamp of each stage seen so far — three longs per user,
    * trivially bounded however long the stream runs. Stage booleans
    * (viewed / clicked-after-view / purchased-after-click, strict
    * ordering like batch e4) are emitted in update mode. They are NOT
    * monotone — an earlier click arriving late can flip
    * clicked_after_view back to false — so each emission carries
    * n_seen, the count of this user's events processed, which IS
    * monotone: the spec selects each user's max-n_seen row as the
    * final snapshot, making the contract exact under any batch split
    * (min-updates are order-independent). The batch global rollup is
    * a four-column aggregate over this frame. */
  def streamingFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = eventStream(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long)]
    val M = Long.MaxValue
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long),
        (Long, Long, Boolean, Boolean, Boolean)](GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          var (n, v, c, p) = state.getOption.getOrElse((0L, M, M, M))
          events.foreach { e =>
            n += 1
            e._2 match {
              case "view" => if (e._3 < v) v = e._3
              case "click" => if (e._3 < c) c = e._3
              case "purchase" => if (e._3 < p) p = e._3
              case _ => ()
            }
          }
          state.update((n, v, c, p))
          (user, n, v != M, v != M && c != M && c > v, c != M && p != M && p > c)
      }
      .toDF("user_id", "n_seen", "viewed", "clicked_after_view", "purchased_after_click")
  }

  /** Custom keyed state via mapGroupsWithState: running per-user
    * event count + latest event time (the KeyValueGroupedDataset
    * state path a gap-sessionizer builds on; update-mode emission
    * keeps it deterministic under any batch split). */
  def streamingUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = eventStream(spark, dir)
      .select(col("user_id").as("user"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        case (user, events, state) =>
          var (n, maxTs) = state.getOption.getOrElse((0L, Long.MinValue))
          events.foreach { e =>
            n += 1
            if (e._2 > maxTs) maxTs = e._2
          }
          state.update((n, maxTs))
          (user, n, maxTs)
      }
      .toDF("user_id", "n_events", "last_ts_us")
  }
}
