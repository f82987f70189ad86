package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Scans

/** Event-stream analytics: funnels, cohort retention, DAU/WAU stickiness,
  * last-touch attribution, volume anomalies, rolling volume. (Reference
  * scope: pygrametl models events as fact rows; sequence/engagement
  * analytics is an additive extension like §2.9 streaming.)
  *
  * The shared scale discipline: every operator first collapses the raw
  * stream with ONE keyed, map-side-combined aggregation — to (user, day)
  * activity, to (type, day) counts, or to per-user step times — and all
  * further work (windows, self-joins, second aggregations) runs over that
  * calendar- or type-bounded frame, never over raw events. The only
  * full-stream window is [[lastTouchAttribution]]'s, and it is user-keyed
  * (the sessionization discipline). Funnel detail: step i is the
  * aggregation `min(ts) where type = sᵢ and ts > tᵢ₋₁` keyed by the
  * user — k steps = k user-keyed shuffles of already-filtered slices (the
  * type filter pushes to the scan), never a per-user sort over the stream.
  */
object Events {

  /** Cohort retention: users are cohorted by their first-activity day, and
    * each later active day counts them at `datediff(day, cohort_day)` —
    * the "day-N retention" table behind every engagement dashboard.
    *
    * Scale shape: (user, day) distinct is ONE shuffle of the event stream;
    * cohort assignment is a map-side-combined `min(day)` over that already
    * user-clustered frame; the activity↔cohort join is user-keyed
    * equi-join (no broadcast needed, no skew — a user's rows are bounded
    * by the calendar); the final rollup lands on |cohorts|×|offsets| rows,
    * data-independent of the stream size. No window, no self-join over
    * raw events.
    *
    * Returns (cohort_day, offset_days, active_users); offset 0 is the
    * cohort's own size.
    */
  def retention(df: DataFrame, userCol: String, tsCol: String): DataFrame =
    retentionOfActivity(
      df.select(col(userCol), to_date(col(tsCol)).as("__day")).distinct(),
      userCol)

  /** [[retention]]'s rollup over an already-deduplicated (user, `__day`)
    * activity frame — exposed so the streaming
    * [[graft.streaming.Streaming.RetentionMonitor]] can derive the exact
    * same table from its accreted activity state.
    */
  def retentionOfActivity(activity: DataFrame, userCol: String): DataFrame = {
    val cohorts = activity.groupBy(col(userCol))
      .agg(min(col("__day")).as("cohort_day"))
    activity.join(cohorts, Seq(userCol))
      .groupBy(col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).as("offset_days"))
      .agg(countDistinct(col(userCol)).as("active_users"))
  }

  /** DAU/WAU stickiness: for every active day, the count of users active
    * that day (DAU), the count active in the trailing `windowDays` window
    * (WAU), and their ratio — the engagement-depth metric next to
    * [[retention]] on the same dashboard.
    *
    * Scale shape: a trailing-window COUNT DISTINCT cannot be a plain
    * window function, and a day-range self-join of the raw stream is
    * quadratic — instead each (user, day) activity row votes into the
    * `windowDays` window-end days it is visible from (one explode,
    * windowDays× the already-deduplicated activity frame, linear), the
    * vote list is cut to real active days by a broadcast join against the
    * |days|-row calendar, and both rollups are map-side-combined distinct
    * counts. Output is |days| rows.
    *
    * Returns (day, dau, wau, stickiness) ordered by day.
    */
  def stickiness(df: DataFrame, userCol: String, tsCol: String,
                 windowDays: Int = 7): DataFrame =
    stickinessOfActivity(
      df.select(col(userCol), to_date(col(tsCol)).as("__day")).distinct(),
      userCol, windowDays)

  /** [[stickiness]]'s rollup over an already-deduplicated (user, `__day`)
    * activity frame — the second readout the streaming
    * [[graft.streaming.Streaming.RetentionMonitor]] serves from the same
    * accreted state.
    */
  def stickinessOfActivity(activity: DataFrame, userCol: String,
                           windowDays: Int = 7): DataFrame = {
    val days = activity.select(col("__day").as("day")).distinct()
    val votes = activity
      .select(col(userCol),
        explode(sequence(col("__day"), date_add(col("__day"), windowDays - 1)))
          .as("day"))
      .join(broadcast(days), Seq("day"))
    val wau = votes.groupBy(col("day"))
      .agg(countDistinct(col(userCol)).as("wau"))
    val dau = activity.groupBy(col("__day").as("day"))
      .agg(countDistinct(col(userCol)).as("dau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round((col("dau").cast("double") / col("wau"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("stickiness"))
  }

  /** Last-touch attribution: each conversion event is credited to the most
    * recent PRECEDING non-conversion event type in the same user's stream
    * (ties at the same timestamp broken toward the earlier event id for
    * determinism), then rolled up to conversions per touch type.
    *
    * Scale shape: one user-keyed window (partition by user, order by ts) —
    * the stream shuffles once on the user key and sorts per user, the
    * standard sessionization discipline; per-user data is calendar-bounded
    * so there is no whale-partition risk. The rollup output is |types|
    * rows. No range self-join (which would be O(touches × conversions)
    * per user).
    */
  def lastTouchAttribution(df: DataFrame, userCol: String, typeCol: String,
                           tsCol: String, idCol: String,
                           convType: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("__touch",
        last(when(col(typeCol) =!= convType, col(typeCol)), ignoreNulls = true)
          .over(w))
      .filter(col(typeCol) === convType)
      .groupBy(coalesce(col("__touch"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("conversions"))
  }

  /** Batch sessionization — gaps-and-islands: a user's events split into
    * sessions wherever the gap to the previous event exceeds `gapMinutes`;
    * each session rolls up to (start, end, n_events). The batch twin of
    * [[graft.streaming.Streaming.sessionize]]'s `session_window` (same gap
    * rule; this one also hands back a stable per-user session ordinal).
    *
    * Scale shape: ONE user-keyed window (lag to flag session starts, then
    * the running sum of flags as the session ordinal — both over the same
    * (user, ts, id) sort, so Spark plans one shuffle + one per-user sort)
    * followed by a keyed rollup. The sessionization discipline: per-user
    * data is calendar-bounded, so no whale partitions.
    *
    * Returns (userCol, session_id, session_start, session_end, n_events);
    * session_id is 1-based per user in time order.
    */
  def sessionize(df: DataFrame, userCol: String, tsCol: String, idCol: String,
                 gapMinutes: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gapMicros = gapMinutes * 60L * 1000000L
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("__prev")) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("session_id"))
      .agg(min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Volume-anomaly scan: z-score of every (event type, day) count against
    * that type's own daily distribution — the pipeline-health monitor that
    * catches a collector outage (count collapses) or a runaway producer
    * (count explodes) before the data poisons downstream aggregates.
    *
    * Scale shape: the stream collapses to the |types|×|days| count table in
    * ONE map-side-combined aggregation; per-type moments are a second
    * aggregation over that already-tiny table, broadcast back. Sums stage
    * exactly — the count as a long, the square as DECIMAL(15,0)² so a
    * 10¹²-events/day type cannot overflow a long — and the z is the fixed
    * E[x²]−E[x]² operation order of [[graft.functions.Vectors.dimensionProfile]],
    * so every verdict is engine-reproducible.
    *
    * Returns (event_type, day, n, z, is_anomaly) for every type-day;
    * a type with zero daily variance reads z = 0 (never anomalous).
    */
  def dailyAnomalies(df: DataFrame, typeCol: String, tsCol: String,
                     zThreshold: Double = 2.0): DataFrame =
    anomaliesOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      zThreshold)

  /** Trailing-window rolling statistics per event type: each (type, day)'s
    * count alongside the mean over the last `window` OBSERVED days (rows
    * semantics: days with zero events don't pad the window) — the
    * smoothed-volume baseline [[dailyAnomalies]]'s global z complements
    * for slow drifts that never spike.
    *
    * Scale shape: the stream collapses to the |types|×|days| count table
    * first (one map-side-combined aggregation); the window runs over THAT
    * table, partitioned by type — a few hundred rows per partition, never
    * a window over raw events. The mean is an exact long sum divided once,
    * decimal-staged, engine-reproducible.
    *
    * Returns (event_type, day, n, trail_days, trail_mean).
    */
  def rollingDailyStats(df: DataFrame, typeCol: String, tsCol: String,
                        window: Int = 7): DataFrame = {
    val daily = df
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-(window - 1), 0)
    daily.select(col("event_type"), col("day"), col("n"),
      count(lit(1)).over(w).as("trail_days"),
      round((sum(col("n")).over(w).cast("double") / count(lit(1)).over(w))
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
        .cast("double").as("trail_mean"))
  }

  /** [[dailyAnomalies]]'s z-stage over an already-built (event_type, day, n)
    * count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical
    * verdicts off its accreted count state.
    */
  def anomaliesOfDaily(daily: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__d"), sum(col("n")).as("__s"),
        sum(col("n").cast(dec15) * col("n").cast(dec15)).as("__s2"))
    val mean = col("__s").cast("double") / col("__d")
    val std = sqrt(greatest(
      col("__s2").cast("double") / col("__d") - mean * mean, lit(0.0)))
    val zRaw = when(std === 0.0, lit(0.0))
      .otherwise((col("n") - mean) / std)
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        round(zRaw.cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("z"),
        (abs(zRaw) > zThreshold).as("is_anomaly"))
  }

  /** Funnel latency: for each consecutive step pair of [[funnel]], how
    * long converting users took — count, mean seconds, and the histogram
    * p50 threshold — the "where does the funnel stall" readout next to
    * the completion counts.
    *
    * Scale shape: the funnel table (one row per user) is frozen and
    * reused by every transition slice; latencies collapse to |transitions|
    * aggregate rows plus the bounded-bin p50 pick
    * ([[graft.functions.Stats.groupedHistogramQuantiles]] — group-keyed
    * bin self-join, no unpartitioned window). Latency seconds are exact
    * integer micros-diffs floor-divided; the mean stages in DECIMAL.
    *
    * Returns (step, transition, n_users, mean_secs, p50_secs) where
    * `p50_secs` is the conservative bin-ceiling estimate and `step` is
    * the 1-based index of the transition's source step.
    */
  def funnelLatency(df: DataFrame, userCol: String, typeCol: String,
                    tsCol: String, steps: Seq[String],
                    width: Double = 3600.0): DataFrame = {
    require(steps.length >= 2, "funnelLatency needs at least two steps")
    val f = org.apache.spark.sql.graftbridge.Bridge.freeze(
      funnel(df, userCol, typeCol, tsCol, steps))
    val lat = steps.indices.dropRight(1).map { i =>
      f.filter(col(s"step_${i + 2}_ts").isNotNull)
        .select(lit(i + 1).as("step"),
          lit(s"${steps(i)}->${steps(i + 1)}").as("transition"),
          ((unix_micros(col(s"step_${i + 2}_ts"))
            - unix_micros(col(s"step_${i + 1}_ts"))) / lit(1000000L))
            .cast("long").as("secs"))
    }.reduce(_.unionAll(_))
    val stats = lat.groupBy(col("step"), col("transition"))
      .agg(count(lit(1)).as("n_users"),
        // exact long sum -> one IEEE divide -> decimal-staged round (the
        // stickiness ratio discipline)
        round((sum(col("secs")).cast("double") / count(lit(1)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 2)
          .cast("double").as("mean_secs"))
    val p50 = Stats.groupedHistogramQuantiles(lat, "transition", "secs",
        width, Seq(0.5))
      .select(col("transition"), col("hi").as("p50_secs"))
    stats.join(broadcast(p50), Seq("transition"))
      .select(col("step"), col("transition"), col("n_users"),
        col("mean_secs"), col("p50_secs"))
  }

  /** Next-event transition matrix: for every ordered adjacent pair in a
    * user's stream, the count of `from_type → to_type` hops and the row
    * probability P(to | from) — the first-order Markov model behind
    * next-action prediction, UX-flow audits, and bot detection (a
    * scripted client's transition rows are near-deterministic where
    * organic users spread).
    *
    * Scale shape: ONE user-keyed window (the sessionization discipline —
    * partition by user, order by (ts, id), `lead` for the successor;
    * per-user data is calendar-bounded so no whale partitions), then a
    * map-side-combined rollup to at most |types|² rows. Row totals are a
    * second aggregation over that tiny frame broadcast back; the
    * probability is one decimal-staged divide, engine-reproducible.
    *
    * Returns (from_type, to_type, n, p) — `p` sums to 1 per from_type.
    */
  def transitions(df: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    // the |types|²-row hop table feeds BOTH the output join and the row
    // totals — frozen, or the user-keyed window + shuffle of the raw stream
    // runs twice (the streaming monitor passes its own already-frozen state)
    val hops = org.apache.spark.sql.graftbridge.Bridge.freeze(df
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n")))
    transitionsOfCounts(hops)
  }

  /** [[transitions]]' rollup over an already-built (from_type, to_type, n)
    * hop-count table — exposed so the streaming
    * [[graft.streaming.Streaming.TransitionMonitor]] serves the identical
    * matrix from its accreted count state.
    */
  def transitionsOfCounts(hops: DataFrame): DataFrame = {
    val totals = hops.groupBy(col("from_type")).agg(sum(col("n")).as("__tot"))
    hops.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round((col("n").cast("double") / col("__tot"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("p"))
  }

  /** Daily new-vs-returning user split — the growth dashboard's first
    * row, and the retention table's daily marginal: each active (user,
    * day) is NEW iff the day is the user's first. The stream collapses
    * ONCE to the distinct (user, day) activity frame (frozen — first-day
    * lookup and the rollup both read it); first days come from ONE
    * user-keyed min aggregation; the rollup is |days| rows.
    *
    * Returns (day, n_active, n_new, n_returning).
    */
  def newVsReturning(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val activity = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(userCol).as("__u"), to_date(col(tsCol)).as("day")).distinct())
    val firstDay = activity.groupBy(col("__u")).agg(min(col("day")).as("__fd"))
    activity.join(firstDay, Seq("__u"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("__fd"), 1L).otherwise(0L)).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
  }

  /** Lag-k autocorrelation of daily volumes per type — the seasonality
    * DETECTOR behind [[seasonalForecast]]'s assumed period: a spike at
    * lag 7 is the weekly cycle, at lag 1 momentum, nowhere white noise
    * (and the forecast baseline is pointless). The stream collapses ONCE
    * to the frozen |types|×|days| table; each lag is a calendar-shifted
    * equi-join OF THAT TABLE with itself; Pearson per (type, lag)
    * evaluates from exact integer/decimal moments in fixed double order
    * (the [[graft.functions.Stats.correlationMatrix]] discipline).
    *
    * Returns (event_type, lag, n_days, autocorr).
    */
  def dailyAutocorr(df: DataFrame, typeCol: String, tsCol: String,
                    maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "maxLag must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))
    val lags = broadcast(df.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag")))
    val b = daily.select(col("event_type"), col("day").as("__bday"),
      col("n").as("__bn"))
    val a = daily.crossJoin(lags)
    val m = a.join(b, a("event_type") === b("event_type") &&
        b("__bday") === date_sub(a("day"), col("lag")))
      .drop(b("event_type"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("__sx"), sum(col("__bn")).as("__sy"),
        sum(col("n").cast(dec15) * col("n").cast(dec15)).as("__qx"),
        sum(col("__bn").cast(dec15) * col("__bn").cast(dec15)).as("__qy"),
        sum(col("n").cast(dec15) * col("__bn").cast(dec15)).as("__p"))
    val nd = col("n_days").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nd * d("__p") - d("__sx") * d("__sy")
    val vx = nd * d("__qx") - d("__sx") * d("__sx")
    val vy = nd * d("__qy") - d("__sy") * d("__sy")
    m.select(col("event_type"), col("lag"), col("n_days"),
      round(when(vx <= 0.0 || vy <= 0.0, lit(0.0))
        .otherwise(num / (sqrt(vx) * sqrt(vy)))
        .cast(dec), 4).cast("double").as("autocorr"))
  }

  /** Association lift between event types — the market-basket signal
    * over users: lift(A,B) = P(user does both) / (P(A)·P(B)), above 1
    * when types co-occur more than independence predicts (the
    * cross-sell / feature-bundling readout). The corpus collapses ONCE
    * to the distinct (user, type) frame (frozen — per-type counts and
    * the pair join both read it); pairs come from a user-keyed
    * self-join whose expansion is bounded by types-per-user (≤ |types|);
    * lift evaluates from exact integer cross-products with ONE double
    * divide.
    *
    * Returns (type_a, type_b, n_ab, lift) for co-occurring pairs a < b.
    */
  def typeLift(df: DataFrame, userCol: String, typeCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ut = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(userCol).as("__u"), col(typeCol).cast("string").as("__t")).distinct())
    val nUsers = broadcast(ut.select(col("__u")).distinct()
      .agg(count(lit(1)).as("__n")))
    val perType = ut.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val pairs = graft.core.Joins.bucketPairs(ut, Seq("__u"), "__t")
      .groupBy(col("id_a").as("type_a"), col("id_b").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("__t").as("type_a"), col("__c").as("__ca"))), Seq("type_a"))
      .join(broadcast(perType.select(col("__t").as("type_b"), col("__c").as("__cb"))), Seq("type_b"))
      .crossJoin(nUsers)
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round(((col("n_ab").cast(dec38) * col("__n")).cast("double") /
            (col("__ca").cast(dec38) * col("__cb")).cast("double"))
          .cast(dec), 4).cast("double").as("lift"))
  }

  /** Hour-of-day activity profile per event type — the diurnal-shape
    * audit next to [[cadence]]'s gap regularity: human traffic breathes
    * with the clock, scripted traffic is flat (or spikes at the cron
    * hour), and a type whose profile flattens between snapshots changed
    * its caller. ONE map-side-combined aggregation to the ≤ |types|×24
    * table, broadcast per-type totals, decimal-staged shares.
    *
    * Returns (event_type, hour, n, frac).
    */
  def hourlyProfile(df: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    val counts = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.groupBy(col(typeCol).as("event_type"), hour(col(tsCol)).as("hour"))
        .agg(count(lit(1)).as("n")))
    val totals = counts.groupBy(col("event_type")).agg(sum(col("n")).as("__tot"))
    counts.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("hour"), col("n"),
        round((col("n").cast("double") / col("__tot"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("frac"))
  }

  /** Burstiness profile of each event type's daily volume — the Fano
    * factor (variance-to-mean ratio of daily counts) and squared
    * coefficient of variation, the two standard dispersion indexes read
    * BEFORE any of the daily-count alarms are tuned: a Poisson-like
    * arrival stream reads Fano ≈ 1 (CUSUM/EWMA limits at default k work
    * as designed), Fano ≫ 1 is the bursty/clumped regime where mean-based
    * control limits false-alarm on every campaign spike, Fano ≪ 1 is
    * metronomic (batch jobs pretending to be organic traffic). CV² gives
    * the same verdict scale-free for comparing types whose volumes differ
    * by orders of magnitude.
    *
    * Scale shape: ONE aggregation of the |types|×|days| count table to
    * per-type (d, Σn, Σn²) — exact integer/decimal sums, additive across
    * micro-batches (the [[graft.streaming.Streaming.VolumeMonitor]]
    * `burstiness` readout IS this); the moments and both ratios evaluate
    * in fixed double order per type. Zero data shuffle beyond the daily
    * rollup the whole family shares.
    *
    * Returns one row per event_type: (event_type, d_days, n_total,
    * mean_daily, fano, cv2) at 6dp; ratios NULL when the mean is 0.
    */
  def burstiness(df: DataFrame, typeCol: String = "event_type",
                 tsCol: String = "ts"): DataFrame =
    burstinessOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** [[burstiness]]'s readout over an already-built (event_type, day, n)
    * count table — the [[graft.streaming.Streaming.VolumeMonitor]]
    * readout (daily counts are additive, so the accreted state's
    * dispersion equals the batch one).
    */
  def burstinessOfDaily(dailyCounts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val stats = dailyCounts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("d_days"), sum(col("n")).as("n_total"),
        sum(col("n").cast(dec15) * col("n").cast(dec15)).as("__s2"))
    val mean = col("n_total").cast("double") / col("d_days")
    val vr = greatest(
      col("__s2").cast("double") / col("d_days") - mean * mean, lit(0.0))
    def r6(x: org.apache.spark.sql.Column) =
      round(x.cast(dec8), 6).cast("double")
    stats.select(col("event_type"), col("d_days"), col("n_total"),
        r6(mean).as("mean_daily"),
        when(mean <= 0.0, lit(null).cast("double"))
          .otherwise(r6(vr / mean)).as("fano"),
        when(mean <= 0.0, lit(null).cast("double"))
          .otherwise(r6(vr / (mean * mean))).as("cv2"))
      .orderBy(col("event_type"))
  }

  /** CUSUM change-point detection over daily volumes (Page 1954) — the
    * drift alarm [[dailyAnomalies]]'s per-day z-test cannot raise: a
    * volume that creeps up 0.8σ every day never crosses a 2σ spike
    * threshold, but its cumulative sum does. Standardized deviations
    * minus `slack` accumulate with the max(0, ·) reset expressed by the
    * prefix identity `S_t = P_t − min(0, min_{j≤t} P_j)` — two keyed
    * windows instead of a sequential recurrence.
    *
    * Scale shape: the raw stream collapses ONCE to the |types|×|days|
    * count table; both windows run keyed-by-type over that bounded frame.
    * Deviations are decimal-staged BEFORE the window sums, so the prefix
    * sums are exact decimal arithmetic — window summation order cannot
    * perturb the statistic (float prefix sums associate differently
    * across engines).
    *
    * Returns (event_type, day, n, cusum, alarm) with alarm comparing the
    * ROUNDED statistic to `threshold`.
    */
  def cusum(df: DataFrame, typeCol: String, tsCol: String,
            slack: Double = 0.5, threshold: Double = 3.0): DataFrame =
    cusumOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      slack, threshold)

  /** [[cusum]]'s statistic over an already-built (event_type, day, n)
    * count table — the [[graft.streaming.Streaming.VolumeMonitor]] readout
    * (daily counts are additive, so the accreted state's CUSUM equals the
    * batch one once all of a day's events have landed).
    */
  def cusumOfDaily(dailyCounts: DataFrame, slack: Double = 0.5,
                   threshold: Double = 3.0): DataFrame = {
    require(slack >= 0 && threshold > 0, "slack >= 0, threshold > 0")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__d"), sum(col("n")).as("__s"),
        sum(col("n").cast(dec15) * col("n").cast(dec15)).as("__s2"))
    val mean = col("__s").cast("double") / col("__d")
    val std = sqrt(greatest(
      col("__s2").cast("double") / col("__d") - mean * mean, lit(0.0)))
    val z = when(std === 0.0, lit(0.0)).otherwise((col("n") - mean) / std)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("__x", (z - slack).cast(dec))
      .withColumn("__p", sum(col("__x")).over(w))
      .withColumn("__s0", col("__p") -
        least(lit(0).cast(dec), min(col("__p")).over(w)))
      .select(col("event_type"), col("day"), col("n"),
        round(col("__s0"), 4).cast("double").as("cusum"))
      .withColumn("alarm", col("cusum") > threshold)
  }

  /** Page–Hinkley drift detection over per-type daily volumes (Page 1954,
    * the sequential form; Hinkley 1971) — [[cusumOfDaily]]'s
    * training-free sibling: CUSUM standardizes each day against the
    * GLOBAL mean+σ (which needs the whole series, and which a long slow
    * drift contaminates), while Page–Hinkley scores each day against the
    * RUNNING mean of only what came before it — the change-of-level
    * alarm that works from day one and keeps working as the series
    * drifts. mₜ = Σᵢ≤ₜ(xᵢ − x̄ᵢ − δ) with x̄ᵢ the mean of the first i
    * days; PHₜ = mₜ − minᵢ≤ₜ mᵢ; alarm when PHₜ > λ.
    *
    * Scale shape: the raw stream collapses ONCE to the |types|×|days|
    * count table; the running mean is an exact-integer prefix sum
    * divided once, and each deviation is decimal-staged BEFORE the two
    * keyed prefix windows (sum, then min), so window summation order
    * cannot perturb the statistic — the [[cusumOfDaily]] discipline.
    * Reference scope: pygrametl has no drift detection — beyond-
    * reference, next to the CUSUM/EWMA volume-alarm family.
    *
    * Returns (event_type, day, n, ph, alarm) at 4dp, alarm comparing the
    * ROUNDED statistic to `lambda`. δ is in raw-count units (the
    * magnitude of drift to tolerate); λ likewise.
    */
  def pageHinkley(df: DataFrame, typeCol: String, tsCol: String,
                  delta: Double = 0.5, lambda: Double = 20.0): DataFrame =
    phOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      delta, lambda)

  /** [[pageHinkley]]'s statistic over an already-built (event_type, day,
    * n) count table — the [[graft.streaming.Streaming.VolumeMonitor]]
    * readout (daily counts are additive, so the accreted state's
    * Page–Hinkley equals the batch one once all of a day's events have
    * landed).
    */
  def phOfDaily(dailyCounts: DataFrame, delta: Double = 0.5,
                lambda: Double = 20.0): DataFrame = {
    require(delta >= 0 && lambda > 0, "delta >= 0, lambda > 0")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val runMean = sum(col("n")).over(w).cast("double") /
      count(lit(1)).over(w).cast("double")
    daily
      .withColumn("__x", (col("n") - runMean - lit(delta)).cast(dec))
      .withColumn("__m", sum(col("__x")).over(w))
      .withColumn("__ph", col("__m") - min(col("__m")).over(w))
      .select(col("event_type"), col("day"), col("n"),
        round(col("__ph").cast(dec), 4).cast("double").as("ph"))
      .withColumn("alarm", col("ph") > lambda)
  }

  /** Wald–Wolfowitz runs test over per-type daily volumes — "is the
    * series RANDOM around its median at all": too FEW runs of
    * above/below-median days means clustering (regime shifts, weekly
    * batches landing in blocks), too MANY means oscillation (a retry
    * loop alternating with backoff) — the distribution-free randomness
    * verdict that belongs BEFORE anyone reads the CUSUM/EWMA alarms,
    * whose iid-around-the-mean assumption this is the test of.
    *
    * Scale shape: the raw stream collapses ONCE to the |types|×|days|
    * count table; the per-type median is two conditional order
    * statistics off a PARTITIONED rank (the [[graft.functions.Stats]]
    * mood-median discipline), runs count with ONE keyed lag window, and
    * the z forms from three exact integers with the 2ab product
    * DECIMAL(38,0)-staged. Days equal to the median drop (the standard
    * treatment).
    *
    * Returns one row per type: (event_type, n_plus, n_minus, runs, z) —
    * z NULL when either side is empty or the variance degenerates;
    * negative z reads "too few runs" (clustering).
    */
  def runsTest(df: DataFrame, typeCol: String, tsCol: String): DataFrame =
    runsOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** [[runsTest]]'s statistic over an already-built (event_type, day, n)
    * count table — the [[graft.streaming.Streaming.VolumeMonitor]]
    * readout (daily counts are additive, so the accreted state's runs
    * verdict equals the batch one once all of a day's events have
    * landed).
    */
  def runsOfDaily(dailyCounts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("n"), col("day"))
    val ranked = daily.withColumn("__rn", row_number().over(wRank))
    val cnt = daily.groupBy(col("event_type").as("__cty"))
      .agg(count(lit(1)).as("__d"))
    val loPos = floor((col("__d").cast("double") + lit(1.0)) / lit(2.0))
      .cast("long")
    val hiPos = floor(col("__d").cast("double") / lit(2.0)).cast("long") +
      lit(1L)
    val medt = ranked.join(broadcast(cnt), col("event_type") === col("__cty"))
      .groupBy(col("event_type"))
      .agg(max(when(col("__rn") === loPos, col("n"))).as("__m1"),
        max(when(col("__rn") === hiPos, col("n"))).as("__m2"))
      .select(col("event_type").as("__mty"),
        ((col("__m1") + col("__m2")).cast("double") / lit(2.0)).as("__med"))
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val agg = daily.join(broadcast(medt), col("event_type") === col("__mty"))
      .filter(col("n").cast("double") =!= col("__med"))
      .withColumn("__sgn", col("n").cast("double") > col("__med"))
      .withColumn("__prev", lag(col("__sgn"), 1).over(wLag))
      .withColumn("__start",
        when(col("__prev").isNull || col("__prev") =!= col("__sgn"), 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(when(col("__sgn"), 1L).otherwise(0L)).as("n_plus"),
        sum(when(!col("__sgn"), 1L).otherwise(0L)).as("n_minus"),
        sum(col("__start")).as("runs"))
    val tab = (lit(2L).cast(dec38) * col("n_plus") * col("n_minus"))
      .cast("double")
    val nTot = (col("n_plus") + col("n_minus")).cast("double")
    val mu = tab / nTot + lit(1.0)
    val v = tab * (tab - col("n_plus").cast("double") -
      col("n_minus").cast("double")) / (nTot * nTot * (nTot - lit(1.0)))
    def r6(c: org.apache.spark.sql.Column) =
      round(c.cast(dec8), 6).cast("double")
    val bad = col("n_plus") === 0L || col("n_minus") === 0L
    agg.select(col("event_type"), col("n_plus"), col("n_minus"), col("runs"),
      when(bad || v <= 0.0, lit(null).cast("double"))
        .otherwise(r6((col("runs").cast("double") - mu) / sqrt(v))).as("z"))
  }

  /** p-chart: per-day control limits on a RATE — the share of daily
    * volume landing in `targetType` (purchase share, filter keep-rate,
    * error rate) charted against p̄ ± L·√(p̄(1−p̄)/nₜ). The CUSUM/EWMA
    * family watches COUNTS; a day can pass every volume alarm while its
    * composition quietly breaks — this is the composition alarm, with
    * per-day limits that rightly widen on thin days instead of
    * false-alarming them.
    *
    * Scale shape: the raw stream collapses ONCE to the |types|×|days|
    * count table (the [[graft.streaming.Streaming.VolumeMonitor]] state,
    * whose `pchart` readout IS this chart), regrouped to |days| rows;
    * the center is one broadcast total, limits are fixed-order doubles,
    * and the alarm compares the UNROUNDED share against the UNROUNDED
    * clamped limits (the [[ewmaOfDaily]] boundary discipline).
    *
    * Returns (day, n, x, p_hat, center, lcl, ucl, alarm) at 6dp, ordered
    * by the caller.
    */
  def pChart(df: DataFrame, typeCol: String, tsCol: String,
             targetType: String, sigmas: Double = 3.0): DataFrame =
    pchartOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      targetType, sigmas)

  /** [[pChart]]'s chart stage over an already-built (event_type, day, n)
    * count table — the [[graft.streaming.Streaming.VolumeMonitor]]
    * readout (daily counts are additive, so the accreted state's chart
    * equals the batch one once a day's events have landed).
    */
  def pchartOfDaily(dailyCounts: DataFrame, targetType: String,
                    sigmas: Double = 3.0): DataFrame = {
    require(sigmas > 0, "sigmas must be positive")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val byDay = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.groupBy(col("day"))
        .agg(sum(col("n")).as("n"),
          sum(when(col("event_type") === targetType, col("n"))
            .otherwise(0L)).as("x")))
    val tot = broadcast(byDay.agg(sum(col("n")).as("__tn"),
      sum(col("x")).as("__tx")))
    val center = col("__tx").cast("double") / col("__tn").cast("double")
    val spread = lit(sigmas) *
      sqrt(center * (lit(1.0) - center) / col("n").cast("double"))
    val phat = col("x").cast("double") / col("n").cast("double")
    val lcl = greatest(center - spread, lit(0.0))
    val ucl = least(center + spread, lit(1.0))
    def r6(c: org.apache.spark.sql.Column) =
      round(c.cast(dec8), 6).cast("double")
    byDay.crossJoin(tot)
      .select(col("day"), col("n"), col("x"),
        r6(phat).as("p_hat"), r6(center).as("center"),
        r6(lcl).as("lcl"), r6(ucl).as("ucl"),
        (phat < lcl || phat > ucl).as("alarm"))
  }

  /** Daily event-type mix evenness — Shannon entropy of each day's type
    * composition normalized by ln(types present): 1.0 reads "perfectly
    * balanced mix", a slide toward 0 reads "one type is eating the day"
    * — the composition-DIVERSITY trend next to [[pchartOfDaily]]'s
    * single-type share alarm, and the early smell of a producer stuck in
    * a loop or a source gone silent.
    *
    * Scale shape: the raw stream collapses ONCE to the |types|×|days|
    * count table; per-day totals broadcast back, each −p·ln(p) term
    * decimal-staged BEFORE the per-day sum (order independence), one
    * divide by ln(k). Zero row-level second pass.
    *
    * Returns one row per day: (day, k, n, entropy, evenness) at 6dp —
    * evenness NULL on single-type days (no mix to grade).
    */
  def mixEvenness(df: DataFrame, typeCol: String, tsCol: String): DataFrame =
    evennessOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** [[mixEvenness]]'s rollup over an already-built (event_type, day, n)
    * count table — the [[graft.streaming.Streaming.VolumeMonitor]]
    * readout (daily counts are additive, so the accreted state's
    * evenness equals the batch one once a day's events have landed).
    */
  def evennessOfDaily(dailyCounts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val decS = org.apache.spark.sql.types.DecimalType(28, 10)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val byDay = daily.groupBy(col("day").as("__bday"))
      .agg(sum(col("n")).as("__N"), count(lit(1)).as("k"))
    val share = col("n").cast("double") / col("__N").cast("double")
    def r6(c: org.apache.spark.sql.Column) =
      round(c.cast(dec8), 6).cast("double")
    daily.join(broadcast(byDay), col("day") === col("__bday"))
      .select(col("day"), col("k"), col("__N"),
        (-(share * log(share))).cast(decS).as("__term"))
      .groupBy(col("day"), col("k"), col("__N"))
      .agg(sum(col("__term")).as("__h"))
      .select(col("day"), col("k"), col("__N").as("n"),
        r6(col("__h").cast("double")).as("entropy"),
        when(col("k") < 2L, lit(null).cast("double"))
          .otherwise(r6(col("__h").cast("double") /
            log(col("k").cast("double")))).as("evenness"))
  }

  /** EWMA control chart over per-type daily volumes — the SMALL-shift
    * detector between [[anomaliesOfDaily]] (single-day spikes) and
    * [[cusumOfDaily]] (accumulated creep): the exponentially weighted
    * moving average reacts to a sustained half-sigma shift in days, with
    * the textbook time-varying control limits
    * μ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t})).
    *
    * Scale shape: everything runs on the frozen |types|×|days| count
    * table. The EWMA recursion unrolls exactly —
    * Z_t = μ(1−λ)^t + λΣ_j(1−λ)^{t−j}x_j — as a triangular self-join on
    * the bounded day table (days² pairs per type, config-free and tiny),
    * each λ(1−λ)^{t−j}x_j term in fixed double order staged to
    * DECIMAL(28,10) BEFORE the sum; day indexes come from a PARTITIONED
    * row_number. μ and σ use [[anomaliesOfDaily]]'s exact moment staging.
    * Alarm compares the UNROUNDED ewma against the unrounded limits, so
    * engines agree at the boundary.
    *
    * Returns (event_type, day, n, ewma, lcl, ucl, alarm) at 4dp.
    */
  def ewmaDaily(df: DataFrame, typeCol: String, tsCol: String,
                lambda: Double = 0.2, limitSigmas: Double = 3.0): DataFrame =
    ewmaOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      lambda, limitSigmas)

  /** [[ewmaDaily]]'s chart stage over an already-built (event_type, day,
    * n) count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical
    * chart off its accreted count state.
    */
  def ewmaOfDaily(dailyCounts: DataFrame, lambda: Double = 0.2,
                  limitSigmas: Double = 3.0): DataFrame = {
    require(lambda > 0 && lambda < 1 && limitSigmas > 0,
      "0 < lambda < 1, limitSigmas > 0")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val decT = org.apache.spark.sql.types.DecimalType(28, 10)
    val om = 1.0 - lambda
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__d"), sum(col("n")).as("__s"),
        sum(col("n").cast(dec15) * col("n").cast(dec15)).as("__s2"))
    val mean = col("__s").cast("double") / col("__d")
    val std = sqrt(greatest(
      col("__s2").cast("double") / col("__d") - mean * mean, lit(0.0)))
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.select(col("event_type"), col("day"), col("n"),
      row_number().over(wIdx).as("__t"))
    val src = idx.select(col("event_type"), col("__t").as("__j"),
      col("n").as("__xj"))
    val zsum = idx.join(src, Seq("event_type"))
      .filter(col("__j") <= col("__t"))
      .select(col("event_type"), col("day"), col("n"), col("__t"),
        (lit(lambda) * pow(lit(om), col("__t") - col("__j")) * col("__xj"))
          .cast(decT).as("__trm"))
      .groupBy(col("event_type"), col("day"), col("n"), col("__t"))
      .agg(sum(col("__trm")).as("__zs"))
    val ewma = mean * pow(lit(om), col("__t")) + col("__zs").cast("double")
    val spread = lit(limitSigmas) * std *
      sqrt(lit(lambda) / (lit(2.0) - lit(lambda)) *
        (lit(1.0) - pow(lit(om), lit(2) * col("__t"))))
    zsum.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        round(ewma.cast(dec), 4).cast("double").as("ewma"),
        round((mean - spread).cast(dec), 4).cast("double").as("lcl"),
        round((mean + spread).cast(dec), 4).cast("double").as("ucl"),
        (ewma < mean - spread || ewma > mean + spread).as("alarm"))
  }

  /** Holt's linear (double-exponential) smoothing weights: entries of
    * Aᵉ and Aᵉ·c for the state recurrence xₜ = A·xₜ₋₁ + c·yₜ with
    * x = (level, trend), A = [[1−α, 1−α], [−αβ, 1−αβ]], c = (α, αβ)
    * (the standard l/b recursion rewritten as one linear map). Shared by
    * [[holtOfDaily]] and SparkEntry's oracle SQL so both engines consume
    * the IDENTICAL double constants.
    *
    * Returns (e, v1, v2, w11, w12, w21, w22) for e = 0..maxE where
    * v = Aᵉ·c and w = Aᵉ.
    */
  def holtWeights(alpha: Double, beta: Double,
                  maxE: Int): IndexedSeq[(Int, Double, Double, Double, Double, Double, Double)] = {
    val (a11, a12, a21, a22) = (1 - alpha, 1 - alpha, -alpha * beta, 1 - alpha * beta)
    val (c1, c2) = (alpha, alpha * beta)
    val out = IndexedSeq.newBuilder[(Int, Double, Double, Double, Double, Double, Double)]
    var (w11, w12, w21, w22) = (1.0, 0.0, 0.0, 1.0) // A^0
    var e = 0
    while (e <= maxE) {
      out += ((e, w11 * c1 + w12 * c2, w21 * c1 + w22 * c2, w11, w12, w21, w22))
      val (n11, n12) = (w11 * a11 + w12 * a21, w11 * a12 + w12 * a22)
      val (n21, n22) = (w21 * a11 + w22 * a21, w21 * a12 + w22 * a22)
      w11 = n11; w12 = n12; w21 = n21; w22 = n22
      e += 1
    }
    out.result()
  }

  /** Holt's linear trend smoothing over per-type daily volumes — the
    * LEVEL + TREND state the seasonal-naive forecast audit and the EWMA
    * chart both lack: [[seasonalForecast]] assumes pure periodicity and
    * [[ewmaOfDaily]] tracks level only, so a steadily growing type reads
    * "anomalous" forever; Holt carries an explicit trend term and its
    * one-step forecast l + b is the standard short-horizon volume
    * prediction. Initialized the textbook way (l₁ = y₁, b₁ = y₂ − y₁).
    *
    * Scale shape: the recursion is LINEAR in the (level, trend) state, so
    * it unrolls exactly — x_T = A^{T−1}x₁ + Σ_{j≥2} A^{T−j}c·yⱼ — as a
    * broadcast join of the bounded day table against the precomputed
    * [[holtWeights]] power table (the [[ewmaOfDaily]] triangular-unroll
    * pattern, one term per day instead of days²): zero data shuffles
    * beyond the one count aggregation, nothing driver-side. Each
    * double·count term is staged to DECIMAL(28,10) BEFORE the sum, so the
    * summation is exact and order-free and any engine that consumes the
    * same weight constants reproduces the readout bit-for-bit.
    *
    * Returns one row per event_type: (event_type, d_days, level, trend,
    * forecast) at 6dp — state at the last observed day and the one-step
    * forecast level+trend; trend/forecast NULL for a single-day series
    * (no b₁ exists).
    */
  def holtDaily(df: DataFrame, typeCol: String = "event_type",
                tsCol: String = "ts", alpha: Double = 0.5,
                beta: Double = 0.5): DataFrame =
    holtOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      alpha, beta)

  /** [[holtDaily]]'s readout stage over an already-built (event_type,
    * day, n) count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical
    * state off its accreted counts. `maxDays` bounds the precomputed
    * power table (series longer than maxDays days are unsupported —
    * raise it; the gate corpus spans one calendar month).
    */
  def holtOfDaily(dailyCounts: DataFrame, alpha: Double = 0.5,
                  beta: Double = 0.5, maxDays: Int = 64): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "0 < alpha, beta < 1")
    val decT = org.apache.spark.sql.types.DecimalType(28, 10)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val sq = daily.sparkSession
    import sq.implicits._
    val pw = holtWeights(alpha, beta, maxDays)
      .toDF("__e", "__v1", "__v2", "__w11", "__w12", "__w21", "__w22")
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.select(col("event_type"), col("n"),
      row_number().over(wIdx).cast("long").as("__t"))
    val mt = idx.groupBy(col("event_type")).agg(
      max(col("__t")).as("__tt"), count(lit(1)).as("d_days"),
      max(when(col("__t") === 1L, col("n"))).as("__y1"),
      max(when(col("__t") === 2L, col("n"))).as("__y2"))
    val terms = idx.filter(col("__t") >= 2L)
      .join(broadcast(mt.select(col("event_type"), col("__tt"))), Seq("event_type"))
      .join(broadcast(pw), col("__e") === col("__tt") - col("__t"))
      .groupBy(col("event_type")).agg(
        sum((col("__v1") * col("n")).cast(decT)).as("__sl"),
        sum((col("__v2") * col("n")).cast(decT)).as("__sb"))
    val ini = mt.filter(col("__tt") >= 2L)
      .join(broadcast(pw), col("__e") === col("__tt") - 1L)
      .select(col("event_type"),
        ((col("__w11") * col("__y1")).cast(decT) +
          (col("__w12") * (col("__y2") - col("__y1"))).cast(decT)).as("__il"),
        ((col("__w21") * col("__y1")).cast(decT) +
          (col("__w22") * (col("__y2") - col("__y1"))).cast(decT)).as("__ib"))
    // LOUD over-length guard: a series longer than maxDays+1 days has no
    // A^e row to initialize from — without this the init join returns no
    // match and NULL would silently propagate through level/trend/forecast
    val guarded = when(col("__tt") - 1L > maxDays,
      raise_error(concat(lit("holtOfDaily: series for event_type="),
        col("event_type"),
        lit(s" spans more than ${maxDays + 1} observed days — raise maxDays"))))
    mt.join(terms, Seq("event_type"), "left")
      .join(ini, Seq("event_type"), "left")
      .select(col("event_type"), col("d_days"),
        when(col("__tt") === 1L, round(col("__y1").cast(decT), 6).cast("double"))
          .otherwise(coalesce(guarded.cast("double"),
            round((col("__sl") + col("__il")).cast(decT), 6)
              .cast("double"))).as("level"),
        when(col("__tt") === 1L, lit(null).cast("double"))
          .otherwise(round((col("__sb") + col("__ib")).cast(decT), 6)
            .cast("double")).as("trend"),
        when(col("__tt") === 1L, lit(null).cast("double"))
          .otherwise(round((col("__sl") + col("__il") + col("__sb") + col("__ib"))
            .cast(decT), 6).cast("double")).as("forecast"))
      .orderBy(col("event_type"))
  }

  /** Mann–Kendall trend test + Theil–Sen slope over daily volumes — the
    * DISTRIBUTION-FREE trend verdict next to the parametric OLS
    * [[graft.functions.Stats.trendTest]]: OLS assumes residual normality
    * and one spike can drag its slope arbitrarily; MK only reads pair
    * DIRECTIONS (is the later day bigger), so it is exact under any
    * marginal distribution, and the Theil–Sen slope (median of all
    * pairwise day-rate slopes) is the robust "how fast" — up to ~29% of
    * days can be corrupted before either number moves. The standard
    * monotonic-trend test for exactly this shape of series.
    *
    * Scale shape: the corpus collapses ONCE to the (event_type, day, n)
    * count table — calendar-bounded, additive per key (the SAME state as
    * [[dailyAnomalies]]/[[cusumOfDaily]]/[[ewmaOfDaily]], so the
    * streaming [[graft.streaming.Streaming.VolumeMonitor]] reads this
    * out as its `trend` view with no extra state); S and the slope pool
    * come from the TRIANGULAR day-pair join on that bounded table
    * (days², never rows², the [[ewmaOfDaily]] pattern), S and the tie
    * terms are exact integers, the tie-corrected variance and the
    * continuity-corrected z evaluate in fixed double order, and the
    * Theil–Sen median is an exact percentile of the bounded slope pool.
    *
    * Returns one row per event_type: (event_type, d_days, s, z, slope)
    * at 6dp; z is NULL when the variance degenerates (a single day, or
    * every day tied), slope is NULL when no pair exists.
    */
  def mannKendall(df: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts"): DataFrame =
    mkOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** [[mannKendall]]'s verdict stage over an already-built
    * (event_type, day, n) count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical
    * trend verdicts off its accreted count state.
    */
  def mkOfDaily(dailyCounts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the bounded day table feeds the pair join twice, the day count and
    // the tie table — frozen, or the corpus count aggregation (the only
    // pass that touches the data) runs four times
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    // triangular day-pair join: each pair votes a direction and a slope
    val pairs = graft.core.Joins.bucketPairs(daily, Seq("event_type"), "day", Seq("n"))
      .select(col("event_type"),
        when(col("n_b") > col("n_a"), 1L)
          .when(col("n_b") < col("n_a"), -1L).otherwise(0L).as("__sgn"),
        ((col("n_b") - col("n_a")).cast("double") /
          datediff(col("id_b"), col("id_a")).cast("double")).as("__slope"))
    val s = pairs.groupBy(col("event_type")).agg(
      sum(col("__sgn")).as("__s"),
      percentile(col("__slope"), lit(0.5)).as("__slope"))
    val dd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("d_days"))
    // tie term over equal DAILY VALUES per type (exact integers; day
    // counts are calendar-bounded, so plain longs cannot overflow)
    val ties = daily.groupBy(col("event_type"), col("n"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("event_type"))
      .agg(sum(col("__t") * (col("__t") - lit(1L)) *
        (lit(2L) * col("__t") + lit(5L))).as("__tv"))
    val f = dd.join(s, Seq("event_type"), "left").join(ties, Seq("event_type"))
    val varS = (col("d_days") * (col("d_days") - lit(1L)) *
      (lit(2L) * col("d_days") + lit(5L)) - col("__tv")).cast("double") /
      lit(18.0)
    // continuity-corrected z: (S − sgn(S))/√Var(S); 0 at S=0
    f.select(col("event_type"), col("d_days"),
      coalesce(col("__s"), lit(0L)).as("s"),
      when(varS <= 0.0, lit(null).cast("double"))
        .when(coalesce(col("__s"), lit(0L)) === 0L, lit(0.0))
        .otherwise(round(((col("__s") -
          when(col("__s") > 0L, lit(1L)).otherwise(lit(-1L))).cast("double") /
          sqrt(varS)).cast(dec8), 6).cast("double")).as("z"),
      round(col("__slope").cast(dec8), 6).cast("double").as("slope"))
      .orderBy(col("event_type"))
  }

  /** Pettitt changepoint test over daily volumes — WHEN did the level
    * shift: [[cusumOfDaily]] raises the creep alarm and [[mkOfDaily]]
    * says "trending", but neither names the day the regime changed; the
    * Pettitt statistic K = max_t |U_t| (U_t the rank-based
    * Mann–Whitney-style split statistic at candidate point t) finds the
    * single most likely break, distribution-free, with the standard
    * approximate significance p ≈ 2·exp(−6K²/(d³+d²)). The day-level
    * "which deploy broke ingestion" readout.
    *
    * Scale shape: the corpus collapses ONCE to the (event_type, day, n)
    * count table — the SAME additive state as the other volume readouts
    * (the [[graft.streaming.Streaming.VolumeMonitor]] state, whose
    * `changepoint` readout IS this test); per-day vote sums V_t come
    * from the day-pair join on the bounded table (days², never rows²),
    * U_t is a PARTITIONED prefix sum of V over the positional index, K
    * and its argmax (first day on ties — deterministic) are one
    * aggregation of the bounded U table, and p evaluates in fixed double
    * order from the exact-integer K.
    *
    * Returns one row per event_type: (event_type, d_days, k_stat,
    * change_day, p_approx); change_day is the LAST day of the first
    * segment, NULL (with k_stat 0) for a single-day series.
    */
  def pettitt(df: DataFrame, typeCol: String = "event_type",
              tsCol: String = "ts"): DataFrame =
    pettittOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** [[pettitt]]'s verdict stage over an already-built
    * (event_type, day, n) count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical
    * changepoints off its accreted count state.
    */
  def pettittOfDaily(dailyCounts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.select(col("event_type"), col("day"), col("n"),
      row_number().over(wIdx).cast("long").as("__t"))
    val other = idx.select(col("event_type"), col("__t").as("__tj"),
      col("n").as("__nj"))
    // per-day vote: V_t = sum over j != t of sgn(x_t - x_j)
    val votes = idx.join(other, Seq("event_type"))
      .filter(col("__t") =!= col("__tj"))
      .groupBy(col("event_type"), col("day"), col("__t"))
      .agg(sum(when(col("n") > col("__nj"), 1L)
        .when(col("n") < col("__nj"), -1L).otherwise(0L)).as("__v"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("__t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val dd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("d_days"))
    val u = votes.select(col("event_type"), col("day"), col("__t"),
      sum(col("__v")).over(wCum).as("__u"))
      .join(dd, Seq("event_type"))
      .filter(col("__t") < col("d_days"))
    // K = max |U_t| over t < d; first day on ties
    val k = u.groupBy(col("event_type"), col("d_days"))
      .agg(max(abs(col("__u"))).as("k_stat"))
    val at = u.join(k, Seq("event_type", "d_days"))
      .filter(abs(col("__u")) === col("k_stat"))
      .groupBy(col("event_type"), col("d_days"), col("k_stat"))
      .agg(min(struct(col("__t"), col("day"))).as("__first"))
      .select(col("event_type"), col("d_days"), col("k_stat"),
        col("__first.day").as("change_day"))
    val ddd = col("d_days").cast("double")
    val kd = coalesce(col("k_stat"), lit(0L)).cast("double")
    // single-day series: no candidate split — report k 0, NULL day
    dd.join(at.drop("d_days"), Seq("event_type"), "left")
      .select(col("event_type"), col("d_days"),
        coalesce(col("k_stat"), lit(0L)).as("k_stat"),
        col("change_day"),
        round(least(lit(1.0), lit(2.0) * exp(lit(-6.0) * kd * kd /
          (ddd * ddd * ddd + ddd * ddd))).cast(dec8), 6)
          .cast("double").as("p_approx"))
      .orderBy(col("event_type"))
  }

  /** Autocorrelation function of daily volumes at lags 1..maxLag — the
    * SEASONALITY fingerprint the trend/level alarms skim past: a strong
    * r at lag 7 says weekly cycle (so [[seasonalForecast]]'s period is
    * right), a slowly-decaying ACF says momentum/level-shifts (CUSUM
    * territory), an immediate drop to noise says the volume is
    * memoryless and yesterday predicts nothing. The standard Box–Jenkins
    * readout, r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)² over the
    * positional day index.
    *
    * Scale shape: the corpus collapses ONCE to the (event_type, day, n)
    * count table — the SAME additive state as
    * [[dailyAnomalies]]/[[mkOfDaily]] (the
    * [[graft.streaming.Streaming.VolumeMonitor]] state, whose
    * `autocorrelation` readout IS this table); lag pairs come from a
    * broadcast 1..maxLag range crossed with the bounded day table and an
    * equi-join back on (type, t−k) — days·maxLag rows, never event rows;
    * cross-products are decimal-staged before the per-(type,lag) sum and
    * the denominator comes from exact volume moments, so r is
    * engine-reproducible.
    *
    * Returns one row per (event_type, lag) with at least one pair:
    * (event_type, lag, n_pairs, r) at 6dp; r is NULL when the series has
    * zero variance (a constant-volume type has no autocorrelation).
    */
  def acfDaily(df: DataFrame, typeCol: String = "event_type",
               tsCol: String = "ts", maxLag: Int = 7): DataFrame =
    acfOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")), maxLag)

  /** [[acfDaily]]'s readout over an already-built (event_type, day, n)
    * count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical ACF
    * off its accreted count state.
    */
  def acfOfDaily(dailyCounts: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "maxLag must be at least 1")
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val decT = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the bounded day table feeds the moment pass, the index and the
    // lagged side — frozen, or the corpus count aggregation runs thrice
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val stats = broadcast(daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__dd"), sum(col("n")).as("__s"),
        sum(col("n").cast(dec15) * col("n").cast(dec15)).as("__s2")))
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.select(col("event_type"), col("n"),
      row_number().over(wIdx).cast("long").as("__t"))
    val lags = broadcast(daily.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag")))
    val lagged = idx.select(col("event_type"), col("__t").as("__tl"),
      col("n").as("__nl"))
    val m = col("__s").cast("double") / col("__dd").cast("double")
    val den = col("__s2").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") /
        col("__dd").cast("double")
    val left = idx.crossJoin(lags)
      .withColumn("__tprev", col("__t") - col("lag"))
    val pairs = left
      .join(lagged,
        left("event_type") === lagged("event_type") &&
          left("__tprev") === lagged("__tl"))
      .drop(lagged("event_type"))
      .join(stats, Seq("event_type"))
      .select(col("event_type"), col("lag"),
        ((col("n").cast("double") - m) * (col("__nl").cast("double") - m))
          .cast(decT).as("__num"),
        den.as("__den"))
    pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__num")).as("__nm"),
        min(col("__den")).as("__dn"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        when(col("__dn") <= 0.0, lit(null).cast("double"))
          .otherwise(round((col("__nm").cast("double") / col("__dn"))
            .cast(dec8), 6).cast("double")).as("r"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Ljung–Box white-noise test over the daily-volume series — the ACF's
    * verdict layer: [[acfDaily]] prints seven correlations and leaves
    * "is any of this structure real" to the reader; Ljung–Box pools them
    * into ONE portmanteau statistic Q = n(n+2)·Σ_k r_k²/(n−k) ~ χ²(m)
    * under the no-autocorrelation null — the standard pre-check before
    * trusting [[seasonalForecast]]'s day-of-week profile or treating
    * [[dailyAnomalies]]'s z-scores as independent.
    *
    * Scale shape: rides [[acfOfDaily]] unchanged (bounded day table,
    * broadcast lag range, decimal-staged cross products); the Q stage
    * needs NOTHING beyond the k-row ACF output — n falls out of the
    * dense pair index (n_pairs + lag = days), each lag's r²/(n−k) term
    * is decimal-staged before the k-row sum, Q in fixed double order.
    * The day table is the [[graft.streaming.Streaming.VolumeMonitor]]
    * state, whose `whiteNoise` readout IS this test.
    *
    * Returns one row per event_type (event_type, n_days, m, q); q is
    * NULL unless all `maxLag` lags produced a defined r (degenerate
    * variance or a series shorter than maxLag+1 days).
    */
  def ljungBox(df: DataFrame, typeCol: String = "event_type",
               tsCol: String = "ts", maxLag: Int = 7): DataFrame =
    ljungBoxOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")), maxLag)

  /** [[ljungBox]]'s readout over an already-built (event_type, day, n)
    * count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical Q
    * off its accreted count state.
    */
  def ljungBoxOfDaily(dailyCounts: DataFrame, maxLag: Int = 7): DataFrame = {
    val decT = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val acf = acfOfDaily(dailyCounts, maxLag)
    // the dense pair index makes n_pairs = days − lag, so the day count
    // rides along for free — no second pass over the corpus
    val terms = acf.select(col("event_type"),
      (col("n_pairs") + col("lag")).as("__dd"),
      when(col("r").isNull, lit(null).cast(decT))
        .otherwise((col("r") * col("r") / col("n_pairs").cast("double"))
          .cast(decT)).as("__tm"))
    val g = terms.groupBy(col("event_type")).agg(
      max(col("__dd")).as("__n"), count(col("__tm")).as("m"),
      count(lit(1)).as("__lags"), sum(col("__tm")).as("__st"))
    val nd = col("__n").cast("double")
    g.select(col("event_type"), col("__n").as("n_days"), col("m"),
        when(col("__lags") =!= lit(maxLag.toLong) || col("m") =!= col("__lags"),
          lit(null).cast("double"))
          .otherwise(round((nd * (nd + lit(2.0)) * col("__st").cast("double"))
            .cast(dec8), 6).cast("double")).as("q"))
      .orderBy(col("event_type"))
  }

  /** Durbin–Watson first-order autocorrelation test on the DETRENDED
    * daily-volume series — [[ljungBox]] asks "is there structure at any
    * lag" on the raw counts; DW asks the regression question: after the
    * per-type OLS trend line is removed, do successive residuals still
    * lean on each other (DW ≈ 2 independent, → 0 positively correlated,
    * → 4 negatively)? The validity check for [[mannKendall]]/trend
    * p-values, which assume independent errors.
    *
    * Scale shape: the corpus collapses ONCE to the bounded per-type day
    * table (the [[graft.streaming.Streaming.VolumeMonitor]] state, whose
    * `residualAutocorr` readout IS this test); per-type OLS comes from
    * ONE five-moment exact-decimal row (t index from a PARTITIONED
    * row_number window), residuals evaluate in fixed double order
    * against the broadcast moment row, the lag-1 neighbor is a self-join
    * on the dense index, and both quadratic sums are decimal-staged
    * per-day before the per-type reduce.
    *
    * Returns one row per event_type (event_type, n_days, slope, dw); dw
    * and slope are NULL when n_days < 3, the index degenerates, or the
    * residual energy is zero.
    */
  def durbinWatson(df: DataFrame, typeCol: String = "event_type",
                   tsCol: String = "ts"): DataFrame =
    dwOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** [[durbinWatson]]'s readout over an already-built (event_type, day,
    * n) count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical DW
    * off its accreted count state.
    */
  def dwOfDaily(dailyCounts: DataFrame): DataFrame = {
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val decT = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the bounded day table feeds the moment row AND both residual sides
    // — frozen, or the corpus count aggregation runs three times
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.select(col("event_type"), col("n").cast("long").as("n"),
      row_number().over(wIdx).cast("long").as("__t"))
    val mom = broadcast(idx.groupBy(col("event_type")).agg(
      count(lit(1)).as("__dd"),
      sum(col("__t").cast(dec15)).as("__st"),
      sum(col("n").cast(dec15)).as("__sy"),
      sum(col("__t").cast(dec15) * col("n").cast(dec15)).as("__sty"),
      sum(col("__t").cast(dec15) * col("__t").cast(dec15)).as("__stt")))
    def d(c: String) = col(c).cast("double")
    val det = d("__dd") * d("__stt") - d("__st") * d("__st")
    val slope = (d("__dd") * d("__sty") - d("__st") * d("__sy")) / det
    val icept = (d("__sy") - slope * d("__st")) / d("__dd")
    val res = idx.join(mom, Seq("event_type"))
      .select(col("event_type"), col("__t"), col("__dd"), det.as("__det"),
        slope.as("__b"),
        (col("n").cast("double") - (icept + slope * col("__t").cast("double")))
          .as("__e"))
    val prev = res.select(col("event_type"), col("__t").as("__tp"),
      col("__e").as("__ep"))
    val num = res.join(prev,
        res("event_type") === prev("event_type") && col("__tp") === col("__t") - 1L)
      .drop(prev("event_type"))
      .select(col("event_type"),
        ((col("__e") - col("__ep")) * (col("__e") - col("__ep")))
          .cast(decT).as("__d2"))
      .groupBy(col("event_type")).agg(sum(col("__d2")).as("__num"))
    res.select(col("event_type"), col("__dd"), col("__det"), col("__b"),
        (col("__e") * col("__e")).cast(decT).as("__e2"))
      .groupBy(col("event_type"))
      .agg(min(col("__dd")).as("__dd"), min(col("__det")).as("__det"),
        min(col("__b")).as("__b"), sum(col("__e2")).as("__den"))
      .join(num, Seq("event_type"), "left")
      .select(col("event_type"), col("__dd").as("n_days"),
        when(col("__dd") < 3L || col("__det") <= 0.0,
          lit(null).cast("double"))
          .otherwise(round(col("__b").cast(dec8), 6).cast("double"))
          .as("slope"),
        when(col("__dd") < 3L || col("__det") <= 0.0 ||
            col("__den").cast("double") <= 0.0 || col("__num").isNull,
          lit(null).cast("double"))
          .otherwise(round((col("__num").cast("double")
            / col("__den").cast("double")).cast(dec8), 6).cast("double"))
          .as("dw"))
      .orderBy(col("event_type"))
  }

  /** Wilcoxon signed-rank test between two event types' PAIRED daily
    * volumes — [[graft.functions.Stats.mannWhitney]] compares two
    * independent samples; this is the paired question: day by day, does
    * type A systematically out-fire type B (a feature launch vs its
    * control metric, purchases vs refunds), robust to the heavy-tailed
    * day sizes that break the paired t. Zero differences drop (standard
    * Wilcoxon), ties in |d| get average ranks with the exact Σ(t³−t)
    * variance correction.
    *
    * Scale shape: the corpus collapses ONCE to the bounded per-type day
    * table (the [[graft.streaming.Streaming.VolumeMonitor]] state, whose
    * `pairedShift` readout IS this test); the paired diff table is a
    * day-keyed full-outer self-merge (absent days count 0), |d| ranks
    * are doubled-integer order stats off the deterministic prefix scan
    * ([[graft.core.Scans.cumulative]] — the [[graft.functions.Stats
    * .kruskalWallis]] machinery), and W⁺, the tie term, and z evaluate
    * from exact integers in fixed double order.
    *
    * Returns one row (n_days, n, w_plus, z): n_days = paired days seen,
    * n = nonzero differences; NULL z when n < 2.
    */
  def wilcoxonSignedRank(df: DataFrame, typeA: String, typeB: String,
                         typeCol: String = "event_type",
                         tsCol: String = "ts"): DataFrame =
    wsrOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")), typeA, typeB)

  /** Sign test between two event types' paired daily volumes — the
    * assumption-free floor under [[wilcoxonSignedRank]]: it only counts
    * which side of zero each day's difference lands on, so it survives
    * even asymmetric difference distributions (where Wilcoxon's
    * symmetric-under-null premise bends). z = (2·n_pos − n)/√n, no
    * continuity correction; same zero-drop convention.
    *
    * Same scale shape and state as [[wilcoxonSignedRank]] (the
    * [[graft.streaming.Streaming.VolumeMonitor]] `pairedSign` readout).
    * Returns one row (n_days, n, n_pos, n_neg, z); NULL z when n = 0.
    */
  def signTest(df: DataFrame, typeA: String, typeB: String,
               typeCol: String = "event_type", tsCol: String = "ts"): DataFrame =
    signOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")), typeA, typeB)

  /** the shared (|d|, count, positives) table over paired day diffs —
    * bounded by days, the single input to both paired readouts
    */
  private def pairedDiffCounts(dailyCounts: DataFrame, typeA: String,
                               typeB: String): DataFrame = {
    val frozen = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val a = frozen.filter(col("event_type") === typeA)
      .select(col("day"), col("n").cast("long").as("__na"))
    val b = frozen.filter(col("event_type") === typeB)
      .select(col("day"), col("n").cast("long").as("__nb"))
    val d = a.join(b, Seq("day"), "full_outer")
      .select((coalesce(col("__na"), lit(0L)) - coalesce(col("__nb"), lit(0L)))
        .as("__d"))
    d.groupBy(abs(col("__d")).as("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("__p"))
  }

  /** [[wilcoxonSignedRank]]'s readout over an already-built (event_type,
    * day, n) count table — exposed for the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]].
    */
  def wsrOfDaily(dailyCounts: DataFrame, typeA: String,
                 typeB: String): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the bounded diff-count table feeds the day total AND the rank scan
    val t = org.apache.spark.sql.graftbridge.Bridge.freeze(
      pairedDiffCounts(dailyCounts, typeA, typeB))
    val tot = broadcast(t.agg(coalesce(sum(col("__c")), lit(0L)).as("__all")))
    val r = graft.core.Scans.cumulative(t.filter(col("__v") > 0L), "__v",
        Seq("__c"))
      .select(col("__c"), col("__p"),
        (lit(2L) * (col("cum___c") - col("__c")) + col("__c") + lit(1L))
          .cast(big).as("__r2"))
    val agg = r.agg(coalesce(sum(col("__c")), lit(0L)).as("__n"),
      sum(col("__p").cast(big) * col("__r2")).as("__w2"),
      sum(col("__c").cast(big) * col("__c").cast(big) * col("__c").cast(big)
        - col("__c").cast(big)).as("__ts"))
    val nd = col("__n").cast("double")
    val mu = nd * (nd + lit(1.0)) / lit(4.0)
    val v = nd * (nd + lit(1.0)) * (lit(2.0) * nd + lit(1.0)) / lit(24.0) -
      col("__ts").cast("double") / lit(48.0)
    val wp = col("__w2").cast("double") / lit(2.0)
    agg.crossJoin(tot).select(col("__all").as("n_days"), col("__n").as("n"),
      when(col("__n") === 0L, lit(null).cast("double"))
        .otherwise(round(wp.cast(dec8), 6).cast("double")).as("w_plus"),
      when(col("__n") < 2L || v <= 0.0, lit(null).cast("double"))
        .otherwise(round(((wp - mu) / sqrt(v)).cast(dec8), 6).cast("double"))
        .as("z"))
  }

  /** [[signTest]]'s readout over an already-built (event_type, day, n)
    * count table — exposed for the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]].
    */
  def signOfDaily(dailyCounts: DataFrame, typeA: String,
                  typeB: String): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val t = org.apache.spark.sql.graftbridge.Bridge.freeze(
      pairedDiffCounts(dailyCounts, typeA, typeB))
    val tot = broadcast(t.agg(coalesce(sum(col("__c")), lit(0L)).as("__all")))
    val nz = t.filter(col("__v") > 0L)
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__n"),
        coalesce(sum(col("__p")), lit(0L)).as("__np"))
    val nd = col("__n").cast("double")
    nz.crossJoin(tot).select(col("__all").as("n_days"), col("__n").as("n"),
      col("__np").as("n_pos"), (col("__n") - col("__np")).as("n_neg"),
      when(col("__n") === 0L, lit(null).cast("double"))
        .otherwise(round(((lit(2.0) * col("__np").cast("double") - nd)
          / sqrt(nd)).cast(dec8), 6).cast("double")).as("z"))
  }

  /** Friedman rank test + Kendall's W across k event types' daily
    * volumes — the k-way generalization of [[wilcoxonSignedRank]]: days
    * are blocks, types are treatments, and each day RANKS the types by
    * volume; Friedman's χ² asks "do the types systematically order the
    * same way, day after day" (the repeated-measures question
    * [[graft.functions.Stats.kruskalWallis]] gets wrong, because daily
    * volumes share the day's traffic level — blocking removes it), and
    * Kendall's W = χ²/(n(k−1)) turns the same statistic into the [0,1]
    * concordance coefficient reviewers report. A type absent on a day
    * counts volume 0 (complete-block form over the observed grid).
    *
    * Scale shape: the corpus collapses ONCE to the bounded per-type day
    * table (the [[graft.streaming.Streaming.VolumeMonitor]] state, whose
    * `concordance` readout IS this test); the completed grid is
    * days×types rows, within-day midranks come from the per-day
    * (value, count) self-join (k² per day — never rows²), doubled ranks
    * keep every sum an exact DECIMAL(38,0) integer, the Σ(t³−t) tie
    * term is exact, and χ²/W evaluate in fixed double order.
    *
    * Returns one row (n_days, k, chi2, w) at 6dp; NULLs when k < 2 or
    * the tie correction degenerates (all types tied every day).
    */
  def friedmanTest(df: DataFrame, typeCol: String = "event_type",
                   tsCol: String = "ts"): DataFrame =
    friedmanOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** the shared within-day rank stage of [[friedmanOfDaily]] and
    * [[pageOfDaily]]: the completed (day × type) grid's per-type doubled
    * rank sums, plus the day count and the Σ(t³−t) tie total — everything
    * a rank-concordance readout needs, all exact integers
    */
  private def dailyRankSums(dailyCounts: DataFrame):
      (DataFrame, DataFrame, DataFrame) = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val d = bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    // complete the grid: a type that fired zero events on a day is a real
    // measurement of 0, not a missing block entry
    val types = d.select(col("event_type")).distinct()
    val days = d.select(col("day")).distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(d, Seq("event_type", "day"), "left")
      .select(col("day").as("__b"), col("event_type").as("__t"),
        coalesce(col("n").cast("long"), lit(0L)).as("__x"))
    // per-(day, volume) tie groups: midranks and the tie term both read
    // off this bounded table; frozen — it feeds three consumers
    val bx = bridge.freeze(
      grid.groupBy(col("__b"), col("__x")).agg(count(lit(1)).as("__cnt")))
    val lower = bx.select(col("__b").as("__b2"), col("__x").as("__x2"),
      col("__cnt").as("__c2"))
    // doubled midrank within the day: 2r = 2·(strictly below) + t + 1 —
    // the within-block form of the prefix-scan rank, via the k²-per-day
    // cell join (k = |types|, tiny)
    val ranks = bx
      .join(lower, col("__b") === col("__b2") && col("__x2") < col("__x"),
        "left")
      .groupBy(col("__b"), col("__x"), col("__cnt"))
      .agg(coalesce(sum(col("__c2")), lit(0L)).as("__below"))
      .select(col("__b"), col("__x"),
        (lit(2L) * col("__below") + col("__cnt") + lit(1L))
          .cast(big).as("__r2"))
    // per-type doubled rank sums — all exact
    val perType = grid.join(ranks, Seq("__b", "__x"))
      .groupBy(col("__t")).agg(sum(col("__r2")).as("__rs"))
    val nBlocks = broadcast(days.agg(count(lit(1)).as("n_days")))
    val tie = broadcast(bx.agg(
      sum(col("__cnt").cast(big) * col("__cnt").cast(big)
        * col("__cnt").cast(big) - col("__cnt").cast(big)).as("__tt")))
    (perType, nBlocks, tie)
  }

  /** [[friedmanTest]]'s readout over an already-built (event_type, day,
    * n) count table — exposed for the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]].
    */
  def friedmanOfDaily(dailyCounts: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val (perType, nBlocks, tie) = dailyRankSums(dailyCounts)
    val ss = perType.agg(count(lit(1)).as("k"),
      sum(col("__rs").cast(big) * col("__rs").cast(big)).as("__ss4"))
    val nd = col("n_days").cast("double")
    val kd = col("k").cast("double")
    // χ² = 12/(nk(k+1))·ΣRj² − 3n(k+1) with ΣRj² = ss4/4, then the
    // standard tie divisor c = 1 − Σ(t³−t)/(nk(k²−1)); W = χ²/(n(k−1))
    val chiU = lit(3.0) * col("__ss4").cast("double") /
      (nd * kd * (kd + lit(1.0))) - lit(3.0) * nd * (kd + lit(1.0))
    val c = lit(1.0) - col("__tt").cast("double") /
      (nd * kd * (kd * kd - lit(1.0)))
    val bad = col("k") < 2L || col("n_days") < 1L || c <= 0.0
    ss.crossJoin(nBlocks).crossJoin(tie)
      .select(col("n_days"), col("k"),
        when(bad, lit(null).cast("double"))
          .otherwise(round((chiU / c).cast(dec8), 6).cast("double"))
          .as("chi2"),
        when(bad, lit(null).cast("double"))
          .otherwise(round((chiU / c / (nd * (kd - lit(1.0))))
            .cast(dec8), 6).cast("double")).as("w"))
  }

  /** Page's L trend test across k event types' daily volumes — the
    * ORDERED-alternative companion of [[friedmanTest]], exactly as
    * [[graft.functions.Stats.jonckheereTerpstra]] is [[graft.functions
    * .Stats.kruskalWallis]]'s: Friedman asks "do the types differ at
    * all, day after day"; Page asks "do they increase along a KNOWN
    * ordering" (funnel stages, model generations — here the types'
    * natural sort order), and buys large power when the ordering is the
    * hypothesis. L = Σⱼ j·Rⱼ over the ordered treatments' within-day
    * rank sums; z against E[L] = nk(k+1)²/4,
    * Var(L) = nk²(k+1)(k²−1)/144 (ties get midranks — the standard
    * large-sample treatment).
    *
    * Same state, same scale shape as [[friedmanTest]] (the
    * [[graft.streaming.Streaming.VolumeMonitor]] `pageTrend` readout):
    * within-day midranks off the k²-per-day cell join, L exact (its
    * double is an integer), z in fixed double order.
    *
    * Returns one row (n_days, k, l, z) at 6dp; z NULL when k < 2 or the
    * variance degenerates.
    */
  def pageTrendTest(df: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts"): DataFrame =
    pageOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

  /** [[pageTrendTest]]'s readout over an already-built (event_type, day,
    * n) count table — exposed for the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]].
    */
  def pageOfDaily(dailyCounts: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val (perType, nBlocks, _) = dailyRankSums(dailyCounts)
    // ordering index of each treatment in the a-priori (natural sort)
    // order, via the tiny k² self-join — no unpartitioned window
    val pt = org.apache.spark.sql.graftbridge.Bridge.freeze(perType)
    val j = pt.select(col("__t"), col("__rs"))
      .join(pt.select(col("__t").as("__t2")), col("__t2") <= col("__t"))
      .groupBy(col("__t"), col("__rs"))
      .agg(count(lit(1)).as("__j"))
    val agg = j.agg(count(lit(1)).as("k"),
      sum(col("__j").cast(big) * col("__rs")).as("__l2"))
    val nd = col("n_days").cast("double")
    val kd = col("k").cast("double")
    val l = col("__l2").cast("double") / lit(2.0)
    val e = nd * kd * (kd + lit(1.0)) * (kd + lit(1.0)) / lit(4.0)
    val v = nd * kd * kd * (kd + lit(1.0)) * (kd * kd - lit(1.0)) / lit(144.0)
    val bad = col("k") < 2L || col("n_days") < 1L || v <= 0.0
    agg.crossJoin(nBlocks)
      .select(col("n_days"), col("k"),
        round(l.cast(dec8), 6).cast("double").as("l"),
        when(bad, lit(null).cast("double"))
          .otherwise(round(((l - e) / sqrt(v)).cast(dec8), 6).cast("double"))
          .as("z"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic warehouse marketing cut: each customer scores 1–5 on how
    * recently they ordered, how often, and how much, against the
    * customer population's own quintiles; `rfm = 100r + 10f + m` is the
    * segment code (555 = champions, 111 = lost). The anchor date is the
    * corpus's own last order (deterministic — no wall clock).
    *
    * Scale shape: the order stream collapses ONCE to the per-customer
    * (last, count, exact-decimal sum) row — map-side combined; each
    * metric's 4 quintile cuts are exact interpolated order statistics
    * off its bounded count table ([[graft.functions.Stats
    * .quantilesOfCounts]] — no global sort), broadcast back, and each
    * scoring pass is a 4×-expansion crossJoin + regroup of the customer
    * table. Ties at a cut fall to the LOWER bucket (strictly-greater
    * counting) — engine-stable because both engines see bit-identical
    * cut doubles.
    *
    * Returns (custCol, recency_days, frequency, monetary, r_score,
    * f_score, m_score, rfm), one row per customer.
    */
  def rfmSegments(df: DataFrame, custCol: String, dateCol: String,
                  amountCol: String): DataFrame = {
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val per = bridge.freeze(df
      .groupBy(col(custCol))
      .agg(max(col(dateCol)).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast(dec2)).as("__msum")))
    val asOf = broadcast(per.agg(max(col("__last")).as("__asof")))
    val base = bridge.freeze(per.crossJoin(asOf)
      .select(col(custCol),
        datediff(col("__asof"), col("__last")).cast("long").as("recency_days"),
        col("frequency"),
        col("__msum").cast("double").as("monetary")))
    // each metric's 4 quintile cuts collapse to ONE broadcast array row
    // (round 16): the previous shape crossJoined the 4-row cut table per
    // metric (4× row expansion) and re-grouped the whole customer frame —
    // three extra shuffles of the result per query. Counting cuts
    // strictly below the metric is order-free, so an array-local count
    // against the broadcast array is value-identical (boundary ties still
    // land low; a NULL cut — empty input — counts 0 both ways, and
    // collect_list dropping NULLs preserves exactly that).
    def cuts(metric: String, out: String): DataFrame = broadcast(
      graft.functions.Stats.quantilesOfCounts(
        base.groupBy(col(metric).as("__v")).agg(count(lit(1)).as("__c")), qs)
        .agg(collect_list(col("value")).as(out)))
    def cnt(metric: String, cutCol: String): org.apache.spark.sql.Column =
      size(filter(col(cutCol), c => col(metric) > c)).cast("long")
    val scored = base
      .crossJoin(cuts("recency_days", "__rc"))
      .crossJoin(cuts("frequency", "__fc"))
      .crossJoin(cuts("monetary", "__mc"))
      .withColumn("r_score", lit(5L) - cnt("recency_days", "__rc"))
      .withColumn("f_score", cnt("frequency", "__fc") + lit(1L))
      .withColumn("m_score", cnt("monetary", "__mc") + lit(1L))
    scored.select(col(custCol), col("recency_days"), col("frequency"),
      round(col("monetary").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 2)
        .cast("double").as("monetary"),
      col("r_score"), col("f_score"), col("m_score"),
      (col("r_score") * 100L + col("f_score") * 10L + col("m_score")).as("rfm"))
  }

  /** Market-basket pair mining — which items co-occur in the same
    * basket beyond chance: support (baskets holding both), confidence
    * P(b|a), and lift s_ab·n/(s_a·s_b), the classic association-rule
    * triple over order lines. Lift > 1 is genuine affinity; the top-N
    * by lift is the cross-sell table.
    *
    * Scale shape: the line stream collapses ONCE to the distinct
    * (basket, item) frame (frozen — it feeds sizes, supports and both
    * pair-join sides); baskets above `maxBasket` items drop from pair
    * generation (the [[graft.core.Joins.capBuckets]] guard — a
    * degenerate mega-basket generates quadratic pairs and no
    * signal); pairs come from the basket-keyed self-join (per-basket
    * size², never corpus²); supports broadcast back. Top-N is
    * TakeOrderedAndProject on the UNROUNDED lift (fixed double order,
    * engine-stable) with item-id tie-break.
    *
    * Returns topN rows (item_a, item_b, support, support_a, support_b,
    * confidence, lift) — confidence/lift at 6dp, item_a < item_b,
    * ordered by (lift desc, item_a, item_b).
    */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
                  minSupport: Long = 2, topN: Int = 20,
                  maxBasket: Int = 1000): DataFrame =
    basketPairsOfItems(
      org.apache.spark.sql.graftbridge.Bridge.freeze(
        df.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()),
      minSupport, topN, maxBasket)

  /** [[basketPairs]]' readout over an already-built distinct (__b, __i)
    * frame — the stage the streaming monitor shares with the batch
    * operator (the frame is MONOTONE under batch arrival: distinct
    * union of distincts).
    */
  def basketPairsOfItems(bi: DataFrame, minSupport: Long, topN: Int,
                         maxBasket: Int): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // not Joins.capBuckets: capped is frozen, so no later join reuses a window's exchange
    val ok = bi.groupBy(col("__b")).agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxBasket).drop("__sz")
    val capped = bridge.freeze(
      bi.join(graft.core.Joins.maybeBroadcast(ok), Seq("__b"), "left_semi"))
    val nB = broadcast(capped.agg(countDistinct(col("__b")).as("__n")))
    val supp = capped.groupBy(col("__i")).agg(count(lit(1)).as("__s"))
    val pairs = graft.core.Joins.bucketPairs(capped, Seq("__b"), "__i")
      .groupBy(col("id_a").as("item_a"), col("id_b").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val scored = pairs
      .join(graft.core.Joins.maybeBroadcast(
        supp.select(col("__i").as("item_a"), col("__s").as("support_a"))),
        Seq("item_a"))
      .join(graft.core.Joins.maybeBroadcast(
        supp.select(col("__i").as("item_b"), col("__s").as("support_b"))),
        Seq("item_b"))
      .crossJoin(nB)
      .withColumn("__lift",
        (col("support").cast("double") * col("__n").cast("double"))
          / (col("support_a").cast("double") * col("support_b").cast("double")))
    scored.orderBy(col("__lift").desc, col("item_a"), col("item_b"))
      .limit(topN)
      .select(col("item_a"), col("item_b"), col("support"),
        col("support_a"), col("support_b"),
        round((col("support").cast("double")
          / col("support_a").cast("double")).cast(dec8), 6)
          .cast("double").as("confidence"),
        round(col("__lift").cast(dec8), 6).cast("double").as("lift"))
  }

  /** Cohort lifetime value — cumulative revenue per acquisition cohort
    * by age: customers group by their FIRST order month, every order
    * lands at its month offset from that cohort, and the running sum
    * per cohort is the LTV curve finance reads ("how much has the
    * March cohort produced by month 6"). The longitudinal money view
    * next to [[rfmSegments]]' cross-sectional one.
    *
    * Scale shape: orders collapse to per-(customer, month) before the
    * first-month join; revenue aggregates to the bounded
    * (cohort, age) grid in exact DECIMAL; the cumulative is a window
    * PARTITIONED by cohort (rows per partition bounded by the corpus's
    * month span — never an unpartitioned window).
    *
    * Returns (cohort_month, age_months, n_customers, revenue,
    * cum_revenue) — money at 2dp, ordered by (cohort, age).
    */
  def cohortLtv(df: DataFrame, custCol: String, dateCol: String,
                amountCol: String): DataFrame = {
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    cohortLtvOfMonthly(
      org.apache.spark.sql.graftbridge.Bridge.freeze(
        df.groupBy(col(custCol).as("__c"),
            trunc(col(dateCol), "month").as("__m"))
          .agg(sum(col(amountCol).cast(dec2)).as("__a"))))
  }

  /** [[cohortLtv]]'s readout over an already-built per-(customer, month)
    * exact-decimal revenue table — ADDITIVE per (customer, month), the
    * streaming monitor's state.
    */
  def cohortLtvOfMonthly(o: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 2)
    val first = o.groupBy(col("__c")).agg(min(col("__m")).as("cohort_month"))
    val aged = o.join(first, Seq("__c"))
      .withColumn("age_months",
        months_between(col("__m"), col("cohort_month")).cast("long"))
    val grid = aged.groupBy(col("cohort_month"), col("age_months"))
      .agg(countDistinct(col("__c")).as("n_customers"),
        sum(col("__a")).cast(dec).as("__rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_month")).orderBy(col("age_months"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.withColumn("__cum", sum(col("__rev")).over(w).cast(dec))
      .select(col("cohort_month"), col("age_months"), col("n_customers"),
        col("__rev").cast("double").as("revenue"),
        col("__cum").cast("double").as("cum_revenue"))
  }

  /** Kaplan–Meier survival curve over user lifetimes — retention with
    * CENSORING done right: classic day-k retention silently treats a user
    * whose observation window just ended as churned; KM keeps them "at
    * risk" up to their last observed day and drops them from the risk set
    * after, so the curve is unbiased by the corpus's own end date. A user
    * churns when their last activity is more than `censorDays` before the
    * corpus end; otherwise they're censored (possibly still active).
    *
    * Scale shape: the stream collapses to the per-user (first, last) day
    * span — ONE map-side-combined min/max aggregation, and the span state
    * merges ADDITIVELY by min/min + max/max (the
    * [[graft.streaming.Streaming.SurvivalMonitor]] state); spans collapse
    * again to the bounded per-lifetime (d, c) table, at-risk counts and
    * the survival product both run through the deterministic-bucket
    * prefix scan ([[graft.core.Scans.cumulative]] — the product as exact
    * prefix sums of decimal-staged ln factors, exp'd once at the end), so
    * there is NO unpartitioned window and no driver-side loop. A risk set
    * that empties (everyone dies at the last time) reads survival 0 via a
    * cumulative extinction flag, never ln(0).
    *
    * Returns (t_days, n_risk, d, c, survival) — one row per observed
    * lifetime, survival at 6dp.
    */
  def kaplanMeier(df: DataFrame, userCol: String, tsCol: String,
                  censorDays: Int = 7): DataFrame =
    kmOfSpans(
      df.groupBy(col(userCol).as("__u"))
        .agg(min(to_date(col(tsCol))).as("__first"),
          max(to_date(col(tsCol))).as("__last")),
      censorDays)

  /** [[kaplanMeier]]'s curve stage over an already-built per-user
    * (__u, __first, __last) span table — exposed so the streaming
    * [[graft.streaming.Streaming.SurvivalMonitor]] reads the identical
    * curve off its accreted span state.
    */
  def kmOfSpans(spans: DataFrame, censorDays: Int = 7): DataFrame = {
    val decL = org.apache.spark.sql.types.DecimalType(28, 12)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val staged = lifetableOfSpans(spans, censorDays)
      .withColumn("__lnf",
        when(col("__d") === 0L, lit(0.0).cast(decL))
          .when(col("__d") === col("__nrisk"), lit(0.0).cast(decL))
          .otherwise(log(lit(1.0) - col("__d").cast("double")
            / col("__nrisk").cast("double")).cast(decL)))
      .withColumn("__dead",
        when(col("__d") === col("__nrisk"), 1L).otherwise(0L))
    val walked = graft.core.Scans.cumulative(
      staged.select(col("__t"), col("__nrisk"), col("__d"), col("__c"),
        col("__lnf"), col("__dead")),
      "__t", Seq("__lnf", "__dead"))
    walked.select(col("__t").as("t_days"), col("__nrisk").as("n_risk"),
      col("__d").as("d"), col("__c").as("c"),
      when(col("cum___dead") > 0L, lit(0.0))
        .otherwise(round(exp(col("cum___lnf").cast("double")).cast(dec8), 6)
          .cast("double")).as("survival"))
  }

  /** The bounded per-lifetime life table both survival readouts walk:
    * (t, d, c, exit, cum exits, at-risk) off the per-user span state —
    * the [[kmOfSpans]]/[[naOfSpans]] shared stage.
    */
  private def lifetableOfSpans(spans: DataFrame, censorDays: Int): DataFrame = {
    require(censorDays >= 0, "censorDays must be non-negative")
    // ensureFrozen: a monitor readout hands in an already-frozen span
    // state — re-checkpointing it cost one redundant materialization job
    // per readout (round 16)
    val frozen = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(
      spans.select(col("__u"), col("__first"), col("__last")))
    val end = frozen.agg(max(col("__last")).as("__end"))
    // The life table is bounded by DISTINCT lifetimes (days), never users.
    // Freeze it (round 16): the lazy groupBy fed four downstream subtrees
    // (totals, the scan's quantile probe + window branch, the final join),
    // so every readout re-aggregated the span state 4× and the physical
    // plan ballooned to 225 nodes (plans/r16/stream_hazard_before.txt);
    // one tiny materialization makes every reference a leaf scan, and the
    // known count lets Scans.cumulative size itself from the data.
    val lifetimes = org.apache.spark.sql.graftbridge.Bridge.freeze(
      frozen.crossJoin(broadcast(end))
        .select(datediff(col("__last"), col("__first")).as("__t"),
          (datediff(col("__end"), col("__last")) > censorDays).as("__churn"))
        .groupBy(col("__t"))
        .agg(sum(when(col("__churn"), 1L).otherwise(0L)).as("__d"),
          sum(when(!col("__churn"), 1L).otherwise(0L)).as("__c")))
    val tot = lifetimes.agg(sum(col("__d") + col("__c")).as("__n"))
    // at-risk via the inclusive prefix scan: n_t = N − (everyone who
    // exited at an earlier lifetime)
    val cum = graft.core.Scans.cumulative(
      lifetimes.withColumn("__exit", col("__d") + col("__c")),
      "__t", Seq("__exit"))
    // frozen on return (same bound as lifetimes): both readout walks
    // (kmOfSpans' ln-factor scan, naOfSpans' hazard scan) feed this frame
    // into a SECOND Scans.cumulative — a leaf keeps that walk on the
    // known-count fast path instead of re-running this one's machinery
    org.apache.spark.sql.graftbridge.Bridge.freeze(
      cum.crossJoin(broadcast(tot))
        .withColumn("__nrisk", col("__n") - (col("cum___exit") - col("__exit"))))
  }

  /** Nelson–Aalen cumulative hazard over raw events — the survival
    * family's RATE view: [[kaplanMeier]] multiplies survival
    * probabilities down, Nelson–Aalen SUMS the per-lifetime hazard
    * d/n-at-risk up, so H(t) reads as expected cumulative churn events
    * per user and a kink in its slope (a hazard spike at t = 7) is
    * directly visible where the KM curve only shows a gentler drop. The
    * standard companion estimator (and the one additive-in-time quantity
    * regression-on-hazards builds on).
    *
    * Scale shape: identical to [[kaplanMeier]] — per-user span state
    * (additive min/max merge, the
    * [[graft.streaming.Streaming.SurvivalMonitor]] state, whose `hazard`
    * readout IS this), bounded life table, at-risk off the shared prefix
    * scan, each d/n term staged to DECIMAL(28,12) BEFORE the cumulative
    * sum so the walk is exact and order-free.
    *
    * Returns one row per observed lifetime: (t_days, n_risk, d, c,
    * hazard, cum_hazard) at 6dp.
    */
  def nelsonAalen(df: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", censorDays: Int = 7): DataFrame =
    naOfSpans(
      df.groupBy(col(userCol).as("__u"))
        .agg(min(to_date(col(tsCol))).as("__first"),
          max(to_date(col(tsCol))).as("__last")),
      censorDays)

  /** Survival-time quantiles off the Kaplan–Meier curve — the three
    * numbers a retention review actually quotes: the lifetimes at which
    * 25% / 50% / 75% of users have churned (t_q = min{t : S(t) ≤ 1−q},
    * the standard KM quantile). A NULL median is itself the finding —
    * censoring dominates and most users outlive the observation window.
    *
    * Scale shape: ONE aggregation of [[kmOfSpans]]' bounded curve
    * (conditional mins against the already-rounded survival column, so
    * engines agree at the 6dp boundary); the curve itself rides the
    * per-user span state (the
    * [[graft.streaming.Streaming.SurvivalMonitor]] state, whose
    * `summary` readout IS this row). Reference scope: pygrametl has no
    * survival analysis — beyond-reference, next to the KM/Nelson–Aalen
    * family.
    *
    * Returns one row (n_users, t25, median_t, t75) in lifetime days.
    */
  def survivalSummary(df: DataFrame, userCol: String, tsCol: String,
                      censorDays: Int = 7): DataFrame =
    summaryOfSpans(
      df.groupBy(col(userCol).as("__u"))
        .agg(min(to_date(col(tsCol))).as("__first"),
          max(to_date(col(tsCol))).as("__last")),
      censorDays)

  /** [[survivalSummary]]'s readout stage over a per-user span state. */
  def summaryOfSpans(spans: DataFrame, censorDays: Int = 7): DataFrame =
    kmOfSpans(spans, censorDays).agg(
      sum(col("d") + col("c")).as("n_users"),
      min(when(col("survival") <= 0.75, col("t_days"))).cast("long")
        .as("t25"),
      min(when(col("survival") <= 0.5, col("t_days"))).cast("long")
        .as("median_t"),
      min(when(col("survival") <= 0.25, col("t_days"))).cast("long")
        .as("t75"))

  /** [[nelsonAalen]]'s readout stage over a per-user span state. */
  def naOfSpans(spans: DataFrame, censorDays: Int = 7): DataFrame = {
    val decL = org.apache.spark.sql.types.DecimalType(28, 12)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val staged = lifetableOfSpans(spans, censorDays)
      .withColumn("__hz",
        when(col("__nrisk") === 0L, lit(0.0).cast(decL))
          .otherwise((col("__d").cast("double") / col("__nrisk").cast("double"))
            .cast(decL)))
    val walked = graft.core.Scans.cumulative(
      staged.select(col("__t"), col("__nrisk"), col("__d"), col("__c"),
        col("__hz")),
      "__t", Seq("__hz"))
    walked.select(col("__t").as("t_days"), col("__nrisk").as("n_risk"),
      col("__d").as("d"), col("__c").as("c"),
      round(col("__hz").cast(dec8), 6).cast("double").as("hazard"),
      round(col("cum___hz").cast(dec8), 6).cast("double").as("cum_hazard"))
  }

  /** Log-rank test between two cohorts' survival curves — "does cohort A
    * churn DIFFERENTLY from cohort B", the [[kaplanMeier]] family's
    * hypothesis test (KM draws each curve; log-rank says whether the gap
    * is real), censoring-aware like the curves themselves: at every event
    * time the observed arm-A deaths compare against the hypergeometric
    * expectation given the pooled risk sets.
    *
    * Scale shape: each cohort collapses to its per-user span then to the
    * shared bounded per-lifetime (d, c) table; per-arm at-risk counts ride
    * ONE deterministic-bucket prefix scan ([[graft.core.Scans
    * .cumulative]] over both arms' exit columns together); the O−E and
    * variance terms evaluate in fixed double order from exact integers
    * and stage to DECIMAL(28,10) BEFORE the bounded sum. The corpus end
    * (censor anchor) is the max last-activity across BOTH cohorts.
    *
    * Returns one row (n_a, n_b, o_a, e_a, z): observed vs expected arm-A
    * churn events and the log-rank z; z is NULL when the variance is 0
    * (no comparable event times).
    */
  def logRank(aDf: DataFrame, bDf: DataFrame, userCol: String, tsCol: String,
              censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, "censorDays must be non-negative")
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def spans(df: DataFrame, isA: Boolean) = df
      .groupBy(col(userCol).as("__u"))
      .agg(min(to_date(col(tsCol))).as("__first"),
        max(to_date(col(tsCol))).as("__last"))
      .withColumn("__a", lit(isA))
    val tagged = org.apache.spark.sql.graftbridge.Bridge.freeze(
      spans(aDf, isA = true).unionByName(spans(bDf, isA = false)))
    val end = tagged.agg(max(col("__last")).as("__end"))
    val lt = tagged.crossJoin(broadcast(end))
      .select(datediff(col("__last"), col("__first")).as("__t"), col("__a"),
        (datediff(col("__end"), col("__last")) > censorDays).as("__churn"))
      .groupBy(col("__t"))
      .agg(sum(when(col("__a") && col("__churn"), 1L).otherwise(0L)).as("__d1"),
        sum(when(col("__a") && !col("__churn"), 1L).otherwise(0L)).as("__c1"),
        sum(when(!col("__a") && col("__churn"), 1L).otherwise(0L)).as("__d2"),
        sum(when(!col("__a") && !col("__churn"), 1L).otherwise(0L)).as("__c2"))
    val tot = lt.agg(sum(col("__d1") + col("__c1")).as("__N1"),
      sum(col("__d2") + col("__c2")).as("__N2"))
    val cum = graft.core.Scans.cumulative(
      lt.withColumn("__e1", col("__d1") + col("__c1"))
        .withColumn("__e2", col("__d2") + col("__c2")),
      "__t", Seq("__e1", "__e2"))
    // at-risk columns are __r1/__r2, NOT __n1/__n2 — Spark resolves
    // column names case-insensitively, so __n1 would collide with the
    // cohort total __N1 and silently shadow it
    val staged = cum.crossJoin(broadcast(tot))
      .withColumn("__r1", col("__N1") - (col("cum___e1") - col("__e1")))
      .withColumn("__r2", col("__N2") - (col("cum___e2") - col("__e2")))
      .withColumn("__rt", col("__r1") + col("__r2"))
      .withColumn("__dt", col("__d1") + col("__d2"))
    def dd(c: String) = col(c).cast("double")
    val terms = staged.select(col("__N1"), col("__N2"), col("__d1"),
      when(col("__dt") === 0L, lit(0.0).cast(dec))
        .otherwise((dd("__r1") * dd("__dt") / dd("__rt")).cast(dec)).as("__et"),
      when(col("__dt") === 0L || col("__rt") <= 1L, lit(0.0).cast(dec))
        .otherwise((dd("__dt") * (dd("__r1") / dd("__rt")) * (dd("__r2") / dd("__rt"))
          * ((dd("__rt") - dd("__dt")) / (dd("__rt") - lit(1.0)))).cast(dec))
        .as("__vt"))
    val agg = terms.groupBy(col("__N1"), col("__N2"))
      .agg(sum(col("__d1")).as("o_a"), sum(col("__et")).as("__e"),
        sum(col("__vt")).as("__v"))
    agg.select(col("__N1").as("n_a"), col("__N2").as("n_b"), col("o_a"),
      round(col("__e").cast(dec8), 4).cast("double").as("e_a"),
      when(col("__v").cast("double") <= 0.0, lit(null).cast("double"))
        .otherwise(round(((col("o_a").cast("double") - col("__e").cast("double"))
          / sqrt(col("__v").cast("double"))).cast(dec8), 6).cast("double"))
        .as("z"))
  }

  /** Per-user event-cadence audit — the bot/abuse screen run before user
    * data enters a training mix: humans arrive with irregular inter-event
    * gaps, scripts with metronomic ones, so a user with many events and a
    * near-zero gap coefficient of variation is flagged robotic. Also the
    * engagement-depth table (events and mean gap per user) feeding
    * per-user caps.
    *
    * Scale shape: ONE user-keyed lag window (the sessionization
    * discipline — millions of independent per-user partitions) computes
    * inter-event gaps, then ONE map-side-combined rollup to the |users|-row
    * profile. Moments stage exactly: gap sums as longs, squares as
    * DECIMAL(38,0) (a month-long gap in micros squares past a long), the
    * E[x²]−E[x]² order of [[dailyAnomalies]], and the robotic flag
    * compares ROUNDED columns so engines agree at the boundary.
    *
    * Returns (userCol, n_events, n_gaps, mean_gap_s, std_gap_s,
    * robotic): robotic = n_gaps ≥ minGaps AND std < cvMax · mean. Gaps
    * report in SECONDS — at micros magnitude (10¹⁰+) the 8-decimal
    * canonicalization cast sits beyond double precision, where engines'
    * double→decimal expansions legitimately differ; seconds keep every
    * canonicalized digit inside the exact range.
    */
  def cadence(df: DataFrame, userCol: String, tsCol: String, idCol: String,
              minGaps: Int = 10, cvMax: Double = 0.1): DataFrame = {
    require(minGaps > 0 && cvMax > 0, "minGaps and cvMax must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val gapped = df
      .withColumn("__t", unix_micros(col(tsCol)))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
    val prof = gapped.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        count(col("__gap")).as("n_gaps"),
        sum(col("__gap")).as("__s"),
        sum(col("__gap").cast(dec) * col("__gap").cast(dec)).as("__s2"))
    val mean = col("__s").cast("double") / col("n_gaps")
    val std = sqrt(greatest(
      col("__s2").cast("double") / col("n_gaps") - mean * mean, lit(0.0)))
    prof.filter(col("n_gaps") >= 1)
      .select(col(userCol), col("n_events"), col("n_gaps"),
        round((mean / 1000000.0).cast(dec8), 2).cast("double").as("mean_gap_s"),
        round((std / 1000000.0).cast(dec8), 2).cast("double").as("std_gap_s"))
      .withColumn("robotic",
        col("n_gaps") >= minGaps &&
          col("std_gap_s") < col("mean_gap_s") * cvMax)
  }

  /** Inter-arrival-time distribution: histogram of the gaps between a
    * user's consecutive events of the same type — the corpus-level
    * complement to [[cadence]]'s per-user profile (cadence flags ONE
    * robotic user; this shows whether the whole stream's timing mass sits
    * at human or scripted scales, the shape retry storms and SDK polling
    * bugs show up in).
    *
    * Scale shape: ONE (user, type)-keyed lag window over the stream (the
    * sessionization discipline — the partition count is users×types, never
    * one), then ONE map-side-combined rollup to the bounded
    * |types|×(cap+1) histogram. Gaps are exact micros longs; the bucket is
    * integer floor division capped at `capBuckets` (the overflow bucket
    * absorbs the long tail so output stays bounded no matter the time
    * span).
    *
    * Returns (typeCol, gap_bucket, lo_s, n_gaps): bucket k covers
    * [k·width, (k+1)·width) seconds, `lo_s` its inclusive lower edge, the
    * cap bucket is open-ended.
    */
  def interarrivalHistogram(df: DataFrame, userCol: String, typeCol: String,
                            tsCol: String, idCol: String,
                            widthSeconds: Long = 600L,
                            capBuckets: Int = 144): DataFrame = {
    require(widthSeconds > 0 && capBuckets > 0,
      "widthSeconds and capBuckets must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col(typeCol)).orderBy(col(tsCol), col(idCol))
    df.withColumn("__t", unix_micros(col(tsCol)))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .select(col(typeCol),
        least(expr(s"__gap div ${widthSeconds * 1000000L}"),
          lit(capBuckets.toLong)).as("gap_bucket"))
      .groupBy(col(typeCol), col("gap_bucket"))
      .agg(count(lit(1)).as("n_gaps"))
      .withColumn("lo_s", col("gap_bucket") * widthSeconds)
      .select(col(typeCol), col("gap_bucket"), col("lo_s"), col("n_gaps"))
  }

  /** Seasonal-naive forecast audit: predict each (type, day)'s volume as
    * the volume `period` days earlier and score the prediction — the
    * baseline every anomaly/capacity model must beat, and the cheap
    * pipeline-health check ("is today shaped like last Tuesday"). MAE on
    * exact long counts; MAPE from per-day terms decimal-staged before the
    * order-independent sum (the drift-suite discipline).
    *
    * Scale shape: the raw stream collapses ONCE to the |types|×|days|
    * daily-count frame (map-side combined, frozen — both join sides read
    * it); forecast lookup is a calendar-bounded equi-join of that tiny
    * frame with itself, never a window over raw events.
    *
    * Returns one row per type: (typeCol, n_days, mae, mape).
    */
  def seasonalForecast(df: DataFrame, typeCol: String, tsCol: String,
                       period: Int = 7): DataFrame =
    forecastOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      typeCol, period)

  /** [[seasonalForecast]]'s scoring stage over an already-built
    * (event_type, day, n) count table — exposed so the streaming
    * [[graft.streaming.Streaming.VolumeMonitor]] reads the identical
    * forecast audit off its accreted (additive, hence batch-exact) count
    * state.
    */
  def forecastOfDaily(dailyCounts: DataFrame, typeCol: String = "event_type",
                      period: Int = 7): DataFrame = {
    require(period > 0, "period must be positive")
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type").as("__ty"), col("day").as("__day"),
        col("n").as("__n")))
    val base = daily.select(col("__ty").as("__bty"), col("__day").as("__bday"),
      col("__n").as("__forecast"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    daily
      .withColumn("__lookup", date_sub(col("__day"), period))
      .join(base, col("__ty") === col("__bty") && col("__lookup") === col("__bday"))
      .select(col("__ty"), col("__n"), col("__forecast"),
        abs(col("__n") - col("__forecast")).as("__ae"))
      .groupBy(col("__ty").as(typeCol))
      .agg(count(lit(1)).as("n_days"),
        round((sum(col("__ae")).cast("double") / count(lit(1))).cast(dec), 4)
          .cast("double").as("mae"),
        round((sum((col("__ae").cast("double") / col("__n")).cast(dec))
            .cast("double") / count(lit(1))).cast(dec), 4)
          .cast("double").as("mape"))
  }

  /** MASE — mean absolute SCALED error (Hyndman & Koehler 2006) of the
    * seasonal-naive forecast: [[seasonalForecast]] reports MAE/MAPE, but
    * neither compares across types whose volumes differ 100× (MAE is in
    * raw counts; MAPE explodes near zero). MASE divides the seasonal
    * forecast's MAE by the one-step-naive MAE on the SAME series, so
    * every type reads on one scale — "MASE < 1" means the last-week
    * lookup beats just repeating yesterday, the standard admission bar
    * any fancier forecaster must clear.
    *
    * Scale shape: the raw stream collapses ONCE to the bounded
    * |types|×|days| count table; the seasonal errors come from
    * [[forecastOfDaily]]'s calendar-bounded equi-join of that tiny frame
    * with itself, the naive scale from ONE keyed lag window over it —
    * exact-integer absolute errors until the three final divisions.
    * Reference scope: pygrametl has no forecasting — beyond-reference,
    * next to the seasonal-forecast audit.
    *
    * Returns one row per type: (event_type, n_fc, n_naive, mae_fc,
    * mae_naive, mase) — mase NULL when the naive error is 0 (a
    * perfectly flat series has nothing to scale by); types with fewer
    * than 2 observed days or no day with a `period`-lagged match drop.
    */
  def maseDaily(df: DataFrame, typeCol: String, tsCol: String,
                period: Int = 7): DataFrame =
    maseOfDaily(
      df.groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")),
      period)

  /** [[maseDaily]]'s scoring stage over an already-built (event_type,
    * day, n) count table — the [[graft.streaming.Streaming.VolumeMonitor]]
    * readout (daily counts are additive, so the accreted state's MASE
    * equals the batch one once all of a day's events have landed).
    */
  def maseOfDaily(dailyCounts: DataFrame, period: Int = 7): DataFrame = {
    require(period > 0, "period must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val daily = org.apache.spark.sql.graftbridge.Bridge.freeze(
      dailyCounts.select(col("event_type"), col("day"), col("n")))
    val base = daily.select(col("event_type").as("__bty"),
      col("day").as("__bday"), col("n").as("__f"))
    val fc = daily
      .withColumn("__lookup", date_sub(col("day"), period))
      .join(base, col("event_type") === col("__bty") &&
        col("__lookup") === col("__bday"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_fc"),
        sum(abs(col("n") - col("__f"))).as("__sae_fc"))
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val nv = daily
      .withColumn("__prev", lag(col("n"), 1).over(wLag))
      .filter(col("__prev").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_naive"),
        sum(abs(col("n") - col("__prev"))).as("__sae_nv"))
    val maeFc = col("__sae_fc").cast("double") / col("n_fc").cast("double")
    val maeNv = col("__sae_nv").cast("double") / col("n_naive").cast("double")
    fc.join(nv, Seq("event_type"))
      .select(col("event_type"), col("n_fc"), col("n_naive"),
        round(maeFc.cast(dec), 4).cast("double").as("mae_fc"),
        round(maeNv.cast(dec), 4).cast("double").as("mae_naive"),
        when(col("__sae_nv") === 0, lit(null).cast("double"))
          .otherwise(round((maeFc / maeNv).cast(dec), 6).cast("double"))
          .as("mase"))
  }

  /** Entry-path analysis: each user's first `depth` event types (ordered
    * by (ts, id)) joined into a ">"-delimited path and counted across
    * users — the onboarding-flow rollup that generalizes [[transitions]]'
    * single-hop matrix to short ordered prefixes.
    *
    * Scale shape: ONE user-keyed window (the sessionization discipline)
    * ranks events, rows beyond `depth` drop BEFORE the per-user rollup so
    * the collected list is ≤ `depth` elements — bounded per-user state, no
    * whale partitions — and the path count is a map-side-combined
    * aggregation over at most |types|^depth + shorter-prefix rows.
    *
    * Returns (path, depth, n_users); depth < `depth` rows are users whose
    * whole history is shorter than the prefix.
    */
  def entryPaths(df: DataFrame, userCol: String, typeCol: String,
                 tsCol: String, idCol: String, depth: Int = 3): DataFrame = {
    require(depth > 0, "depth must be positive")
    Scans.topPerGroup(df, Seq(col(userCol)), Seq(col(tsCol), col(idCol)), depth, Some("__rn"))
      .groupBy(col(userCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__rn").as("r"),
            col(typeCol).cast("string").as("t")))),
          x => x.getField("t")), ">").as("path"),
        max(col("__rn")).as("depth"))
      .groupBy(col("path"), col("depth"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-user funnel progress: the earliest strictly-increasing timestamp
    * chain through `steps`. Returns (userCol, step_1_ts..step_k_ts,
    * steps_completed); a user absent from step 1 appears with all-null
    * steps and 0 completed.
    */
  def funnel(df: DataFrame, userCol: String, typeCol: String, tsCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val users = df.select(col(userCol)).distinct()
    val stages = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, i)) =>
        val slice = df.filter(col(typeCol) === step)
          .select(col(userCol), col(tsCol).as("__ts"))
        val gated = prev match {
          case None => slice
          case Some(p) => slice
            .join(p.select(col(userCol), col(s"step_${i}_ts").as("__prev")), Seq(userCol))
            .filter(col("__ts") > col("__prev"))
        }
        Some(gated.groupBy(col(userCol)).agg(min(col("__ts")).as(s"step_${i + 1}_ts")))
    }.flatten
    val joined = stages.foldLeft(users)((acc, st) => acc.join(st, Seq(userCol), "left"))
    // gating makes step i+1 non-null imply step i non-null, so the furthest
    // step is the max set indicator
    val nCompleted = steps.indices.map(i =>
      when(col(s"step_${i + 1}_ts").isNotNull, lit(i + 1)).otherwise(lit(0)))
      .reduce((a, b) => greatest(a, b))
    joined.select((col(userCol) +: steps.indices.map(i => col(s"step_${i + 1}_ts"))) :+
      nCompleted.cast("int").as("steps_completed"): _*)
  }
}
