package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.det.Sig.sig5

/** Event-stream operators, batch form: the DuckDB-checkable
  * aggregations the oracle queries verify.
  *
  * Timestamp handling: the events parquet carries TIMESTAMP(NANOS),
  * which Spark only reads as nanosecond LONGs
  * (spark.sql.legacy.parquet.nanosAsLong=true — set in Verify/Bench).
  * All window arithmetic therefore runs on exact integer epoch
  * MICROseconds (ns div 1000), identical to the oracle's
  * epoch_ns(ts)//1000 — no float, no engine-specific date functions.
  */
object EventOps {

  /** Exact epoch-micros column from either a nanos LONG or a
    * timestamp column. */
  def tsMicros(df: DataFrame): Column =
    if (df.schema("ts").dataType == LongType)
      expr("ts div 1000")
    else unix_micros(col("ts").cast("timestamp"))

  private val HourUs = 3600L * 1000000L

  /** Tumbling-window stats per event type: 1-hour epoch-aligned
    * windows via pure integer arithmetic (us - us % 3600e6 ≙ Spark's
    * `window(ts, '1 hour')` start). */
  def windowedStats(df: DataFrame): DataFrame =
    df.select((tsMicros(df) - tsMicros(df) % HourUs)
        .as("window_start_us"), col("event_type"), col("value"))
      .groupBy("window_start_us", "event_type")
      .agg(count(lit(1)).as("cnt"), sig5(avg("value")).as("avg_value"),
        min("value").as("min_value"), max("value").as("max_value"))
      .orderBy("window_start_us", "event_type")

  /** Session-duration distribution in power-of-two second buckets —
    * the "how long are sessions really" view over [[sessionize]]'s
    * output (exact integer log2 via binary digit count; single-event
    * zero-duration sessions land in bucket 0). O(buckets) output. */
  def sessionLengths(sessions: DataFrame): DataFrame =
    sessions.select(
        (length(bin(expr(
          "(session_end_us - session_start_us) div 1000000"))) - 1)
          .cast("long").as("log2_secs"),
        col("n_events"))
      .groupBy("log2_secs")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"))
      .orderBy("log2_secs")

  /** User churn between the two halves of the observed time range:
    * how many users were active only early (churned), only late
    * (new), or in both (retained) — the one-row cohort movement
    * summary behind the retention triangle. One per-user min/max
    * aggregation against the integer-midpoint split (the histogram
    * bounds precedent), then an O(1) rollup. */
  def churnSummary(df: DataFrame): DataFrame = {
    val us = tsMicros(df)
    val b = df.agg(min(us).as("mn"), max(us).as("mx")).first()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val per = df.select(col("user_id"), us.as("t"))
      .groupBy("user_id")
      .agg(max(when(col("t") <= mid, 1L).otherwise(0L)).as("early"),
        max(when(col("t") > mid, 1L).otherwise(0L)).as("late"))
    per.agg(
      sum(when(col("early") === 1 && col("late") === 1, 1L)
        .otherwise(0L)).as("n_retained"),
      sum(when(col("early") === 1 && col("late") === 0, 1L)
        .otherwise(0L)).as("n_churned"),
      sum(when(col("early") === 0 && col("late") === 1, 1L)
        .otherwise(0L)).as("n_new"))
  }

  /** Day-of-week × hour activity profile — the calendar heatmap view
    * ("when does this stream actually happen") with per-cell share.
    * One aggregation over ≤ 168 cells; share against broadcast
    * totals. */
  def timeProfile(df: DataFrame): DataFrame = {
    val t = timestamp_micros(tsMicros(df))
    val cells = df.select(dayofweek(t).as("dow"), hour(t).as("hour"))
      .groupBy("dow", "hour").agg(count(lit(1)).as("cnt"))
    val total = cells.agg(sum("cnt").as("__t"))
    cells.crossJoin(broadcast(total))
      .select(col("dow").cast("long").as("dow"),
        col("hour").cast("long").as("hour"), col("cnt"),
        sig5(col("cnt").cast("double") / col("__t")).as("share"))
      .orderBy("dow", "hour")
  }

  /** Per-type linear trend of `value` over event time — the "which
    * metric is drifting, how fast, and is the fit real" monitoring
    * view (slope per hour, intercept at epoch, r²). Two-pass central
    * computation (the Stats.moments precedent): means first (sig5-
    * rounded so both engines center against identical literals),
    * then one aggregation of centered cross-products — no window, no
    * sort, two shuffles on the group key with map-side combine.
    * Degenerate groups (constant time or <2 rows) emit NULL slope
    * rather than ±Inf. */
  def trendByType(df: DataFrame): DataFrame = {
    val base = df.where(col("value").isNotNull)
      .select(col("event_type"),
        (tsMicros(df).cast("double") / lit(3.6e9)).as("x"), // hours
        col("value").cast("double").as("y"))
    val means = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sig5(avg("x")).as("mx"),
        sig5(avg("y")).as("my"))
    val cent = base.join(means, Seq("event_type"))
      .groupBy("event_type")
      .agg(first("n").as("n"), first("mx").as("mx"),
        first("my").as("my"),
        sum((col("x") - col("mx")) * (col("y") - col("my"))).as("sxy"),
        sum((col("x") - col("mx")) * (col("x") - col("mx"))).as("sxx"),
        sum((col("y") - col("my")) * (col("y") - col("my"))).as("syy"))
    cent.select(col("event_type"), col("n"),
        sig5(when(col("sxx") > 0, col("sxy") / col("sxx")))
          .as("slope_per_hour"),
        sig5(when(col("sxx") > 0,
          col("my") - col("sxy") / col("sxx") * col("mx")))
          .as("intercept"),
        sig5(when(col("sxx") > 0 && col("syy") > 0,
          col("sxy") * col("sxy") / (col("sxx") * col("syy"))))
          .as("r2"))
      .orderBy("event_type")
  }

  /** Gap-based sessionization (30-min inactivity): lag → new-session
    * flag → running sum as session index → per-session aggregate.
    * All arithmetic in exact epoch micros. */
  def sessionize(df: DataFrame, gapMinutes: Long = 30L): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, 0)
    df.select(col("user_id"), col("event_id"), tsMicros(df).as("us"))
      .withColumn("flag",
        when(lag("us", 1).over(byUser).isNull ||
          col("us") - lag("us", 1).over(byUser) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("flag").over(run))
      .groupBy("user_id", "session_idx")
      .agg(min("us").as("session_start_us"), max("us").as("session_end_us"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_idx")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: for each ordered (event_type → next_type) step —
    * consecutive events of the SAME user, ordered by exact epoch
    * micros with event_id tie-breaks — the step count and the
    * row-normalized transition probability. The "what do users do
    * next" primitive behind funnel design and sequence-anomaly
    * scoring; absent in the reference (tables only — SURVEY §2.2).
    *
    * Scale shape: one shuffle on user_id for the lead() window (the
    * natural partitioning every sequence op here uses), then a
    * partial-aggregated groupBy whose key space is |types|² — the
    * matrix stays tiny regardless of corpus size, so the
    * row-normalizing window runs over the aggregate, never the
    * events. */
  def transitionMatrix(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val byType = Window.partitionBy("event_type")
    df.select(col("user_id"), col("event_id"), col("event_type"),
        tsMicros(df).as("us"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .where(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        sig5(col("n").cast("double") / sum("n").over(byType)))
      .orderBy("event_type", "next_type")
  }

  /** Top user journeys: the most common 3-step event-type paths
    * (two chained leads over the per-user order) with counts and
    * corpus share — the product-analytics "what do users actually
    * do" view that a funnel only answers for one predeclared path.
    *
    * Scale shape: the same single user_id window pass (both leads
    * share one window frame), a (t1,t2,t3) hash aggregate whose key
    * space is |types|³, and the head via orderBy+limit
    * (TakeOrderedAndProject) with rank stamped after the limit —
    * nothing unbounded crosses one partition. */
  def topPaths(df: DataFrame, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val paths = df
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsMicros(df).as("us"))
      .withColumn("t2", lead("event_type", 1).over(byUser))
      .withColumn("t3", lead("event_type", 2).over(byUser))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
    val total = paths.agg(sum("cnt").cast("double").as("n_paths"))
    val top = paths
      .orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
      .limit(topK)
    top.crossJoin(broadcast(total))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("t1"), col("t2"),
          col("t3"))).cast("long"))
      .select(col("rnk"), col("t1"), col("t2"), col("t3"), col("cnt"),
        sig5(col("cnt") / col("n_paths")).as("share"))
      .orderBy("rnk")
  }

  /** Transition-mix drift: did BEHAVIOR change between the early and
    * late halves of the stream? Steps (same per-user lead derivation
    * as [[transitionMatrix]]) are assigned to halves by the step's
    * second-event time against the integer midpoint of the observed
    * step-time range; each half gets its own row-normalized
    * transition distribution, and per event_type the total-variation
    * distance 0.5·Σ|p_a − p_b| over the full-outer next_type support
    * says how far that type's outgoing behavior moved. A type with
    * no steps in one half gets NULL (TVD against nothing is
    * undefined, not 0.5). Complements drift_psi (value distributions)
    * with sequence-behavior drift.
    *
    * Scale shape: the one user_id window pass, a (half, type, next)
    * aggregate of ≤ 2·|types|² rows, and tiny-side joins/windows
    * after that — same bill as [[transitionMatrix]] at any corpus
    * size. The midpoint is two driver-collected longs (the histogram
    * bounds precedent). */
  def transitionDrift(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val steps0 = df
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsMicros(df).as("us"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .withColumn("next_us", lead("us", 1).over(byUser))
      .where(col("next_type").isNotNull)
      .select("event_type", "next_type", "next_us")
    val mm = steps0.agg(min("next_us"), max("next_us")).first()
    if (mm.isNullAt(0))
      return steps0.sparkSession.emptyDataFrame
        .select(lit("").as("event_type"), lit(0L).as("n_a"),
          lit(0L).as("n_b"), lit(0.0).as("tvd")).limit(0)
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2L
    val byHT = Window.partitionBy("half", "event_type")
    val probs = steps0
      .withColumn("half", when(col("next_us") <= mid, "a").otherwise("b"))
      .groupBy("half", "event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") / sum("n").over(byHT))
    val a = probs.where(col("half") === "a")
      .select(col("event_type"), col("next_type"),
        col("p").as("pa"), col("n").as("na"))
    val b = probs.where(col("half") === "b")
      .select(col("event_type"), col("next_type"),
        col("p").as("pb"), col("n").as("nb"))
    a.join(b, Seq("event_type", "next_type"), "full_outer")
      .groupBy("event_type")
      .agg(coalesce(sum("na"), lit(0L)).as("n_a"),
        coalesce(sum("nb"), lit(0L)).as("n_b"),
        sig5(lit(0.5) *
          sum(abs(coalesce(col("pa"), lit(0.0)) -
            coalesce(col("pb"), lit(0.0))))).as("tvd_raw"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("tvd_raw"))
          .as("tvd"))
      .orderBy("event_type")
  }

  /** Per-user sequence anomaly under the first-order Markov model:
    * each user's average negative log-likelihood of their observed
    * steps, scored against [[transitionMatrix]]'s row-normalized
    * probabilities — bots and broken clients walk improbable paths,
    * so high avg_nll surfaces them without any labeled data. Every
    * observed step has p > 0 by construction (it contributed to its
    * own count), so the log never sees zero.
    *
    * Scale shape: the matrix is |types|² rows — broadcast to the
    * step join, so the only shuffles are the user_id window and the
    * per-user aggregate (both on the same natural key; AQE coalesces
    * the tiny matrix aggregation). Scoring joins on the sig5-rounded
    * canon p, keeping the cross-engine replay exact. */
  def sequenceAnomaly(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val steps = df
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsMicros(df).as("us"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .where(col("next_type").isNotNull)
    val matrix = transitionMatrix(df)
      .select("event_type", "next_type", "p")
    steps.join(broadcast(matrix), Seq("event_type", "next_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_steps"),
        sig5(avg(-log(col("p")))).as("avg_nll"))
      .orderBy("user_id")
  }

  /** Profile the JSON-ish `props` payload: extract `$.k` and
    * aggregate per event type. Uses a regexp extraction that is
    * expressible identically in the oracle; the library also offers
    * `from_json` parsing (propsParsed) for real pipelines. */
  def propsKStats(df: DataFrame): DataFrame =
    df.select(col("event_type"),
        // regexp_extract returns '' on no match and ANSI CAST('')
        // throws — nullif mirrors the oracle's TRY_CAST semantics
        nullif(regexp_extract(col("props"), "\"k\": (\\d+)", 1), lit(""))
          .cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_with_k"),
        sig5(avg("k")).as("avg_k"), min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** Hierarchical aggregate via ROLLUP(event_type, user bucket):
    * grouping-sets coverage (absent in the reference). The grand-total
    * and per-type subtotal rows carry NULL group keys in both engines;
    * output is made deterministic by COALESCE'd sort keys. */
  def rollupStats(df: DataFrame): DataFrame =
    df.select(col("event_type"), (col("user_id") % 4).as("user_bucket"),
        col("value"))
      .rollup("event_type", "user_bucket")
      .agg(count(lit(1)).as("cnt"), sig5(avg("value")).as("avg_value"))
      .orderBy(coalesce(col("event_type"), lit("~")),
        coalesce(col("user_bucket"), lit(-1L)))

  /** Full CUBE(event_type, hour-of-day) aggregate with grouping_id —
    * the other half of the grouping-sets surface (rollupStats covers
    * the hierarchical prefix sets; CUBE adds the cross-marginals,
    * e.g. per-hour totals across all event types). grouping_id
    * disambiguates a genuine NULL group value from a subtotal row —
    * emitted so the oracle must reproduce Spark's bit order (type
    * bit 1, hour bit 0). One shuffle; grouping-set expansion happens
    * map-side before the exchange. */
  def cubeStats(df: DataFrame): DataFrame =
    df.select(col("event_type"), tsMicros(df).as("us"), col("value"))
      // `div`, not `/`: Column./ is ALWAYS double division
      .select(col("event_type"),
        expr(s"us % ${24L * HourUs} div $HourUs").as("hour"),
        col("value"))
      .cube("event_type", "hour")
      // grouping_id() is only resolvable INSIDE the grouping-sets
      // aggregate (UNSUPPORTED_GROUPING_EXPRESSION in a later select)
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("cnt"), sig5(sum("value")).as("sum_value"))
      .orderBy(col("gid"),
        coalesce(col("event_type"), lit("~")),
        coalesce(col("hour"), lit(-1L)))
      .select("gid", "event_type", "hour", "cnt", "sum_value")

  /** Per-event lag/rolling features — the feature-engineering pass of
    * an event-driven training pipeline: previous value, inter-event
    * gap, and the rolling mean/count over the user's `nPrev`
    * preceding events (current row excluded, so the feature is
    * leakage-free for next-event prediction). One shuffle (window by
    * user); carried values are exact, only the rolling mean (frame
    * summation order) is sig5-rounded. */
  def laggedFeatures(df: DataFrame, nPrev: Int = 3): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val frame = w.rowsBetween(-nPrev, -1)
    df.select(col("event_id"), col("user_id"), tsMicros(df).as("us"),
        col("value"))
      .select(col("event_id"), col("user_id"), col("us"),
        lag("value", 1).over(w).as("prev_value"),
        (col("us") - lag("us", 1).over(w)).as("dt_us"),
        sig5(avg("value").over(frame)).as("avg_prev"),
        count(lit(1)).over(frame).as("n_prev"))
      .orderBy("event_id")
  }

  /** Schema-on-read JSON parsing of props via from_json (the
    * production path; not oracle-checked because DuckDB's JSON
    * handling differs in nullability edge cases). */
  def propsParsed(df: DataFrame): DataFrame =
    df.withColumn("props_parsed",
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))

  /** Sliding-window stats per event type: every event lands in
    * len/slide overlapping windows (the monitoring view that catches
    * a spike straddling a tumbling boundary). Same exact-integer
    * window arithmetic as [[windowedStats]], with the bounded
    * len/slide explode factor as the only extra cost — shuffle keys
    * stay (window_start, type). Mirrors Spark's
    * `window(ts, len, slide)` semantics. */
  def slidingWindowStats(df: DataFrame, lenUs: Long = HourUs,
      slideUs: Long = HourUs / 2): DataFrame = {
    require(lenUs % slideUs == 0, "len must be a multiple of slide")
    val n = (lenUs / slideUs).toInt
    val us = tsMicros(df)
    df.select(us.as("us"), col("event_type"), col("value"))
      .select(col("us"), col("event_type"), col("value"),
        explode(sequence(lit(0), lit(n - 1))).as("j"))
      .select(((col("us") - col("us") % lit(slideUs)) -
          col("j") * lit(slideUs)).as("window_start_us"),
        col("event_type"), col("value"))
      .groupBy("window_start_us", "event_type")
      .agg(count(lit(1)).as("cnt"), sig5(avg("value")).as("avg_value"),
        min("value").as("min_value"), max("value").as("max_value"))
      .orderBy("window_start_us", "event_type")
  }

  private val DayUs = 86400L * 1000000L

  /** Cohort retention: users bucketed by their FIRST-seen day (exact
    * integer epoch-day index — the repo's no-date-functions time
    * convention), then distinct active users per (cohort_day,
    * day_offset). The standard product-analytics retention triangle.
    *
    * Scale shape: the first-seen aggregation and the activity join
    * both hash-partition on user_id, so the join rides the
    * aggregation's exchange; the final (cohort, offset) aggregation
    * is cohort-days × horizon rows. No windows, no date functions. */
  def retention(df: DataFrame): DataFrame = {
    val us = tsMicros(df)
    // numerator is an exact multiple of DayUs, so the double division
    // is exact and the cast is safe (same trick as windowedStats)
    val ev = df.select(col("user_id"),
      ((us - us % lit(DayUs)) / lit(DayUs)).cast("long").as("day"))
    val fd = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(fd, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Ordered conversion funnel: step i counts users whose FIRST
    * step-i event occurs at-or-after their step-(i−1) entry time —
    * the strict-sequence product-analytics funnel (a purchase before
    * ever viewing does not convert).
    *
    * Scale shape: per step, one filtered min-aggregation plus a join
    * against the previous frontier — every aggregation and join is
    * hash-partitioned on user_id, so the whole chain rides one
    * exchange family; frontiers only shrink. Counts are tiny 1-row
    * aggregates unioned at the end (steps × 1 rows total). */
  def funnel(df: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = df.select(col("user_id"), tsMicros(df).as("us"),
      col("event_type"))
    val first = ev.where(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("us").as("t0"))
    val frontiers = steps.zipWithIndex.drop(1)
      .scanLeft(first) { case (prev, (st, i)) =>
        ev.where(col("event_type") === st)
          .join(prev, Seq("user_id"))
          .where(col("us") >= col(s"t${i - 1}"))
          .groupBy("user_id").agg(min("us").as(s"t$i"))
      }
    frontiers.zip(steps).zipWithIndex.map { case ((f, st), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(st).as("event_type"),
          col("n_users"))
    }.reduce(_ unionByName _).orderBy("step")
  }

  /** Per-user z-score anomalies: events whose value sits more than
    * `threshold` sig5-rounded standard deviations from the user's own
    * mean — the per-entity outlier screen run over activity streams.
    * Users with zero variance (or a single event: NULL stddev) emit
    * nothing. The gate compares the ROUNDED z (the engine contract
    * for discrete decisions). One aggregation plus a co-partitioned
    * join on user_id; the z filter is map-side. */
  def anomalies(df: DataFrame, threshold: Double = 3.0): DataFrame = {
    val stats = df.groupBy("user_id").agg(
      avg("value").as("mu"), stddev_samp("value").as("sd"))
    df.select(col("event_id"), col("user_id"), col("value"))
      .join(stats, Seq("user_id"))
      .where(col("sd") > 0.0)
      .select(col("event_id"), col("user_id"),
        sig5((col("value") - col("mu")) / col("sd")).as("z"))
      .where(abs(col("z")) > threshold)
      .orderBy("event_id")
  }
}
