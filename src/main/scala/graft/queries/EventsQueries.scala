package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.det.Sig
import graft.ops._
import graft.pipeline.CorpusPipeline

/** Event windows / sessions / sequences queries. Split from the monolithic Extensions
  * registry (round 11) — pure move, zero behavior; every
  * query keeps its DuckDB oracle. */
object EventsQueries {

  import Shared._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-event lag/rolling features (leakage-free: current row
    // excluded from its own rolling frame)
    "events_features" -> ((s, dir) =>
      EventOps.laggedFeatures(t(s, dir, "events"))),
    // ---- events (streaming-equivalent batch) ----
    "events_window" -> ((s, dir) =>
      EventOps.windowedStats(t(s, dir, "events"))),
    // per-type metric trend: slope/intercept/r² of value over event
    // time (two-pass central fit, no sort) — "which metric drifts"
    "events_trend" -> ((s, dir) =>
      EventOps.trendByType(t(s, dir, "events"))),
    // calendar heatmap: day-of-week × hour activity with shares
    "events_time_profile" -> ((s, dir) =>
      EventOps.timeProfile(t(s, dir, "events"))),
    // cohort movement between the two halves of the observed range:
    // retained / churned / new users in one row
    "events_churn" -> ((s, dir) =>
      EventOps.churnSummary(t(s, dir, "events"))),
    // session-duration distribution in power-of-two second buckets
    "events_session_lengths" -> ((s, dir) =>
      EventOps.sessionLengths(
        EventOps.sessionize(t(s, dir, "events")))),
    // per-hour facet association: Cramér's V / Theil's U between
    // event_type and the user cohort per event-time window, a
    // per-window contingency feeding CatStats.associationGrouped
    // (drift of facet association)
    "events_window_assoc" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val us = EventOps.tsMicros(ev) // nanos-as-long-safe epoch micros
      val cont = ev.select(
          (us - pmod(us, lit(3600000000L))).as("window_start_us"),
          col("event_type").as("va"),
          pmod(col("user_id"), lit(4L)).cast("string").as("vb"))
        .groupBy("window_start_us", "va", "vb")
        .agg(count(lit(1)).as("nij"))
      CatStats.associationGrouped(cont, "window_start_us")
    }),
    // cohort retention triangle: first-seen day → distinct active
    // users per (cohort, day offset)
    "events_retention" -> ((s, dir) =>
      EventOps.retention(t(s, dir, "events"))),
    // per-user z-score outliers, gate on the sig5-rounded z
    "events_anomaly" -> ((s, dir) =>
      EventOps.anomalies(t(s, dir, "events"))),
    // strict-sequence conversion funnel view → click → purchase
    "events_funnel" -> ((s, dir) =>
      EventOps.funnel(t(s, dir, "events"))),
    // overlapping 1h windows sliding every 30min
    "events_sliding" -> ((s, dir) =>
      EventOps.slidingWindowStats(t(s, dir, "events"))),
    // interval × interval overlap join (concurrent sessions of
    // DIFFERENT users): bucket decomposition + first-shared-bucket
    // dedup — the oracle verifies with the naive pair join, so the
    // bucketing must be result-invisible
    "join_session_overlap" -> ((s, dir) => {
      val sess = EventOps.sessionize(t(s, dir, "events"))
        .where(col("user_id") < 30)
        .select(col("user_id"), col("session_idx"),
          col("session_start_us"), col("session_end_us"))
      TemporalJoin.intervalOverlapJoin(sess, sess,
        "session_start_us", "session_end_us", bucketUs = 1800000000L,
        leftProj = Seq("user_id", "session_idx"),
        rightProj = Seq("user_id", "session_idx"),
        cond = col("a_user_id") < col("b_user_id"))
        .orderBy("a_user_id", "a_session_idx", "b_user_id",
          "b_session_idx")
    }),
    "events_sessionize" -> ((s, dir) =>
      EventOps.sessionize(t(s, dir, "events"))),
    // first-order Markov transitions over per-user sequences: the
    // |types|² matrix with row-normalized probabilities
    "events_markov" -> ((s, dir) =>
      EventOps.transitionMatrix(t(s, dir, "events"))),
    // per-user avg negative log-likelihood under the Markov model:
    // improbable paths (bots, broken clients) score high, label-free
    "events_seq_anomaly" -> ((s, dir) =>
      EventOps.sequenceAnomaly(t(s, dir, "events"))),
    // sequence-behavior drift: per-type TVD between the early- and
    // late-half transition distributions
    "events_markov_drift" -> ((s, dir) =>
      EventOps.transitionDrift(t(s, dir, "events"))),
    // top user journeys: most common 3-step paths with corpus share
    "events_paths" -> ((s, dir) =>
      EventOps.topPaths(t(s, dir, "events"), topK = 20)),
    "events_props" -> ((s, dir) =>
      EventOps.propsKStats(t(s, dir, "events"))),
    // ---- grouping sets / set ops (absent in reference — §2.2) ----
    "events_rollup" -> ((s, dir) => EventOps.rollupStats(t(s, dir, "events"))),
    // CUBE adds the cross-marginals rollup's prefix sets can't
    // express; gid pins Spark's grouping_id bit order to the oracle's
    "events_cube" -> ((s, dir) => EventOps.cubeStats(t(s, dir, "events")))
  )

  /** Retention triangle re-derived on exact integer epoch days. */
  val eventsRetentionSql: String =
    """WITH ev AS (SELECT user_id,
      |        (epoch_ns(ts) // 1000) // 86400000000 AS day FROM events),
      |fd AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
      |SELECT fd.cohort_day, ev.day - fd.cohort_day AS day_offset,
      |count(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN fd ON fd.user_id = ev.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-user z-score outliers; both the emitted z and the >3 gate
    * use the sig5-rounded value so summation-order noise in mu/sd
    * cannot flip membership. */

  val eventsAnomalySql: String =
    s"""WITH s AS (SELECT user_id, avg(value) AS mu,
       |             stddev_samp(value) AS sd FROM events GROUP BY 1)
       |SELECT event_id, e.user_id,
       |${sig("(value - mu) / sd")} AS z
       |FROM events e JOIN s ON s.user_id = e.user_id
       |WHERE sd > 0 AND abs(${sig("(value - mu) / sd")}) > 3
       |ORDER BY event_id""".stripMargin

  /** Sliding windows re-derived: each event replicated into its
    * len/slide containing windows by integer arithmetic. */

  val eventsSlidingSql: String =
    s"""WITH x AS (SELECT epoch_ns(ts) // 1000 AS us, event_type,
       |             value FROM events),
       |w AS (SELECT (us - us % 1800000000) - j * 1800000000
       |          AS window_start_us, event_type, value
       |      FROM x, range(0, 2) t(j))
       |SELECT window_start_us, event_type, count(*) AS cnt,
       |${sig("avg(value)")} AS avg_value,
       |min(value) AS min_value, max(value) AS max_value
       |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Strict-sequence funnel re-derived: each step's frontier joins
    * the previous one on user and requires at-or-after timing. */

  val eventsFunnelSql: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
      |             event_type FROM events),
      |s1 AS (SELECT user_id, min(us) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE event_type = 'click' AND us >= t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e
      |       JOIN s2 ON s2.user_id = e.user_id
      |       WHERE event_type = 'purchase' AND us >= t2 GROUP BY 1)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
      |         count(*) AS n_users FROM s1
      |  UNION ALL SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
      |ORDER BY step""".stripMargin

  /** The quadratic textbook as-of formulation (LEFT JOIN on the
    * inequality + keep the rank-1 right row) — independent of the
    * union-marker window plan the Spark side runs. Tolerance 7 days;
    * unmatched/over-tolerance clicks survive with NULL match
    * columns. All matched values are carried, never recomputed, so
    * no rounding is needed anywhere. */

  val eventsFeaturesSql: String =
    s"""WITH x AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
       |           value FROM events)
       |SELECT event_id, user_id, us,
       |lag(value) OVER w AS prev_value,
       |us - lag(us) OVER w AS dt_us,
       |${sig("avg(value) OVER f")} AS avg_prev,
       |count(*) OVER f AS n_prev
       |FROM x
       |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id),
       |f AS (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
       |ORDER BY event_id""".stripMargin

  /** The MINSTD double-step mille bucket re-derived in pure BIGINT
    * arithmetic (no engine hash involved — see
    * [[graft.ops.Sampling.minstdMille]]). */

  val eventsWindowAssocSql: String = {
    val vGuard = "least(card_a, card_b) > 1 AND greatest(card_a, card_b) <= 10000"
    val uGuard = "greatest(card_a, card_b) <= 10000"
    s"""WITH e AS (SELECT epoch_ns(ts) // 1000 AS us, event_type AS va,
       |  CAST(user_id % 4 AS VARCHAR) AS vb FROM events),
       |c AS (SELECT CAST(us - us % 3600000000 AS BIGINT) AS w, va, vb,
       |      CAST(count(*) AS DOUBLE) AS nij FROM e GROUP BY 1, 2, 3),
       |x AS (SELECT w, va, vb, nij,
       |      sum(nij) OVER (PARTITION BY w, va) AS ri,
       |      sum(nij) OVER (PARTITION BY w, vb) AS cj FROM c),
       |g AS (SELECT w, sum(nij) AS n,
       |      count(DISTINCT va)
       |        + max(CASE WHEN va IS NULL THEN 1 ELSE 0 END) AS card_a,
       |      count(DISTINCT vb)
       |        + max(CASE WHEN vb IS NULL THEN 1 ELSE 0 END) AS card_b,
       |      sum(nij * nij / (ri * cj)) AS sumsq,
       |      sum(nij * ln(nij)) AS nln,
       |      sum(nij * ln(cj)) AS clc,
       |      sum(nij * ln(ri)) AS rlr
       |      FROM x GROUP BY w)
       |SELECT w AS window_start_us, CAST(n AS BIGINT) AS n,
       |CAST(card_a AS BIGINT) AS card_a, CAST(card_b AS BIGINT) AS card_b,
       |${sig(s"CASE WHEN $vGuard THEN sqrt(greatest((sumsq - 1) / (least(card_a, card_b) - 1), 0)) END")} AS cramers_v,
       |${sig(s"CASE WHEN $uGuard AND card_a > 1 THEN ((ln(n) - rlr / n) - (clc - nln) / n) / greatest(ln(n) - rlr / n, 1e-12) END")} AS theils_u_ab,
       |${sig(s"CASE WHEN $uGuard AND card_b > 1 THEN ((ln(n) - clc / n) - (rlr - nln) / n) / greatest(ln(n) - clc / n, 1e-12) END")} AS theils_u_ba
       |FROM g ORDER BY window_start_us""".stripMargin
  }

  val eventsTrendSql: String =
    s"""WITH v AS (SELECT event_type,
       |    CAST(epoch_ns(ts) // 1000 AS DOUBLE) / 3600000000.0 AS x,
       |    CAST(value AS DOUBLE) AS y
       |  FROM events WHERE value IS NOT NULL),
       |m AS (SELECT event_type, count(*) AS n, ${sig("avg(x)")} AS mx,
       |        ${sig("avg(y)")} AS my
       |      FROM v GROUP BY 1),
       |c AS (SELECT v.event_type, any_value(n) AS n,
       |        any_value(mx) AS mx, any_value(my) AS my,
       |        sum((x - mx) * (y - my)) AS sxy,
       |        sum((x - mx) * (x - mx)) AS sxx,
       |        sum((y - my) * (y - my)) AS syy
       |      FROM v JOIN m ON m.event_type = v.event_type
       |      GROUP BY v.event_type)
       |SELECT event_type, CAST(n AS BIGINT) AS n,
       |  CASE WHEN sxx > 0 THEN ${sig("sxy / sxx")} END
       |    AS slope_per_hour,
       |  CASE WHEN sxx > 0 THEN ${sig("my - sxy / sxx * mx")} END
       |    AS intercept,
       |  CASE WHEN sxx > 0 AND syy > 0
       |    THEN ${sig("sxy * sxy / (sxx * syy)")} END AS r2
       |FROM c ORDER BY event_type""".stripMargin

  /** The gap-sessionization CTE trio — ONE home shared by the
    * sessionize oracle and the session-overlap join oracle. */

  private val sessionCtes: String =
    """x AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
      |f AS (SELECT user_id, event_id, us,
      |  CASE WHEN lag(us) OVER w IS NULL
      |       OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS flag
      |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, us,
      |  sum(flag) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM f)""".stripMargin

  /** [[graft.ops.TextStats.ngramEntropy]] mirror: same counts, same
    * H = log₂N − Σc·log₂c/N, conditional entropy differenced over
    * the sig5-rounded H literals. */

  val eventsSessionLengthsSql: String =
    s"""WITH $sessionCtes,
      |g AS (SELECT user_id, session_idx, min(us) AS st, max(us) AS en,
      |        count(*) AS ne
      |      FROM s GROUP BY user_id, session_idx)
      |SELECT CAST(length(bin((en - st) // 1000000)) - 1 AS BIGINT)
      |    AS log2_secs,
      |  count(*) AS n_sessions, CAST(sum(ne) AS BIGINT) AS n_events
      |FROM g GROUP BY 1 ORDER BY log2_secs""".stripMargin

  val eventsChurnSql: String =
    """WITH x AS (SELECT user_id, epoch_ns(ts) // 1000 AS us
      |  FROM events),
      |b AS (SELECT min(us) AS mn, max(us) AS mx FROM x),
      |p AS (SELECT user_id,
      |  max(CASE WHEN us <= mn + (mx - mn) // 2 THEN 1 ELSE 0 END)
      |    AS early,
      |  max(CASE WHEN us > mn + (mx - mn) // 2 THEN 1 ELSE 0 END)
      |    AS late
      |  FROM x, b GROUP BY user_id)
      |SELECT
      |  CAST(sum(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_retained,
      |  CAST(sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_churned,
      |  CAST(sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new
      |FROM p""".stripMargin

  val eventsTimeProfileSql: String =
    s"""WITH c AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |t AS (SELECT sum(cnt) AS tot FROM c)
       |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
       |  cnt, ${sig("CAST(cnt AS DOUBLE) / tot")} AS share
       |FROM c, t ORDER BY dow, hour""".stripMargin

  /** [[graft.ops.TextStats.saturationCurve]] mirror: gram → min id,
    * id-range decile of first sight, cumulative counts. Uncapped
    * grams (`sh0` of the shared CTE trio). */

  val eventsSessionizeSql: String =
    s"""WITH $sessionCtes
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |min(us) AS session_start_us, max(us) AS session_end_us,
      |count(*) AS n_events
      |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin

  /** [[graft.ops.TemporalJoin.intervalOverlapJoin]] mirror over the
    * same sessions: the oracle verifies with the NAIVE pair join —
    * the bucket decomposition plus first-shared-bucket dedup must be
    * result-invisible. Strict inequalities: zero-length touching
    * does not overlap. */

  val joinSessionOverlapSql: String =
    s"""WITH $sessionCtes,
      |g AS (SELECT user_id, session_idx, min(us) AS st, max(us) AS en
      |      FROM s GROUP BY user_id, session_idx)
      |SELECT a.user_id AS a_user_id,
      |  CAST(a.session_idx AS BIGINT) AS a_session_idx,
      |  b.user_id AS b_user_id,
      |  CAST(b.session_idx AS BIGINT) AS b_session_idx,
      |  least(a.en, b.en) - greatest(a.st, b.st) AS overlap_us
      |FROM g a JOIN g b
      |  ON a.user_id < b.user_id AND a.st < b.en AND b.st < a.en
      |WHERE a.user_id < 30 AND b.user_id < 30
      |ORDER BY 1, 2, 3, 4""".stripMargin

  /** Per-user lead() steps → (type, next_type) counts → row-normalized
    * probabilities, mirroring [[graft.ops.EventOps.transitionMatrix]]
    * (same window, same tie-breaks, same tiny-aggregate normalizing
    * window). */

  val eventsMarkovSql: String =
    s"""WITH x AS (SELECT user_id, event_id, event_type,
       |  epoch_ns(ts) // 1000 AS us FROM events),
       |st AS (SELECT event_type, lead(event_type) OVER (
       |    PARTITION BY user_id ORDER BY us, event_id) AS next_type
       |  FROM x),
       |c AS (SELECT event_type, next_type, count(*) AS n FROM st
       |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
       |SELECT event_type, next_type, n,
       |${sig("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type)")}
       |  AS p
       |FROM c ORDER BY event_type, next_type""".stripMargin

  /** [[graft.ops.EventOps.sequenceAnomaly]] mirror: same step CTE,
    * same sig5 transition canon, -ln scored on the canon (a 1-ulp
    * libm divergence is absorbed by the final sig5 avg). */

  val eventsSeqAnomalySql: String =
    s"""WITH x AS (SELECT user_id, event_id, event_type,
       |  epoch_ns(ts) // 1000 AS us FROM events),
       |st AS (SELECT user_id, event_type, lead(event_type) OVER (
       |    PARTITION BY user_id ORDER BY us, event_id) AS next_type
       |  FROM x),
       |s2 AS (SELECT user_id, event_type, next_type FROM st
       |  WHERE next_type IS NOT NULL),
       |c AS (SELECT event_type, next_type, count(*) AS n FROM s2
       |  GROUP BY 1, 2),
       |m AS (SELECT event_type, next_type,
       |${sig("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type)")}
       |  AS p FROM c)
       |SELECT user_id, count(*) AS n_steps,
       |${sig("avg(-ln(p))")} AS avg_nll
       |FROM s2 JOIN m ON m.event_type = s2.event_type
       |  AND m.next_type = s2.next_type
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** [[graft.ops.EventOps.transitionDrift]] mirror: same step CTE,
    * integer midpoint split (positive epochs — floor ≡ truncate),
    * per-half raw-division p canon, full-outer support union, sig5
    * on the TVD sum only; the one-half-empty NULL guard replayed. */

  val eventsMarkovDriftSql: String =
    s"""WITH x AS (SELECT user_id, event_id, event_type,
       |  epoch_ns(ts) // 1000 AS us FROM events),
       |st AS (SELECT event_type,
       |    lead(event_type) OVER w AS next_type,
       |    lead(us) OVER w AS next_us
       |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |s2 AS (SELECT event_type, next_type, next_us FROM st
       |  WHERE next_type IS NOT NULL),
       |md AS (SELECT (min(next_us) + max(next_us)) // 2 AS mid FROM s2),
       |c AS (SELECT CASE WHEN next_us <= (SELECT mid FROM md)
       |    THEN 'a' ELSE 'b' END AS half,
       |    event_type, next_type, count(*) AS n
       |  FROM s2 GROUP BY 1, 2, 3),
       |pp AS (SELECT half, event_type, next_type, n,
       |    CAST(n AS DOUBLE) /
       |      sum(n) OVER (PARTITION BY half, event_type) AS p FROM c),
       |j AS (SELECT coalesce(a.event_type, b.event_type) AS event_type,
       |    a.p AS pa, b.p AS pb, a.n AS na, b.n AS nb
       |  FROM (SELECT * FROM pp WHERE half = 'a') a
       |  FULL JOIN (SELECT * FROM pp WHERE half = 'b') b
       |    ON b.event_type = a.event_type
       |    AND b.next_type = a.next_type)
       |SELECT event_type,
       |CAST(coalesce(sum(na), 0) AS BIGINT) AS n_a,
       |CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_b,
       |CASE WHEN coalesce(sum(na), 0) > 0 AND coalesce(sum(nb), 0) > 0
       |  THEN ${sig("0.5 * sum(abs(coalesce(pa, 0) - coalesce(pb, 0)))")}
       |  ELSE NULL END AS tvd
       |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin

  /** [[graft.ops.EventOps.topPaths]] mirror: two chained leads over
    * the same window, the |types|³ aggregate, deterministic
    * (cnt desc, t1, t2, t3) head, share on the exact totals. */

  val eventsPathsSql: String =
    s"""WITH x AS (SELECT user_id, event_id, event_type,
       |  epoch_ns(ts) // 1000 AS us FROM events),
       |st AS (SELECT event_type AS t1,
       |    lead(event_type, 1) OVER w AS t2,
       |    lead(event_type, 2) OVER w AS t3
       |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |c AS (SELECT t1, t2, t3, count(*) AS cnt FROM st
       |  WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1, 2, 3),
       |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_paths FROM c),
       |r AS (SELECT t1, t2, t3, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, t1, t2, t3) AS rnk
       |  FROM c)
       |SELECT CAST(rnk AS BIGINT) AS rnk, t1, t2, t3, cnt,
       |${sig("cnt / n_paths")} AS share
       |FROM r, tot WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  val eventsPropsSql: String =
    s"""WITH e AS (SELECT event_type,
       |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
       |  FROM events)
       |SELECT event_type, count(*) AS n, count(k) AS n_with_k,
       |${sig("avg(k)")} AS avg_k, min(k) AS min_k, max(k) AS max_k
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  val eventsCubeSql: String =
    s"""WITH e AS (SELECT event_type,
       |  (epoch_ns(ts) // 1000) % 86400000000 // 3600000000 AS hour,
       |  value FROM events)
       |SELECT CAST(grouping(event_type) * 2 + grouping(hour) AS BIGINT)
       |  AS gid,
       |event_type, hour, count(*) AS cnt,
       |${sig("sum(value)")} AS sum_value
       |FROM e GROUP BY CUBE(event_type, hour)
       |ORDER BY gid, coalesce(event_type, '~'), coalesce(hour, -1)""".stripMargin

  /** Boilerplate grams re-derived: per-doc DISTINCT 3-grams from
    * DuckDB's inclusive list slicing (ts[i+1 : i+3] ≙ Spark
    * slice(ts, i+1, 3)); range(0, len−2) enumerates the same starts
    * as sequence(0, size−3) and is empty for short docs like the
    * Spark guard. Tie-break (df DESC, gram ASC) in both engines. */

  val eventsRollupSql: String =
    s"""SELECT event_type, user_bucket, count(*) AS cnt,
       |${sig("avg(value)")} AS avg_value
       |FROM (SELECT event_type, user_id % 4 AS user_bucket, value
       |      FROM events)
       |GROUP BY ROLLUP(event_type, user_bucket)
       |ORDER BY coalesce(event_type, '~'), coalesce(user_bucket, -1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "events_cube" -> eventsCubeSql,
    "events_features" -> eventsFeaturesSql,
    "events_window" -> eventsWindowSql,
    "events_trend" -> eventsTrendSql,
    "events_time_profile" -> eventsTimeProfileSql,
    "events_churn" -> eventsChurnSql,
    "events_session_lengths" -> eventsSessionLengthsSql,
    "events_window_assoc" -> eventsWindowAssocSql,
    "events_retention" -> eventsRetentionSql,
    "events_anomaly" -> eventsAnomalySql,
    "events_funnel" -> eventsFunnelSql,
    "events_sliding" -> eventsSlidingSql,
    "events_sessionize" -> eventsSessionizeSql,
    "join_session_overlap" -> joinSessionOverlapSql,
    "events_markov" -> eventsMarkovSql,
    "events_seq_anomaly" -> eventsSeqAnomalySql,
    "events_markov_drift" -> eventsMarkovDriftSql,
    "events_paths" -> eventsPathsSql,
    "events_props" -> eventsPropsSql,
    "events_rollup" -> eventsRollupSql
  )
}
