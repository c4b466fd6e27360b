package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.det.Sig.sig5

/** Distribution-drift diagnostics between two corpus slices — the
  * monitoring pass a training pipeline runs when a new crawl lands:
  * has the language mix / length distribution / source mix moved
  * enough to re-balance? Reports the standard pair of scores per
  * dimension: PSI (population stability index, the banking-world
  * ln-weighted divergence; rule of thumb <0.1 stable, >0.25 shifted)
  * and total-variation distance.
  *
  * Scale shape: each dimension reduces to ONE hash aggregation of
  * (bucket → per-slice counts) with map-side combine — the slice
  * indicator is folded into conditional sums, so both slices are
  * counted in a single scan and nothing but O(buckets) rows ever
  * reach the final reduction. Numeric dimensions bin with the same
  * closed-form fixed-width arithmetic as the profiler's histograms
  * (bounds from one tiny premise agg, broadcast), so no sort and no
  * per-row quantile machinery is involved.
  */
object Drift {

  /** Laplace-smoothed share: (c + 0.5) / (n + 0.5·k) — keeps ln
    * finite when a bucket is empty on one side, identical closed form
    * on both engines. */
  private def share(c: Column, n: Column, k: Column): Column =
    (c + lit(0.5)) / (n + lit(0.5) * k)

  /** PSI + TVD for one categorical dimension. `slice` must be a
    * two-valued 0/1 column (0 = baseline, 1 = candidate). NULL
    * bucket values count as a regular category. An EMPTY input (zero
    * rows — e.g. a numeric dimension whose value column is entirely
    * NULL) yields zero output rows rather than a row of NULLs, so the
    * degenerate case has the same defined shape on any engine. */
  /** Per-GROUP categorical drift: for each group (source, shard,
    * day…), the total-variation distance between the two slices'
    * bucket distributions — "WHICH source changed its language mix",
    * the grouped twin of [[categoricalDrift]]'s single global row.
    * One (group, bucket) aggregation with conditional sums, then an
    * O(groups × buckets) share/TVD reduction — per-group Laplace
    * smoothing over that group's own bucket support, mirroring the
    * global form. Groups with an empty slice emit NULL (no fake 0). */
  def categoricalDriftByGroup(df: DataFrame, groupCol: String,
      bucket: Column, slice: Column): DataFrame = {
    val counts = df
      .select(col(groupCol).as("g"), bucket.as("b"), slice.as("s"))
      .groupBy("g", "b")
      .agg(sum(when(col("s") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("cb"))
    val totals = counts.groupBy("g").agg(
      sum("ca").cast("double").as("na"),
      sum("cb").cast("double").as("nb"),
      count(lit(1)).cast("double").as("k"))
    counts.join(totals, Seq("g"))
      .select(col("g"),
        share(col("ca").cast("double"), col("na"), col("k")).as("p"),
        share(col("cb").cast("double"), col("nb"), col("k")).as("q"),
        col("na"), col("nb"))
      .groupBy("g")
      .agg(
        min("na").as("__na"), min("nb").as("__nb"),
        sum(abs(col("p") - col("q"))).as("__sad"))
      .select(col("g").as(groupCol),
        col("__na").cast("long").as("n_ref"),
        col("__nb").cast("long").as("n_cur"),
        sig5(when(col("__na") > 0 && col("__nb") > 0,
          col("__sad") / 2.0)).as("tvd"))
      .orderBy(groupCol)
  }

  def categoricalDrift(df: DataFrame, dim: String, bucket: Column,
      slice: Column): DataFrame = {
    val counts = df
      .select(bucket.as("b"), slice.as("s"))
      .groupBy("b")
      .agg(sum(when(col("s") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("cb"))
    // per-bucket shares need the global totals: a 1-row broadcast
    // crossJoin keeps everything in one lazy plan (no driver action)
    val totals = counts.agg(
      sum("ca").cast("double").as("na"),
      sum("cb").cast("double").as("nb"),
      count(lit(1)).cast("double").as("k"))
    counts.crossJoin(broadcast(totals))
      .select(
        share(col("ca").cast("double"), col("na"), col("k")).as("p"),
        share(col("cb").cast("double"), col("nb"), col("k")).as("q"),
        col("na"), col("nb"), col("k"))
      .agg(
        min(lit(dim)).as("dim"),
        // na/nb/k are constant across rows (broadcast totals) — min is
        // just a deterministic way to carry them through the agg
        min(col("na")).cast("long").as("n_a"),
        min(col("nb")).cast("long").as("n_b"),
        min(col("k")).cast("long").as("n_buckets"),
        sig5(sum((col("p") - col("q")) * log(col("p") / col("q"))))
          .as("psi"),
        sig5(sum(abs(col("p") - col("q"))) / 2.0).as("tvd"))
      .select("dim", "n_a", "n_b", "n_buckets", "psi", "tvd")
      // empty input → the global agg still emits one all-NULL row;
      // n_buckets is NULL there and ≥1 otherwise, so this predicate
      // drops exactly the degenerate row
      .where(col("n_buckets") > 0)
  }

  /** PSI + TVD for a numeric dimension, binned into `bins` fixed-width
    * buckets over the COMBINED min/max (profiler histogram edge
    * arithmetic: least(floor((x−mn)/w), bins−1)); the shared bounds
    * ride a 1-row broadcast so the whole dimension is one premise agg
    * + one bucket agg. */
  def numericDrift(df: DataFrame, dim: String, value: Column,
      slice: Column, bins: Int = 10): DataFrame = {
    val base = df.select(value.cast("double").as("v"), slice.as("s"))
      .where(col("v").isNotNull)
    val bounds = base.agg(min("v").as("mn"),
      ((max("v") - min("v")) / bins.toDouble).as("w"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .select(bin(col("v"), col("mn"), col("w"), bins), col("s"))
    categoricalDrift(bucketed, dim, col("b"), col("s"))
  }

  private def bin(v: Column, mn: Column, w: Column, bins: Int): Column =
    when(w > 0.0,
      least(floor((v - mn) / w), lit(bins - 1.0)).cast("long"))
      .otherwise(0L).as("b")

  /** Per-GROUP numeric PSI/TVD — the sliced-monitoring form ("which
    * SOURCE drifted", not just "did the corpus drift"): bins are
    * per-group fixed-width over that group's own min/max (a drifted
    * group must be visible against its own baseline, not diluted by
    * the global range), and every group's statistic computes in the
    * SAME two aggregations — one O(groups) bounds premise joined
    * back broadcast, one (group, bin) count agg, then O(groups×bins)
    * share arithmetic. No per-group jobs, no windows; scales to any
    * group count the way `quality_by_source` does. */
  def numericDriftByGroup(df: DataFrame, groupCol: String,
      value: Column, slice: Column, bins: Int = 10): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
        value.cast("double").as("v"), slice.as("s"))
      .where(col("v").isNotNull)
    val bounds = base.groupBy("g").agg(min("v").as("mn"),
      ((max("v") - min("v")) / bins.toDouble).as("w"))
    val bucketed = base.join(broadcast(bounds), "g")
      .select(col("g"), bin(col("v"), col("mn"), col("w"), bins),
        col("s"))
    val counts = bucketed.groupBy("g", "b")
      .agg(sum(when(col("s") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("cb"))
    val totals = counts.groupBy("g").agg(
      sum("ca").cast("double").as("na"),
      sum("cb").cast("double").as("nb"),
      count(lit(1)).cast("double").as("k"))
    counts.join(broadcast(totals), "g")
      .select(col("g"),
        share(col("ca").cast("double"), col("na"), col("k")).as("p"),
        share(col("cb").cast("double"), col("nb"), col("k")).as("q"),
        col("na"), col("nb"), col("k"))
      .groupBy("g")
      .agg(
        min(col("na")).cast("long").as("n_a"),
        min(col("nb")).cast("long").as("n_b"),
        min(col("k")).cast("long").as("n_buckets"),
        sig5(sum((col("p") - col("q")) * log(col("p") / col("q"))))
          .as("psi"),
        sig5(sum(abs(col("p") - col("q"))) / 2.0).as("tvd"))
      .withColumnRenamed("g", groupCol)
      .orderBy(groupCol)
  }

  /** Binned two-sample Kolmogorov–Smirnov statistic between the
    * slices: D = max over bin edges of |CDF₀ − CDF₁| — the classic
    * "did the whole distribution move" test to PSI's per-bucket
    * divergence (binning makes D a lower bound of the exact KS
    * statistic, tight at `bins` resolution). Same scale shape as
    * [[numericDrift]]: one premise agg for shared bounds, one
    * conditional-sum bucket agg, then windows over the ≤`bins`-row
    * aggregated set. Empty input yields zero rows; a slice with no
    * rows yields a NULL statistic (CDF undefined), never NaN. */
  def ksDrift(df: DataFrame, dim: String, value: Column,
      slice: Column, bins: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(value.cast("double").as("v"), slice.as("s"))
      .where(col("v").isNotNull)
    val bounds = base.agg(min("v").as("mn"),
      ((max("v") - min("v")) / bins.toDouble).as("w"))
    val counts = base.crossJoin(broadcast(bounds))
      .select(bin(col("v"), col("mn"), col("w"), bins), col("s"))
      .groupBy("b")
      .agg(sum(when(col("s") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("cb"))
    val wCum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("na", sum("ca").over(wAll))
      .withColumn("nb", sum("cb").over(wAll))
      // guarded: ANSI mode raises DIVIDE_BY_ZERO even for doubles,
      // so an empty slice must short-circuit to NULL, not divide
      .withColumn("da", when(col("na") > 0,
        sum("ca").over(wCum).cast("double") / col("na").cast("double")))
      .withColumn("db", when(col("nb") > 0,
        sum("cb").over(wCum).cast("double") / col("nb").cast("double")))
      .agg(
        min(lit(dim)).as("dim"),
        min("na").as("n_a"), min("nb").as("n_b"),
        sig5(max(abs(col("da") - col("db")))).as("ks"))
      .where(col("n_a") + col("n_b") > 0)
  }

  /** Per-GROUP binned KS — [[ksDrift]] in the sliced-monitoring form
    * ("which SOURCE's distribution moved"): per-group bounds (a
    * drifted group must read against its OWN range, the
    * [[numericDriftByGroup]] premise), one (group, bin) count
    * aggregation for every group at once, then cumulative CDFs via
    * windows PARTITIONED BY GROUP over the ≤ groups×bins aggregated
    * rows — no per-group jobs, no unbounded single-partition window.
    * A group with an empty slice reads NULL, never NaN. */
  def ksDriftByGroup(df: DataFrame, groupCol: String, value: Column,
      slice: Column, bins: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("g"),
        value.cast("double").as("v"), slice.as("s"))
      .where(col("v").isNotNull)
    val bounds = base.groupBy("g").agg(min("v").as("mn"),
      ((max("v") - min("v")) / bins.toDouble).as("w"))
    val counts = base.join(broadcast(bounds), "g")
      .select(col("g"), bin(col("v"), col("mn"), col("w"), bins),
        col("s"))
      .groupBy("g", "b")
      .agg(sum(when(col("s") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("cb"))
    val wCum = Window.partitionBy("g").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("g").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("na", sum("ca").over(wAll))
      .withColumn("nb", sum("cb").over(wAll))
      .withColumn("da", when(col("na") > 0,
        sum("ca").over(wCum).cast("double") / col("na").cast("double")))
      .withColumn("db", when(col("nb") > 0,
        sum("cb").over(wCum).cast("double") / col("nb").cast("double")))
      .groupBy("g")
      .agg(min("na").cast("long").as("n_a"),
        min("nb").cast("long").as("n_b"),
        sig5(max(abs(col("da") - col("db")))).as("ks"))
      .withColumnRenamed("g", groupCol)
      .orderBy(groupCol)
  }

  /** Per-quantile drift between the slices: exact per-slice quantiles
    * of a numeric dimension and their gaps — "the P90 document length
    * moved 40% while the median held" is the monitoring readout
    * PSI's single number hides. One aggregation computes BOTH slices'
    * quantile arrays via conditional inputs (aggregates ignore the
    * CASE-induced NULLs), then a bounded explode emits one row per
    * requested quantile. Exact `percentile` buffers values — the
    * oracle-parity config, same trade as `num_quantiles`; swap in
    * `percentile_approx` for the 100 TB sketch path. */
  def quantileDrift(df: DataFrame, dim: String, value: Column,
      slice: Column,
      ps: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9)): DataFrame = {
    val base = df.select(value.cast("double").as("v"), slice.as("s"))
      .where(col("v").isNotNull)
    val nullArr = expr(s"array(${Seq.fill(ps.size)("CAST(NULL AS DOUBLE)")
      .mkString(", ")})")
    val agg = base.agg(
      graft.functions.ExactPercentile.pctl(
        expr("CASE WHEN s = 0 THEN v END"), ps).as("qa"),
      graft.functions.ExactPercentile.pctl(
        expr("CASE WHEN s = 1 THEN v END"), ps).as("qb"),
      count(col("v")).as("n"))
    agg
      .select(col("n"), typedlit(ps).as("p"),
        coalesce(col("qa"), nullArr).as("qa"),
        coalesce(col("qb"), nullArr).as("qb"))
      .select(col("n"),
        posexplode(arrays_zip(col("p"), col("qa"), col("qb")))
          .as(Seq("i", "z")))
      .where(col("n") > 0) // empty input → zero rows on any engine
      .select(lit(dim).as("dim"), col("z.p").as("p"),
        sig5(col("z.qa")).as("q_a"), sig5(col("z.qb")).as("q_b"),
        sig5(col("z.qb") - col("z.qa")).as("gap"))
      .orderBy("p")
  }

  /** Per-GROUP quantile drift — [[quantileDrift]] sliced by source:
    * "src3's P90 length moved 40% while its median held", per group
    * in ONE grouped aggregation (exact `percentile` over the slice
    * CASE projections; a group missing a slice reads NULL
    * quantiles/gap, never an error). Scale shape: the one groupBy
    * shuffle; per-(group, slice) percentile state — the GK dispatch
    * is the corpus-scale escape when groups × ps makes it large. */
  def quantileDriftByGroup(df: DataFrame, groupCol: String,
      value: Column, slice: Column,
      ps: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9)): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
        value.cast("double").as("v"), slice.as("s"))
      .where(col("v").isNotNull)
    val nullArr = expr(s"array(${Seq.fill(ps.size)("CAST(NULL AS DOUBLE)")
      .mkString(", ")})")
    base.groupBy("g")
      .agg(
        graft.functions.ExactPercentile.pctl(
          expr("CASE WHEN s = 0 THEN v END"), ps).as("qa"),
        graft.functions.ExactPercentile.pctl(
          expr("CASE WHEN s = 1 THEN v END"), ps).as("qb"),
        count(col("v")).as("n"))
      .select(col("g"), col("n"), typedlit(ps).as("p"),
        coalesce(col("qa"), nullArr).as("qa"),
        coalesce(col("qb"), nullArr).as("qb"))
      .select(col("g"), col("n"),
        posexplode(arrays_zip(col("p"), col("qa"), col("qb")))
          .as(Seq("i", "z")))
      .where(col("n") > 0)
      .select(col("g").as(groupCol), col("z.p").as("p"),
        sig5(col("z.qa")).as("q_a"), sig5(col("z.qb")).as("q_b"),
        sig5(col("z.qb") - col("z.qa")).as("gap"))
      .orderBy(col(groupCol), col("p"))
  }

  // -------------------------------------------------------------------
  // Fixed-reference drift: a candidate slice scored against a LITERAL
  // reference histogram — the monitoring shape where the baseline is
  // computed once (a blessed corpus snapshot) and every new slice (or
  // every streaming window) is compared against it. The reference is
  // O(buckets) driver state folded into the plan as constants, so the
  // candidate side needs exactly ONE conditional-sum aggregation and
  // the scores are closed-form codegen'd arithmetic.
  // -------------------------------------------------------------------

  /** Premise aggregates for [[referenceDrift]]: one conditional-sum
    * counter per reference bucket plus an `__other__` counter for any
    * candidate value outside the reference's bucket set (NULL
    * included). Exactly one aggregation, map-side combined. */
  private def refDriftAggs(bucket: Column, refs: Seq[String])
      : Seq[Column] = {
    val inRef = coalesce(bucket.isin(refs: _*), lit(false))
    refs.zipWithIndex.map { case (b, i) =>
      sum(when(bucket === b, 1L).otherwise(0L)).as(s"__rc$i")
    } :+ sum(when(inRef, 0L).otherwise(1L)).as("__rcO")
  }

  /** Finisher over [[refDriftAggs]]'s counters: smoothed PSI, TVD and
    * a binned KS statistic vs the literal reference shares. Reference
    * shares are plain Scala doubles folded into the plan; the
    * Laplace-smoothed shares of BOTH sides sum to exactly 1, so their
    * running sums are proper CDFs and KS = max cumulative gap with
    * buckets in the given (caller-sorted) order, `__other__` last. */
  private def refDriftStats(refCounts: Seq[(String, Long)])
      : Seq[Column] = {
    val k = refCounts.size + 1 // + __other__
    val na = refCounts.map(_._2).sum.toDouble
    val ps = (refCounts.map(_._2.toDouble) :+ 0.0)
      .map(c => (c + 0.5) / (na + 0.5 * k))
    val cntCols = refCounts.indices.map(i => col(s"__rc$i")) :+
      col("__rcO")
    val nb = cntCols.map(_.cast("double")).reduce(_ + _)
    val qs = cntCols.map(c =>
      (c.cast("double") + 0.5) / (nb + lit(0.5 * k)))
    val psi = ps.zip(qs)
      .map { case (p, q) => (lit(p) - q) * log(lit(p) / q) }
      .reduce(_ + _)
    val tvd = ps.zip(qs).map { case (p, q) => abs(lit(p) - q) }
      .reduce(_ + _) / 2.0
    val pcum = ps.scanLeft(0.0)(_ + _).tail
    val qcum = qs.scanLeft(lit(0.0))(_ + _).tail
    val ks = pcum.zip(qcum).map { case (pc, qc) => abs(lit(pc) - qc) }
      .reduce((a, b) => greatest(a, b))
    Seq(lit(na).cast("long").as("n_a"), nb.cast("long").as("n_b"),
      lit(k.toLong).as("n_buckets"),
      sig5(psi).as("psi"), sig5(tvd).as("tvd"), sig5(ks).as("ks"))
  }

  /** Embedding-space drift between two slices: centroid shift as L2
    * distance and cosine between the per-slice mean vectors, plus the
    * max per-dimension mean gap. The continuous-space twin of the
    * categorical drifts — a crawl whose embedding centroid moves has
    * changed topically even when every categorical mix looks stable.
    *
    * Scale shape: one posexplode + (dim → conditional sums)
    * aggregation with map-side combine (shuffle volume = partitions ×
    * dim), then a `dim`-row reduce to one row. NULL metrics (never
    * NaN) when a slice is empty. */
  def embeddingDrift(df: DataFrame, dim: String, vec: Column,
      slice: Column, dims: Int = 64): DataFrame = {
    val el = df.where(size(vec) === dims)
      .select(posexplode(vec).as(Seq("p", "vf")), slice.as("s"))
      .select(col("p"), col("vf").cast("double").as("v"), col("s"))
    val perDim = el.groupBy("p").agg(
      sum(when(col("s") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("s") === 1, 1L).otherwise(0L)).as("cb"),
      sum(when(col("s") === 0, col("v")).otherwise(0.0)).as("sa"),
      sum(when(col("s") === 1, col("v")).otherwise(0.0)).as("sb"))
    perDim
      .select(col("ca"), col("cb"),
        when(col("ca") > 0, col("sa") / col("ca")).as("ma"),
        when(col("cb") > 0, col("sb") / col("cb")).as("mb"))
      .agg(
        min(lit(dim)).as("dim"),
        // ca/cb are the per-slice vector counts, identical in every
        // dim group — min is just a deterministic carrier
        min("ca").as("n_a"),
        min("cb").as("n_b"),
        sig5(sqrt(sum((col("ma") - col("mb")) * (col("ma") - col("mb")))))
          .as("l2"),
        // guarded: ANSI raises DIVIDE_BY_ZERO even for doubles, so a
        // degenerate all-zero centroid short-circuits to NULL
        sig5(when(
          sqrt(sum(col("ma") * col("ma"))) *
            sqrt(sum(col("mb") * col("mb"))) > 0.0,
          sum(col("ma") * col("mb")) /
            (sqrt(sum(col("ma") * col("ma"))) *
             sqrt(sum(col("mb") * col("mb")))))).as("centroid_cos"),
        sig5(max(abs(col("ma") - col("mb")))).as("max_dim_gap"))
      .where(col("n_a").isNotNull)
  }

  /** Batch fixed-reference drift: score `df`'s `bucket` distribution
    * against the literal `refCounts` histogram (bucket → count,
    * caller-sorted for the KS bucket order). One aggregation over the
    * candidate; the reference never rescans. */
  def referenceDrift(df: DataFrame, dim: String, bucket: Column,
      refCounts: Seq[(String, Long)]): DataFrame = {
    require(refCounts.nonEmpty, "reference histogram is empty")
    val aggs = refDriftAggs(bucket, refCounts.map(_._1))
    df.agg(aggs.head, aggs.tail: _*)
      .select(lit(dim).as("dim") +: refDriftStats(refCounts): _*)
  }
}
