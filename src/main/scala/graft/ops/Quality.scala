package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.det.Sig

/** Declarative data-quality validation (Deequ-style verification
  * suite) — the natural production layer over the profiling engine:
  * instead of a human reading a profile report, a pipeline declares
  * constraints and gates a corpus version on the result.
  *
  * Scale design: every check compiles to aggregate expressions over
  * ONE scan (`df.agg(...)`) — completeness, compliance, set/pattern
  * membership and means are plain codegen'd conditional counts with
  * full map-side partial aggregation, so the shuffle is one row per
  * partition regardless of input size. Uniqueness is the only
  * expensive primitive: the declared form uses exact
  * `count(DISTINCT)` (the oracle-checkable contract); the corpus
  * form (`approxUnique = true`, the scale path) swaps in HLL++
  * `approx_count_distinct`, which keeps the whole suite one
  * mergeable map-side pass at any scale.
  *
  * Reference anchor: the upstream profiler surfaces these facts per
  * column (spark_df_profiling describe()'s completeness/distinct
  * blocks); this module turns them into pass/fail contracts.
  */
object Quality {

  /** A declarative constraint. Thresholds on observed ratios are
    * inclusive (`observed >= minRatio` passes). */
  sealed trait Check

  /** non-null fraction of `column` must be >= minRatio. */
  final case class Completeness(column: String, minRatio: Double)
      extends Check

  /** distinct/non-null fraction of `column` must be >= minRatio. */
  final case class Uniqueness(column: String, minRatio: Double)
      extends Check

  /** fraction of NON-NULL values inside [lo, hi] must be >= minRatio. */
  final case class InRange(column: String, lo: Double, hi: Double,
      minRatio: Double) extends Check

  /** fraction of NON-NULL values in `values` must be >= minRatio. */
  final case class InSet(column: String, values: Seq[String],
      minRatio: Double) extends Check

  /** fraction of NON-NULL values matching regex `pattern` must be
    * >= minRatio. Keep patterns inside the RE2 ∩ java.util.regex
    * common subset (char classes, anchors, quantifiers) — the oracle
    * engine is RE2-based. */
  final case class Matches(column: String, pattern: String,
      minRatio: Double) extends Check

  /** sig5-rounded mean of `column` must lie in [lo, hi]. */
  final case class MeanBetween(column: String, lo: Double, hi: Double)
      extends Check

  /** table row count must lie in [lo, hi]. */
  final case class RowCountBetween(lo: Long, hi: Long) extends Check

  /** observed minimum of `column` must lie in [lo, hi] — e.g. "ids
    * start at 1", "no value below the floor". An empty/all-null
    * column observes `lo` (vacuous pass). */
  final case class MinBetween(column: String, lo: Double, hi: Double)
      extends Check

  /** observed maximum of `column` must lie in [lo, hi] — the cap
    * contract. An empty/all-null column observes `lo`. */
  final case class MaxBetween(column: String, lo: Double, hi: Double)
      extends Check

  private def sig5(c: Column): Column = Sig.sig5(c)

  /** Alias-safe encoding of range bounds (dots/minus signs in a
    * column alias would read as nested-field paths under col()). */
  private def tag(x: Double): String =
    x.toString.replace('.', 'p').replace('-', 'm')

  /** Metric aggregate columns a check needs, keyed by alias so
    * checks sharing a metric (e.g. several ratio checks over one
    * column) pay for it once. */
  private def metricAggs(chk: Check, exact: Boolean)
      : Seq[(String, Column)] = chk match {
    case Completeness(c, _) =>
      Seq("__n" -> count(lit(1)), s"__cnt_$c" -> count(col(c)))
    case Uniqueness(c, _) =>
      val dis =
        if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))
      Seq(s"__cnt_$c" -> count(col(c)), s"__dis_$c" -> dis)
    case InRange(c, lo, hi, _) =>
      Seq(s"__cnt_$c" -> count(col(c)),
        s"__rng_${c}_${tag(lo)}_${tag(hi)}" ->
          count(when(col(c) >= lo && col(c) <= hi, 1)))
    case InSet(c, vs, _) =>
      Seq(s"__cnt_$c" -> count(col(c)),
        s"__set_$c" -> count(when(col(c).isin(vs: _*), 1)))
    case Matches(c, p, _) =>
      Seq(s"__cnt_$c" -> count(col(c)),
        s"__pat_$c" -> count(when(col(c).rlike(p), 1)))
    case MeanBetween(c, _, _) =>
      Seq(s"__avg_$c" -> avg(col(c)))
    case RowCountBetween(_, _) =>
      Seq("__n" -> count(lit(1)))
    case MinBetween(c, _, _) =>
      Seq(s"__min_$c" -> min(col(c)).cast("double"))
    case MaxBetween(c, _, _) =>
      Seq(s"__max_$c" -> max(col(c)).cast("double"))
  }

  /** (check_type, col_name, observed, lo, hi, passed) struct for one
    * check, reading the named metric columns of the single agg row.
    * Ratio checks report lo = minRatio, hi = 1.0; `passed` compares
    * against the sig5-ROUNDED observed value so both engines decide
    * on identical doubles. Zero-denominator ratios observe 1.0
    * (vacuously compliant — no value violated the constraint). */
  private def resultStruct(chk: Check): Column = {
    def ratio(num: Column, den: Column): Column =
      sig5(when(den === 0L, 1.0)
        .otherwise(num.cast("double") / den.cast("double")))
    def row(typ: String, cn: String, observed: Column, lo: Double,
        hi: Double): Column = {
      val obs = observed
      struct(lit(typ).as("check_type"), lit(cn).as("col_name"),
        obs.as("observed"), lit(lo).as("lo"), lit(hi).as("hi"),
        when(obs >= lo && obs <= hi, 1L).otherwise(0L).as("passed"))
    }
    chk match {
      case Completeness(c, t) =>
        row("completeness", c,
          ratio(col(s"__cnt_$c"), col("__n")), t, 1.0)
      case Uniqueness(c, t) =>
        row("uniqueness", c,
          ratio(col(s"__dis_$c"), col(s"__cnt_$c")), t, 1.0)
      case InRange(c, lo, hi, t) =>
        row("in_range", c,
          ratio(col(s"__rng_${c}_${tag(lo)}_${tag(hi)}"), col(s"__cnt_$c")), t, 1.0)
      case InSet(c, _, t) =>
        row("in_set", c, ratio(col(s"__set_$c"), col(s"__cnt_$c")),
          t, 1.0)
      case Matches(c, _, t) =>
        row("matches", c, ratio(col(s"__pat_$c"), col(s"__cnt_$c")),
          t, 1.0)
      case MeanBetween(c, lo, hi) =>
        row("mean_between", c, sig5(col(s"__avg_$c")), lo, hi)
      case RowCountBetween(lo, hi) =>
        row("row_count", "*", col("__n").cast("double"),
          lo.toDouble, hi.toDouble)
      case MinBetween(c, lo, hi) =>
        // raw data values, unrounded (the exact-operand convention)
        row("min_between", c, coalesce(col(s"__min_$c"), lit(lo)),
          lo, hi)
      case MaxBetween(c, lo, hi) =>
        row("max_between", c, coalesce(col(s"__max_$c"), lit(lo)),
          lo, hi)
    }
  }

  /** Compiled metric aggregates for a suite (deduped by alias),
    * shared by [[runChecks]] and [[runChecksByGroup]]. */
  private def compiledAggs(checks: Seq[Check],
      approxUnique: Boolean): Seq[Column] =
    checks.flatMap(metricAggs(_, exact = !approxUnique))
      .distinctBy(_._1)
      .map { case (a, c) => c.as(a) }

  /** Evaluate `checks` against `df` in one aggregation scan. Output:
    * one scalar row per check — (check_type, col_name, observed, lo,
    * hi, passed), ordered by (check_type, col_name) for stable
    * comparison. */
  def runChecks(df: DataFrame, checks: Seq[Check],
      approxUnique: Boolean = false): DataFrame = {
    require(checks.nonEmpty, "empty check suite")
    val aggs = compiledAggs(checks, approxUnique)
    val row = df.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(checks.map(resultStruct): _*)).as("s"))
      .select("s.*")
      .orderBy("check_type", "col_name")
  }

  /** Per-group twin: the same compiled metric aggregates keyed by
    * `groupCols` — the per-source / per-shard quality gate. Same
    * single-scan shape with map-side combine; the shuffle carries
    * O(groups) rows. */
  def runChecksByGroup(df: DataFrame, groupCols: Seq[String],
      checks: Seq[Check], approxUnique: Boolean = false): DataFrame = {
    require(checks.nonEmpty, "empty check suite")
    val aggs = compiledAggs(checks, approxUnique)
    val grouped = df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    grouped
      .select(groupCols.map(col) :+
        explode(array(checks.map(resultStruct): _*)).as("s"): _*)
      .select(groupCols.map(col) :+ col("s.*"): _*)
      .orderBy((groupCols ++ Seq("check_type", "col_name")).map(col): _*)
  }

  /** Constraint suggestion from observed data (the profile→contract
    * bridge): scan once for counts/distincts/min-max, then — only for
    * string columns whose observed cardinality is at most `lowCard` —
    * a second tiny scan collecting the actual value sets. Two passes
    * by design: collecting sets unconditionally would put unbounded
    * aggregation state on every high-cardinality column; gating the
    * collection on the first pass's cardinality makes the second scan
    * O(lowCard) state per column at any corpus size.
    *
    * Emits (col_name, rule, detail, lo, hi): `not_null`, `unique`
    * (non-trivial only), `is_in` with the CSV of values, and for
    * numeric columns `value_range` [min,max] plus `non_negative`
    * when min >= 0. Sentinels for non-range rules: lo = hi = 0.0,
    * detail = '' (the driver comparator prefers no NULLs). */
  /** `approxUnique = true` is the corpus-scale form: the first
    * pass's per-column cardinalities come from HLL++ instead of
    * exact count(DISTINCT) — one mergeable scan with NO Expand
    * (exact multi-distinct multiplies every row by the number of
    * distinct aggregates before the shuffle). The derived `unique`
    * rule then compares an ESTIMATE, so borderline columns can gain
    * or lose a suggestion within HLL's rsd; the is_in value sets are
    * unaffected (the second pass collects them exactly). The
    * declared oracle query keeps the exact form. */
  def suggest(df: DataFrame, cols: Seq[String], lowCard: Int = 8,
      approxUnique: Boolean = false): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val numeric =
      cols.filter(c => types(c).isInstanceOf[NumericType])
    val strings = cols.filter(c => types(c).typeName == "string")

    // r17: the EXACT arm's k countDistinct expressions ran in one agg
    // — an Expand multiplying every row (k+1)× (the col_distinct
    // lesson). They now run as one grouped single-distinct agg over
    // the long form (Stats.exactDistinctPerCol — no Expand);
    // values identical (count/countDistinct are order-independent and
    // every suggest column is an orderable type). The approx arm (HLL,
    // Expand-free) stays fused in the one scan.
    val exactDis: Map[String, (Long, Long)] =
      if (approxUnique) Map.empty
      else graft.profiler.Stats.exactDistinctPerCol(df, cols)
    val aggs = Seq(count(lit(1)).as("__n")) ++
      (if (approxUnique) cols.flatMap { c =>
        Seq(count(col(c)).as(s"__cnt_$c"),
          approx_count_distinct(col(c), 0.02).as(s"__dis_$c"))
      } else Nil) ++ numeric.flatMap { c =>
        Seq(min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c"))
      }
    // every suggest aggregate is order-independent (counts, exact
    // distinct, min/max, and the sorted collect_set below), so the
    // unsplittable-input repartition is value-neutral
    val par = graft.profiler.Stats.parallelized(df)
    val r = par.agg(aggs.head, aggs.tail: _*).first()
    def l(name: String): Long =
      if (!approxUnique && name.startsWith("__cnt_"))
        exactDis(name.stripPrefix("__cnt_"))._1
      else if (!approxUnique && name.startsWith("__dis_"))
        exactDis(name.stripPrefix("__dis_"))._2
      else r.getAs[Long](name)
    def d(name: String): Double = r.getAs[Double](name)
    val n = l("__n")

    val lowCardStrings =
      strings.filter(c => l(s"__dis_$c") <= lowCard && l(s"__dis_$c") > 0)
    val valueSets: Map[String, String] =
      if (lowCardStrings.isEmpty) Map.empty
      else {
        val setAggs = lowCardStrings.map(c =>
          concat_ws(",", sort_array(collect_set(col(c)))).as(s"__set_$c"))
        val sr = par.agg(setAggs.head, setAggs.tail: _*).first()
        lowCardStrings.map(c => c -> sr.getAs[String](s"__set_$c")).toMap
      }

    val rows = cols.flatMap { c =>
      val cnt = l(s"__cnt_$c"); val dis = l(s"__dis_$c")
      val notNull =
        if (cnt == n && n > 0) Seq((c, "not_null", "", 0.0, 0.0))
        else Seq.empty
      val uniq =
        // approx mode: HLL under/overshoots true cardinality within
        // its rsd, so exact equality would never fire on a genuinely
        // unique big column — rsd 0.02 sketch, accept within 10%
        // (5× rsd; a column with >10% duplicate keys is not a
        // unique-key candidate anyway)
        if (cnt > 1 && (if (approxUnique) dis >= cnt * 0.9
                        else dis == cnt))
          Seq((c, "unique", "", 0.0, 0.0))
        else Seq.empty
      val isin = valueSets.get(c)
        .map(csv => (c, "is_in", csv, 0.0, 0.0)).toSeq
      val rng =
        if (numeric.contains(c) && cnt > 0) {
          val lo = d(s"__min_$c"); val hi = d(s"__max_$c")
          Seq((c, "value_range", "", lo, hi)) ++
            (if (lo >= 0.0) Seq((c, "non_negative", "", 0.0, 0.0))
             else Seq.empty)
        } else Seq.empty
      notNull ++ uniq ++ isin ++ rng
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("col_name", "rule", "detail", "lo", "hi")
      .orderBy("col_name", "rule")
  }

  /** Turn a [[suggest]] result back into an enforceable check suite —
    * the profile→gate bridge: suggest on corpus version N, enforce on
    * version N+1, and every violated constraint is a drift signal.
    * The suggestion frame is O(cols · rules) driver state by
    * construction. By the definitions of the rules, the returned
    * suite always passes on the corpus that produced it (the closure
    * property, unit-tested). */
  def suggestedChecks(suggestions: DataFrame): Seq[Check] =
    suggestions
      .select("col_name", "rule", "detail", "lo", "hi").collect()
      .toSeq.flatMap { r =>
        val c = r.getString(0)
        r.getString(1) match {
          case "not_null" => Some(Completeness(c, 1.0))
          case "unique" => Some(Uniqueness(c, 1.0))
          case "is_in" =>
            Some(InSet(c, r.getString(2).split(",").toSeq, 1.0))
          case "value_range" =>
            Some(InRange(c, r.getDouble(3), r.getDouble(4), 1.0))
          case "non_negative" =>
            Some(InRange(c, 0.0, Double.MaxValue, 1.0))
          case _ => None
        }
      }

  /** Benford first-significant-digit conformance — the forensic
    * audit for "organically grown" numeric columns (amounts, sizes,
    * counts spanning orders of magnitude follow P(d) = log10(1+1/d);
    * fabricated or truncated data does not). One aggregation scan:
    * per digit 1–9 the observed fraction of nonzero values, the
    * Benford expectation, and the per-digit absolute gap; row
    * `digit = 0` carries the total variation distance (half the L1
    * gap — the single number a screening rule thresholds on).
    *
    * First-digit extraction is engine-deterministic by construction:
    * the scale factor is always an EXACT positive power of ten
    * (negative powers differ between libm implementations at the
    * last ulp — the Sig NOTE-1 trap: 0.02 / pow(10,-2) can floor to
    * digit 1 on one engine and 2 on the other), applied as one
    * correctly-rounded multiply or divide; a normalization CASE
    * absorbs any ±1 disagreement in floor(log10(x)) at power-of-ten
    * boundaries. */
  def benford(df: DataFrame, column: String): DataFrame = {
    val x = abs(col(column).cast("double"))
    val p = floor(log10(x))
    val pp = pow(lit(10.0), abs(p)) // exact positive power of ten
    val s = when(p >= 0.0, x / pp).otherwise(x * pp)
    val digit = when(s >= 10.0, floor(s / 10.0))
      .when(s < 1.0, floor(s * 10.0))
      .otherwise(floor(s)).cast("long")
    val counted = df.where(col(column).isNotNull && x > 0.0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    // left-join a digit spine so absent digits report 0 observed
    val spark = df.sparkSession
    import spark.implicits._
    val spine = (1 to 9).map(_.toLong).toDF("digit")
    val expected = (d: Column) =>
      log10(lit(1.0) + lit(1.0) / d.cast("double"))
    val joined = spine.join(counted, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val withTotal = joined.select(col("digit"), col("cnt"),
      sum(col("cnt")).over().as("total"))
    // all-zero/null/empty column → total 0: observe 0.0 rather than
    // emit NULLs (the comparator-friendly no-data convention)
    val perDigit = withTotal.select(col("digit"),
      sig5(when(col("total") === 0L, 0.0)
        .otherwise(col("cnt").cast("double") / col("total")
          .cast("double"))).as("observed"),
      sig5(expected(col("digit"))).as("expected"))
      .withColumn("abs_gap",
        sig5(abs(col("observed") - col("expected"))))
    val tvd = perDigit.agg(
      sig5(sum(col("abs_gap")) / 2.0).as("observed"))
      .select(lit(0L).as("digit"), col("observed"),
        lit(0.0).as("expected"), lit(0.0).as("abs_gap"))
    perDigit.unionAll(tvd).orderBy("digit")
  }
}
