package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.profiler.Stats
import graft.det.Sig

/** Core reference-parity queries (SURVEY.md §2.1) over `lineitem`,
  * with DuckDB oracle SQL generated from the same column metadata so
  * column names, ordering, and rounding match by construction. */
object Core {

  // lineitem schema (FIXTURES.md) — oracle side must be static SQL.
  val ints: Seq[String] =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  val floats: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val nums: Seq[String] = ints ++ floats
  val cats: Seq[String] = Seq("l_returnflag", "l_linestatus")
  val dates: Seq[String] = Seq("l_shipdate")
  val all: Seq[String] = nums ++ cats ++ dates

  def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  private def sig(x: String) = Sig.sql(x)

  // ---------------------------------------------------------------- //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "table_count" -> ((s, dir) =>
      Stats.overview(li(s, dir), all).selectExpr("n")),
    "table_overview" -> ((s, dir) => Stats.overview(li(s, dir), all)),
    "col_counts" -> ((s, dir) => Stats.counts(li(s, dir), all)),
    "col_distinct" -> ((s, dir) => Stats.distinct(li(s, dir), all)),
    // sketch-distinct error contract: exact counts as premise, HLL++
    // and KMV estimates must land inside their rsd bounds (both
    // deterministic for fixed data) — oracle expects all-true
    "col_distinct_approx_err" -> ((s, dir) =>
      Stats.distinctSketchCheck(li(s, dir), all)),
    // the fused one-scan flagship's error contract: exact profile vs
    // fused profile per (column, metric), each within its documented
    // bound (exact fields equal, KMV 4σ, streaming-moment tolerance,
    // GK rank error vs the data) — oracle expects all-true
    "profile_fused_err" -> ((s, dir) =>
      graft.profiler.Profiler.fusedCheck(li(s, dir))),
    "col_types" -> ((s, dir) => Stats.kinds(li(s, dir), all)),
    "num_moments" -> ((s, dir) => Stats.moments(li(s, dir), nums)),
    "num_quantiles" -> ((s, dir) => Stats.quantiles(li(s, dir), nums)),
    // grouped quantiles: the per-slice distribution view ("P95 price
    // per return flag") a single-table profile can't answer
    "num_grouped_quantiles" -> ((s, dir) =>
      Stats.groupedQuantiles(li(s, dir), "l_returnflag", floats)),
    // upstream's per-dtype dispatch routes integral columns through
    // exact percentile — declared over the int columns so the oracle
    // (quantile_cont) checks the dispatch chose the exact path
    "num_quantiles_int" -> ((s, dir) =>
      Stats.quantilesByDtype(li(s, dir), ints)),
    // the float side of the dispatch goes through the GK sketch whose
    // returned element is merge-order dependent; what IS deterministic
    // is its rank-error contract — checked exactly, oracle expects
    // every (col, percentile) to be within bound
    "num_quantiles_approx_rank" -> ((s, dir) =>
      Stats.quantileRankCheck(li(s, dir), floats)),
    // the SCALE-ROUTED dispatch (r14): exact percentile only while a
    // column's HLL distinct estimate keeps the value-domain state
    // bounded, GK beyond (key-like ints route to GK from sf0.1 up);
    // declared as the rank contract so the oracle is scale-invariant
    "num_quantiles_routed" -> ((s, dir) =>
      Stats.quantilesRouted(li(s, dir), nums)),
    // GK-per-group escape for the grouped quantiles: bounded sketch
    // state per (group, col) with the per-cell rank contract declared
    "num_grouped_quantiles_routed" -> ((s, dir) =>
      Stats.groupedQuantilesRouted(li(s, dir), "l_returnflag", floats)),
    "num_derived" -> ((s, dir) => Stats.derived(li(s, dir), nums)),
    // Tukey-fence outlier counts: fences sig5-rounded BEFORE counting
    // so both engines count against identical literal doubles
    "num_outliers" -> ((s, dir) => Stats.outliers(li(s, dir), nums)),
    "num_mad" -> ((s, dir) => Stats.mad(li(s, dir), nums)),
    // outlier-robust location/scale: p05/p95 fences (sig5 canon),
    // trimmed mean drops, winsorized mean/std clamps
    "num_trimmed" -> ((s, dir) => Stats.trimmed(li(s, dir), nums)),
    // missingness association: the fixture has no NULLs (an all-zero
    // matrix would pass vacuously), so a deterministic null pattern
    // is synthesized from the keys (the text_pii precedent) — tax
    // and discount share a driver, quantity is independent, price
    // never null (exercises the undefined-phi NULL path)
    "null_association" -> ((s, dir) =>
      Stats.nullAssociation(li(s, dir)
        .withColumn("l_tax", when(col("l_orderkey") % 7 === 0,
          lit(null).cast("double")).otherwise(col("l_tax")))
        .withColumn("l_discount",
          when(col("l_orderkey") % 7 === 0 ||
            col("l_orderkey") % 11 === 0,
            lit(null).cast("double")).otherwise(col("l_discount")))
        .withColumn("l_quantity",
          when(col("l_partkey") % 13 === 0,
            lit(null).cast("double")).otherwise(col("l_quantity"))),
        Seq("l_tax", "l_discount", "l_quantity", "l_extendedprice"))),
    "num_zeros" -> ((s, dir) => Stats.zeros(li(s, dir), nums)),
    "num_histogram" -> ((s, dir) => Stats.histogram(li(s, dir), nums)),
    // joint 2D histogram: the price × discount ridge two marginals
    // can't show; O(bins²) output regardless of row count
    "num_histogram2d" -> ((s, dir) =>
      Stats.histogram2d(li(s, dir), "l_extendedprice", "l_discount")),
    "cat_freq" -> ((s, dir) => Stats.freq(li(s, dir), cats)),
    // concentration: HHI / effective categories / top share — the
    // exact one-pass form of "how dominated is this column"
    "cat_concentration" -> ((s, dir) =>
      Stats.concentration(li(s, dir),
        Seq("l_returnflag", "l_linestatus", "l_suppkey"))),
    // Gini inequality per numeric column (exact rank-window audit
    // form, the corr_spearman precedent; corpus path reads the
    // equi-depth histogram)
    "num_gini" -> ((s, dir) =>
      Stats.gini(li(s, dir), Seq("l_quantity", "l_extendedprice"))),
    // the map-only scale path's error contract (GK merge order makes
    // the value itself unhashable — the spearman precedent)
    "num_gini_approx_err" -> ((s, dir) =>
      Stats.giniApproxCheck(li(s, dir),
        Seq("l_quantity", "l_extendedprice"))),
    // string-mask profile: what SHAPES live in each column — catches
    // a stray free-text row in an id column before any validator
    "col_patterns" -> ((s, dir) =>
      Stats.patterns(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_name", "c_mktsegment"))),
    // high-cardinality columns (25 brands / 150 types > topK=10) so
    // the "__other__" remainder bucket is exercised non-trivially
    "cat_freq_other" -> ((s, dir) =>
      Stats.freq(s.read.parquet(s"$dir/part.parquet"),
        Seq("p_brand", "p_type"))),
    // pre-join skew planning: hottest values per candidate join key
    // with the salt factor a salted join needs at the given task
    // target — freq's distributed top-k shape + one total aggregate
    "join_skew_advisor" -> ((s, dir) =>
      Stats.skewAdvisor(li(s, dir), Seq("l_returnflag", "l_suppkey"),
        topK = 5, targetRowsPerTask = 1000L)),
    "date_minmax" -> ((s, dir) => Stats.dateMinMax(li(s, dir), dates)),
    // calendar-completeness audit: missing-day runs between min and
    // max — the fixture calendar is dense, so deterministic weekly
    // gaps are synthesized (every day ≡ 3 mod 7 since epoch dropped;
    // the null_association non-vacuous-fixture precedent)
    "date_gaps" -> ((s, dir) =>
      Stats.dateGaps(li(s, dir).where(
        datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01")))
          % 7 =!= 3), "l_shipdate")),
    // date mini-histogram (pandas-profiling 1.x renders one for DATE
    // columns; the canonical describe_date_1d kept only min/max):
    // 10 equal-width bins over exact epoch micros
    "date_histogram" -> ((s, dir) =>
      Stats.dateHistogram(li(s, dir), dates)),
    "corr_matrix" -> ((s, dir) => Stats.corrMatrix(li(s, dir), nums)),
    // Spearman twin (pandas-profiling 1.x computed both): average
    // ranks (exact half-integer doubles, bit-identical cross-engine)
    // then the same co-moment Pearson; declared over the float cols —
    // the int keys' rank transform exercises nothing extra and k=4
    // keeps the window-sort audit form cheap
    "corr_spearman" -> ((s, dir) =>
      Stats.spearmanMatrix(li(s, dir), floats)),
    // the map-only grid-rank approximation can't be value-hashed
    // (GK merge order), but its error contract can: every pair's
    // |approx − exact| must stay inside the bound → oracle all-true
    "corr_spearman_approx_err" -> ((s, dir) =>
      Stats.spearmanApproxCheck(li(s, dir), floats)),
    // the SCALE-ROUTED Spearman (r15): below the row threshold the
    // full exact-vs-grid audit runs (the approx_err check, strongest
    // where exact sorts are cheap — all driver tiers); above it the
    // map-only grid-refinement convergence check (ρ@1024 vs ρ@512,
    // no sort anywhere) — one dispatch, one all-true contract oracle
    "corr_spearman_routed" -> ((s, dir) =>
      Stats.spearmanRouted(li(s, dir), floats)),
    // Kendall τ-b from a 20×20 joint grid: concordant/discordant
    // pair counts in exact integer arithmetic over O(bins²) cells —
    // no O(n²) pair join, no global sort; the oracle replays the
    // grid value-level
    "corr_kendall" -> ((s, dir) =>
      Stats.kendallGrid(li(s, dir), Seq(
        ("l_quantity", "l_extendedprice"),
        ("l_extendedprice", "l_discount")))),
    // a derived gross = price·(1+tax) column gives the rejection pass
    // a genuinely correlated pair (ρ ≈ 0.999 vs l_extendedprice), so
    // the oracle validates a NON-empty, order-dependent rejection
    "corr_reject" -> ((s, dir) => Stats.corrReject(
      li(s, dir).withColumn("l_gross",
        col("l_extendedprice") * (lit(1.0) + col("l_tax"))),
      nums :+ "l_gross")),
    // overview variable-kind breakdown over a projection of orders
    // that exercises every kind: o_orderkey UNIQUE, o_const CONST,
    // o_gross CORR (ρ = 1 vs o_totalprice), plus NUM/CAT/DATE
    "table_kinds" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_const", lit("X"))
        .withColumn("o_gross", col("o_totalprice") * lit(1.1))
      Stats.kindCounts(o, o.columns.toSeq)
    }),
    // total order over every column: (orderkey, linenumber) alone is
    // not unique at sf0.1, which made LIMIT 5 nondeterministic
    "sample_head" -> ((s, dir) => Stats.sampleHead(li(s, dir), all))
  )

  // ------------------------- oracle SQL ---------------------------- //

  private val T = "lineitem"

  private def unionAll(parts: Seq[String]): String =
    parts.mkString("", "\nUNION ALL\n", "")

  val tableCountSql: String = s"SELECT count(*) AS n FROM $T"

  val tableOverviewSql: String = {
    val missing = all.map(c => s"(count(*) - count($c))").mkString(" + ")
    s"""SELECT count(*) AS n, CAST(${all.size} AS BIGINT) AS nvar,
       |CAST($missing AS BIGINT) AS n_missing_total,
       |${sig(s"CAST($missing AS DOUBLE) / (count(*) * ${all.size}.0)")} AS p_missing
       |FROM $T""".stripMargin
  }

  val colCountsSql: String = unionAll(all.map { c =>
    s"""SELECT '$c' AS col_name, count($c) AS cnt,
       |count(*) - count($c) AS n_missing,
       |${sig(s"CAST(count(*) - count($c) AS DOUBLE) / count(*)")} AS p_missing
       |FROM $T""".stripMargin
  }) + "\nORDER BY col_name"

  val colDistinctSql: String = unionAll(all.map { c =>
    s"""SELECT '$c' AS col_name,
       |count(DISTINCT $c) AS distinct_cnt,
       |${sig(s"CAST(count(DISTINCT $c) AS DOUBLE) / count($c)")} AS p_unique,
       |CAST(CASE WHEN count(DISTINCT $c) = count($c) THEN 1 ELSE 0 END AS BIGINT) AS is_unique
       |FROM $T""".stripMargin
  }) + "\nORDER BY col_name"

  private def baseKind(c: String): String =
    if (nums.contains(c)) "NUM" else if (dates.contains(c)) "DATE" else "CAT"

  val colTypesSql: String = unionAll(all.map { c =>
    s"""SELECT '$c' AS col_name,
       |CASE WHEN count(DISTINCT $c) = 1 THEN 'CONST'
       |     WHEN count(DISTINCT $c) = count($c) AND count($c) > 1 THEN 'UNIQUE'
       |     ELSE '${baseKind(c)}' END AS kind
       |FROM $T""".stripMargin
  }) + "\nORDER BY col_name"

  val numMomentsSql: String = {
    val ctes = nums.flatMap { c =>
      Seq(
        s"src_$c AS (SELECT CAST($c AS DOUBLE) AS x FROM $T WHERE $c IS NOT NULL)",
        s"""agg_$c AS (SELECT count(*) AS n, avg(x) AS mu, min(x) AS mn,
           |max(x) AS mx, sum(x) AS sm, var_samp(x) AS vr,
           |stddev_samp(x) AS sd FROM src_$c)""".stripMargin,
        s"""cm_$c AS (SELECT
           |avg(pow(x - (SELECT mu FROM agg_$c), 2)) AS m2,
           |avg(pow(x - (SELECT mu FROM agg_$c), 3)) AS m3,
           |avg(pow(x - (SELECT mu FROM agg_$c), 4)) AS m4 FROM src_$c)""".stripMargin)
    }
    val selects = nums.map { c =>
      s"""SELECT '$c' AS col_name, n, ${sig("mu")} AS mean,
         |mn AS min_val, mx AS max_val, ${sig("sm")} AS sum_val,
         |${sig("vr")} AS variance, ${sig("sd")} AS stddev,
         |${sig("m3 / pow(m2, 1.5)")} AS skewness,
         |${sig("m4 / pow(m2, 2) - 3.0")} AS kurtosis
         |FROM agg_$c, cm_$c""".stripMargin
    }
    s"WITH ${ctes.mkString(",\n")}\n${unionAll(selects)}\nORDER BY col_name"
  }

  private val psSql = Stats.Ps.mkString("[", ", ", "]")
  private val pCols = Seq("p05", "q1", "median", "q3", "p95")

  private def quantilesSqlFor(cols: Seq[String]): String = {
    val qAggs = cols.map(c =>
      s"quantile_cont(CAST($c AS DOUBLE), $psSql) AS q_$c").mkString(",\n")
    val selects = cols.map { c =>
      val fields = pCols.zipWithIndex.map { case (nm, i) =>
        s"${sig(s"q_$c[${i + 1}]")} AS $nm"
      }.mkString(", ")
      s"SELECT '$c' AS col_name, $fields FROM q"
    }
    s"WITH q AS (SELECT\n$qAggs\nFROM $T)\n${unionAll(selects)}\nORDER BY col_name"
  }

  val numQuantilesSql: String = quantilesSqlFor(nums)
  val numQuantilesIntSql: String = quantilesSqlFor(ints)

  /** Grouped mirror of [[quantilesSqlFor]]: quantile_cont per group,
    * same sig5 element extraction, long-form union per column. */
  val numGroupedQuantilesSql: String = {
    val qAggs = floats.map(c =>
      s"quantile_cont(CAST($c AS DOUBLE), $psSql) AS q_$c")
      .mkString(",\n")
    val selects = floats.map { c =>
      val fields = pCols.zipWithIndex.map { case (nm, i) =>
        s"${sig(s"q_$c[${i + 1}]")} AS $nm"
      }.mkString(", ")
      s"SELECT grp AS l_returnflag, '$c' AS col_name, $fields FROM q"
    }
    s"""WITH q AS (SELECT l_returnflag AS grp,
       |$qAggs
       |FROM $T GROUP BY l_returnflag)
       |${unionAll(selects)}
       |ORDER BY l_returnflag, col_name""".stripMargin
  }

  val numQuantilesApproxRankSql: String =
    unionAll(floats.flatMap(c => pCols.map(nm =>
      s"SELECT '$c' AS col_name, '$nm' AS p_name, true AS within_bound"))) +
      "\nORDER BY col_name, p_name"

  /** All-true contract rows for the routed dispatch — over EVERY
    * numeric column (the router decides exact-vs-GK internally; both
    * paths must satisfy their rank bound). */
  val numQuantilesRoutedSql: String =
    unionAll(nums.flatMap(c => pCols.map(nm =>
      s"SELECT '$c' AS col_name, '$nm' AS p_name, true AS within_bound"))) +
      "\nORDER BY col_name, p_name"

  /** Per-(group, column, percentile) all-true contract rows; the
    * groups come from the table so the row set tracks the data. */
  val numGroupedQuantilesRoutedSql: String = {
    val cVals = floats.map(c => s"('$c')").mkString(", ")
    val pVals = pCols.map(nm => s"('$nm')").mkString(", ")
    s"""WITH g AS (SELECT DISTINCT l_returnflag FROM $T),
       |c(col_name) AS (VALUES $cVals),
       |p(p_name) AS (VALUES $pVals)
       |SELECT l_returnflag, col_name, p_name, true AS within_bound
       |FROM g CROSS JOIN c CROSS JOIN p
       |ORDER BY l_returnflag, col_name, p_name""".stripMargin
  }

  /** Enumerated all-true contract rows — the same static metric
    * inventory [[graft.profiler.Profiler.fusedCheck]] emits for the
    * lineitem schema (every numeric column of the fixture varies, so
    * var/sd/sk/ku are always present). */
  val profileFusedErrSql: String = {
    val numMetrics = Seq("min", "max", "n_zeros", "sum", "mean",
      "var", "sd", "sk", "ku", "p05", "q1", "median", "q3", "p95")
    val pairs = for {
      i <- nums.indices; j <- (i + 1) until nums.size
    } yield (s"${nums(i)}|${nums(j)}", "pearson")
    val rows =
      Seq(("__table__", "n")) ++
        all.flatMap(c =>
          Seq((c, "count"), (c, "missing"), (c, "distinct"))) ++
        nums.flatMap(c => numMetrics.map(m => (c, m))) ++
        (nums ++ dates).map(c => (c, "histogram")) ++
        dates.flatMap(c => Seq((c, "dmn"), (c, "dmx"))) ++
        pairs
    unionAll(rows.map { case (c, m) =>
      s"SELECT '$c' AS col_name, '$m' AS metric, true AS within_bound"
    }) + "\nORDER BY col_name, metric"
  }

  val colDistinctApproxErrSql: String =
    unionAll(all.map(c =>
      s"SELECT '$c' AS col_name, true AS hll_within_bound, " +
        "true AS kmv_within_bound")) + "\nORDER BY col_name"

  val numDerivedSql: String = {
    val ctes = nums.map { c =>
      s"""a_$c AS (SELECT min(CAST($c AS DOUBLE)) AS mn,
         |max(CAST($c AS DOUBLE)) AS mx, avg(CAST($c AS DOUBLE)) AS mu,
         |stddev_samp(CAST($c AS DOUBLE)) AS sd,
         |quantile_cont(CAST($c AS DOUBLE), 0.25) AS q1,
         |quantile_cont(CAST($c AS DOUBLE), 0.75) AS q3
         |FROM $T WHERE $c IS NOT NULL)""".stripMargin
    }
    val selects = nums.map { c =>
      s"""SELECT '$c' AS col_name, mx - mn AS range_val,
         |${sig("q3 - q1")} AS iqr, ${sig("sd / mu")} AS cv FROM a_$c""".stripMargin
    }
    s"WITH ${ctes.mkString(",\n")}\n${unionAll(selects)}\nORDER BY col_name"
  }

  val numOutliersSql: String = {
    val ctes = nums.flatMap { c =>
      Seq(
        s"""a_$c AS (SELECT
           |quantile_cont(CAST($c AS DOUBLE), 0.25) AS rq1,
           |quantile_cont(CAST($c AS DOUBLE), 0.75) AS rq3
           |FROM $T WHERE $c IS NOT NULL)""".stripMargin,
        s"""f_$c AS (SELECT ${sig("rq1")} AS q1, ${sig("rq3")} AS q3,
           |${sig("rq1 - 1.5 * (rq3 - rq1)")} AS lo,
           |${sig("rq3 + 1.5 * (rq3 - rq1)")} AS hi FROM a_$c)""".stripMargin)
    }
    val selects = nums.map { c =>
      s"""SELECT '$c' AS col_name, q1, q3, lo AS fence_lo, hi AS fence_hi,
         |CAST(coalesce(sum(CASE WHEN v < lo THEN 1 END), 0) AS BIGINT)
         |  AS n_below,
         |CAST(coalesce(sum(CASE WHEN v > hi THEN 1 END), 0) AS BIGINT)
         |  AS n_above,
         |${sig("CAST(coalesce(sum(CASE WHEN v < lo OR v > hi THEN 1 END), 0) AS DOUBLE) / count(v)")} AS p_outlier
         |FROM (SELECT CAST($c AS DOUBLE) AS v FROM $T), f_$c
         |GROUP BY q1, q3, lo, hi""".stripMargin
    }
    s"WITH ${ctes.mkString(",\n")}\n${unionAll(selects)}\nORDER BY col_name"
  }

  val numMadSql: String = unionAll(nums.map { c =>
    s"""SELECT '$c' AS col_name,
       |${sig(s"avg(abs(CAST($c AS DOUBLE) - (SELECT avg(CAST($c AS DOUBLE)) FROM $T WHERE $c IS NOT NULL)))")} AS mad
       |FROM $T WHERE $c IS NOT NULL""".stripMargin
  }) + "\nORDER BY col_name"

  val numZerosSql: String = unionAll(nums.map { c =>
    s"""SELECT '$c' AS col_name,
       |CAST(coalesce(sum(CASE WHEN CAST($c AS DOUBLE) = 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_zeros,
       |${sig(s"CAST(coalesce(sum(CASE WHEN CAST($c AS DOUBLE) = 0.0 THEN 1 ELSE 0 END), 0) AS DOUBLE) / count($c)")} AS p_zeros
       |FROM $T""".stripMargin
  }) + "\nORDER BY col_name"

  // all 10 buckets per column including empty ones (upstream's
  // create_hist_data emits every bin) — EXCEPT for degenerate
  // columns (all-null/all-NaN bounds or min == max), where the
  // Spark side emits only non-empty buckets; the WHERE clause
  // mirrors histogramWithBounds' `cnt > 0 OR wellFormed` exactly so
  // a constant/all-null numeric column entering a fixture cannot
  // produce a spurious mismatch. `v` maps the column to its binned
  // DOUBLE value (identity cast for numerics, epoch_us for dates).
  private def histogramSql(cols: Seq[String], v: String => String)
      : String = {
    val parts = cols.map { c =>
      val vc = v(c)
      s"""SELECT '$c' AS col_name, CAST(b.bin AS BIGINT) AS bin,
         |CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt,
         |m.mn + CAST(b.bin AS DOUBLE) * m.w AS bin_lo,
         |m.mn + CAST(b.bin + 1 AS DOUBLE) * m.w AS bin_hi
         |FROM (SELECT unnest(range(0, 10)) AS bin) b
         |CROSS JOIN (SELECT min($vc) AS mn,
         |            (max($vc) - min($vc)) / 10.0 AS w
         |            FROM $T WHERE $c IS NOT NULL) m
         |LEFT JOIN (
         |  SELECT CASE WHEN mm.w = 0 THEN 0
         |    ELSE CAST(least(floor(($vc - mm.mn) / mm.w), 9) AS BIGINT)
         |    END AS bin,
         |         count(*) AS cnt
         |  FROM $T, (SELECT min($vc) AS mn,
         |            (max($vc) - min($vc)) / 10.0 AS w
         |            FROM $T WHERE $c IS NOT NULL) mm
         |  WHERE $c IS NOT NULL GROUP BY 1) h ON h.bin = b.bin
         |WHERE coalesce(h.cnt, 0) > 0
         |   OR (m.mn IS NOT NULL AND NOT isnan(m.mn) AND m.w > 0)""".stripMargin
    }
    unionAll(parts) + "\nORDER BY col_name, bin"
  }

  val numHistogramSql: String =
    histogramSql(nums, c => s"CAST($c AS DOUBLE)")

  /** Joint 2D histogram mirror of [[graft.profiler.Stats.histogram2d]]:
    * bounds over jointly-valid rows, identical floor binning on both
    * dims, edges re-derived from the same (mn, w) doubles. */
  val numHistogram2dSql: String =
    s"""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
       |    CAST(l_discount AS DOUBLE) AS y FROM $T
       |  WHERE l_extendedprice IS NOT NULL
       |    AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
       |    AND l_discount IS NOT NULL
       |    AND NOT isnan(CAST(l_discount AS DOUBLE))),
       |m AS (SELECT min(x) AS mnx, (max(x) - min(x)) / 10.0 AS wx,
       |             min(y) AS mny, (max(y) - min(y)) / 10.0 AS wy
       |      FROM v),
       |b AS (SELECT
       |  CASE WHEN m.wx = 0 THEN 0
       |    ELSE CAST(least(floor((x - m.mnx) / m.wx), 9) AS BIGINT)
       |    END AS bx,
       |  CASE WHEN m.wy = 0 THEN 0
       |    ELSE CAST(least(floor((y - m.mny) / m.wy), 9) AS BIGINT)
       |    END AS by
       |  FROM v, m),
       |c AS (SELECT bx, by, count(*) AS cnt FROM b GROUP BY 1, 2)
       |SELECT bx, by, cnt,
       |m.mnx + CAST(bx AS DOUBLE) * m.wx AS x_lo,
       |m.mnx + CAST(bx + 1 AS DOUBLE) * m.wx AS x_hi,
       |m.mny + CAST(by AS DOUBLE) * m.wy AS y_lo,
       |m.mny + CAST(by + 1 AS DOUBLE) * m.wy AS y_hi
       |FROM c, m ORDER BY bx, by""".stripMargin

  /** Epoch-micros histogram of the date columns; micros < 2^53 so the
    * long→double conversion is exact on both engines. */
  val dateHistogramSql: String =
    histogramSql(dates, c => s"CAST(epoch_us($c) AS DOUBLE)")

  /** Mask-profile mirror: the same three character-class
    * replacements ('g' — RE2 and Java regex agree on plain classes,
    * the Pii contract), per-column top-k with (cnt desc, mask)
    * ties. */
  val colPatternsSql: String = {
    val m = "regexp_replace(regexp_replace(regexp_replace(" +
      "CAST({c} AS VARCHAR), '[0-9]', '9', 'g'), '[a-z]', 'a', 'g')," +
      " '[A-Z]', 'A', 'g')"
    val parts = Seq("c_name", "c_mktsegment").map { c =>
      s"""SELECT * FROM (
         |  SELECT '$c' AS col_name, ${m.replace("{c}", c)} AS mask,
         |  count(*) AS cnt,
         |  CAST(row_number() OVER (ORDER BY count(*) DESC,
         |    ${m.replace("{c}", c)} ASC) AS BIGINT) AS rnk
         |  FROM customer WHERE $c IS NOT NULL GROUP BY 2)
         |WHERE rnk <= 10""".stripMargin
    }
    unionAll(parts) + "\nORDER BY col_name, rnk"
  }

  val catFreqSql: String = {
    val parts = cats.map { c =>
      s"""SELECT * FROM (
         |  SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS value,
         |  count(*) AS cnt,
         |  CAST(row_number() OVER (ORDER BY count(*) DESC, CAST($c AS VARCHAR) ASC) AS BIGINT) AS rnk
         |  FROM $T WHERE $c IS NOT NULL GROUP BY $c)
         |WHERE rnk <= 10""".stripMargin
    }
    unionAll(parts) + "\nORDER BY col_name, rnk"
  }

  val catConcentrationSql: String = {
    val parts = Seq("l_returnflag", "l_linestatus", "l_suppkey")
      .map { c =>
        s"""SELECT '$c' AS col_name, CAST(sum(c) AS BIGINT) AS n,
           |  count(*) AS n_distinct,
           |  ${sig("sum(CAST(c AS DOUBLE) * c) / (CAST(sum(c) AS DOUBLE) * sum(c))")}
           |    AS hhi,
           |  ${sig("CAST(sum(c) AS DOUBLE) * sum(c) / sum(CAST(c AS DOUBLE) * c)")}
           |    AS effective_categories,
           |  ${sig("CAST(max(c) AS DOUBLE) / sum(c)")} AS top_share
           |FROM (SELECT count(*) AS c FROM $T
           |      WHERE $c IS NOT NULL GROUP BY $c)""".stripMargin
      }
    unionAll(parts) + "\nORDER BY col_name"
  }

  val numGiniSql: String = {
    val parts = Seq("l_quantity", "l_extendedprice").map { c =>
      val g = "2.0 * six / (n * sx) - (n + 1.0) / n"
      s"""SELECT '$c' AS col_name, n,
         |  CASE WHEN mn >= 0 AND sx > 0 THEN ${sig(g)} END AS gini
         |FROM (SELECT count(*) AS n, sum(x) AS sx,
         |        sum(i * x) AS six, min(x) AS mn
         |      FROM (SELECT CAST($c AS DOUBLE) AS x,
         |              CAST(row_number() OVER (ORDER BY CAST($c AS DOUBLE))
         |                AS BIGINT) AS i
         |            FROM $T WHERE $c IS NOT NULL
         |              AND NOT isnan(CAST($c AS DOUBLE))))""".stripMargin
    }
    unionAll(parts) + "\nORDER BY col_name"
  }

  val numGiniApproxErrSql: String =
    unionAll(Seq("l_quantity", "l_extendedprice").map { c =>
      s"SELECT '$c' AS col_name, true AS within_bound"
    }) + "\nORDER BY col_name"

  val dateGapsSql: String =
    s"""WITH days AS (SELECT DISTINCT CAST(l_shipdate AS DATE) AS d
       |  FROM $T WHERE l_shipdate IS NOT NULL
       |    AND (CAST(l_shipdate AS DATE) - DATE '1970-01-01') % 7 <> 3),
       |b AS (SELECT min(d) AS mn, max(d) AS mx FROM days),
       |ex AS (SELECT CAST(unnest(generate_series(mn, mx,
       |    INTERVAL 1 DAY)) AS DATE) AS d FROM b),
       |miss AS (SELECT d FROM ex
       |  WHERE d NOT IN (SELECT d FROM days)),
       |isl AS (SELECT d, d - CAST(row_number() OVER (ORDER BY d)
       |    AS INTEGER) AS grp FROM miss)
       |SELECT min(d) AS gap_start, max(d) AS gap_end,
       |  CAST(count(*) AS BIGINT) AS n_days
       |FROM isl GROUP BY grp ORDER BY gap_start""".stripMargin

  val joinSkewAdvisorSql: String = {
    val parts = Seq("l_returnflag", "l_suppkey").map { c =>
      s"""SELECT * FROM (
         |  SELECT '$c' AS col_name,
         |  CAST(row_number() OVER (ORDER BY count(*) DESC,
         |    CAST($c AS VARCHAR) ASC) AS BIGINT) AS rnk,
         |  CAST($c AS VARCHAR) AS value, count(*) AS cnt,
         |  ${sig(s"count(*) * 1.0 / (SELECT count($c) FROM $T)")}
         |    AS share,
         |  CAST(greatest(1, ceil(count(*) * 1.0 / 1000)) AS BIGINT)
         |    AS salt_factor
         |  FROM $T WHERE $c IS NOT NULL GROUP BY $c)
         |WHERE rnk <= 5""".stripMargin
    }
    unionAll(parts) + "\nORDER BY col_name, rnk"
  }

  val catFreqOtherSql: String = {
    val parts = Seq("p_brand", "p_type").map { c =>
      s"""SELECT * FROM (
         |  WITH r_$c AS (
         |    SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS value,
         |    count(*) AS cnt,
         |    CAST(row_number() OVER (ORDER BY count(*) DESC, CAST($c AS VARCHAR) ASC) AS BIGINT) AS rnk
         |    FROM part WHERE $c IS NOT NULL GROUP BY $c)
         |  SELECT col_name, value, cnt, rnk FROM r_$c WHERE rnk <= 10
         |  UNION ALL
         |  SELECT '$c', '__other__', CAST(sum(cnt) AS BIGINT), CAST(11 AS BIGINT)
         |  FROM r_$c WHERE rnk > 10 HAVING count(*) > 0)""".stripMargin
    }
    unionAll(parts) + "\nORDER BY col_name, rnk"
  }

  val tableKindsSql: String = {
    val kindCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority", "o_const", "o_gross")
    val kindNums = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_gross")
    val kindDates = Seq("o_orderdate")
    def base(c: String): String =
      if (kindNums.contains(c)) "NUM"
      else if (kindDates.contains(c)) "DATE" else "CAT"
    val pairs = Stats.corrPairs(kindNums)
    val idx = kindNums.zipWithIndex.toMap
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"corr(CAST($a AS DOUBLE), CAST($b AS DOUBLE)) AS c_$i"
    }.mkString(",\n")
    val pairRows = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT '$b' AS col_b, ${idx(a)} AS ia, ${sig(s"c_$i")} AS rho FROM c"
    }
    val cleanCondK = kindNums.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val kindRows = kindCols.map { c =>
      s"""SELECT CASE
         |  WHEN '$c' IN (SELECT col_b FROM rej) THEN 'CORR'
         |  WHEN count(DISTINCT $c) = 1 THEN 'CONST'
         |  WHEN count(DISTINCT $c) = count($c) AND count($c) > 1 THEN 'UNIQUE'
         |  ELSE '${base(c)}' END AS kind
         |FROM t""".stripMargin
    }
    val counts = Seq("NUM", "CAT", "DATE", "CONST", "UNIQUE", "CORR")
      .map(k =>
        s"CAST(coalesce(sum(CASE WHEN kind = '$k' THEN 1 END), 0) AS BIGINT)" +
          s" AS n_${k.toLowerCase}")
      .mkString(",\n")
    s"""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |  o_orderdate, o_orderpriority, 'X' AS o_const,
       |  o_totalprice * 1.1 AS o_gross FROM orders),
       |clean AS (SELECT * FROM t WHERE $cleanCondK),
       |c AS (SELECT
       |$aggs
       |FROM clean),
       |pairs AS (
       |${unionAll(pairRows)}
       |),
       |rej AS (SELECT col_b FROM pairs WHERE rho >= 0.9 GROUP BY col_b),
       |k AS (
       |${unionAll(kindRows)}
       |)
       |SELECT (SELECT count(*) FROM t) AS n,
       |CAST(${kindCols.size} AS BIGINT) AS nvar,
       |$counts
       |FROM k""".stripMargin
  }

  val dateMinMaxSql: String = unionAll(dates.map { c =>
    s"""SELECT '$c' AS col_name,
       |CAST(epoch_us(min($c)) AS BIGINT) AS min_us,
       |CAST(epoch_us(max($c)) AS BIGINT) AS max_us FROM $T""".stripMargin
  }) + "\nORDER BY col_name"

  private val cleanCond = nums.map(c => s"$c IS NOT NULL").mkString(" AND ")

  val corrMatrixSql: String = {
    val pairs = Stats.corrPairs(nums)
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"corr(CAST($a AS DOUBLE), CAST($b AS DOUBLE)) AS c_$i"
    }.mkString(",\n")
    val selects = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, ${sig(s"c_$i")} AS rho FROM c"
    }
    s"WITH clean AS (SELECT * FROM $T WHERE $cleanCond),\n" +
      s"c AS (SELECT\n$aggs\nFROM clean)\n" +
      unionAll(selects) + "\nORDER BY col_a, col_b"
  }

  val corrSpearmanSql: String = {
    val pairs = Stats.corrPairs(floats)
    val cleanCondF = floats.map(c => s"$c IS NOT NULL")
      .mkString(" AND ")
    val rankCols = floats.map { c =>
      s"""rank() OVER (ORDER BY CAST($c AS DOUBLE)) +
         |(count(*) OVER (PARTITION BY CAST($c AS DOUBLE)) - 1) / 2.0
         |AS $c""".stripMargin
    }.mkString(",\n")
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"corr($a, $b) AS c_$i"
    }.mkString(",\n")
    val selects = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, ${sig(s"c_$i")} AS rho FROM c"
    }
    s"WITH clean AS (SELECT * FROM $T WHERE $cleanCondF),\n" +
      s"r AS (SELECT\n$rankCols\nFROM clean),\n" +
      s"c AS (SELECT\n$aggs\nFROM r)\n" +
      unionAll(selects) + "\nORDER BY col_a, col_b"
  }

  /** Kendall τ-b grid oracle: the identical 20×20 binning as the
    * Spark side (histogram2d arithmetic), exact-integer pair counts
    * (`//` mirrors Spark's `div`), IEEE sqrt at the end. */
  private def kendallPairCtes(p: String, cx: String, cy: String): String =
    s"""${p}v AS (SELECT CAST($cx AS DOUBLE) AS x, CAST($cy AS DOUBLE) AS y
       |  FROM $T WHERE $cx IS NOT NULL AND NOT isnan(CAST($cx AS DOUBLE))
       |    AND $cy IS NOT NULL AND NOT isnan(CAST($cy AS DOUBLE))),
       |${p}m AS (SELECT min(x) AS mnx, (max(x) - min(x)) / 20.0 AS wx,
       |            min(y) AS mny, (max(y) - min(y)) / 20.0 AS wy
       |          FROM ${p}v),
       |${p}c AS (SELECT bx, by, count(*) AS cnt FROM (
       |    SELECT CASE WHEN m.wx = 0 THEN 0
       |      ELSE CAST(least(floor((x - m.mnx) / m.wx), 19) AS BIGINT)
       |      END AS bx,
       |      CASE WHEN m.wy = 0 THEN 0
       |      ELSE CAST(least(floor((y - m.mny) / m.wy), 19) AS BIGINT)
       |      END AS by
       |    FROM ${p}v, ${p}m m) GROUP BY 1, 2),
       |${p}cd AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN b.by > a.by
       |      THEN a.cnt * b.cnt END), 0) AS BIGINT) AS conc,
       |    CAST(coalesce(sum(CASE WHEN b.by < a.by
       |      THEN a.cnt * b.cnt END), 0) AS BIGINT) AS disc
       |  FROM ${p}c a JOIN ${p}c b ON b.bx > a.bx),
       |${p}t1 AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0)
       |    AS BIGINT) AS n1
       |  FROM (SELECT sum(cnt) AS t FROM ${p}c GROUP BY bx)),
       |${p}t2 AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0)
       |    AS BIGINT) AS n2
       |  FROM (SELECT sum(cnt) AS t FROM ${p}c GROUP BY by)),
       |${p}n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM ${p}c)"""
      .stripMargin

  private def kendallPairSelect(p: String, cx: String, cy: String)
      : String = {
    val tau = s"(CAST(conc AS DOUBLE) - disc) / " +
      s"(sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE)) * " +
      s"sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE)))"
    s"""SELECT '$cx' AS col_x, '$cy' AS col_y, n,
       |  conc AS concordant, disc AS discordant,
       |  CASE WHEN n * (n - 1) // 2 - n1 = 0
       |         OR n * (n - 1) // 2 - n2 = 0 THEN NULL
       |    ELSE ${sig(tau)} END AS tau_b
       |FROM ${p}cd, ${p}t1, ${p}t2, ${p}n""".stripMargin
  }

  val corrKendallSql: String = {
    val ps = Seq(("k0", "l_quantity", "l_extendedprice"),
      ("k1", "l_extendedprice", "l_discount"))
    "WITH " + ps.map { case (p, a, b) => kendallPairCtes(p, a, b) }
      .mkString(",\n") + "\n" +
      ps.map { case (p, a, b) => kendallPairSelect(p, a, b) }
        .mkString("\nUNION ALL\n") +
      "\nORDER BY col_x, col_y"
  }

  val nullAssociationSql: String = {
    val ncols = Seq("l_tax", "l_discount", "l_quantity",
      "l_extendedprice")
    val pairs = Stats.corrPairs(ncols)
    val nulled =
      s"""nulled AS (SELECT
         |CASE WHEN l_orderkey % 7 = 0 THEN NULL
         |  ELSE CAST(l_tax AS DOUBLE) END AS l_tax,
         |CASE WHEN l_orderkey % 7 = 0 OR l_orderkey % 11 = 0 THEN NULL
         |  ELSE CAST(l_discount AS DOUBLE) END AS l_discount,
         |CASE WHEN l_partkey % 13 = 0 THEN NULL
         |  ELSE CAST(l_quantity AS DOUBLE) END AS l_quantity,
         |CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
         |FROM $T)""".stripMargin
    val sums = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(
        s"CAST(sum(CASE WHEN $a IS NULL AND $b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS b11_$i",
        s"CAST(sum(CASE WHEN $a IS NULL AND $b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS b10_$i",
        s"CAST(sum(CASE WHEN $a IS NOT NULL AND $b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS b01_$i")
    }.mkString(",\n")
    val selects = pairs.zipWithIndex.map { case ((a, b), i) =>
      val phi =
        s"""(CAST(b11_$i AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(b11_$i AS DOUBLE) - CAST(b10_$i AS DOUBLE) - CAST(b01_$i AS DOUBLE))
           | - CAST(b10_$i AS DOUBLE) * CAST(b01_$i AS DOUBLE)) /
           |sqrt((CAST(b11_$i AS DOUBLE) + CAST(b10_$i AS DOUBLE)) *
           |  ((CAST(n AS DOUBLE) - CAST(b11_$i AS DOUBLE) - CAST(b10_$i AS DOUBLE) - CAST(b01_$i AS DOUBLE)) + CAST(b01_$i AS DOUBLE)) *
           |  (CAST(b11_$i AS DOUBLE) + CAST(b01_$i AS DOUBLE)) *
           |  ((CAST(n AS DOUBLE) - CAST(b11_$i AS DOUBLE) - CAST(b10_$i AS DOUBLE) - CAST(b01_$i AS DOUBLE)) + CAST(b10_$i AS DOUBLE)))""".stripMargin
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |b11_$i AS n_both_null,
         |b11_$i + b10_$i AS n_a_null, b11_$i + b01_$i AS n_b_null,
         |${sig(s"CASE WHEN (b11_$i + b10_$i) > 0 AND (b11_$i + b01_$i) > 0 AND (b11_$i + b10_$i) < n AND (b11_$i + b01_$i) < n THEN $phi END")} AS phi
         |FROM c""".stripMargin
    }
    s"WITH $nulled,\nc AS (SELECT count(*) AS n,\n$sums FROM nulled)\n" +
      unionAll(selects) + "\nORDER BY col_a, col_b"
  }

  val numTrimmedSql: String = {
    val ctes = nums.flatMap { c =>
      Seq(
        s"""tsrc_$c AS (SELECT CAST($c AS DOUBLE) AS x FROM $T
           |WHERE $c IS NOT NULL)""".stripMargin,
        s"""tq_$c AS (SELECT
           |${sig("quantile_cont(x, 0.05)")} AS lo,
           |${sig("quantile_cont(x, 0.95)")} AS hi FROM tsrc_$c)""".stripMargin,
        s"""ts_$c AS (SELECT
           |CAST(sum(CASE WHEN x >= lo AND x <= hi THEN 1 ELSE 0 END)
           |  AS BIGINT) AS nk,
           |${sig("avg(CASE WHEN x >= lo AND x <= hi THEN x END)")} AS tm,
           |${sig("avg(least(greatest(x, lo), hi))")} AS wm,
           |${sig("stddev_samp(least(greatest(x, lo), hi))")} AS ws
           |FROM tsrc_$c, tq_$c)""".stripMargin)
    }
    val selects = nums.map { c =>
      s"""SELECT '$c' AS col_name, nk AS n_kept, lo AS fence_lo,
         |hi AS fence_hi, tm AS trimmed_mean, wm AS winsor_mean,
         |ws AS winsor_std FROM ts_$c, tq_$c""".stripMargin
    }
    s"WITH ${ctes.mkString(",\n")}\n" +
      unionAll(selects) + "\nORDER BY col_name"
  }

  val corrSpearmanApproxErrSql: String =
    unionAll(Stats.corrPairs(floats).map { case (a, b) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, true AS within_bound"
    }) + "\nORDER BY col_a, col_b"

  val corrRejectSql: String = {
    val rejCols = nums :+ "l_gross"
    val pairs = Stats.corrPairs(rejCols)
    val idx = rejCols.zipWithIndex.toMap
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"corr(CAST($a AS DOUBLE), CAST($b AS DOUBLE)) AS c_$i"
    }.mkString(",\n")
    val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT '$a' AS col_a, ${idx(a)} AS ia, '$b' AS col_b, ${sig(s"c_$i")} AS rho FROM c"
    }
    s"WITH clean AS (SELECT *, l_extendedprice * (1.0 + l_tax) AS l_gross " +
      s"FROM $T WHERE $cleanCond),\n" +
      s"c AS (SELECT\n$aggs\nFROM clean),\n" +
      s"pairs AS (\n${unionAll(rows)}\n)\n" +
      """SELECT col_b AS col_name, arg_min(col_a, ia) AS correlated_with,
        |arg_min(rho, ia) AS rho
        |FROM pairs WHERE rho >= 0.9 GROUP BY col_b ORDER BY col_name""".stripMargin
  }

  val sampleHeadSql: String = {
    val proj = all.map { c =>
      if (dates.contains(c)) s"CAST(epoch_us($c) AS BIGINT) AS ${c}_us"
      else c
    }.mkString(", ")
    s"SELECT $proj FROM $T ORDER BY ${all.mkString(", ")} LIMIT 5"
  }

  val oracle: Map[String, String] = Map(
    "table_count" -> tableCountSql,
    "table_overview" -> tableOverviewSql,
    "col_counts" -> colCountsSql,
    "col_distinct" -> colDistinctSql,
    "col_distinct_approx_err" -> colDistinctApproxErrSql,
    "profile_fused_err" -> profileFusedErrSql,
    "col_types" -> colTypesSql,
    "null_association" -> nullAssociationSql,
    "num_moments" -> numMomentsSql,
    "num_trimmed" -> numTrimmedSql,
    "num_quantiles" -> numQuantilesSql,
    "num_quantiles_int" -> numQuantilesIntSql,
    "num_grouped_quantiles" -> numGroupedQuantilesSql,
    "num_quantiles_approx_rank" -> numQuantilesApproxRankSql,
    "num_quantiles_routed" -> numQuantilesRoutedSql,
    "num_grouped_quantiles_routed" -> numGroupedQuantilesRoutedSql,
    "num_derived" -> numDerivedSql,
    "num_outliers" -> numOutliersSql,
    "num_mad" -> numMadSql,
    "num_zeros" -> numZerosSql,
    "num_histogram" -> numHistogramSql,
    "num_histogram2d" -> numHistogram2dSql,
    "cat_freq" -> catFreqSql,
    "cat_concentration" -> catConcentrationSql,
    "num_gini" -> numGiniSql,
    "num_gini_approx_err" -> numGiniApproxErrSql,
    "col_patterns" -> colPatternsSql,
    "cat_freq_other" -> catFreqOtherSql,
    "join_skew_advisor" -> joinSkewAdvisorSql,
    "table_kinds" -> tableKindsSql,
    "date_minmax" -> dateMinMaxSql,
    "date_histogram" -> dateHistogramSql,
    "date_gaps" -> dateGapsSql,
    "corr_matrix" -> corrMatrixSql,
    "corr_spearman" -> corrSpearmanSql,
    "corr_kendall" -> corrKendallSql,
    "corr_spearman_approx_err" -> corrSpearmanApproxErrSql,
    // the routed form shares the all-true contract oracle: whichever
    // branch the dispatch takes must satisfy its bound
    "corr_spearman_routed" -> corrSpearmanApproxErrSql,
    "corr_reject" -> corrRejectSql,
    "sample_head" -> sampleHeadSql
  )
}
