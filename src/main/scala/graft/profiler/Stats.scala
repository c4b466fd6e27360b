package graft.profiler

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.det.Sig.sig5

/** Column-kind dispatch mirroring the reference's dtype bucketing
  * (spark_df_profiling/base.py::describe_1d ≈L270–295): integral and
  * fractional Spark types profile as NUM, timestamp/date as DATE,
  * everything else (strings, booleans, nested) as CAT; CONST/UNIQUE
  * override based on distinct counts. */
object Kinds {
  /** MapType is not orderable/groupable in Spark — distinct counts,
    * sorts and group-bys need a canonical proxy. */
  def isOrderable(dt: DataType): Boolean = dt match {
    case _: MapType => false
    case _ => true
  }

  def isNumeric(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
        _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }
  /** Integer family — upstream profiles these through the exact Hive
    * `percentile` while fractional columns go through
    * `percentile_approx` (describe_integer_1d ≈L150–165 vs
    * describe_float_1d ≈L190–205). */
  def isIntegral(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
    case _ => false
  }
  def isDate(dt: DataType): Boolean = dt match {
    case _: TimestampType | _: TimestampNTZType | _: DateType => true
    case _ => false
  }
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).toSeq
  def dateCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(f => isDate(f.dataType)).map(_.name).toSeq
  def catCols(df: DataFrame): Seq[String] =
    df.schema.fields
      .filter(f => !isNumeric(f.dataType) && !isDate(f.dataType))
      .map(_.name).toSeq
  def baseKind(dt: DataType): String =
    if (isNumeric(dt)) "NUM" else if (isDate(dt)) "DATE" else "CAT"

  /** A column's profile kind from its base kind and its non-null and
    * distinct counts: CORR (rejected) > CONST > UNIQUE > base kind —
    * the one statement of the precedence (upstream
    * base.py::describe_1d ≈L270–295 plus the rejection pass). */
  def kind(base: String, count: Long, distinct: Long,
      rejected: Boolean = false): String =
    if (rejected) "CORR"
    else if (distinct == 1) "CONST"
    else if (distinct == count && count > 1) "UNIQUE"
    else base
}

/** Fused profiling statistics.
  *
  * The reference fires O(k) eager Spark jobs per column plus O(k²)
  * correlation jobs (base.py::describe ≈L120–330, corr_matrix ≈L40–60).
  * Every operator here instead aggregates ALL columns in a single scan
  * (one `agg` with ~10·k expressions — partial/final split, whole-stage
  * codegen and parquet column pruning come free from Catalyst), so a
  * full profile is a handful of jobs regardless of column count. All
  * result sets are tiny (O(k) or O(k·topK) rows), never proportional to
  * the data, so the same plans hold on a 1000-executor cluster at 100 TB.
  */
object Stats {

  private def d(c: String): Column = col(c).cast("double")

  /** Column usable in distinct/sort/groupBy positions: map columns go
    * through a string cast (reference semantics: nested types profile
    * only as frequency-style values — SURVEY.md §1.2). */
  def orderable(df: DataFrame, c: String): Column =
    if (Kinds.isOrderable(df.schema(c).dataType)) col(c)
    else col(c).cast("string")

  /** Fused Σ(x−μ)^{2,3,4} aggregate columns for the given
    * (column, mean) pairs — shared by Stats.moments and Profiler
    * pass A2 so the numerically-sensitive formulas live in one place. */
  def centralSumAggs(withMu: Seq[(String, Double)]): Seq[Column] =
    withMu.flatMap { case (c, mu) =>
      val dev = d(c) - lit(mu)
      val dev2 = dev * dev
      Seq(sum(dev2).as(s"s2__$c"), sum(dev2 * dev).as(s"s3__$c"),
        sum(dev2 * dev2).as(s"s4__$c"))
    }

  /** var/sd/skew/kurt from central sums (driver-side form). */
  def momentsFromSums(n: Long, s2: Double, s3: Double, s4: Double)
      : Map[String, Double] = {
    val nc = n.toDouble
    val m2 = s2 / nc
    val b = Map.newBuilder[String, Double]
    if (n > 1) {
      b += "var" -> s2 / (nc - 1)
      b += "sd" -> math.sqrt(s2 / (nc - 1))
    }
    if (m2 > 0) {
      b += "sk" -> s3 / nc / math.sqrt(m2 * m2 * m2)
      b += "ku" -> (s4 / nc / (m2 * m2) - 3.0)
    }
    b.result()
  }

  /** ANSI-safe ratio: null when the denominator is 0 (only reachable
    * on empty/degenerate inputs; the oracle data never divides by 0). */
  private def ratio(num: Column, den: Column): Column =
    when(den =!= 0, num.cast("double") / den)

  /** Tidy explode of one wide agg row into (col_name, stats…) rows. */
  private def tidy(row: DataFrame, structs: Seq[Column]): DataFrame =
    row.select(explode(array(structs: _*)).as("s")).select("s.*")
      .orderBy("col_name")

  /** Ensure enough partitions for CPU-parallel partial aggregation
    * when the scan cannot split (r16, guide §2.5 "input skew: one
    * huge unsplittable file"): a single parquet ROW GROUP is one
    * scan task no matter the split size, so every partial aggregate
    * over it runs single-threaded — measured 2.9 s vs 1.4 s for the
    * 8-column exact-distinct Expand at sf0.1 (one 600k-row row
    * group on 32 cores). Round-robin repartition is only used by
    * consumers whose aggregates are ORDER-INDEPENDENT (counts, exact
    * distinct, min/max, percentile maps) — never under float sums,
    * whose value depends on summation order. Scale-adaptive by
    * construction: a real corpus tier scans with thousands of
    * splits, the condition never fires, and the plan is untouched —
    * this is NOT a local-mode constant, it is "repartition
    * immediately after an unsplittable read" from the guide. */
  def parallelized(df: DataFrame): DataFrame = {
    // r17 (advisor): restrict the probe to SCAN-ROOTED plans. df.rdd
    // on a derived input (join/aggregate) finalizes the AQE plan and
    // eagerly EXECUTES its upstream shuffle stages, and the
    // subsequent repartition builds a new plan that cannot reuse
    // them — upstream work would run twice. A plan of only
    // scan/project/filter/subquery-alias nodes has no query stages to
    // pre-execute, so the probe is safe there; anything else returns
    // unchanged (the unsplittable-single-file hazard this guards is a
    // raw-scan property anyway).
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias, LeafNode}
    val scanRooted = df.queryExecution.optimizedPlan.collect {
      case _: Project | _: Filter | _: SubqueryAlias | _: LeafNode => true
      case _ => false
    }.forall(identity)
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!scanRooted || df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  /** Run a wide single-row aggregation in chunks of at most `chunk`
    * expressions — several scans instead of one enormous plan — and
    * merge the results into one name→value map. Catalyst analysis and
    * codegen are superlinear in expression count; for ordinary tables
    * (≤ chunk aggs) this is exactly one scan, identical to the
    * unchunked plan. */
  def chunkedAgg(df: DataFrame, aggs: Seq[Column], chunk: Int)
      : Map[String, Any] =
    aggs.grouped(chunk).flatMap { g =>
      val r = df.agg(g.head, g.tail: _*).first()
      r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.get(i) }
    }.toMap

  /** [[chunkedAgg]] with the chunk jobs submitted CONCURRENTLY (Spark
    * schedules actions from different threads side by side). This is
    * for aggregates whose FINAL merge is the bottleneck: a global
    * exact `percentile` buffers every value of its column, so its
    * final-stage merge is one single-threaded task per job — serial
    * across k columns in one wide agg, parallel across jobs here.
    * Cheap codegen'd aggregates gain nothing (their final merge is
    * O(partitions)); keep those in one fused scan. Total buffered
    * memory is the same either way; `maxPar` bounds how much of it is
    * live at once. */
  def chunkedAggPar(df: DataFrame, aggs: Seq[Column], chunk: Int,
      maxPar: Int = 8): Map[String, Any] = {
    val groups = aggs.grouped(chunk).toSeq
    if (groups.size <= 1) chunkedAgg(df, aggs, chunk)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(groups.size, maxPar))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val futs = groups.map(g => Future {
          val r = df.agg(g.head, g.tail: _*).first()
          r.schema.fieldNames.zipWithIndex
            .map { case (f, i) => f -> r.get(i) }
        })
        Await.result(Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf).flatten.toMap
      } finally pool.shutdown()
    }
  }

  // -------------------------------------------------------------------
  // Long form: the exact profile's distinct, quantile, histogram and
  // frequency passes each unpivot the table to one (col_idx, v) row
  // per non-null cell and aggregate grouped by col_idx. Each pass's
  // plan SHAPE is then the same for 11 or 500 columns of any type mix:
  // a fixed set of operators and whole-stage-codegen classes, where a
  // per-column form (one job per column, or k·bins conditional sums)
  // grows both with the schema. Spark's JVM-wide codegen cache holds
  // 100 classes (spark.sql.codegen.cache.maxEntries), so a profile
  // whose class count grows with the schema evicts and recompiles its
  // own classes on every warm run.
  // -------------------------------------------------------------------

  /** ONE explode of each row to (col_idx, v): `values(i)` becomes the
    * row (i, values(i)), null values dropped. All `values` share one
    * data type. The explode is map-side — it fuses into the scan's
    * codegen stage and feeds the partial aggregation directly. */
  private[graft] def longForm(df: DataFrame, values: Seq[Column])
      : DataFrame =
    df.select(explode(array(values.zipWithIndex.map { case (v, i) =>
      struct(lit(i).as("col_idx"), v.as("v"))
    }: _*)).as("r"))
      .select(col("r.col_idx").as("col_idx"), col("r.v").as("v"))
      .where(col("v").isNotNull)

  /** Typed slots for a mixed-type [[longForm]]: one struct field per
    * distinct data type among `cols` (map columns as their [[orderable]]
    * string), column c's value in its type's field and null in the
    * others; the struct is null when c is null. Two slot structs are
    * equal iff the values are, so grouping or counting distinct over
    * the struct is grouping over the value (Spark normalizes −0.0/NaN
    * inside struct grouping keys as it does for a bare double). */
  private[graft] def slotted(df: DataFrame, cols: Seq[String])
      : Seq[Column] = {
    val typeOf = cols.map { c =>
      val dt = df.schema(c).dataType
      if (Kinds.isOrderable(dt)) dt else StringType
    }
    val slots = typeOf.distinct
    cols.zip(typeOf).map { case (c, t) =>
      when(col(c).isNotNull, struct(slots.zipWithIndex.map { case (s, j) =>
        (if (s == t) orderable(df, c) else lit(null).cast(s)).as(s"s$j")
      }: _*))
    }
  }

  /** Exact (non-null count, distinct count) per column in ONE grouped
    * single-distinct aggregation over the [[slotted]] [[longForm]]:
    * partial aggregate keyed on (col_idx, value) in the scan stage
    * (map-side dedup) → exchange of distinct values only → merge →
    * count per col_idx. No Expand (k countDistinct expressions in one
    * Aggregate multiply every row (k+1)× through 2k+ buffer fields —
    * ~280 s for 12 columns over 60M rows), and no per-column jobs (a
    * job per column re-plans and recompiles per column). Both
    * aggregates are order-independent, so the values equal
    * `count(c)`/`countDistinct(orderable(c))` per column. */
  def exactDistinctPerCol(df: DataFrame, cols: Seq[String])
      : Map[String, (Long, Long)] = {
    if (cols.isEmpty) return Map.empty
    val got = distinctCounts(df, cols).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    cols.zipWithIndex.map { case (c, i) =>
      c -> got.getOrElse(i, (0L, 0L))
    }.toMap
  }

  /** (col_idx, cnt, dis) rows of [[exactDistinctPerCol]]; columns with
    * no non-null value have no row. */
  private[graft] def distinctCounts(df: DataFrame, cols: Seq[String])
      : DataFrame =
    longForm(df, slotted(df, cols)).groupBy("col_idx")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("v")).as("dis"))

  /** The exact profile's pass B over the [[longForm]] of the
    * double-cast columns: per col_idx, the exact [[Ps]] percentiles
    * ([[graft.functions.ExactPercentile]], column "qe") and, with
    * `gridPs`, the Spearman grid cuts (percentile_approx at 2500,
    * "sg"), all in ONE groupBy(col_idx) whatever the column count.
    * Each task's partial buffer for a column holds what the wide
    * single-row agg's did (the column's values in row order), and the
    * final merges run in parallel across the hash-partitioned col_idx
    * keys instead of one single-task merge per job. */
  private[graft] def quantilesFrame(df: DataFrame, cols: Seq[String],
      gridPs: Option[Seq[Double]]): DataFrame = {
    val v = col("v")
    val grid = gridPs.map(ps =>
      percentile_approx(v, typedLit(ps), lit(2500)).as("sg")).toSeq
    longForm(df, cols.map(d)).groupBy(col("col_idx"))
      .agg(graft.functions.ExactPercentile.pctl(v, Ps).as("qe"), grid: _*)
  }

  // -------------------------------------------------------------------
  // Counts / missing (C1, C3, T1) — one pass over all columns.
  // -------------------------------------------------------------------
  def counts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +:
      cols.map(c => count(col(c)).as(s"cnt__$c"))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      val n = col("__n"); val cnt = col(s"cnt__$c")
      struct(
        lit(c).as("col_name"),
        cnt.as("cnt"),
        (n - cnt).as("n_missing"),
        sig5(ratio(n - cnt, n)).as("p_missing"))
    }
    tidy(row, structs)
  }

  // -------------------------------------------------------------------
  // Distinct / uniqueness (C2, C4) — exact via count(distinct); the
  // scale path (Profiler) uses approx_count_distinct (HLL++) instead.
  // -------------------------------------------------------------------
  def distinct(df: DataFrame, cols: Seq[String], approx: Boolean = false)
      : DataFrame = {
    if (!approx) {
      // one grouped single-distinct agg over the long form (no
      // Expand — see exactDistinctPerCol); the derived stats are
      // computed by the SAME Column expressions as before, over a
      // local (c, cnt, dis) relation, so every value is identical
      val m = exactDistinctPerCol(df, cols)
      val spark = df.sparkSession
      import spark.implicits._
      val base = cols.map(c => (c, m(c)._1, m(c)._2))
        .toDF("col_name", "cnt", "dis")
      return base.select(
        col("col_name"),
        col("dis").as("distinct_cnt"),
        sig5(ratio(col("dis"), col("cnt"))).as("p_unique"),
        when(col("dis") === col("cnt"), 1L).otherwise(0L)
          .as("is_unique"))
        .orderBy("col_name")
    }
    val aggs = cols.flatMap { c =>
      val oc = orderable(df, c)
      Seq(count(col(c)).as(s"cnt__$c"),
        approx_count_distinct(oc).as(s"dis__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      val cnt = col(s"cnt__$c"); val dis = col(s"dis__$c")
      struct(
        lit(c).as("col_name"),
        dis.as("distinct_cnt"),
        sig5(ratio(dis, cnt)).as("p_unique"),
        when(dis === cnt, 1L).otherwise(0L).as("is_unique"))
    }
    tidy(row, structs)
  }

  // -------------------------------------------------------------------
  // Type inference (C5, U1, U2): dtype bucket + CONST/UNIQUE overrides.
  // -------------------------------------------------------------------
  def kinds(df: DataFrame, cols: Seq[String]): DataFrame = {
    // one grouped single-distinct agg over the long form (no Expand
    // — see exactDistinctPerCol). The CONST/UNIQUE overrides are exact
    // integer comparisons on the same (cnt, dis) longs the fused agg
    // produced, so the kinds are identical.
    val m = exactDistinctPerCol(df, cols)
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val spark = df.sparkSession
    import spark.implicits._
    cols.map { c =>
      val (cnt, dis) = m(c)
      (c, Kinds.kind(Kinds.baseKind(byName(c)), cnt, dis))
    }.toDF("col_name", "kind").orderBy("col_name")
  }

  // -------------------------------------------------------------------
  // Numeric moments (N1–N6): ONE fused agg for every numeric column
  // (vs the reference's one eager agg per column).
  // -------------------------------------------------------------------
  // Two passes of simple codegen'd sums instead of one pass of k×9
  // built-in moment aggregates: skewness/kurtosis DeclarativeAggregates
  // carry 5–6 buffer fields each, and at 8 columns the generated update
  // method passes the 64 KB JVM limit → whole-stage codegen falls back
  // to interpreted eval (observed 8.5 s vs ~0.7 s at sf0.1). The
  // two-pass central-moment form (mean first, then Σ(x−μ)^{2,3,4}) is
  // also numerically stable at any scale and matches the oracle's
  // two-pass SQL formula. The moments are the profile's own
  // [[momentsFromSums]] (pass A2), rounded on the driver by
  // [[graft.det.Sig.sig5Col]], the scalar twin of the in-plan sig5.
  def moments(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs1 = cols.flatMap { c =>
      Seq(count(d(c)).as(s"n__$c"), avg(d(c)).as(s"mean__$c"),
        min(d(c)).as(s"min__$c"), max(d(c)).as(s"max__$c"),
        sum(d(c)).as(s"sum__$c"))
    }
    val first = df.agg(aggs1.head, aggs1.tail: _*).first()
    def v(name: String): Option[Double] =
      Option(first.getAs[Any](name)).map(_.asInstanceOf[Double])
    val withMu = cols.flatMap(c => v(s"mean__$c").map(c -> _))
    val sums =
      if (withMu.isEmpty) Map.empty[String, Any]
      else chunkedAgg(df, centralSumAggs(withMu), 600)
    val spark = df.sparkSession
    import spark.implicits._
    val r5 = graft.det.Sig.sig5Col _
    cols.map { c =>
      val n = first.getAs[Long](s"n__$c")
      val m = sums.get(s"s2__$c").fold(Map.empty[String, Double]) { s2 =>
        val s = s2.asInstanceOf[Double]
        def sN(k: Int) = sums(s"s${k}__$c").asInstanceOf[Double]
        // Spark orders NaN above every double, so the SQL form's
        // `m2 > 0` guard passed NaN through to skewness and kurtosis
        momentsFromSums(n, s, sN(3), sN(4)) ++ (if (s.isNaN)
          Map("sk" -> Double.NaN, "ku" -> Double.NaN) else Map.empty)
      }
      (c, n, v(s"mean__$c").map(r5), v(s"min__$c"), v(s"max__$c"),
        v(s"sum__$c").map(r5), m.get("var").map(r5), m.get("sd").map(r5),
        m.get("sk").map(r5), m.get("ku").map(r5))
    }.toDF("col_name", "n", "mean", "min_val", "max_val", "sum_val",
      "variance", "stddev", "skewness", "kurtosis").orderBy("col_name")
  }

  // -------------------------------------------------------------------
  // Quantiles (Q1/Q2): all columns' 5 percentiles in ONE agg. Exact
  // (Hive-style linear interpolation ≙ DuckDB quantile_cont) for oracle
  // parity; percentile_approx behind the Profiler config for scale.
  // -------------------------------------------------------------------
  val Ps: Seq[Double] = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
  private val pNames = Seq("p05", "q1", "median", "q3", "p95")

  def quantiles(df: DataFrame, cols: Seq[String], approx: Boolean = false)
      : DataFrame =
    quantilesPerCol(df, cols.map(c => c -> approx))

  /** Per-dtype dispatch (upstream describe_integer_1d vs
    * describe_float_1d): integral columns through exact `percentile`,
    * fractional ones through the bounded-memory GK sketch — still ONE
    * fused agg for all columns. */
  def quantilesByDtype(df: DataFrame, cols: Seq[String]): DataFrame =
    quantilesPerCol(df,
      cols.map(c => c -> !Kinds.isIntegral(df.schema(c).dataType)))

  /** Per-GROUP exact quantiles — the grouped twin of [[quantiles]]
    * ("the P95 length per language", the slice a single-table
    * profile can't answer). ONE fused grouped aggregation carries
    * every column's percentile array; output is long-form per
    * (group, column). Scale shape: the one groupBy shuffle on the
    * group key; exact `percentile` state is per (group, col) — use
    * the approx form via [[quantiles]]' GK dispatch when group
    * cardinality × column count makes exact state too large. */
  def groupedQuantiles(df: DataFrame, groupCol: String,
      cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c =>
      graft.functions.ExactPercentile.pctl(d(c), Ps).as(s"q__$c"))
    val row = df.groupBy(col(groupCol).as("grp"))
      .agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct((lit(c).as("col_name") +:
        pNames.zipWithIndex.map { case (nm, i) =>
          sig5(element_at(col(s"q__$c"), i + 1)).as(nm)
        }): _*)
    }
    row.select(col("grp"), explode(array(structs: _*)).as("s"))
      .select(col("grp").as(groupCol), col("s.*"))
      .orderBy(col(groupCol), col("col_name"))
  }

  /** GK-PER-GROUP escape for [[groupedQuantiles]]: exact grouped
    * `percentile` holds O(distinct values) of state per (group, col)
    * — the routed form runs percentile_approx inside the grouped agg
    * (state bounded by `accuracy` per cell) and declares the
    * per-(group, column, percentile) rank CONTRACT, checked against
    * exact ranks counted in ONE second grouped pass. The per-group
    * approx arrays travel as a PREMISE FRAME joined back on the
    * group key — one row per group, produced by the groupBy's own
    * exchange and broadcast by AQE when small — never as driver
    * literals: the r14 form compiled a groups × cols × 5 CASE chain
    * into one expression tree, fine for a bounded facet but a
    * driver-state scale killer on per-domain or per-user keys
    * (measured at 1M groups, BASELINE.md round 15). Oracle:
    * all-true rows per (group, col, percentile) — scale-invariant,
    * while a sketch regression still fails the compare. */
  def groupedQuantilesRouted(df: DataFrame, groupCol: String,
      cols: Seq[String], accuracy: Int = 10000): DataFrame = {
    val arr = Ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val qAggs = cols.map(c =>
      expr(s"percentile_approx(cast(`$c` as double), $arr, $accuracy)")
        .as(s"q__$c"))
    val g = col(groupCol).cast("string")
    // premise: one row per group carrying every column's approx
    // quantile array — stays on the executors at any cardinality
    val premise = df.groupBy(g.as("grp_p"))
      .agg(qAggs.head, qAggs.tail: _*)
    val base = df.select(
      (g.as("grp") +: cols.map(c => d(c).as(s"v__$c"))): _*)
    // null-safe equi-join: a NULL group key is a group like any other
    val joined = base.join(premise, col("grp") <=> col("grp_p"))
    // second grouped pass: exact lo/hi ranks against the joined
    // premise (constant within each group, so min/max read it back)
    val cntAggs = cols.flatMap { c =>
      count(col(s"v__$c")).as(s"n__$c") +: Ps.indices.flatMap { i =>
        val avc = element_at(col(s"q__$c"), i + 1)
        Seq(max(avc.isNotNull).as(s"has__${c}__$i"),
          coalesce(sum(when(col(s"v__$c") < avc, 1L)), lit(0L))
            .as(s"lo__${c}__$i"),
          coalesce(sum(when(col(s"v__$c") <= avc, 1L)), lit(0L))
            .as(s"hi__${c}__$i"))
      }
    }
    val cnts = joined.groupBy("grp").agg(cntAggs.head, cntAggs.tail: _*)
    val structs = cols.flatMap { c =>
      val n = col(s"n__$c")
      val margin = n.cast("double") / accuracy + lit(1.0)
      Ps.zip(pNames).zipWithIndex.map { case ((p, nm), i) =>
        val target = lit(p) * n.cast("double")
        val ok = when(!col(s"has__${c}__$i"), n === 0L)
          .otherwise(
            (col(s"lo__${c}__$i") + lit(1L)).cast("double") <=
              target + margin &&
            col(s"hi__${c}__$i").cast("double") >= target - margin)
        struct(lit(c).as("col_name"), lit(nm).as("p_name"),
          ok.as("within_bound"))
      }
    }
    cnts.select(col("grp"), explode(array(structs: _*)).as("s"))
      .select(col("grp").as(groupCol), col("s.col_name"),
        col("s.p_name"), col("s.within_bound"))
      .orderBy(groupCol, "col_name", "p_name")
  }

  private def quantilesPerCol(df: DataFrame,
      colApprox: Seq[(String, Boolean)]): DataFrame = {
    val arr = Ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val aggs = colApprox.map { case (c, approx) =>
      if (approx)
        expr(s"percentile_approx(cast(`$c` as double), $arr, 10000)")
          .as(s"q__$c")
      else // r16: primitive buffer, value-identical (ExactPercentile)
        graft.functions.ExactPercentile.pctl(d(c), Ps).as(s"q__$c")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = colApprox.map { case (c, _) =>
      val fields = pNames.zipWithIndex.map { case (nm, i) =>
        sig5(element_at(col(s"q__$c"), i + 1)).as(nm)
      }
      struct(lit(c).as("col_name") +: fields: _*)
    }
    tidy(row, structs)
  }

  /** Rank-contract check for the approx path: percentile_approx's GK
    * sketch guarantees the returned element's rank is within ±n/
    * accuracy of the target rank. The approx VALUE depends on merge
    * order (partitioning), so it cannot be oracle-compared — but the
    * CONTRACT can: emit (col_name, p_name, within_bound) where the
    * bound is checked against exact ranks counted in a second pass;
    * the oracle simply expects every row to be true. A sketch
    * regression (or a mis-wired accuracy) breaks the booleans and
    * fails the hash-compare. */
  def quantileRankCheck(df: DataFrame, cols: Seq[String],
      accuracy: Int = 10000): DataFrame =
    quantileRankCheckPerCol(df, cols.map(c => c -> Some(accuracy)))

  /** SCALE-ROUTED quantile dispatch — the escape hatch for
    * [[quantilesByDtype]]'s exact-int path: exact `percentile` keeps
    * O(distinct values) of state per column, fine for enum-like ints
    * but unbounded for key-like ones. The router measures each
    * column's approximate distinct count in ONE cheap pre-agg
    * (HLL — order-independent, deterministic) and keeps exact
    * percentile only for integral columns whose value-domain state
    * stays under `maxDomain`; everything else takes the
    * bounded-memory GK sketch. Because GK values are merge-order
    * dependent, the DECLARED output is the rank CONTRACT
    * (col_name, p_name, within_bound): exact columns must land
    * within rank margin 1 (interpolation), GK ones within
    * n/accuracy + 1 — the oracle (all-true rows) is scale-invariant
    * while a sketch or dispatch regression still fails the compare. */
  def quantilesRouted(df: DataFrame, cols: Seq[String],
      maxDomain: Long = 65536L, accuracy: Int = 10000): DataFrame = {
    val acdAggs = cols.map(c =>
      approx_count_distinct(col(c)).as(s"acd__$c"))
    val acd = df.agg(acdAggs.head, acdAggs.tail: _*).first()
    quantileRankCheckPerCol(df, cols.map { c =>
      val exact = Kinds.isIntegral(df.schema(c).dataType) &&
        acd.getAs[Long](s"acd__$c") <= maxDomain
      c -> (if (exact) None else Some(accuracy))
    })
  }

  /** The [[quantileRankCheck]] machinery generalized to a per-column
    * path choice: `None` = exact `percentile` — checked against the
    * rank it actually interpolates at, p·(n−1)+1 (NOT p·n: the two
    * differ by up to 1−p, enough that a fully-distinct column fails a
    * p·n-anchored bound on correct data), with margin 1 since the
    * interpolated value sits between the ranks bracketing that
    * position; `Some(acc)` = GK against target p·n, margin n/acc + 1. */
  private def quantileRankCheckPerCol(df: DataFrame,
      colAcc: Seq[(String, Option[Int])]): DataFrame = {
    val arr = Ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val cols = colAcc.map(_._1)
    val accOf = colAcc.toMap
    val qAggs = colAcc.map { case (c, acc) =>
      acc match {
        case Some(a) =>
          expr(s"percentile_approx(cast(`$c` as double), $arr, $a)")
            .as(s"q__$c")
        case None =>
          graft.functions.ExactPercentile.pctl(d(c), Ps).as(s"q__$c")
      }
    }
    val qRow = df.agg(qAggs.head, qAggs.tail: _*).first()
    val approxVals: Map[String, Seq[Option[Double]]] = cols.map { c =>
      val v = qRow.getAs[scala.collection.Seq[Any]](s"q__$c")
      c -> (if (v == null) Ps.map(_ => None)
            else v.map(Option(_).map(_.asInstanceOf[Double])).toSeq)
    }.toMap
    val cntAggs = cols.flatMap { c =>
      count(d(c)).as(s"n__$c") +: Ps.indices.flatMap { i =>
        approxVals(c)(i) match {
          case None => Seq.empty
          case Some(a) => Seq(
            coalesce(sum(when(d(c) < a, 1L)), lit(0L)).as(s"lo__${c}__$i"),
            coalesce(sum(when(d(c) <= a, 1L)), lit(0L)).as(s"hi__${c}__$i"))
        }
      }
    }
    val r = df.agg(cntAggs.head, cntAggs.tail: _*).first()
    val spark = df.sparkSession
    import spark.implicits._
    cols.flatMap { c =>
      val n = r.getAs[Long](s"n__$c")
      Ps.zip(pNames).zipWithIndex.map { case ((p, nm), i) =>
        val ok = approxVals(c)(i) match {
          case None => n == 0 // no value only legal on an empty column
          case Some(_) =>
            val lo = r.getAs[Long](s"lo__${c}__$i")
            val hi = r.getAs[Long](s"hi__${c}__$i")
            val (target, margin) = accOf(c) match {
              case Some(a) => (p * n, n.toDouble / a + 1.0)
              // exact percentile interpolates at rank p·(n−1)+1
              case None => (p * (n - 1) + 1.0, 1.0)
            }
            lo + 1 <= target + margin && hi >= target - margin
        }
        (c, nm, ok)
      }
    }.toDF("col_name", "p_name", "within_bound")
      .orderBy("col_name", "p_name")
  }

  /** Distinct-sketch error contracts — the sketch-distinct twin of
    * [[quantileRankCheck]]: the exact per-column distinct count is the
    * premise, and the query emits whether each sketch's estimate lands
    * inside `marginSds` standard deviations of it (+1 absolute slack
    * for tiny counts): HLL++ at the default 5% rsd
    * (approx_count_distinct, as [[distinct]] uses with `approx`) and
    * the KMV bottom-k sketch at k=1024 (the fused profiler's
    * deterministic path, exact below k). Both sketches are
    * order-independent for fixed data (HLL registers are max-merged,
    * the bottom-k set is a pure set property), so the booleans are
    * stable across partitionings and cluster sizes — the oracle
    * expects every row true. A mis-wired rsd/k or a sketch regression
    * flips a boolean and fails the hash compare. */
  def distinctSketchCheck(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.05, kmvK: Int = 1024, marginSds: Double = 4.0)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // exact countDistinct as one grouped single-distinct agg over the
    // long form (no Expand — see exactDistinctPerCol); the sketches
    // fuse in one Expand-free scan (declarative HLL + imperative KMV
    // mix fine under ObjectHashAggregate), order-independent →
    // parallelized()
    val exactPerCol = exactDistinctPerCol(df, cols)
    val exacts: Map[String, Any] = exactPerCol.map {
      case (c, (_, dis)) => s"ex__$c" -> (dis: Any)
    }
    val sketches = chunkedAgg(parallelized(df), cols.flatMap { c =>
      val oc = orderable(df, c)
      Seq(approx_count_distinct(oc, rsd).as(s"hll__$c"),
        graft.functions.MultiSketch.sketch(lit(null).cast("double"),
          when(oc.isNotNull, xxhash64(oc)), k = kmvK, ps = Nil)
          .as(s"kmv__$c"))
    }, chunk = 300)
    cols.map { c =>
      val ex = exacts(s"ex__$c").asInstanceOf[Long]
      val hll = sketches(s"hll__$c").asInstanceOf[Long]
      val kmv = sketches(s"kmv__$c")
        .asInstanceOf[org.apache.spark.sql.Row].getAs[Long]("dis")
      def ok(est: Long, sd: Double): Boolean =
        math.abs(est - ex) <= marginSds * sd * ex + 1
      (c, ok(hll, rsd), ok(kmv, 1.0 / math.sqrt(kmvK.toDouble)))
    }.toDF("col_name", "hll_within_bound", "kmv_within_bound")
      .orderBy("col_name")
  }

  // -------------------------------------------------------------------
  // Derived stats (D1–D3): range / IQR / CV — fused with the aggs they
  // derive from, one pass.
  // -------------------------------------------------------------------
  def derived(df: DataFrame, cols: Seq[String], approx: Boolean = false)
      : DataFrame = {
    // one percentile agg per column (array percentage) — halves the
    // exact-percentile buffering vs separate q1/q3 aggregates. The
    // `approx` switch mirrors `quantiles`: exact Hive percentile
    // buffers every value per partition (ObjectHashAggregate) — a
    // driver-OOM class at 100 TB — so the scale path uses the GK
    // sketch (bounded memory) for the IQR inputs.
    val aggs = cols.flatMap { c =>
      val qe =
        if (approx)
          expr(s"percentile_approx(cast(`$c` as double), " +
            "array(0.25D, 0.75D), 10000)")
        else graft.functions.ExactPercentile.pctl(d(c), Seq(0.25, 0.75))
      Seq(min(d(c)).as(s"min__$c"), max(d(c)).as(s"max__$c"),
        avg(d(c)).as(s"mean__$c"), stddev_samp(d(c)).as(s"sd__$c"),
        qe.as(s"q__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        (col(s"max__$c") - col(s"min__$c")).as("range_val"),
        sig5(element_at(col(s"q__$c"), 2) - element_at(col(s"q__$c"), 1))
          .as("iqr"),
        sig5(when(col(s"mean__$c") =!= 0.0,
          col(s"sd__$c") / col(s"mean__$c"))).as("cv"))
    }
    tidy(row, structs)
  }

  // -------------------------------------------------------------------
  // Tukey-fence outlier counts — the anomaly flag a profiler raises
  // next to the IQR (not in the reference, which stops at the IQR
  // itself). Two passes: one fused quantile agg for all columns, then
  // one fused conditional-count agg against the (rounded) fences.
  // -------------------------------------------------------------------

  /** Per column: q1/q3, the Tukey fences q1−k·IQR / q3+k·IQR, and how
    * many non-null values fall strictly outside them. The fences are
    * sig5-rounded BEFORE counting, so the count predicate compares
    * against the same literal doubles on any engine (the engine
    * contract: discrete decisions — here, a row being an outlier —
    * are made on rounded values). `approx` mirrors `derived`: the GK
    * sketch replaces exact percentile for the 100 TB path. */
  /** Missingness association (the missingno/pandas-profiling-2.x
    * nullity-correlation matrix): φ coefficient between the NULL
    * indicators of every column pair — +1 means the two columns are
    * always missing together, −1 never together, 0 independent. The
    * signal that separates "random sensor dropouts" from "one broken
    * upstream join nulled both fields on the same rows".
    *
    * One aggregation for ALL pairs: per pair, four conditional
    * counts (n11/n10/n01/n00 from two scans' worth of expressions in
    * one pass — map-side combinable), then φ = (n11·n00 − n10·n01) /
    * √(r1·r0·c1·c0) from exact integers. Pairs where either column
    * is never (or always) null have an undefined φ → NULL. */
  def nullAssociation(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = corrPairs(cols)
    // O(k²) pair sums — CHUNKED like corrMatrix (a 100-column table
    // is ~15k aggregate expressions; one Aggregate plan would blow
    // analysis/codegen), then φ assembled from the exact integers
    // driver-side with the same IEEE ops the oracle writes
    val aggs = count(lit(1)).as("__n") +: pairs.zipWithIndex.flatMap {
      case ((a, b), i) =>
        val na = col(a).isNull
        val nb = col(b).isNull
        Seq(
          sum(when(na && nb, 1L).otherwise(0L)).as(s"b11__$i"),
          sum(when(na && !nb, 1L).otherwise(0L)).as(s"b10__$i"),
          sum(when(!na && nb, 1L).otherwise(0L)).as(s"b01__$i"))
    }
    val m = chunkedAgg(df, aggs, 600)
    val nL = m("__n").asInstanceOf[Long]
    val spark = df.sparkSession
    val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
      val b11 = m(s"b11__$i").asInstanceOf[Long]
      val b10 = m(s"b10__$i").asInstanceOf[Long]
      val b01 = m(s"b01__$i").asInstanceOf[Long]
      val n = nL.toDouble
      val n11 = b11.toDouble; val n10 = b10.toDouble
      val n01 = b01.toDouble
      val n00 = n - n11 - n10 - n01
      val r1 = n11 + n10; val r0 = n01 + n00
      val c1 = n11 + n01; val c0 = n10 + n00
      val denom = math.sqrt(r1 * r0 * c1 * c0)
      val phi =
        if (denom > 0.0)
          Double.box(graft.det.Sig.sig5(
            (n11 * n00 - n10 * n01) / denom))
        else null
      Row(a, b, b11, b11 + b10, b11 + b01, phi)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("col_a", StringType, nullable = false),
        StructField("col_b", StringType, nullable = false),
        StructField("n_both_null", LongType, nullable = false),
        StructField("n_a_null", LongType, nullable = false),
        StructField("n_b_null", LongType, nullable = false),
        StructField("phi", DoubleType))))
      .orderBy("col_a", "col_b")
  }

  /** Trimmed & winsorized statistics — the outlier-ROBUST location/
    * scale pair the plain mean/std lack (a handful of corrupt values
    * in a 100 TB column otherwise own the mean): fences at the
    * p05/p95 percentiles (sig5-rounded BEFORE use, the num_outliers
    * discrete-decision contract), then one conditional aggregation —
    * trimmed mean averages the in-fence rows, winsorized mean/std
    * clamp instead of dropping. Two scans total for ALL columns
    * (fence premise + stats), map-side combinable. */
  def trimmed(df: DataFrame, cols: Seq[String], pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    val qAggs = cols.map { c =>
      graft.functions.ExactPercentile.pctl(d(c), Seq(pLo, pHi))
        .as(s"q__$c")
    }
    val fenceRow = df.agg(qAggs.head, qAggs.tail: _*).select(
      cols.flatMap { c =>
        Seq(sig5(element_at(col(s"q__$c"), 1)).as(s"lo__$c"),
          sig5(element_at(col(s"q__$c"), 2)).as(s"hi__$c"))
      }: _*).first()
    def f(name: String, c: String): Option[Double] = {
      val i = fenceRow.fieldIndex(s"${name}__$c")
      if (fenceRow.isNullAt(i)) None else Some(fenceRow.getDouble(i))
    }
    val aggs = cols.flatMap { c =>
      (f("lo", c), f("hi", c)) match {
        case (Some(lo), Some(hi)) =>
          val in = d(c) >= lo && d(c) <= hi
          val clamped = least(greatest(d(c), lit(lo)), lit(hi))
          Seq(
            sum(when(in, 1L).otherwise(0L)).as(s"nk__$c"),
            avg(when(in, d(c))).as(s"tm__$c"),
            avg(clamped).as(s"wm__$c"),
            stddev_samp(clamped).as(s"ws__$c"))
        case _ => Seq(
          max(lit(null).cast("long")).as(s"nk__$c"),
          max(lit(null).cast("double")).as(s"tm__$c"),
          max(lit(null).cast("double")).as(s"wm__$c"),
          max(lit(null).cast("double")).as(s"ws__$c"))
      }
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"nk__$c").as("n_kept"),
        lit(f("lo", c).map(Double.box).orNull).cast("double")
          .as("fence_lo"),
        lit(f("hi", c).map(Double.box).orNull).cast("double")
          .as("fence_hi"),
        sig5(col(s"tm__$c")).as("trimmed_mean"),
        sig5(col(s"wm__$c")).as("winsor_mean"),
        sig5(col(s"ws__$c")).as("winsor_std"))
    }
    tidy(row, structs)
  }

  def outliers(df: DataFrame, cols: Seq[String], k: Double = 1.5,
      approx: Boolean = false): DataFrame = {
    val qAggs = cols.map { c =>
      if (approx)
        expr(s"percentile_approx(cast(`$c` as double), " +
          "array(0.25D, 0.75D), 10000)").as(s"q__$c")
      else
        graft.functions.ExactPercentile.pctl(d(c), Seq(0.25, 0.75))
          .as(s"q__$c")
    }
    val fenceRow = df.agg(qAggs.head, qAggs.tail: _*).select(
      cols.flatMap { c =>
        val q1 = element_at(col(s"q__$c"), 1)
        val q3 = element_at(col(s"q__$c"), 2)
        val iqr = q3 - q1
        Seq(sig5(q1).as(s"q1__$c"), sig5(q3).as(s"q3__$c"),
          sig5(q1 - lit(k) * iqr).as(s"lo__$c"),
          sig5(q3 + lit(k) * iqr).as(s"hi__$c"))
      }: _*).first()
    // an all-null / empty column yields NULL quantiles; read the
    // fences as Options so null never unboxes to 0.0 and fabricates a
    // fence at the origin — the NULL propagates to every derived field
    // instead (mirrors mad()'s lazy null handling)
    def f(name: String, c: String): Option[Double] = {
      val i = fenceRow.fieldIndex(s"${name}__$c")
      if (fenceRow.isNullAt(i)) None else Some(fenceRow.getDouble(i))
    }
    val cntAggs = cols.flatMap { c =>
      count(d(c)).as(s"n__$c") +: ((f("lo", c), f("hi", c)) match {
        case (Some(lo), Some(hi)) =>
          Seq(sum(when(d(c) < lo, 1L).otherwise(0L)).as(s"nb__$c"),
            sum(when(d(c) > hi, 1L).otherwise(0L)).as(s"na__$c"))
        case _ =>
          Seq(max(lit(null).cast("long")).as(s"nb__$c"),
            max(lit(null).cast("long")).as(s"na__$c"))
      })
    }
    val row = df.agg(cntAggs.head, cntAggs.tail: _*)
    def fl(name: String, c: String) =
      f(name, c).map(v => lit(v)).getOrElse(lit(null).cast("double"))
    val structs = cols.map { c =>
      struct(lit(c).as("col_name"),
        fl("q1", c).as("q1"), fl("q3", c).as("q3"),
        fl("lo", c).as("fence_lo"), fl("hi", c).as("fence_hi"),
        col(s"nb__$c").as("n_below"), col(s"na__$c").as("n_above"),
        sig5((col(s"nb__$c") + col(s"na__$c")).cast("double") /
          col(s"n__$c")).as("p_outlier"))
    }
    tidy(row, structs)
  }

  // -------------------------------------------------------------------
  // MAD (D4): mean absolute deviation around the mean (pandas-1.x
  // `.mad()` semantics, base.py::describe_numeric_1d ≈L172–178).
  // Two passes: means for all columns, then one fused |x−μ| agg.
  // -------------------------------------------------------------------
  def mad(df: DataFrame, cols: Seq[String]): DataFrame = {
    val meanAggs = cols.map(c => avg(d(c)).as(c))
    val means = df.agg(meanAggs.head, meanAggs.tail: _*).first()
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      if (means.isNullAt(i)) lit(null).cast("double").as(s"mad__$c")
      else avg(abs(d(c) - lit(means.getDouble(i)))).as(s"mad__$c")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("col_name"), sig5(col(s"mad__$c")).as("mad"))
    }
    tidy(row, structs)
  }

  // -------------------------------------------------------------------
  // Zeros (Z1) — fused into one pass for all numeric columns.
  // -------------------------------------------------------------------
  def zeros(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(d(c)).as(s"cnt__$c"),
        coalesce(sum(when(d(c) === 0.0, 1L).otherwise(0L)), lit(0L))
          .as(s"z__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col(s"z__$c").as("n_zeros"),
        sig5(ratio(col(s"z__$c"), col(s"cnt__$c"))).as("p_zeros"))
    }
    tidy(row, structs)
  }

  // -------------------------------------------------------------------
  // Histogram (H1): `bins` equal-width buckets on [min,max], max
  // clamped into the top bin (base.py::create_hist_data ≈L62–115).
  // Pass 1: fused min/max; pass 2: per-row bin array explode + ONE
  // groupBy — a single scan + single shuffle for all columns.
  // -------------------------------------------------------------------
  /** Equi-DEPTH histogram: `bins` buckets holding ~equal row counts,
    * bounded by the exact interpolated percentiles — the histogram
    * form that stays readable under heavy skew, where the equi-width
    * [[histogram]] collapses most rows into one bar (and the bucket
    * shape databases keep as optimizer statistics).
    *
    * Scale shape: one exact-percentile aggregation for the bin edges
    * (the [[quantiles]] pass; `percentile_approx` is the documented
    * 100 TB switch, same as everywhere else), then ONE conditional
    * pass — bin(v) = #edges ≤ v via bins−1 inline comparisons against
    * the broadcast 1-row edge frame, no shuffle of the data beyond
    * the tiny groupBy. Emits (bin, cnt, lo, hi) with lo/hi the
    * actual bin extremes (raw data values — exact both engines).
    *
    * Determinism: edges are sig5-ROUNDED before the comparisons
    * (engine contract: discrete decisions compare rounded values),
    * so a cross-engine edge ulp cannot move a row across bins; ties
    * AT an edge go to the right bucket in both engines. Empty
    * buckets (possible under heavy ties) are omitted — identically,
    * since both engines derive them from the same rounded edges. */
  def eqDepthHistogram(df: DataFrame, c: String, bins: Int = 10)
      : DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val probs = (1 until bins).map(_.toDouble / bins)
    // NaN is excluded alongside NULL in BOTH passes (and in the
    // oracle): the engines order NaN oppositely — Spark bins it to
    // bin 0 (NaN >= edge is false), DuckDB sorts it greatest, i.e.
    // the top bin — so a float column with NaNs would diverge; the
    // same guard the equi-width histogram's bounds pass applies.
    val edges = df.agg(
      graft.functions.ExactPercentile.pctl(
        when(!isnan(d(c)), d(c)), probs).as("es"))
    val binExpr = (1 until bins).map(i =>
      when(d(c) >= sig5(element_at(col("es"), i)), 1L).otherwise(0L))
      .reduce(_ + _)
    df.where(col(c).isNotNull && !isnan(d(c)))
      .crossJoin(broadcast(edges))
      .select(binExpr.as("bin"), d(c).as("v"))
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"), min("v").as("lo"),
        max("v").as("hi"))
      .orderBy("bin")
  }

  def histogram(df: DataFrame, cols: Seq[String], bins: Int = 10)
      : DataFrame = {
    // exclude NaN from the bounds: max() treats NaN as greatest, and
    // a NaN bound makes the bin width NaN → floor(NaN) = 0 would
    // silently collapse every row into bin 0
    val mmAggs = cols.flatMap { c =>
      val finite = when(!isnan(d(c)), d(c))
      Seq(min(finite).as(s"mn__$c"), max(finite).as(s"mx__$c"))
    }
    val mm = df.agg(mmAggs.head, mmAggs.tail: _*).first()
    val mnMap = cols.zipWithIndex.map { case (c, i) =>
      c -> (if (mm.isNullAt(2 * i)) Double.NaN else mm.getDouble(2 * i))
    }.toMap
    val mxMap = cols.zipWithIndex.map { case (c, i) =>
      c -> (if (mm.isNullAt(2 * i + 1)) Double.NaN
            else mm.getDouble(2 * i + 1))
    }.toMap
    histogramWithBounds(df, cols, bins, mnMap, mxMap)
  }

  /** Histogram with already-known per-column bounds (Profiler reuses
    * pass A's min/max so the whole profile stays at a fixed job
    * count — no redundant scan): the [[histogramCounts]] long-form
    * counts joined onto the [[histogramBins]] grid (≤ k·bins rows). */
  def histogramWithBounds(df: DataFrame, cols: Seq[String], bins: Int,
      mnMap: Map[String, Double], mxMap: Map[String, Double])
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = histogramBins(cols, bins, mnMap, mxMap)
      .toDF("col_idx", "col_name", "bin", "bin_lo", "bin_hi",
        "__keep_empty")
    grid.join(histogramCounts(df, cols, bins, mnMap, mxMap),
      Seq("col_idx", "bin"), "left")
      .select(col("col_name"), col("bin"),
        coalesce(col("cnt"), lit(0L)).as("cnt"), col("bin_lo"),
        col("bin_hi"), col("__keep_empty"))
      .where(col("cnt") > 0 || col("__keep_empty"))
      .drop("__keep_empty")
      .orderBy("col_name", "bin")
  }

  /** The histogram grid: (col_idx, col_name, bin, bin_lo, bin_hi,
    * keep_empty) for every column and bucket. Upstream's
    * create_hist_data (≈L62–115) emits ALL `bins` buckets including
    * empty ones; keep that parity whenever the bounds are well-formed.
    * Degenerate columns (all-null/all-NaN → NaN bounds, or min==max →
    * zero width) have no meaningful edges, so only their non-empty
    * buckets are kept (keep_empty false). */
  private[graft] def histogramBins(cols: Seq[String], bins: Int,
      mnMap: Map[String, Double], mxMap: Map[String, Double])
      : Seq[(Int, String, Long, Double, Double, Boolean)] =
    cols.zipWithIndex.flatMap { case (c, i) =>
      val mn = mnMap(c)
      val w = (mxMap(c) - mn) / bins.toDouble
      val wellFormed = !mn.isNaN && w > 0
      (0 until bins).map { b =>
        (i, c, b.toLong, mn + b.toDouble * w, mn + (b + 1).toDouble * w,
          wellFormed)
      }
    }

  /** Non-empty (col_idx, bin, cnt) histogram cells: the [[longForm]]
    * of the double-cast columns, each non-NaN value binned as
    * floor((v − mn)/w) capped at bins−1 (bin 0 when the bounds are
    * degenerate), then ONE groupBy(col_idx, bin) count. The per-column
    * bounds ride as array literals indexed by col_idx, so the
    * generated code depends on neither the column count nor the
    * data. */
  private[graft] def histogramCounts(df: DataFrame, cols: Seq[String],
      bins: Int, mnMap: Map[String, Double], mxMap: Map[String, Double])
      : DataFrame = {
    val mns = cols.map(mnMap)
    val ws = cols.map(c => (mxMap(c) - mnMap(c)) / bins.toDouble)
    val degenerate = cols.map(c => mnMap(c).isNaN || mnMap(c) == mxMap(c))
    val i = col("col_idx")
    val v = col("v")
    val bin = when(typedLit(degenerate).getItem(i), lit(0L)).otherwise(
      least(floor((v - typedLit(mns).getItem(i)) / typedLit(ws).getItem(i)),
        lit(bins - 1L)))
    longForm(df, cols.map(d)).where(!isnan(v))
      .groupBy(i, bin.as("bin")).agg(count(lit(1)).as("cnt"))
  }

  /** String-pattern (mask) profile: each value mapped to its
    * character-class mask (digits → 9, lowercase → a, uppercase → A,
    * everything else verbatim), then the top-k masks per column —
    * the "what SHAPES live in this column" view that catches a stray
    * free-text row in an id column or a second phone format long
    * before a regex validator is written. Classes are plain
    * character-class regexes executed identically by Java regex and
    * RE2 (the Pii contract).
    *
    * Scale shape: one map-only mask projection, a (col, mask) hash
    * aggregate (mask cardinality ≪ value cardinality — that is the
    * point of masking), a per-column top-k window over the
    * aggregate. */
  def patterns(df: DataFrame, cols: Seq[String], topK: Int = 10)
      : DataFrame = {
    def mask(c: Column): Column =
      regexp_replace(
        regexp_replace(
          regexp_replace(c.cast("string"), "[0-9]", "9"),
          "[a-z]", "a"),
        "[A-Z]", "A")
    val structs = cols.map(c =>
      struct(lit(c).as("col_name"), mask(col(c)).as("mask")))
    val counted = df.select(explode(array(structs: _*)).as("s"))
      .select("s.*").where(col("mask").isNotNull)
      .groupBy("col_name", "mask").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("col_name")
      .orderBy(col("cnt").desc, col("mask").asc)
    counted.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select("col_name", "mask", "cnt", "rnk")
      .orderBy("col_name", "rnk")
  }

  /** Joint (2D) histogram of two numeric columns — the
    * correlation-visual primitive the 1D family can't express (two
    * marginals don't show a ridge). Same floor((x−mn)/w) binning as
    * [[histogram]]; bounds come from the JOINTLY valid rows (both
    * dims non-null, non-NaN) because a cell is a joint observation.
    * Only non-empty cells are emitted: a 2D grid is mostly empty and
    * the empty-cell majority carries no information (the 1D parity
    * argument for all-bins emission doesn't transfer).
    *
    * Scale shape: one bounds aggregation, then one map-side-combined
    * groupBy on ≤ bins² cell keys — output is O(bins²) regardless of
    * row count, and nothing shuffles more than the partial-agg
    * buffers. */
  def histogram2d(df: DataFrame, cx: String, cy: String,
      bins: Int = 10): DataFrame = {
    val valid = df.where(
      col(cx).isNotNull && !isnan(d(cx)) &&
        col(cy).isNotNull && !isnan(d(cy)))
    val mm = valid.agg(min(d(cx)).as("mnx"), max(d(cx)).as("mxx"),
      min(d(cy)).as("mny"), max(d(cy)).as("mxy")).first()
    val spark = df.sparkSession
    import spark.implicits._
    if (mm.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Double, Double, Double,
        Double)].toDF("bx", "by", "cnt", "x_lo", "x_hi", "y_lo", "y_hi")
    val (mnx, mxx, mny, mxy) =
      (mm.getDouble(0), mm.getDouble(1), mm.getDouble(2), mm.getDouble(3))
    val wx = (mxx - mnx) / bins.toDouble
    val wy = (mxy - mny) / bins.toDouble
    def bin(c: String, mn: Double, w: Double): Column =
      if (w == 0) lit(0L)
      else least(floor((d(c) - lit(mn)) / lit(w)), lit(bins - 1L))
    def edge(b: Column, mn: Double, w: Double): Column =
      lit(mn) + b.cast("double") * lit(w)
    valid.select(bin(cx, mnx, wx).as("bx"), bin(cy, mny, wy).as("by"))
      .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
      .select(col("bx"), col("by"), col("cnt"),
        edge(col("bx"), mnx, wx).as("x_lo"),
        edge(col("bx") + 1, mnx, wx).as("x_hi"),
        edge(col("by"), mny, wy).as("y_lo"),
        edge(col("by") + 1, mny, wy).as("y_hi"))
      .orderBy("bx", "by")
  }

  // -------------------------------------------------------------------
  // Frequency tables (F1/F2): top-k values per categorical column with
  // deterministic (count desc, value asc) tie-break. Long form → ONE
  // groupBy + one window for all columns.
  // -------------------------------------------------------------------
  def freq(df: DataFrame, cols: Seq[String], topK: Int = 10): DataFrame = {
    val counted = freqCounts(df, cols)
    val top = topValues(counted, topK)
    // "other values" remainder bucket (upstream shows top-k plus an
    // aggregated other-count, base.py::describe_categorical_1d
    // ≈L210–230 + templates/freq_table.html): one row per column with
    // the non-top-k value count, emitted only when non-zero so
    // low-cardinality columns keep their exact-table shape.
    // Computed as (column total − Σ top-k) from distributed partial
    // aggregations — NOT by ranking the full value set: the rnk≤topK
    // branch's single-partition window is fed only ~k rows per
    // upstream partition thanks to WindowGroupLimit pushdown, but a
    // rnk>topK branch would force ranking every distinct value of a
    // column through one partition (fatal for a near-unique column at
    // corpus scale). The Profiler takes the totals from pass A's
    // non-null counts instead and skips this join.
    val totals = counted.groupBy("col_idx").agg(sum("cnt").as("total"))
    val topSums = top.groupBy("col_idx").agg(sum("cnt").as("topsum"))
    val other = totals.join(topSums, Seq("col_idx"))
      .select(col("col_idx"), lit("__other__").as("value"),
        (col("total") - col("topsum")).as("cnt"),
        lit(topK + 1L).as("rnk"))
      .where(col("cnt") > 0)
    top.unionByName(other)
      .select(typedLit(cols).getItem(col("col_idx")).as("col_name"),
        col("value"), col("cnt"), col("rnk"))
      .orderBy("col_name", "rnk")
  }

  /** (col_idx, value, cnt) for every distinct non-null string-cast
    * value: the [[longForm]] of the columns, one groupBy(col_idx,
    * value) count. */
  private[graft] def freqCounts(df: DataFrame, cols: Seq[String])
      : DataFrame =
    longForm(df, cols.map(c => col(c).cast("string")))
      .groupBy(col("col_idx"), col("v").as("value"))
      .agg(count(lit(1)).as("cnt"))

  /** The `topK` most frequent values per col_idx of [[freqCounts]]
    * output, ranked (cnt desc, value asc) into rnk 1..topK. */
  private[graft] def topValues(counted: DataFrame, topK: Int)
      : DataFrame = {
    val w = Window.partitionBy("col_idx")
      .orderBy(col("cnt").desc, col("value").asc)
    counted.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
  }

  /** Gini coefficient per numeric column — the inequality /
    * concentration number ("5% of orders carry 60% of revenue").
    * Exact audit form: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    * ascending-sorted values — one rank window per column (the
    * corr_spearman exact-audit precedent: k single-partition sorts,
    * declared at fixture scale; the corpus path reads concentration
    * off the equi-depth histogram instead). Ties are safe: within a
    * tie block x is constant, so Σi·x is permutation-invariant.
    * Negative values are rejected per column (Gini is defined for
    * non-negative distributions) by emitting NULL. */
  def gini(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCol = cols.map { c =>
      val v = df.where(col(c).isNotNull && !isnan(d(c)))
        .select(d(c).as("x"))
      val w = Window.orderBy("x")
      v.withColumn("i", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("i") * col("x")).as("six"),
          min("x").as("mn"))
        .select(lit(c).as("col_name"), col("n"),
          sig5(when(col("mn") >= 0 && col("sx") > 0,
            lit(2.0) * col("six") / (col("n") * col("sx")) -
              (col("n") + 1).cast("double") / col("n")))
            .as("gini"))
    }
    perCol.reduce(_.unionByName(_)).orderBy("col_name")
  }

  /** Map-only approximate Gini — the corpus path [[gini]]'s scaladoc
    * promises: B equal-frequency buckets from ONE chunked
    * percentile_approx aggregation, bucket means approximated by
    * adjacent-cut midpoints, then the grouped-data Gini formula over
    * B rows of driver arithmetic. No sort, no window, error
    * O(1/B + GK ε). GK summaries are merge-order dependent, so the
    * VALUE can't be oracle-hashed — [[giniApproxCheck]] declares the
    * error contract instead (the spearmanApproxCheck pattern). */
  def giniApprox(df: DataFrame, cols: Seq[String],
      buckets: Int = 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ps = (0 to buckets).map(_.toDouble / buckets)
    // per-column population: each column's own non-null/non-NaN rows
    // (percentile_approx skips nulls; the `when` nulls out NaNs), so
    // the approx matches [[gini]]'s per-column filter — listwise
    // na.drop would silently compare mismatched populations under
    // uneven null patterns.
    val aggs = cols.map(c =>
      percentile_approx(when(!isnan(d(c)), d(c)), typedLit(ps),
        lit(10000)).as(c))
    val row = chunkedAgg(df, aggs, 300)
    cols.map { c =>
      val raw = row(c)
      val cuts =
        if (raw == null) Array.empty[Double]
        else raw.asInstanceOf[scala.collection.Seq[Any]]
          .map(_.asInstanceOf[Double]).toArray
      val means =
        if (cuts.isEmpty) IndexedSeq.empty[Double]
        else (0 until buckets).map(i => (cuts(i) + cuts(i + 1)) / 2)
      val sm = means.sum
      val g =
        if (means.isEmpty || means.head < 0 || sm <= 0) None
        else Some(2.0 * means.zipWithIndex
          .map { case (m, i) => (i + 1) * m }.sum /
          (buckets * sm) - (buckets + 1.0) / buckets)
      (c, g.map(graft.det.Sig.sig5))
    }.toDF("col_name", "gini_approx").orderBy("col_name")
  }

  /** The approx-Gini error CONTRACT as data: |approx − exact| within
    * `bound` per column; oracle expects every row true. */
  def giniApproxCheck(df: DataFrame, cols: Seq[String],
      buckets: Int = 100, bound: Double = 0.02): DataFrame = {
    val e = gini(df, cols).withColumnRenamed("gini", "g_exact")
    val a = giniApprox(df, cols, buckets)
    e.join(a, Seq("col_name"))
      .select(col("col_name"),
        (abs(col("gini_approx") - col("g_exact")) < bound)
          .as("within_bound"))
      .orderBy("col_name")
  }

  /** Concentration profile per categorical column: the
    * Herfindahl–Hirschman index Σ shareᵢ², its inverse (the
    * EFFECTIVE number of categories) and the top value's share — the
    * one-pass exact form of "how dominated is this column" that
    * [[skewAdvisor]]'s top-k view samples. One unpivoted (col,
    * value) count aggregation, then an O(distinct) reduction — no
    * sort, no window. */
  def concentration(df: DataFrame, cols: Seq[String]): DataFrame = {
    val structs = cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("value")))
    val counted = df.select(explode(array(structs: _*)).as("s"))
      .select("s.*").where(col("value").isNotNull)
      .groupBy("col_name", "value").agg(count(lit(1)).as("c"))
    counted.groupBy("col_name")
      // c² in DOUBLE: a hot category at corpus scale overflows the
      // long square (1e12² ≫ 2⁶³); the 5-digit canon absorbs the
      // float-summation order on both engines
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * col("c")).as("ss"),
        max("c").as("mx"))
      .select(col("col_name"), col("n"), col("n_distinct"),
        sig5(col("ss") / (col("n").cast("double") * col("n")))
          .as("hhi"),
        sig5(col("n").cast("double") * col("n") / col("ss"))
          .as("effective_categories"),
        sig5(col("mx").cast("double") / col("n")).as("top_share"))
      .orderBy("col_name")
  }

  /** Join-skew advisor: for each candidate JOIN KEY column, the
    * top-`topK` hottest values with their row share and the salt
    * factor a salted join would need (ceil(hot-key rows /
    * `targetRowsPerTask`)) — the pre-join planning number behind
    * [[graft.ops.SkewJoin]]'s salting: a key with salt_factor 1
    * needs no mitigation, a factor of 40 means the hot key alone
    * would fill 40 tasks and the join should salt (or AQE-split) at
    * least that wide. Same distributed top-k shape as [[freq]]
    * (WindowGroupLimit-pushed heads), plus one tiny per-column
    * total aggregate. */
  def skewAdvisor(df: DataFrame, cols: Seq[String], topK: Int = 5,
      targetRowsPerTask: Long = 5000000L): DataFrame = {
    require(targetRowsPerTask > 0, "targetRowsPerTask must be positive")
    val hot = freq(df, cols, topK).where(col("value") =!= "__other__")
    val totalsRow = df.agg(
      count(col(cols.head)).as(cols.head),
      cols.tail.map(c => count(col(c)).as(c)): _*)
    val totals = totalsRow.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).as("total"))): _*)).as("s"))
      .select(col("s.col_name"), col("s.total"))
    hot.join(totals, Seq("col_name"))
      .select(col("col_name"), col("rnk"), col("value"), col("cnt"),
        sig5(col("cnt").cast("double") / col("total")).as("share"),
        greatest(lit(1L),
          ceil(col("cnt").cast("double") / targetRowsPerTask)
            .cast("long")).as("salt_factor"))
      .orderBy("col_name", "rnk")
  }

  /** Date-continuity audit: the missing-day RUNS between a date
    * column's min and max — "which ingest days never arrived", the
    * calendar-completeness check a row count can't answer. One
    * distinct-days aggregation (output O(calendar span), never
    * O(rows)), an anti-join against the generated expected calendar,
    * then the rank-islands grouping of consecutive missing days. The
    * islands window sorts O(span) rows — thousands for decades of
    * calendar — in one task by construction, which is the point:
    * everything row-scaled happened in the first aggregation. */
  def dateGaps(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val days = df.where(col(c).isNotNull)
      .select(to_date(col(c)).as("d")).distinct()
    val mm = days.agg(min("d"), max("d")).first()
    if (mm.isNullAt(0))
      return Seq.empty[(java.sql.Date, java.sql.Date, Long)]
        .toDF("gap_start", "gap_end", "n_days")
    val (mn, mx) = (mm.getDate(0), mm.getDate(1))
    val expected = spark.range(1).select(explode(expr(
      s"sequence(to_date('$mn'), to_date('$mx'), interval 1 day)"))
      .as("d"))
    val missing = expected.join(days, Seq("d"), "left_anti")
    val w = Window.orderBy("d")
    missing.withColumn("rn", row_number().over(w))
      .withColumn("grp", date_sub(col("d"), col("rn")))
      .groupBy("grp")
      .agg(min("d").as("gap_start"), max("d").as("gap_end"),
        count(lit(1)).as("n_days"))
      .select("gap_start", "gap_end", "n_days")
      .orderBy("gap_start")
  }

  /** Date-column histogram (DT1 extension): `bins` equal-width
    * buckets over the column as exact epoch MICROSECONDS — the
    * mini-histogram pandas-profiling 1.x renders for date columns,
    * which the canonical upstream's describe_date_1d (≈L235–250)
    * dropped to min/max only. Bin edges are epoch-micros doubles
    * (micros ≈ 1.7e15 < 2^53, so the long→double conversion is exact
    * and both engines bin IDENTICAL values — the num_histogram
    * determinism argument verbatim). Same single-scan conditional-sum
    * shape as [[histogram]]. */
  def dateHistogram(df: DataFrame, cols: Seq[String], bins: Int = 10)
      : DataFrame = {
    // parquet naive timestamps arrive as TIMESTAMP_NTZ; with a UTC
    // session the LTZ cast is identity, matching DuckDB's epoch_us
    val proj = df.select(cols.map(c =>
      unix_micros(col(c).cast("timestamp")).cast("double").as(c)): _*)
    histogram(proj, cols, bins)
  }

  // -------------------------------------------------------------------
  // Date min/max (DT1) as exact epoch microseconds.
  // -------------------------------------------------------------------
  def dateMinMax(df: DataFrame, cols: Seq[String]): DataFrame = {
    // parquet naive timestamps arrive as TIMESTAMP_NTZ; with a UTC
    // session the LTZ cast is identity, matching DuckDB's epoch_us.
    val aggs = cols.flatMap { c =>
      Seq(unix_micros(min(col(c)).cast("timestamp")).as(s"mn__$c"),
        unix_micros(max(col(c)).cast("timestamp")).as(s"mx__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"mn__$c").as("min_us"), col(s"mx__$c").as("max_us"))
    }
    tidy(row, structs)
  }

  // -------------------------------------------------------------------
  // Pearson correlation matrix (R1): the reference runs O(k²) separate
  // `df.corr(a,b)` jobs after listwise na.drop (corr_matrix ≈L40–60).
  // Here every Pearson — the profile's pass D, the fused and store
  // profiles, corr_matrix, corr_reject, table_kinds and both Spearman
  // forms — is ONE all-pairs co-moment buffer read by [[corrFromCm]].
  // -------------------------------------------------------------------
  def corrPairs(cols: Seq[String]): Seq[(String, String)] =
    for {
      i <- cols.indices
      j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))

  /** ρ of every [[corrPairs]] pair of `cols` in ONE scan of the
    * all-pairs streaming co-moment aggregate
    * ([[graft.functions.CoMoment]]: stable at any mean/variance ratio,
    * no per-pair expressions, no codegen limit at any k). Rows with a
    * null among `cols` are skipped (listwise deletion). */
  private[graft] def pearson(df: DataFrame, cols: Seq[String])
      : Map[(String, String), Option[Double]] =
    if (cols.size < 2) Map.empty
    else {
      val r = df.agg(graft.functions.CoMoment.sketch(
        array(cols.map(d): _*), cols.size)).first()
      corrFromCm(ProfileStore.coMomentBuf(r.getStruct(0), cols.size), cols)
    }

  /** ρ matrix of `cols` from their all-pairs co-moment buffer — the
    * one place a correlation is computed from co-moments — sig5-
    * rounded on the driver ([[graft.det.Sig.sig5]], the scalar twin of
    * the oracle's rounding); None for a pair with a zero-variance
    * side. */
  private[profiler] def corrFromCm(buf: graft.functions.CoMomentBuf,
      cols: Seq[String])
      : Map[(String, String), Option[Double]] = {
    val idx = cols.zipWithIndex.toMap
    def cm(i: Int, j: Int) =
      buf.c(graft.functions.CoMoment.triIndex(i, j, cols.size))
    corrPairs(cols).map { case (a, b) =>
      val i = idx(a); val j = idx(b)
      val denom = math.sqrt(cm(i, i)) * math.sqrt(cm(j, j))
      (a, b) -> (if (denom == 0.0 || denom.isNaN) None
                 else Some(graft.det.Sig.sig5(cm(i, j) / denom)))
    }.toMap
  }

  /** A ρ matrix as the (col_a, col_b, rho) frame the oracle queries
    * declare. */
  private def matrixFrame(df: DataFrame,
      m: Map[(String, String), Option[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    m.toSeq.map { case ((a, b), rho) => (a, b, rho) }
      .toDF("col_a", "col_b", "rho").orderBy("col_a", "col_b")
  }

  /** Approximate Spearman: every (name, column, cuts) ranks `column`
    * of the already-cleaned frame by binary search into its quantile
    * cuts (the native [[graft.functions.GridRank]] expression — no
    * sort, no window) as `name`, then [[pearson]] over the ranks, in
    * the order given. */
  private[profiler] def gridRankCorr(clean: DataFrame,
      ranks: Seq[(String, String, Array[Double])])
      : Map[(String, String), Option[Double]] =
    pearson(clean.select(ranks.map { case (name, c, cuts) =>
      graft.functions.GridRank.grid_rank(d(c), cuts).as(name)
    }: _*), ranks.map(_._1))

  /** The exact average-rank transform feeding [[spearmanMatrix]] —
    * exposed for plan inspection (plan counts: OPTIMIZATION_r16.md §1).
    *
    * r16: ONE window spec per column instead of two. The average rank
    * of a tie group is (first rank + last rank)/2; rank() gives the
    * first, and count(*) over the RANGE frame (unbounded preceding →
    * current row) counts rows with value ≤ v — exactly the last rank
    * of the tie group. Both expressions share the same
    * (no-partition, orderBy value) spec, so Catalyst plans ONE Window
    * operator (one single-partition sort) per column where the old
    * rank + count-over-partitionBy pair planned two (the global-sort
    * rank window PLUS a second sort for the tie-count window): the
    * plan drops from 8 Window/Sort pairs to 4 for k=4. Value
    * equivalence is exact, not approximate: with r the tie group's
    * min rank and t its size, old = r + (t−1)/2, new = (r + (r+t−1))/2
    * — the same half-integer, and both forms compute it from exact
    * integers in IEEE doubles (sums < 2^53), so the transform stays
    * bit-identical cross-engine (pinned by the oracle hash). */
  def spearmanRanked(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clean = df.na.drop(cols)
    clean.select(cols.map { c =>
      val byValue = Window.orderBy(d(c))
      ((rank().over(byValue).cast("double") +
        count(lit(1)).over(byValue.rangeBetween(
          Window.unboundedPreceding, Window.currentRow))
          .cast("double")) / lit(2.0)).as(c)
    }: _*)
  }

  /** Spearman rank-correlation matrix — the monotonic twin of R1
    * (pandas-profiling 1.x computed corr(method='spearman') beside
    * Pearson; the Spark port's matrix kept only Pearson): every column
    * to its exact AVERAGE rank ([[spearmanRanked]]), then [[pearson]]
    * over the ranks — one scan of the window chain.
    *
    * Scale note: exact average ranks pay one full-column sort window
    * per column (k single-partition sorts) — the audit/verification
    * form, declared as the oracle query. [[spearmanApprox]] is the
    * corpus path: a per-column GK quantile grid (one agg) + a
    * map-only binary-search rank transform — no global sort
    * anywhere, error O(1/grid + ε). */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame =
    matrixFrame(df, pearson(spearmanRanked(df, cols), cols))

  /** Per-column `grid`+1-point GK quantile cuts (p = 0, 1/grid, …, 1)
    * in ONE chunked agg.
    * r16: GK accuracy O(grid), not 10000 — the cuts only need rank
    * resolution ~1/grid, so accuracy 2·grid keeps GK ε at half a
    * lattice step while an over-resolved sketch pays compression
    * churn across grid+1 query points (measured on the spearmanRouted
    * scale arm: sf100 240→43 s). ρ error stays O(1/grid) — an order of
    * magnitude inside the 0.05 contract bound checked by
    * corr_spearman_approx_err. */
  private def gridCuts(df: DataFrame, cols: Seq[String], grid: Int)
      : Map[String, Array[Double]] = {
    val ps = (0 to grid).map(_.toDouble / grid)
    val acc = math.max(2 * grid, 1000)
    val row = chunkedAgg(df, cols.map(c =>
      percentile_approx(d(c), typedLit(ps), lit(acc)).as(c)), 300)
    cols.map(c => c -> row(c).asInstanceOf[scala.collection.Seq[Any]]
      .map(_.asInstanceOf[Double]).toArray).toMap
  }

  /** Map-only approximate Spearman: ranks estimated by binary search
    * into a per-column `grid`-point GK quantile lattice
    * ([[gridCuts]]), then [[gridRankCorr]]. No sort, no window, no
    * shuffle beyond the aggregations — survives any corpus size.
    * Rank error is O(1/grid + GK ε), which perturbs ρ by about the
    * same order — fine for the profiling use (detecting monotonic
    * association), not for hypothesis-test precision. */
  def spearmanApprox(df: DataFrame, cols: Seq[String],
      grid: Int = 1024): DataFrame = {
    val clean = df.na.drop(cols)
    val cuts = gridCuts(clean, cols, grid)
    matrixFrame(df, gridRankCorr(clean, cols.map(c => (c, c, cuts(c)))))
  }

  /** The approx-Spearman error CONTRACT as data (the
    * `distinctSketchCheck` pattern): the grid estimate is GK-merge-
    * order dependent so its VALUE can't be oracle-hashed, but its
    * error bound can — emit per pair whether |approx − exact| stays
    * inside `bound`; the oracle expects every row true. */
  def spearmanApproxCheck(df: DataFrame, cols: Seq[String],
      grid: Int = 1024, bound: Double = 0.05): DataFrame = {
    val e = spearmanMatrix(df, cols)
      .withColumnRenamed("rho", "rho_exact")
    val a = spearmanApprox(df, cols, grid)
      .withColumnRenamed("rho", "rho_approx")
    e.join(a, Seq("col_a", "col_b"))
      .select(col("col_a"), col("col_b"),
        (abs(col("rho_approx") - col("rho_exact")) < bound)
          .as("within_bound"))
      .orderBy("col_a", "col_b")
  }

  /** SCALE-ROUTED Spearman (the [[quantilesRouted]] dispatch for
    * rank correlation): one scan-only count() decides whether the k
    * single-partition sort windows of the exact form are affordable.
    * Both branches declare the same CONTRACT output
    * (col_a, col_b, within_bound), so the oracle (all-true rows per
    * pair) is scale-invariant:
    *   - ≤ `exactBelowRows`: the full [[spearmanApproxCheck]] audit —
    *     |ρ_grid − ρ_exact| < `bound`, the strongest check, run
    *     exactly where exact ranks are cheap;
    *   - above: grid-REFINEMENT convergence — ρ at `grid` lattice
    *     points vs ρ at `grid`/2, both map-only (no sort, no window).
    *     Rank error is O(1/grid + GK ε), so halving the lattice moves
    *     ρ by at most that order on any distribution the grid
    *     resolves; a lattice/binary-search regression perturbs the
    *     two estimates incoherently and flips the booleans.
    * The scale arm is FUSED (r15): the `grid`/2 lattice is exactly
    * the even-index subset of the `grid` lattice, so ONE GK premise
    * serves both, and both rank matrices come out of a single
    * [[gridRankCorr]] call over the 2k fine+coarse rank columns — one
    * quantile scan plus one co-moment scan, versus the naive
    * two-approx form's doubled GK work and six scans (measured
    * 22.8×/decade at the 600M-row tier before the fusion, the count
    * scan and GK dominating).
    * The production VALUE path at corpus scale stays
    * [[spearmanApprox]] (folded into the profile flagship via
    * GridRank); this routed form is its declared, oracle-checkable
    * face. */
  def spearmanRouted(df: DataFrame, cols: Seq[String],
      exactBelowRows: Long = 1000000L, grid: Int = 1024,
      bound: Double = 0.05): DataFrame = {
    // The coarse lattice is the even-index subset of the fine cuts,
    // which equals the grid/2 lattice ONLY for even grids — an odd
    // grid would silently drop the p=1.0 endpoint from the coarse
    // grid, changing the refinement contract vs spearmanApprox(grid/2).
    require(grid % 2 == 0, s"spearmanRouted needs an even grid, got $grid")
    val n = df.count()
    if (n <= exactBelowRows)
      spearmanApproxCheck(df, cols, grid, bound)
    else {
      val clean = df.na.drop(cols)
      // Premise on a BOUNDED row sample at O(grid) accuracy (r16):
      // the cuts only need rank resolution ~1/grid, so (a) GK
      // accuracy 2·grid suffices (10000 was ~10× over-resolved —
      // compression churn at 10000 × (grid+1) lattice points was the
      // measured 16.9×/decade residual at the 600M-row tier), and
      // (b) lattice cuts from a ≤1M-row sample carry rank error
      // O(1/√sample) ≈ 1/grid — statistically indistinguishable at
      // grid=1024 and far inside the 0.05 contract bound. Premise
      // cost becomes O(sample), independent of corpus size; the
      // corpus pays only the map-only rank transform + co-moment
      // scans, which are linear by construction.
      val premiseRows = math.max(exactBelowRows, 16L * grid)
      val premiseDf =
        if (n <= premiseRows) clean
        else clean.sample(withReplacement = false,
          premiseRows.toDouble / n, seed = 42L)
      val cuts = gridCuts(premiseDf, cols, grid)
      val m = gridRankCorr(clean,
        cols.map(c => (s"${c}__f", c, cuts(c))) ++ cols.map { c =>
          (s"${c}__c", c, cuts(c).indices.collect {
            case i if i % 2 == 0 => cuts(c)(i) }.toArray)
        })
      val spark = df.sparkSession
      import spark.implicits._
      corrPairs(cols).map { case (a, b) =>
        def rho(side: String) = m((s"$a$side", s"$b$side"))
        (a, b, for (f <- rho("__f"); c <- rho("__c"))
          yield math.abs(f - c) < bound)
      }.toDF("col_a", "col_b", "within_bound").orderBy("col_a", "col_b")
    }
  }

  /** Kendall's τ-b from a bins×bins joint grid — concordant/
    * discordant pair correlation WITHOUT the O(n²) pair join exact
    * Kendall needs and without any global sort: per column pair, one
    * bounds aggregation + one map-side-combined cell count (the
    * [[histogram2d]] plan), then ALL pair arithmetic runs over the
    * O(bins²) cell frame — a self-join whose size is a constant of
    * the grid, independent of row count. Grid τ equals exact τ-b
    * whenever each variable takes ≤ `bins` distinct evenly-spaced
    * values (ints, ratings, codes — Kendall's home turf, asserted by
    * the unit test) and converges with bin refinement otherwise;
    * within-cell pairs count as ties, which τ-b's denominator
    * corrects for.
    *
    * Every pair count (concordant, discordant, tie corrections) is
    * exact integer arithmetic — deterministic, oracle-replayable;
    * the single division + sqrt at the end is IEEE-identical across
    * engines. Long-overflow bound: products stay < n², so exact up
    * to ~3·10⁹ valid rows per pair — beyond that, profile a sample
    * (the estimate's variance is O(1/√n) anyway). */
  def kendallGrid(df: DataFrame, pairs: Seq[(String, String)],
      bins: Int = 20): DataFrame = {
    val perPair = pairs.map { case (cx, cy) =>
      val valid = df.where(
        col(cx).isNotNull && !isnan(d(cx)) &&
          col(cy).isNotNull && !isnan(d(cy)))
      val mm = valid.agg(min(d(cx)), max(d(cx)), min(d(cy)), max(d(cy)))
        .first()
      val spark = df.sparkSession
      import spark.implicits._
      if (mm.isNullAt(0))
        Seq((cx, cy, 0L, 0L, 0L, Option.empty[Double]))
          .toDF("col_x", "col_y", "n", "concordant", "discordant",
            "tau_b")
      else {
        val (mnx, mxx, mny, mxy) = (mm.getDouble(0), mm.getDouble(1),
          mm.getDouble(2), mm.getDouble(3))
        val wx = (mxx - mnx) / bins.toDouble
        val wy = (mxy - mny) / bins.toDouble
        def bin(c: String, mn: Double, w: Double): Column =
          if (w == 0) lit(0L)
          else least(floor((d(c) - lit(mn)) / lit(w)), lit(bins - 1L))
            .cast("long")
        val cells = valid
          .select(bin(cx, mnx, wx).as("bx"), bin(cy, mny, wy).as("by"))
          .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
        // concordant/discordant over distinct cell pairs (bx strictly
        // ordered, so each unordered pair contributes exactly once)
        val cd = cells.as("a").join(cells.as("b"),
            col("b.bx") > col("a.bx"))
          .agg(
            coalesce(sum(when(col("b.by") > col("a.by"),
              col("a.cnt") * col("b.cnt"))), lit(0L)).as("conc"),
            coalesce(sum(when(col("b.by") < col("a.by"),
              col("a.cnt") * col("b.cnt"))), lit(0L)).as("disc"))
        // tie corrections from the marginals: n1 = Σ tx(tx−1)/2 over
        // x-marginal counts, n2 likewise for y — `div` keeps every
        // count in exact integer arithmetic (Divide on longs would
        // detour through double)
        val n1 = cells.groupBy("bx").agg(sum("cnt").as("t"))
          .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L))
            .as("n1"))
        val n2 = cells.groupBy("by").agg(sum("cnt").as("t"))
          .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L))
            .as("n2"))
        val tot = cells.agg(sum("cnt").as("n"))
        // n0 − n1 and n0 − n2 each fit a long; their PRODUCT may not
        // — multiply the sqrts instead (IEEE-identical in any engine)
        val n0 = expr("n * (n - 1) div 2")
        val den = sqrt((n0 - col("n1")).cast("double")) *
          sqrt((n0 - col("n2")).cast("double"))
        cd.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
          .crossJoin(broadcast(tot))
          .select(lit(cx).as("col_x"), lit(cy).as("col_y"), col("n"),
            col("conc").as("concordant"), col("disc").as("discordant"),
            sig5(when(den =!= 0.0,
              (col("conc") - col("disc")).cast("double") / den))
              .as("tau_b"))
      }
    }
    perPair.reduce(_.unionByName(_)).orderBy("col_x", "col_y")
  }

  /** The corr_matrix query: [[pearson]] after the reference's
    * listwise `na.drop` (which also drops NaN rows). */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame =
    matrixFrame(df, pearson(df.na.drop(cols), cols))

  /** Correlation rejection (R2): a column is rejected when its sig5'd
    * Pearson ρ with any EARLIER column (schema order, mirroring the
    * reference's column-order dependence, base.py::describe ≈L305–330)
    * is ≥ threshold. Decision uses the rounded ρ so Spark and the
    * oracle agree even at the threshold boundary. Returns
    * (col_name, correlated_with, rho) for rejected columns. */
  def corrReject(df: DataFrame, cols: Seq[String], threshold: Double = 0.9)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    rejectFromMatrix(cols, pearson(df.na.drop(cols), cols), threshold)
      .toDF("col_name", "correlated_with", "rho").orderBy("col_name")
  }

  /** Order-dependent rejection over a collected matrix — shared by
    * the corr_reject query, Profiler, and
    * ProfileReport.getRejectedVariables (which may re-apply a LOWER
    * threshold than the profile was built with). */
  def rejectFromMatrix(cols: Seq[String],
      m: Map[(String, String), Option[Double]], threshold: Double)
      : Seq[(String, String, Double)] = {
    val idx = cols.zipWithIndex.toMap
    cols.flatMap { b =>
      val hits = cols
        .filter(a => idx(a) < idx(b))
        .flatMap(a => m.getOrElse((a, b), None).filter(_ >= threshold)
          .map(rho => (idx(a), a, rho)))
      hits.sortBy(_._1).headOption.map { case (_, a, rho) => (b, a, rho) }
    }
  }

  // -------------------------------------------------------------------
  // Head sample (S1) — key-ordered for determinism (a bare LIMIT is
  // nondeterministic in any distributed engine).
  // -------------------------------------------------------------------
  def sampleHead(df: DataFrame, orderCols: Seq[String], n: Int = 5)
      : DataFrame = {
    val tsCols = Kinds.dateCols(df)
    val projected = df.columns.toSeq.map { c =>
      if (tsCols.contains(c))
        unix_micros(col(c).cast("timestamp")).as(s"${c}_us")
      else col(c)
    }
    df.orderBy(orderCols.map(c => orderable(df, c)): _*).limit(n)
      .select(projected: _*)
  }

  // -------------------------------------------------------------------
  // Table overview (T1–T3).
  // -------------------------------------------------------------------
  def overview(df: DataFrame, cols: Seq[String]): DataFrame = {
    val nvar = cols.size
    val missing = cols
      .map(c => count(lit(1)) - count(col(c)))
      .reduce(_ + _)
    df.agg(
      count(lit(1)).as("n"),
      lit(nvar.toLong).as("nvar"),
      missing.as("n_missing_total"),
      sig5(ratio(missing, count(lit(1)) * lit(nvar.toDouble)))
        .as("p_missing"))
  }

  /** Overview variable-type breakdown (upstream's overview panel
    * counts variables per profile kind — NUM/CAT/DATE/CONST/UNIQUE/
    * CORR, base.py::to_html ≈L400–470) by the profile's own
    * [[Kinds.kind]] rule, from the statistics the exact profile
    * assigns kinds with: [[exactDistinctPerCol]] (pass A-distinct)
    * and [[pearson]] (pass D). Every collected result is O(k),
    * scale-independent. */
  def kindCounts(df: DataFrame, cols: Seq[String],
      corrThreshold: Double = 0.9): DataFrame = {
    val cd = exactDistinctPerCol(df, cols)
    val numCols = cols.filter(c => Kinds.isNumeric(df.schema(c).dataType))
    val rejected = rejectFromMatrix(numCols, pearson(df, numCols),
      corrThreshold).map(_._1).toSet
    val kindsByCol = cols.map { c =>
      Kinds.kind(Kinds.baseKind(df.schema(c).dataType), cd(c)._1,
        cd(c)._2, rejected.contains(c))
    }
    val byKind = kindsByCol.groupBy(identity).view.mapValues(_.size.toLong)
    val kindCols = Seq("NUM", "CAT", "DATE", "CONST", "UNIQUE", "CORR")
      .map(k => lit(byKind.getOrElse(k, 0L)).as(s"n_${k.toLowerCase}"))
    df.sparkSession.range(1).select(
      lit(df.count()).as("n") +:
        lit(cols.size.toLong).as("nvar") +: kindCols: _*)
  }

  // -------------------------------------------------------------------
  // Sliced profiling: the per-segment twin of the global numeric pass
  // (profile BY nation / source / label, the "compare my slices" view
  // a dataset owner asks for right after the global profile).
  // -------------------------------------------------------------------

  /** Per-group numeric stats for every column in `cols`: one
    * hash-aggregate shuffle on the group key with map-side combine —
    * the aggregation state is O(groups × cols), never row-bound, so
    * the shape is identical at 100 TB (skew lands on AQE; a group
    * key with billions of rows still reduces map-side first).
    * Output long-form: (group, col_name, n, n_null, mean, sd, min,
    * max), ordered. */
  def grouped(df: DataFrame, groupCol: String, cols: Seq[String])
      : DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(d(c)).as(s"n__$c"),
        sum(when(d(c).isNull, 1L).otherwise(0L)).as(s"nn__$c"),
        avg(d(c)).as(s"mean__$c"),
        stddev_samp(d(c)).as(s"sd__$c"),
        min(d(c)).as(s"min__$c"), max(d(c)).as(s"max__$c"))
    }
    val row = df.groupBy(col(groupCol).as("grp"))
      .agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"n__$c").as("n"), col(s"nn__$c").as("n_null"),
        sig5(col(s"mean__$c")).as("mean"), sig5(col(s"sd__$c")).as("sd"),
        col(s"min__$c").as("min_val"), col(s"max__$c").as("max_val"))
    }
    row.select(col("grp"), explode(array(structs: _*)).as("s"))
      .select("grp", "s.*")
      .orderBy("grp", "col_name")
  }

  // -------------------------------------------------------------------
  // Functional dependencies / key candidates + duplicate rows — the
  // schema-quality half of profiling: "is (a, b) the table's key",
  // "does a determine b". FD lhs → rhs holds iff the distinct count
  // of lhs equals the distinct count of lhs ∪ rhs; a key is the FD
  // lhs → all-other-columns. Distinct counting goes through struct()
  // so NULL fields stay row-valued (countDistinct over bare multiple
  // columns drops any-NULL rows — DuckDB's row semantics would then
  // disagree on nullable data).
  // -------------------------------------------------------------------

  /** One row per claim: (lhs, rhs, n_lhs, n_lhs_rhs, n_violations,
    * holds). Empty `rhs` means "all other columns" (key check). Each
    * claim's two distinct counts ride one aggregation; claims are
    * unioned (a handful of claims — the declared-audit shape; a
    * k²-column FD *search* would instead mine the distinct-count
    * matrix the profiler already computes). */
  def fdCheck(df: DataFrame,
      claims: Seq[(Seq[String], Seq[String])]): DataFrame = {
    require(claims.nonEmpty, "fdCheck needs at least one claim")
    claims.map { case (lhs, rhs0) =>
      val rhs = if (rhs0.nonEmpty) rhs0
        else df.columns.toSeq.filterNot(lhs.contains)
      val both = (lhs ++ rhs).distinct
      df.agg(
          countDistinct(struct(lhs.map(col): _*)).as("n_lhs"),
          countDistinct(struct(both.map(col): _*)).as("n_lhs_rhs"))
        .select(lit(lhs.mkString(",")).as("lhs"),
          lit(if (rhs0.isEmpty) "*" else rhs0.mkString(",")).as("rhs"),
          col("n_lhs"), col("n_lhs_rhs"),
          (col("n_lhs_rhs") - col("n_lhs")).as("n_violations"),
          (col("n_lhs_rhs") === col("n_lhs")).as("holds"))
    }.reduce(_ unionByName _).orderBy("lhs", "rhs")
  }

  /** FD DISCOVERY over a candidate column set — [[fdCheck]] verifies
    * declared claims; this finds them: for every ordered pair
    * (a → b), holds iff |distinct(a)| = |distinct(a, b)|. Declared
    * (oracle-exact) form computes the k + k·(k−1) exact distinct
    * counts in ONE aggregation — the quality_suggest precedent: one
    * Expand at fixture scale, and the corpus path swaps
    * approx_count_distinct (no Expand, rsd-tolerant equality) behind
    * the same output shape. */
  def fdDiscover(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "fdDiscover needs at least two columns")
    val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
    val singles = cols.map(c => countDistinct(col(c)).as(s"d_$c"))
    // NULL semantics: the FD is evaluated over rows where the lhs is
    // defined. countDistinct(a) already excludes NULL a, so the pair
    // count must too — a bare struct(a, b) is never NULL and would
    // count lhs-NULL rows, making any nullable lhs permanently
    // holds=false even when the FD holds on every defined row.
    val duos = pairs.map { case (a, b) =>
      countDistinct(when(col(a).isNotNull, struct(col(a), col(b))))
        .as(s"d_${a}__$b") }
    val row = df.agg((singles ++ duos).head,
      (singles ++ duos).tail: _*)
    val out = pairs.map { case (a, b) =>
      row.select(lit(a).as("lhs"), lit(b).as("rhs"),
        col(s"d_$a").as("n_lhs"),
        col(s"d_${a}__$b").as("n_pairs"),
        (col(s"d_${a}__$b") === col(s"d_$a")).as("holds"))
    }
    out.reduce(_.unionByName(_)).orderBy("lhs", "rhs")
  }

  /** Exact duplicate-row profile: (n_rows, n_distinct_rows,
    * n_duplicate_rows) — the "how much of this table is literal
    * copies" stat. One distinct aggregation over the full-row
    * struct. */
  def duplicateRows(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        countDistinct(struct(df.columns.map(col): _*))
          .as("n_distinct_rows"))
      .select(col("n_rows"), col("n_distinct_rows"),
        (col("n_rows") - col("n_distinct_rows")).as("n_duplicate_rows"))
}
