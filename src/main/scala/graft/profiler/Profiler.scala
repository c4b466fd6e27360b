package graft.profiler

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Profiler configuration, mirroring the reference's knobs
  * (spark_df_profiling/__init__.py::ProfileReport ≈L12–30:
  * bins=10, corr_reject=0.9, sample default) plus scale switches the
  * reference lacks:
  *
  * @param bins           histogram bucket count
  * @param corrReject     Pearson ρ threshold for variable rejection
  * @param topK           frequency-table size
  * @param sampleRows     head-sample size
  * @param exactQuantiles exact interpolated percentiles (test scale)
  *                       vs percentile_approx sketches (100 TB scale)
  * @param quantilesByDtype reproduce upstream's per-dtype dispatch
  *                       (describe_integer_1d ≈L150–165 vs
  *                       describe_float_1d ≈L190–205): integral
  *                       columns exact, fractional columns approx —
  *                       overrides `exactQuantiles` when set
  * @param exactDistinct  exact count(distinct) vs HLL++
  *                       approx_count_distinct (100 TB scale)
  * @param correlations   compute the O(k²) correlation pass
  * @param fused          run the whole profile through the ONE-scan
  *                       [[Profiler.profileFused]] multi-sketch path
  *                       (sketch-grade distincts/quantiles/histograms;
  *                       overrides the exact* switches)
  */
case class ProfilerConfig(
    bins: Int = 10,
    corrReject: Double = 0.9,
    topK: Int = 10,
    sampleRows: Int = 5,
    exactQuantiles: Boolean = true,
    quantilesByDtype: Boolean = false,
    exactDistinct: Boolean = true,
    correlations: Boolean = true,
    fused: Boolean = false,
    /** pairwise Cramér's V over the CAT columns (pandas-profiling
      * 2.x-style categorical associations; the 1.x reference lineage
      * has none, so this EXTENSION is opt-in and the default profile
      * output shape stays reference-parity). One extra corpus pass
      * for ALL pairs ([[graft.ops.CatStats.associationAll]]). */
    catAssociations: Boolean = false,
    /** cap on cat-association pairs (k_cat²/2 grows fast); excess
      * pairs are dropped with a warning */
    maxCatAssocPairs: Int = 15,
    /** Spearman rank-correlation matrix beside Pearson (the
      * pandas-profiling lineage shows both; monotonic association
      * Pearson misses). The default path is the map-only GK-grid
      * approximation ([[Stats.spearmanApprox]] — no global sort, no
      * window, survives any corpus size; |error| < 0.05 per the
      * corr_spearman_approx_err contract); `exactSpearman` switches
      * to the window-sort exact form (audit scale only — k
      * single-partition sorts). */
    spearman: Boolean = true,
    exactSpearman: Boolean = false,
    spearmanGrid: Int = 1024)

/** One column's profile (reference: one row of the `variables` frame in
  * base.py::describe's description set). */
case class ColumnProfile(
    name: String,
    kind: String,
    count: Long,
    missing: Long,
    pMissing: Double,
    distinct: Long,
    pUnique: Double,
    stats: Map[String, Double],
    quantiles: Map[String, Double],
    histogram: Seq[(Long, Long)],
    topValues: Seq[(String, Long)])

case class TableProfile(
    n: Long,
    nvar: Int,
    totalMissing: Long,
    pMissing: Double,
    columns: Seq[ColumnProfile],
    rejected: Seq[(String, String, Double)],
    warnings: Seq[String],
    /** full upper-triangle Pearson matrix (column order), so rejection
      * can be re-evaluated at any threshold after profiling */
    correlations: Seq[(String, String, Double)] = Seq.empty,
    /** pairwise (col_a, col_b, Cramér's V) over CAT columns when
      * `cfg.catAssociations` is on — the categorical counterpart of
      * `correlations` (empty otherwise; pairs whose V is undefined —
      * a constant side — are omitted) */
    catAssociations: Seq[(String, String, Double)] = Seq.empty,
    /** Catalyst's optimized-plan size estimate (file bytes for a
      * plain scan) — the Spark-native analogue of the reference's
      * "total size in memory" overview stat (base.py::describe uses
      * df.memory_usage; a distributed engine reports the plan
      * statistic instead of a driver-side materialization). 0 when
      * unavailable. */
    sizeBytes: BigInt = BigInt(0),
    /** upper-triangle Spearman rank-correlation matrix over the NUM
      * columns (GK-grid approx path by default, exact under
      * `cfg.exactSpearman`; empty when `cfg.spearman` is off or
      * fewer than two numeric columns). Declared LAST so older
      * positional constructions stay source-compatible. */
    spearman: Seq[(String, String, Double)] = Seq.empty)

/** The public profiling API (reference: `ProfileReport(df, …)`).
  *
  * Architecture delta vs the reference (SURVEY.md §4.3): instead of an
  * eager per-column job storm — O(k) fused aggs + O(5k) percentile jobs
  * + O(k²) correlation jobs, each a full driver round-trip — the whole
  * profile runs in a FIXED number of Spark jobs regardless of column
  * count:
  *
  *   pass A: one wide agg — counts, moments, zeros, date min/max for
  *           every column (partial/final hash aggregation, whole-stage
  *           codegen); HLL++ distincts fuse in here, while EXACT
  *           countDistinct runs as its own long-form pass (below);
  *   pass B: all columns' percentiles (and the Spearman grid cuts);
  *   pass C: histograms (reusing pass A's bounds) and frequency
  *           tables (results bounded by k·max(bins, topK) rows);
  *   pass D: all k(k−1)/2 Pearson correlations from central co-moment
  *           sums.
  *
  * The exact distinct, quantile, histogram and frequency passes run
  * on the LONG FORM ([[Stats.longForm]]): one explode of each row to
  * (col_idx, value), fused into the scan's codegen stage, feeding a
  * grouped aggregation — groupBy(col_idx) + countDistinct over typed
  * slots; groupBy(col_idx) + exact/approx percentiles, final merges
  * parallel across columns; groupBy(col_idx, bin); groupBy(col_idx,
  * value) + row_number ≤ topK with `__other__` = pass A's non-null
  * count − Σ top-k. Spark's JVM-wide codegen cache holds 100 classes,
  * so a pass's plan shape must not depend on the schema: the long
  * form compiles the same operators for 11 or 500 columns, where one
  * job per column or k·bins conditional sums compiled more classes
  * than the cache holds and recompiled them on every warm profile.
  *
  * The wide single-row aggregations (A, A2) run through bounded-size
  * chunks (several scans instead of one enormous plan past a few
  * hundred columns), and every result collected to the driver is
  * O(k) — never proportional to row count — so the same plans hold at
  * 100 TB with `exactQuantiles=false, exactDistinct=false`
  * (sketch-based paths).
  */
object Profiler {

  /** Wide single-row aggregations run through [[Stats.chunkedAgg]] —
    * a 500-column profile would otherwise build multi-thousand-
    * expression Aggregate plans (Catalyst analysis and codegen are
    * superlinear in expression count). */
  private def chunkedAgg(df: DataFrame, aggs: Seq[org.apache.spark.sql.Column],
      chunk: Int): Map[String, Any] = Stats.chunkedAgg(df, aggs, chunk)

  /** Tag the jobs a concurrent pass submits from its POOL thread
    * (r17, VERDICT item 5): a per-pass scheduler pool so overlapped
    * passes cannot starve each other under `spark.scheduler.mode=FAIR`
    * at scale (inert under the default FIFO mode — pools only exist
    * in FAIR mode; local bench numbers are untouched), plus a guide
    * §1.5 job description for the UI. Both properties are
    * thread-local: call this ONLY on a dedicated executor-pool
    * thread, never the caller's thread, or they leak into later
    * queries. */
  private def tagPass(df: DataFrame, pass: String): Unit = {
    val sc = df.sparkSession.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", s"graft-$pass")
    sc.setJobDescription(s"profile: $pass")
  }

  def profile(df: DataFrame,
      cfg: ProfilerConfig = ProfilerConfig()): TableProfile = {
    val allCols = df.columns.toSeq
    val numCols = Kinds.numericCols(df)
    val dateColsS = Kinds.dateCols(df)
    val nvar = allCols.size

    // ---- pass A: counts + moments + zeros + date ranges ------------
    // Exact countDistinct is kept OUT of this agg: k distinct
    // aggregates make Catalyst plan an Expand that multiplies every
    // input row (k+1)× before the partial aggregation, so fusing them
    // here would push all the cheap codegen'd aggregates through the
    // expanded stream too (measured ~5 s extra at sf0.1 for 11
    // columns). The HLL++ sketch is a regular declarative aggregate
    // (no Expand), so the approx path stays fully fused in one scan.
    val dbl: String => org.apache.spark.sql.Column =
      c => col(c).cast("double")
    val aggsA =
      Seq(count(lit(1)).as("__n")) ++
      allCols.map(c => count(col(c)).as(s"cnt__$c")) ++
      (if (cfg.exactDistinct) Nil
       else allCols.map(c =>
         approx_count_distinct(Stats.orderable(df, c)).as(s"dis__$c"))) ++
      numCols.flatMap { c =>
        // var/sd/skew/kurt come from pass A2's central sums: k×4
        // built-in moment aggregates would overflow the codegen
        // method-size limit and fall back to interpreted eval
        Seq(avg(dbl(c)).as(s"mean__$c"), min(dbl(c)).as(s"min__$c"),
          max(dbl(c)).as(s"max__$c"), sum(dbl(c)).as(s"sum__$c"),
          coalesce(sum(when(dbl(c) === 0.0, 1L).otherwise(0L)), lit(0L))
            .as(s"z__$c"))
      } ++
      dateColsS.flatMap { c =>
        Seq(unix_micros(min(col(c)).cast("timestamp")).as(s"dmn__$c"),
          unix_micros(max(col(c)).cast("timestamp")).as(s"dmx__$c"))
      }
    // r16: passes A (base), A-distinct and B are INDEPENDENT plans —
    // submit them from a small thread pool so their jobs overlap
    // (guide §2.6: actions are only sequential because driver code
    // calls them sequentially). A2 depends on A's means, so it runs
    // as soon as A lands, concurrently with the still-running
    // distinct/B jobs. Each pass's PLAN is byte-identical to the
    // sequential form — only submission order changes, so every
    // collected value is unchanged.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val (aMap, momentMap, qMap, spearmanCuts, withSpearmanGrid) = try {
      val fBase = Future {
        tagPass(df, "passA-base")
        chunkedAgg(df, aggsA, chunk = 600)
      }
      // exact distincts in their own pass: one grouped single-
      // distinct aggregation over the long form
      // (Stats.exactDistinctPerCol — no Expand, one job set for any
      // column count).
      val fDis: Future[Map[String, Any]] =
        if (!cfg.exactDistinct) Future.successful(Map.empty)
        else Future {
          tagPass(df, "passA-distinct")
          Stats.exactDistinctPerCol(df, allCols).map {
            case (c, (_, dis)) => s"dis__$c" -> (dis: Any)
          }
        }
      // ---- pass B: all quantiles in one grouped agg ----
      // The Spearman grid cuts ride in the SAME scan (one extra
      // percentile_approx — cheap next to the exact percentile
      // buffers), so pass D2 only pays its rank/co-moment pass
      // instead of a dedicated grid aggregation.
      val wsg = cfg.spearman && !cfg.exactSpearman && numCols.size >= 2
      val fB: Future[(Map[String, Seq[Double]],
          Map[String, Array[Double]])] =
        if (numCols.isEmpty) Future.successful((Map.empty, Map.empty))
        else Future {
          tagPass(df, "passB-quantiles")
          val useApprox = numCols.map { c =>
            if (cfg.quantilesByDtype)
              !Kinds.isIntegral(df.schema(c).dataType)
            else !cfg.exactQuantiles
          }
          val gridPs = Option.when(wsg)(
            (0 to cfg.spearmanGrid).map(_.toDouble / cfg.spearmanGrid))
          quantilesLong(df, numCols, useApprox, gridPs)
        }
      val base = Await.result(fBase, Duration.Inf)
      def bLong(name: String): Long = base(name).asInstanceOf[Long]
      def bDouble(name: String): Option[Double] =
        Option(base(name)).map {
          case x: Double => x
          case x: Long => x.toDouble
          case x: Number => x.doubleValue()
        }
      // ---- pass A2: central power sums → var/sd/skew/kurt ----
      // (needs A's means; overlaps the distinct/B jobs still running)
      val mm: Map[String, Map[String, Double]] =
        if (numCols.isEmpty) Map.empty
        else {
          val withMu =
            numCols.flatMap(c => bDouble(s"mean__$c").map(c -> _))
          if (withMu.isEmpty) Map.empty
          else {
            val r2 = chunkedAgg(df, Stats.centralSumAggs(withMu),
              chunk = 600)
            withMu.map { case (c, _) =>
              c -> Stats.momentsFromSums(bLong(s"cnt__$c"),
                r2(s"s2__$c").asInstanceOf[Double],
                r2(s"s3__$c").asInstanceOf[Double],
                r2(s"s4__$c").asInstanceOf[Double])
            }.toMap
          }
        }
      val (q, cuts) = Await.result(fB, Duration.Inf)
      (base ++ Await.result(fDis, Duration.Inf), mm, q, cuts, wsg)
    } finally pool.shutdown()

    assemble(df, cfg, aMap, momentMap, qMap,
      spearmanCutsOverride =
        if (withSpearmanGrid) Some(spearmanCuts) else None)
  }

  /** Pass B: the [[Stats.quantilesFrame]] rows collected per column
    * to (percentiles, Spearman grid cuts; empty without `gridPs`). A
    * column with no non-null value gets empty values (the wide agg's
    * null). */
  private[graft] def quantilesLong(df: DataFrame, numCols: Seq[String],
      useApprox: Seq[Boolean], gridPs: Option[Seq[Double]])
      : (Map[String, Seq[Double]], Map[String, Array[Double]]) = {
    val rows = Stats.quantilesFrame(df, numCols, useApprox, gridPs)
      .collect().map(r => r.getInt(0) -> r).toMap
    def arrOf(i: Int, name: String): Seq[Double] =
      rows.get(i)
        .flatMap(r => Option(r.getAs[scala.collection.Seq[Any]](name)))
        .map(_.map(x => Option(x).map(_.asInstanceOf[Double])
          .getOrElse(Double.NaN)).toSeq)
        .getOrElse(Seq.empty)
    (numCols.indices.map(i =>
      numCols(i) -> arrOf(i, if (useApprox(i)) "qa" else "qe")).toMap,
     if (gridPs.isEmpty) Map.empty
     else numCols.indices.map(i => numCols(i) -> arrOf(i, "sg").toArray)
       .toMap)
  }

  /** Whole-table profile in ONE input scan for all scannable
    * statistics: each column gets a [[graft.functions.MultiSketchAgg]]
    * carrying count + streaming central moments + min/max/sum/zeros +
    * a KMV distinct sketch + GK quantile summaries, so passes A, A2
    * and B of [[profile]] collapse into a single aggregation. The
    * remaining jobs (histograms — which need the min/max bounds this
    * scan produces — frequency tables, correlations) are unchanged.
    *
    * Statistics are sketch-grade where [[profile]]'s sketch config is
    * sketch-grade (distinct ~1/√k error above k=1024, quantiles at GK
    * accuracy 10000 — the same class percentile_approx uses) and
    * exact elsewhere (counts, min/max/sum/zeros; moments exact up to
    * float summation order). The 100 TB default: one pass over the
    * corpus instead of three. (`cfg.spearman` — on by default — adds
    * the shared rank-correlation passes on top, same as [[profile]];
    * set it false for the strict single-scan form.) */
  def profileFused(df: DataFrame,
      cfg: ProfilerConfig = ProfilerConfig()): TableProfile = {
    import graft.functions.MultiSketch
    val allCols = df.columns.toSeq
    val numColsSet = Kinds.numericCols(df).toSet
    val dateColsSet = Kinds.dateCols(df).toSet
    // hash/cast/null-guard work runs in a codegen'd projection UNDER
    // the aggregate (fused into the scan stage by whole-stage
    // codegen); the aggregate's children are then bare attribute
    // reads, so its per-row interpreted eval is just row access
    val proj = df.select(allCols.flatMap { c =>
      val oc = Stats.orderable(df, c)
      val value =
        if (numColsSet(c)) col(c).cast("double")
        else if (dateColsSet(c))
          unix_micros(col(c).cast("timestamp")).cast("double")
        else lit(null).cast("double")
      Seq(value.as(s"v__$c"),
        when(oc.isNotNull, xxhash64(oc)).as(s"h__$c"))
    }: _*)
    // numeric column order for the co-moment matrix
    val numColsOrdered = Kinds.numericCols(df)
    val withCorr = cfg.correlations && numColsOrdered.size >= 2
    val aggs = (count(lit(1)).as("__n") +: allCols.map { c =>
      // quantile summaries where the profile reads them: numeric
      // quantiles, and DATE columns for the GK-estimated epoch-micros
      // mini-histogram (the pandas-profiling 1.x date render)
      MultiSketch.sketch(col(s"v__$c"), col(s"h__$c"),
        ps = if (numColsSet(c) || dateColsSet(c)) Stats.Ps else Nil)
        .as(s"ms__$c")
    }) ++
      // the whole correlation matrix rides in the same scan: one
      // buffer of all k(k+1)/2 streaming co-moments (see CoMomentAgg)
      (if (withCorr)
        Seq(graft.functions.CoMoment.sketch(
          array(numColsOrdered.map(c => col(s"v__$c")): _*),
          numColsOrdered.size).as("__cm"))
      else Nil)
    val m = chunkedAgg(proj, aggs, chunk = 300)
    def rowOf(c: String) = m(s"ms__$c").asInstanceOf[org.apache.spark.sql.Row]
    val aMap: Map[String, Any] = Map("__n" -> m("__n")) ++
      allCols.flatMap { c =>
        val r = rowOf(c)
        val base = Seq[(String, Any)](s"cnt__$c" -> r.getAs[Long]("cnt"),
          s"dis__$c" -> r.getAs[Long]("dis"))
        val extra: Seq[(String, Any)] =
          if (numColsSet(c))
            Seq(s"mean__$c" -> r.getAs[Any]("mean"),
              s"min__$c" -> r.getAs[Any]("mn"),
              s"max__$c" -> r.getAs[Any]("mx"),
              s"sum__$c" -> r.getAs[Any]("sm"),
              s"z__$c" -> r.getAs[Long]("nz"))
          else if (dateColsSet(c))
            Seq(s"dmn__$c" -> Option(r.getAs[Any]("mn"))
                .map(v => java.lang.Long.valueOf(
                  v.asInstanceOf[Double].toLong)).orNull,
              s"dmx__$c" -> Option(r.getAs[Any]("mx"))
                .map(v => java.lang.Long.valueOf(
                  v.asInstanceOf[Double].toLong)).orNull)
          else Nil
        base ++ extra
      }
    val momentMap: Map[String, Map[String, Double]] =
      allCols.filter(numColsSet).flatMap { c =>
        val r = rowOf(c)
        val nNum = r.getAs[Long]("n_num")
        if (nNum == 0 || r.isNullAt(r.fieldIndex("m2"))) None
        else Some(c -> Stats.momentsFromSums(nNum,
          r.getAs[Double]("m2"), r.getAs[Double]("m3"),
          r.getAs[Double]("m4")))
      }.toMap
    val qMap: Map[String, Seq[Double]] =
      allCols.filter(numColsSet).map { c =>
        val r = rowOf(c)
        val qs = r.getAs[scala.collection.Seq[Any]]("qs")
        c -> (if (qs == null) Seq.empty[Double]
              else qs.map(x => Option(x).map(_.asInstanceOf[Double])
                .getOrElse(Double.NaN)).toSeq)
      }.toMap
    // histograms estimated from the GK summaries — no extra scan;
    // per-bin error bounded by the GK rank guarantee (≤ ε·n per edge,
    // ε = 1e-4), exact whenever a column's summary never compressed
    val histOverride: Map[String, Seq[(Long, Long)]] =
      allCols.filter(c => numColsSet(c) || dateColsSet(c)).flatMap { c =>
        val r = rowOf(c)
        val gk = r.getAs[Array[Byte]]("gk")
        if (gk == null) None
        else {
          val mn = Option(r.getAs[Any]("mn"))
            .map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
          val mx = Option(r.getAs[Any]("mx"))
            .map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
          val h = MultiSketch.gkHistogram(gk, mn, mx, cfg.bins)
          if (h.isEmpty) None else Some(c -> h)
        }
      }.toMap
    // correlation matrix from the fused co-moment buffer, sig5-rounded
    // exactly as Stats.corrMatrix rounds in-plan
    val corrOverride: Option[Map[(String, String), Option[Double]]] =
      if (!withCorr) Some(Map.empty)
      else Some(corrFromCmRow(
        m("__cm").asInstanceOf[org.apache.spark.sql.Row], numColsOrdered))
    // Spearman grid cuts queried straight from the fused GK summaries
    // — no extra scan for the grid; pass D2 then costs exactly one
    // rank/co-moment pass on top of the single profile scan.
    val spearmanCutsF: Option[Map[String, Array[Double]]] =
      if (!cfg.spearman || cfg.exactSpearman ||
          numColsOrdered.size < 2) None
      else {
        val ps = (0 to cfg.spearmanGrid)
          .map(_.toDouble / cfg.spearmanGrid)
        Some(numColsOrdered.flatMap { c =>
          val gk = rowOf(c).getAs[Array[Byte]]("gk")
          if (gk == null) None
          else Some(c -> MultiSketch.gkQuantiles(gk, ps))
        }.toMap)
      }
    assemble(df, cfg, aMap, momentMap, qMap,
      histOverride = Some(histOverride), corrOverride = corrOverride,
      spearmanCutsOverride = spearmanCutsF)
  }

  /** ρ matrix from a collected [[graft.functions.CoMomentAgg]] struct,
    * sig5-rounded exactly as Stats.corrMatrix rounds in-plan. */
  private def corrFromCmRow(r: org.apache.spark.sql.Row,
      cols: Seq[String]): Map[(String, String), Option[Double]] = {
    val cm = r.getAs[scala.collection.Seq[Double]]("cm").toArray
    val kN = cols.size
    val idx = cols.zipWithIndex.toMap
    Stats.corrPairs(cols).map { case (a, b) =>
      val i = idx(a); val j = idx(b)
      val cij = cm(graft.functions.CoMoment.triIndex(i, j, kN))
      val cii = cm(graft.functions.CoMoment.triIndex(i, i, kN))
      val cjj = cm(graft.functions.CoMoment.triIndex(j, j, kN))
      val denom = math.sqrt(cii) * math.sqrt(cjj)
      (a, b) -> (if (denom == 0.0 || denom.isNaN) None
                 else Some(graft.det.Sig.sig5(cij / denom)))
    }.toMap
  }

  /** Whole correlation matrix in ONE scan via the all-pairs streaming
    * co-moment aggregate — used by [[profile]]'s pass D in place of
    * the two-pass (means, then centered sums) Stats.corrMatrix plan.
    * Values agree with the two-pass form to ~1e-12 relative before
    * the shared sig5 rounding, and exactly after it (away from
    * rounding-boundary measure zero). */
  private def coMomentCorr(df: DataFrame, cols: Seq[String])
      : Map[(String, String), Option[Double]] = {
    val vals = array(cols.map(c => col(c).cast("double")): _*)
    val r = df.agg(graft.functions.CoMoment.sketch(vals, cols.size)
      .as("__cm")).first().getAs[org.apache.spark.sql.Row]("__cm")
    corrFromCmRow(r, cols)
  }

  /** Passes C (histograms + frequency tables) and D (correlations)
    * plus final assembly — shared by the pass-based [[profile]] and
    * the single-scan [[profileFused]], which produce the same
    * (aMap, momentMap, qMap) shape by different plans. */
  private def assemble(df: DataFrame, cfg: ProfilerConfig,
      aMap: Map[String, Any],
      momentMap: Map[String, Map[String, Double]],
      qMap: Map[String, Seq[Double]],
      histOverride: Option[Map[String, Seq[(Long, Long)]]] = None,
      corrOverride: Option[Map[(String, String), Option[Double]]] = None,
      spearmanCutsOverride: Option[Map[String, Array[Double]]] = None)
      : TableProfile = {
    val allCols = df.columns.toSeq
    val numCols = Kinds.numericCols(df)
    val nvar = allCols.size
    def aLong(name: String): Long = aMap(name).asInstanceOf[Long]
    def aDouble(name: String): Option[Double] =
      Option(aMap(name)).map {
        case x: Double => x
        case x: Long => x.toDouble
        case x: Number => x.doubleValue()
      }
    val n = aLong("__n")

    // ---- pass C: histograms + frequency tables (one job each) ----
    // DATE columns join the numeric histogram job as exact
    // epoch-micros doubles (< 2^53, conversion exact — the
    // date_histogram determinism argument): same scan count, the
    // pandas-profiling 1.x date mini-histogram included.
    val dateColsA = Kinds.dateCols(df)
    def aEpoch(name: String): Double = Option(aMap(name))
      .map(_.asInstanceOf[Long].toDouble).getOrElse(Double.NaN)
    val mnMap = numCols.map(c =>
      c -> aDouble(s"min__$c").getOrElse(Double.NaN)).toMap ++
      dateColsA.map(c => c -> aEpoch(s"dmn__$c"))
    val mxMap = numCols.map(c =>
      c -> aDouble(s"max__$c").getOrElse(Double.NaN)).toMap ++
      dateColsA.map(c => c -> aEpoch(s"dmx__$c"))
    val histSrc =
      if (dateColsA.isEmpty) df
      else df.select(numCols.map(col) ++ dateColsA.map(c =>
        unix_micros(col(c).cast("timestamp")).cast("double").as(c)): _*)
    // r16: histograms, frequency tables, the Pearson co-moment scan,
    // categorical associations and the Spearman pass are MUTUALLY
    // INDEPENDENT plans (hist needs only pass A's bounds, already in
    // aMap) — submit them from a small pool so their jobs overlap
    // (guide §2.6); each individual plan is unchanged, so every
    // collected value is identical to the sequential form.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val (histRows, freqRows, corrM, catAssoc0, spearmanM) = try {
    val hCols = numCols ++ dateColsA
    val fHist: Future[Map[String, Seq[(Long, Long)]]] =
      if (hCols.isEmpty) Future.successful(Map.empty)
      else histOverride.map(Future.successful).getOrElse(Future {
        tagPass(df, "passC-histograms")
        // one groupBy(col_idx, bin) over the long form for all
        // columns; the grid fills the empty buckets driver-side
        val cells = Stats.histogramCounts(histSrc, hCols, cfg.bins,
          mnMap, mxMap).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
        Stats.histogramBins(hCols, cfg.bins, mnMap, mxMap)
          .flatMap { case (i, c, b, _, _, keepEmpty) =>
            val cnt = cells.getOrElse((i, b), 0L)
            if (cnt > 0 || keepEmpty) Some(c -> ((b, cnt))) else None
          }
          .groupBy(_._1).map { case (c, bs) => c -> bs.map(_._2) }
      })
    val catColsS = Kinds.catCols(df)
    val fFreq: Future[Map[String, Seq[(String, Long)]]] =
      if (catColsS.isEmpty) Future.successful(Map.empty)
      else Future {
        tagPass(df, "passC-freq")
        // top-k per column over the long form; the `__other__`
        // remainder is pass A's non-null count minus Σ top-k
        val top = Stats.topValues(Stats.freqCounts(df, catColsS), cfg.topK)
          .collect().groupBy(_.getAs[Int]("col_idx"))
        catColsS.zipWithIndex.flatMap { case (c, i) =>
          top.get(i).map { rs =>
            val vals = rs.sortBy(_.getAs[Long]("rnk")).toSeq
              .map(r => (r.getAs[String]("value"), r.getAs[Long]("cnt")))
            val other = aLong(s"cnt__$c") - vals.map(_._2).sum
            c -> (if (other > 0) vals :+ (("__other__", other)) else vals)
          }
        }.toMap
      }
    // ---- pass D: correlations + rejection — one co-moment scan
    // (the oracle-parity two-pass plan lives on in Stats.corrMatrix,
    // which the corr_matrix query declares directly) ----
    val fCorr: Future[Map[(String, String), Option[Double]]] =
      if (!cfg.correlations || numCols.size < 2)
        Future.successful(Map.empty)
      else corrOverride.map(Future.successful)
        .getOrElse(Future {
          tagPass(df, "passD-pearson"); coMomentCorr(df, numCols)
        })
    // ---- pass E (opt-in) + pass D2 (Spearman), moved ahead of the
    // driver-side assembly so their scans overlap the other passes —
    // bodies unchanged (see the pass D2 scaladoc below) ----
    val fCatAssoc: Future[(Seq[(String, String, Double)], Int, Int)] =
      Future {
        tagPass(df, "passE-catassoc")
        // the same CAT-candidate set the column assembly derives:
        // base kind CAT, 1 < distinct ≤ 100, not UNIQUE (a CAT column
        // is never CORR-rejected — rejection runs over numCols only)
        val typeOf = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val catCand = allCols.filter { c =>
          Kinds.baseKind(typeOf(c)) == "CAT" && {
            val dis = aLong(s"dis__$c"); val cnt = aLong(s"cnt__$c")
            dis > 1 && dis <= 100 && !(dis == cnt && cnt > 1)
          }
        }
        val catPairsAll =
          for { i <- catCand.indices; j <- (i + 1) until catCand.size }
            yield (catCand(i), catCand(j))
        val catPairs = catPairsAll.take(cfg.maxCatAssocPairs)
        val assoc =
          if (!cfg.catAssociations || catPairs.isEmpty) Seq.empty
          else graft.ops.CatStats.associationAll(df, catPairs)
            .collect().toSeq.flatMap { r =>
              if (r.isNullAt(5)) None
              else
                Some((r.getString(0), r.getString(1), r.getDouble(5)))
            }
        (assoc, catPairsAll.size, catPairs.size)
      }
    val fSpearman: Future[Seq[(String, String, Double)]] = Future {
      tagPass(df, "passD2-spearman")
      if (!cfg.spearman || numCols.size < 2) Seq.empty
      else if (cfg.exactSpearman)
        Stats.spearmanMatrix(df, numCols).collect().toSeq.flatMap { r =>
          if (r.isNullAt(2)) None
          else Some((r.getString(0), r.getString(1), r.getDouble(2)))
        }.sortBy(t => (t._1, t._2))
      else {
        val clean = df.na.drop(numCols)
        // grid cuts come FREE when the caller already scanned a
        // quantile structure (pass B's fused grid agg, or the fused
        // profile's GK summaries); only a standalone assemble pays
        // its own chunked percentile agg here
        val cutMap: Map[String, Array[Double]] =
          spearmanCutsOverride.getOrElse {
            val grid = cfg.spearmanGrid
            val ps = (0 to grid).map(_.toDouble / grid)
            val gridAggs = numCols.map(c => percentile_approx(
              col(c).cast("double"), typedLit(ps), lit(2500)).as(c))
            val cutRow = Stats.chunkedAgg(clean, gridAggs, 300)
            numCols.map { c =>
              c -> cutRow(c).asInstanceOf[scala.collection.Seq[Any]]
                .map(_.asInstanceOf[Double]).toArray
            }.toMap
          }
        val usable = numCols.filter(c =>
          cutMap.get(c).exists(_.nonEmpty))
        if (usable.size < 2) Seq.empty
        else {
          val ranked = clean.select(usable.map { c =>
            graft.functions.GridRank.grid_rank(
              col(c).cast("double"), cutMap(c)).as(c)
          }: _*)
          coMomentCorr(ranked, usable).toSeq.collect {
            case ((a, b), Some(rho)) => (a, b, rho)
          }.sortBy(t => (t._1, t._2))
        }
      }
    }
    (Await.result(fHist, Duration.Inf),
      Await.result(fFreq, Duration.Inf),
      Await.result(fCorr, Duration.Inf),
      Await.result(fCatAssoc, Duration.Inf),
      Await.result(fSpearman, Duration.Inf))
    } finally pool.shutdown()
    val rejected: Seq[(String, String, Double)] =
      Stats.rejectFromMatrix(numCols, corrM, cfg.corrReject)
    val rejectedNames = rejected.map(_._1).toSet

    // ---- assemble ----
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val columns = allCols.map { c =>
      val cnt = aLong(s"cnt__$c")
      val dis = aLong(s"dis__$c")
      val base = Kinds.baseKind(byName(c))
      val kind =
        if (rejectedNames.contains(c)) "CORR"
        else if (dis == 1) "CONST"
        else if (dis == cnt && cnt > 1) "UNIQUE"
        else base
      val stats: Map[String, Double] =
        if (base == "NUM")
          Seq("mean", "min", "max", "sum")
            .flatMap(k => aDouble(s"${k}__$c").map(k -> _)).toMap ++
            momentMap.getOrElse(c, Map.empty) ++
            Map("n_zeros" -> aLong(s"z__$c").toDouble)
        else if (base == "DATE")
          Seq("dmn", "dmx").flatMap(k =>
            Option(aMap(s"${k}__$c"))
              .map(v => k -> v.asInstanceOf[Long].toDouble)).toMap
        else Map.empty
      val qs = qMap.getOrElse(c, Seq.empty)
      ColumnProfile(
        name = c, kind = kind, count = cnt, missing = n - cnt,
        pMissing = if (n == 0) 0.0 else (n - cnt).toDouble / n,
        distinct = dis,
        pUnique = if (cnt == 0) 0.0 else dis.toDouble / cnt,
        stats = stats,
        quantiles =
          if (qs.isEmpty) Map.empty
          else Seq("p05", "q1", "median", "q3", "p95").zip(qs).toMap,
        histogram = histRows.getOrElse(c, Seq.empty),
        topValues = freqRows.getOrElse(c, Seq.empty))
    }

    val totalMissing = columns.map(_.missing).sum
    val warnings0 = columns.flatMap { cp =>
      val w = scala.collection.mutable.ArrayBuffer.empty[String]
      if (cp.pMissing > 0.5)
        w += s"${cp.name}: ${(cp.pMissing * 100).round}% missing"
      if (cp.kind == "CAT" && cp.distinct > 50)
        w += s"${cp.name}: high cardinality (${cp.distinct})"
      if (cp.kind == "CONST") w += s"${cp.name}: constant"
      if (cp.kind == "CORR") w += s"${cp.name}: rejected (correlated)"
      cp.stats.get("sk").foreach { sk =>
        if (math.abs(sk) > 20) w += s"${cp.name}: highly skewed"
      }
      w.toSeq
    }

    // pass E computed concurrently above (fCatAssoc) — the candidate
    // filter there replicates this assembly's CAT-kind derivation
    val (catAssoc, nAllCatPairs, nCatPairs) = catAssoc0
    val warnings =
      if (cfg.catAssociations && nAllCatPairs > nCatPairs)
        warnings0 :+ (s"cat associations: $nAllCatPairs pairs " +
          s"capped to $nCatPairs")
      else warnings0

    // pass D2 (Spearman) computed concurrently above (fSpearman);
    // the scaladoc moved with the body. spearmanM already sorted.

    TableProfile(n, nvar, totalMissing,
      if (n == 0 || nvar == 0) 0.0
      else totalMissing.toDouble / (n.toDouble * nvar),
      columns, rejected, warnings,
      correlations = corrM.toSeq.collect {
        case ((a, b), Some(rho)) => (a, b, rho)
      }.sortBy(t => (t._1, t._2)),
      catAssociations = catAssoc,
      sizeBytes = scala.util.Try(
        df.queryExecution.optimizedPlan.stats.sizeInBytes)
        .getOrElse(BigInt(0)),
      spearman = spearmanM)
  }

  /** Full profile flattened to a tidy queryable DataFrame
    * (col_name, metric, value_num, value_str) — the Spark-native
    * analogue of the reference's description-set dict. */
  def profileTidy(df: DataFrame,
      cfg: ProfilerConfig = ProfilerConfig()): DataFrame = {
    val p = if (cfg.fused) profileFused(df, cfg) else profile(df, cfg)
    val spark = df.sparkSession
    import spark.implicits._
    val tableRows = Seq(
      ("__table__", "n", Some(p.n.toDouble), None: Option[String]),
      ("__table__", "nvar", Some(p.nvar.toDouble), None),
      ("__table__", "p_missing", Some(p.pMissing), None))
    val colRows = p.columns.flatMap { c =>
      Seq(
        (c.name, "kind", None: Option[Double], Some(c.kind)),
        (c.name, "count", Some(c.count.toDouble), None),
        (c.name, "missing", Some(c.missing.toDouble), None),
        (c.name, "p_missing", Some(c.pMissing), None),
        (c.name, "distinct", Some(c.distinct.toDouble), None),
        (c.name, "p_unique", Some(c.pUnique), None)) ++
        c.stats.toSeq.sortBy(_._1).map { case (k, v) =>
          (c.name, k, Some(v), None)
        } ++
        c.quantiles.toSeq.sortBy(_._1).map { case (k, v) =>
          (c.name, k, Some(v), None)
        } ++
        c.histogram.map { case (bin, cnt) =>
          (c.name, s"hist_$bin", Some(cnt.toDouble), None)
        } ++
        c.topValues.zipWithIndex.map { case ((v, cnt), i) =>
          (c.name, s"top_$i", Some(cnt.toDouble), Some(v))
        }
    }
    val rejRows = p.rejected.map { case (b, a0, rho) =>
      (b, "rejected_vs", Some(rho), Some(a0))
    }
    val assocRows = p.catAssociations.map { case (a0, b, v) =>
      (a0, "cramers_v_vs", Some(v), Some(b))
    }
    val spearmanRows = p.spearman.map { case (a0, b, rho) =>
      (a0, "spearman_vs", Some(rho), Some(b))
    }
    (tableRows ++ colRows ++ rejRows ++ assocRows ++ spearmanRows)
      .toDF("col_name", "metric", "value_num", "value_str")
  }

  /** The fused flagship's error CONTRACT as data — the
    * col_distinct_approx_err pattern applied to [[profileFused]]:
    * runs the exact multi-pass profile AND the one-scan fused profile
    * on the same input and emits one (col_name, metric,
    * within_bound) row per comparable statistic, each judged against
    * its documented bound:
    *
    *  - exact fields (n, count, missing, min, max, n_zeros, date
    *    min/max): equal;
    *  - KMV distinct: |est − exact| ≤ 4σ·exact + 1, σ = 1/√k;
    *  - streaming sums/moments vs two-pass: relative tolerance
    *    (float summation order — 1e-8 for sum/mean, 1e-6 for
    *    var/sd, 1e-4 for the higher moments);
    *  - GK quantiles: verified against the DATA's true ranks (the
    *    [[Stats.quantileRankCheck]] contract, rank error ε·n + 1),
    *    not against the exact quantile value — GK's returned element
    *    is merge-order dependent, its rank guarantee is not.
    *
    * One extra counting aggregation beyond the two profiles (the
    * rank premises). Oracle: every row true. */
  def fusedCheck(df: DataFrame, kmvK: Int = 1024,
      accuracy: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // spearman off: the contract has no spearman rows (the approx
    // value is GK-merge-order dependent — its own error contract is
    // corr_spearman_approx_err), so paying its passes twice here
    // would be dead cost in the audit.
    val cfg = ProfilerConfig(exactQuantiles = true,
      exactDistinct = true, spearman = false)
    // r16: the exact profile and the fused profile are independent —
    // run them concurrently (guide §2.6); both results unchanged
    val (e, f) = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val fe = Future { tagPass(df, "check-exact"); profile(df, cfg) }
        val ff = Future {
          tagPass(df, "check-fused")
          profileFused(df, cfg.copy(fused = true))
        }
        (Await.result(fe, Duration.Inf), Await.result(ff, Duration.Inf))
      } finally pool.shutdown()
    }
    val eCols = e.columns.map(c => c.name -> c).toMap
    val fCols = f.columns.map(c => c.name -> c).toMap

    def relOk(a: Option[Double], b: Option[Double],
        tol: Double): Boolean = (a, b) match {
      case (Some(x), Some(y)) =>
        math.abs(x - y) <=
          tol * math.max(math.abs(x), math.abs(y)) + 1e-12
      case (None, None) => true
      case _ => false
    }

    val rows =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Boolean)]
    rows += (("__table__", "n", e.n == f.n))
    val sd = 1.0 / math.sqrt(kmvK.toDouble)
    df.columns.foreach { c =>
      val ec = eCols(c); val fc = fCols(c)
      rows += ((c, "count", ec.count == fc.count))
      rows += ((c, "missing", ec.missing == fc.missing))
      rows += ((c, "distinct",
        math.abs(fc.distinct - ec.distinct) <= 4.0 * sd * ec.distinct + 1))
      Seq(("min", 0.0), ("max", 0.0), ("n_zeros", 0.0),
          ("dmn", 0.0), ("dmx", 0.0),
          ("sum", 1e-8), ("mean", 1e-8),
          ("var", 1e-6), ("sd", 1e-6), ("sk", 1e-4), ("ku", 1e-4))
        .foreach { case (k, tol) =>
          if (ec.stats.contains(k) || fc.stats.contains(k))
            rows += ((c, k, relOk(ec.stats.get(k), fc.stats.get(k), tol)))
        }
      // fused histogram: GK-ESTIMATED bins vs the exact conditional-
      // sum bins — each bin's count is a difference of two rank
      // queries, so per-bin error ≤ 2·ε·n (+2 for edge ties)
      if (ec.histogram.nonEmpty || fc.histogram.nonEmpty) {
        val eh = ec.histogram.toMap
        val fh = fc.histogram.toMap
        val n = ec.count
        val bound = 2.0 * n / accuracy + 2.0
        val ok = (eh.keySet ++ fh.keySet).forall { b =>
          math.abs(eh.getOrElse(b, 0L) - fh.getOrElse(b, 0L)) <= bound
        }
        rows += ((c, "histogram", ok))
      }
    }
    // correlation contract: the fused all-pairs co-moment matrix vs
    // the exact path's matrix, pairwise — both sig5-rounded in their
    // assemblies, so agreement is within one rounding bucket
    val eCorr = e.correlations.map { case (a, b, r) => (a, b) -> r }.toMap
    val fCorr = f.correlations.map { case (a, b, r) => (a, b) -> r }.toMap
    (eCorr.keySet ++ fCorr.keySet).toSeq.sorted.foreach { case (a, b) =>
      val ok = (eCorr.get((a, b)), fCorr.get((a, b))) match {
        case (Some(x), Some(y)) => math.abs(x - y) <= 1e-4
        case _ => false
      }
      rows += ((s"$a|$b", "pearson", ok))
    }
    // GK rank contract for the fused quantile VALUES: one counting
    // aggregation of (strictly-below, at-or-below) per (col, p)
    val numCols = Kinds.numericCols(df)
    val pOf = Seq("p05" -> 0.05, "q1" -> 0.25, "median" -> 0.5,
      "q3" -> 0.75, "p95" -> 0.95)
    val checks = numCols.flatMap { c =>
      pOf.flatMap { case (nm, p) =>
        fCols(c).quantiles.get(nm).map(v => (c, nm, p, v)) }
    }
    if (checks.nonEmpty) {
      def dc(c: String) = col(c).cast("double")
      val aggs = numCols.map(c => count(dc(c)).as(s"n__$c")) ++
        checks.flatMap { case (c, nm, _, v) => Seq(
          coalesce(sum(when(dc(c) < v, 1L)), lit(0L)).as(s"lo__${c}__$nm"),
          coalesce(sum(when(dc(c) <= v, 1L)), lit(0L)).as(s"hi__${c}__$nm"))
        }
      val r = Stats.chunkedAgg(df, aggs, 300)
      checks.foreach { case (c, nm, p, _) =>
        val nC = r(s"n__$c").asInstanceOf[Long]
        val lo = r(s"lo__${c}__$nm").asInstanceOf[Long]
        val hi = r(s"hi__${c}__$nm").asInstanceOf[Long]
        val target = p * nC
        val margin = nC.toDouble / accuracy + 1.0
        rows += ((c, nm,
          lo + 1 <= target + margin && hi >= target - margin))
      }
    }
    rows.toSeq.toDF("col_name", "metric", "within_bound")
      .orderBy("col_name", "metric")
  }
}
