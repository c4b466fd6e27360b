package graft.profiler

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{MultiSketch, MultiSketchBuf}

/** Profiler configuration, mirroring the reference's knobs
  * (spark_df_profiling/__init__.py::ProfileReport ≈L12–30:
  * bins=10, corr_reject=0.9, sample default). The profile has two
  * modes: exact ([[Profiler.profile]], the long-form passes) and fused
  * ([[Profiler.profileFused]], one sketch scan):
  *
  * @param bins           histogram bucket count
  * @param corrReject     Pearson ρ threshold for variable rejection
  * @param topK           frequency-table size
  * @param sampleRows     head-sample size
  * @param correlations   compute the O(k²) correlation pass
  * @param fused          run the whole profile through the ONE-scan
  *                       [[Profiler.profileFused]] multi-sketch path
  *                       (sketch-grade distincts/quantiles/histograms)
  */
case class ProfilerConfig(
    bins: Int = 10,
    corrReject: Double = 0.9,
    topK: Int = 10,
    sampleRows: Int = 5,
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

/** One column's statistics before assembly, whichever plan produced
  * them: the exact passes of [[Profiler.profile]], or a
  * [[graft.functions.MultiSketchBuf]] from one scan or a store merge
  * ([[Profiler.sketchStats]]). `base` is the dtype bucket
  * ([[Kinds.baseKind]]); `stats` holds mean/min/max/sum, the moments
  * and n_zeros for NUM, dmn/dmx for DATE; `quantiles` the values at
  * [[Stats.Ps]] (NUM only). */
private[profiler] final case class ColumnStats(name: String, base: String,
    count: Long, distinct: Long, stats: Map[String, Double],
    quantiles: Seq[Double])

/** A column's statistics read off its sketch buffer, with the
  * equal-width histogram estimated from its GK summary and that
  * summary's bytes (None without a numeric value). */
private[profiler] final case class Sketched(stats: ColumnStats,
    histogram: Seq[(Long, Long)], gk: Option[Array[Byte]])

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
  *           codegen); exact countDistinct runs as its own long-form
  *           pass (below);
  *   pass B: all columns' exact percentiles (and the Spearman grid
  *           cuts);
  *   pass C: histograms (reusing pass A's bounds) and frequency
  *           tables (results bounded by k·max(bins, topK) rows);
  *   pass D: all k(k−1)/2 Pearson correlations from central co-moment
  *           sums.
  *
  * The exact distinct, quantile, histogram and frequency passes run
  * on the LONG FORM ([[Stats.longForm]]): one explode of each row to
  * (col_idx, value), fused into the scan's codegen stage, feeding a
  * grouped aggregation — groupBy(col_idx) + countDistinct over typed
  * slots; groupBy(col_idx) + exact percentiles, final merges
  * parallel across columns; groupBy(col_idx, bin); groupBy(col_idx,
  * value) + row_number ≤ topK. Spark's JVM-wide codegen cache holds
  * 100 classes, so a pass's plan shape must not depend on the schema:
  * the long form compiles the same operators for 11 or 500 columns,
  * where one job per column or k·bins conditional sums compiled more
  * classes than the cache holds and recompiled them on every warm
  * profile.
  *
  * The wide single-row aggregations (A, A2) run through bounded-size
  * chunks (several scans instead of one enormous plan past a few
  * hundred columns), and every result collected to the driver is
  * O(k) — never proportional to row count. At a scale where exact
  * distincts and percentiles cost too much, [[profileFused]] gives the
  * sketch-grade profile in one scan.
  *
  * Every profile — exact, fused ([[profileFused]]) and the store's
  * ([[ProfileStore.storeProfile]]) — ends in ONE pure assembly,
  * [[assemble]], which owns the kind rule, the `__other__` row, CORR
  * rejection, the warnings and the table totals.
  */
object Profiler {

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

  /** r16: independent passes are submitted from a small thread pool
    * so their jobs overlap (guide §2.6: actions are only sequential
    * because the calling code submits them in sequence). Each pass's PLAN is
    * byte-identical to the sequential form — only submission order
    * changes, so every collected value is unchanged. */
  private def withPool[T](threads: Int)(body: ExecutionContext => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try body(ExecutionContext.fromExecutorService(pool))
    finally pool.shutdown()
  }

  private def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)

  /** Names of the [[Stats.Ps]] quantiles in a [[ColumnProfile]]. */
  private val QuantileNames = Seq("p05", "q1", "median", "q3", "p95")

  /** KMV size and GK accuracy of the one-scan profile. */
  private val FusedK = 1024
  private val FusedAccuracy = 10000

  def profile(df: DataFrame,
      cfg: ProfilerConfig = ProfilerConfig()): TableProfile = {
    val allCols = df.columns.toSeq
    val numCols = Kinds.numericCols(df)
    val dateColsS = Kinds.dateCols(df)

    // ---- pass A: counts + moments + zeros + date ranges ------------
    // Exact countDistinct is kept OUT of this agg: k distinct
    // aggregates make Catalyst plan an Expand that multiplies every
    // input row (k+1)× before the partial aggregation, so fusing them
    // here would push all the cheap codegen'd aggregates through the
    // expanded stream too (measured ~5 s extra at sf0.1 for 11
    // columns).
    val dbl: String => org.apache.spark.sql.Column =
      c => col(c).cast("double")
    val aggsA =
      Seq(count(lit(1)).as("__n")) ++
      allCols.map(c => count(col(c)).as(s"cnt__$c")) ++
      numCols.flatMap { c =>
        // var/sd/skew/kurt come from pass A2's central sums: k×4
        // built-in moment aggregates would overflow the codegen
        // method-size limit and fall back to interpreted eval
        // hmx: the histogram's upper bound, over non-NaN values (max
        // orders NaN above every double; a NaN bound would make the
        // bin width NaN and floor(NaN) = 0 would put every row in bin 0)
        Seq(avg(dbl(c)).as(s"mean__$c"), min(dbl(c)).as(s"min__$c"),
          max(dbl(c)).as(s"max__$c"), sum(dbl(c)).as(s"sum__$c"),
          coalesce(sum(when(dbl(c) === 0.0, 1L).otherwise(0L)), lit(0L))
            .as(s"z__$c"),
          max(when(!isnan(dbl(c)), dbl(c))).as(s"hmx__$c"))
      } ++
      dateColsS.flatMap { c =>
        Seq(unix_micros(min(col(c)).cast("timestamp")).as(s"dmn__$c"),
          unix_micros(max(col(c)).cast("timestamp")).as(s"dmx__$c"))
      }
    // r16: passes A (base), A-distinct and B are INDEPENDENT plans and
    // overlap; A2 depends on A's means, so it runs as soon as A lands,
    // concurrently with the still-running distinct/B jobs.
    val wsg = cfg.spearman && !cfg.exactSpearman && numCols.size >= 2
    val (aMap, momentMap, qMap, spearmanCuts) = withPool(3) {
        implicit ec =>
      val fBase = Future {
        tagPass(df, "passA-base")
        Stats.chunkedAgg(df, aggsA, chunk = 600)
      }
      // exact distincts in their own pass: one grouped single-
      // distinct aggregation over the long form
      // (Stats.exactDistinctPerCol — no Expand, one job set for any
      // column count).
      val fDis = Future {
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
      val fB: Future[(Map[String, Seq[Double]],
          Map[String, Array[Double]])] =
        if (numCols.isEmpty) Future.successful((Map.empty, Map.empty))
        else Future {
          tagPass(df, "passB-quantiles")
          val gridPs = Option.when(wsg)(
            (0 to cfg.spearmanGrid).map(_.toDouble / cfg.spearmanGrid))
          quantilesLong(df, numCols, gridPs)
        }
      val base = await(fBase)
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
            val r2 = Stats.chunkedAgg(df, Stats.centralSumAggs(withMu),
              chunk = 600)
            withMu.map { case (c, _) =>
              c -> Stats.momentsFromSums(bLong(s"cnt__$c"),
                r2(s"s2__$c").asInstanceOf[Double],
                r2(s"s3__$c").asInstanceOf[Double],
                r2(s"s4__$c").asInstanceOf[Double])
            }.toMap
          }
        }
      val (q, cuts) = await(fB)
      (base ++ await(fDis), mm, q, cuts)
    }

    def aLong(name: String): Long = aMap(name).asInstanceOf[Long]
    def aDouble(name: String): Option[Double] =
      Option(aMap(name)).map {
        case x: Double => x
        case x: Long => x.toDouble
        case x: Number => x.doubleValue()
      }
    val columns = df.schema.fields.toSeq.map { f =>
      val c = f.name
      val base = Kinds.baseKind(f.dataType)
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
      ColumnStats(c, base, aLong(s"cnt__$c"), aLong(s"dis__$c"), stats,
        qMap.getOrElse(c, Seq.empty))
    }

    // r16: histograms, frequency tables, the Pearson co-moment scan,
    // categorical associations and the Spearman pass are MUTUALLY
    // INDEPENDENT plans (hist needs only pass A's bounds) — they
    // overlap.
    val hCols = columns.filter(_.base == "NUM") ++
      columns.filter(_.base == "DATE")
    val nanFreeMax =
      numCols.map(c => c -> aDouble(s"hmx__$c").getOrElse(Double.NaN)).toMap
    withPool(5) { implicit ec =>
      val fHist = Future { histogramPass(df, cfg.bins, hCols, nanFreeMax) }
      val fFreq = Future { freqPass(df, cfg.topK) }
      val fCorr = Future { pearsonPass(df, cfg, numCols) }
      val fCatAssoc = Future { catAssocPass(df, cfg, columns) }
      val fSpearman = Future { spearmanPass(df, cfg, numCols, spearmanCuts) }
      assemble(cfg, aLong("__n"), columns, await(fHist), await(fFreq),
        numCols, await(fCorr), await(fSpearman), await(fCatAssoc),
        sizeBytes(df))
    }
  }

  /** Pass B: the [[Stats.quantilesFrame]] rows collected per column
    * to (percentiles, Spearman grid cuts; empty without `gridPs`). A
    * column with no non-null value gets empty values (the wide agg's
    * null). */
  private[graft] def quantilesLong(df: DataFrame, numCols: Seq[String],
      gridPs: Option[Seq[Double]])
      : (Map[String, Seq[Double]], Map[String, Array[Double]]) = {
    val rows = Stats.quantilesFrame(df, numCols, gridPs)
      .collect().map(r => r.getInt(0) -> r).toMap
    def arrOf(i: Int, name: String): Seq[Double] =
      rows.get(i)
        .flatMap(r => Option(r.getAs[scala.collection.Seq[Any]](name)))
        .map(_.map(x => Option(x).map(_.asInstanceOf[Double])
          .getOrElse(Double.NaN)).toSeq)
        .getOrElse(Seq.empty)
    (numCols.indices.map(i => numCols(i) -> arrOf(i, "qe")).toMap,
     if (gridPs.isEmpty) Map.empty
     else numCols.indices.map(i => numCols(i) -> arrOf(i, "sg").toArray)
       .toMap)
  }

  /** Whole-table profile in ONE input scan for all scannable
    * statistics: the profile store's capture aggregation
    * ([[ProfileStore.sketchScan]]) gives each column a
    * [[graft.functions.MultiSketchBuf]] — count + streaming central
    * moments + min/max/sum/zeros + a KMV distinct sketch + GK quantile
    * summaries — plus one all-pairs co-moment buffer, so passes A, A2,
    * B, C-histograms and D of [[profile]] collapse into a single
    * aggregation. Each buffer is finalized by [[sketchStats]], the
    * reader the store applies to its merged buffers, with histograms
    * and the Spearman grid cuts estimated from the GK summaries. The
    * frequency tables (and the opt-in passes) still run as their own
    * jobs.
    *
    * Distincts and quantiles are sketch-grade (distinct ~1/√k error
    * above k=1024, quantiles at GK accuracy 10000 — the same class
    * percentile_approx uses) and exact elsewhere (counts,
    * min/max/sum/zeros; moments exact up to float summation order). The 100 TB default: one pass over the
    * corpus instead of three. (`cfg.spearman` — on by default — adds
    * the shared rank-correlation passes on top, same as [[profile]];
    * set it false for the strict single-scan form.) */
  def profileFused(df: DataFrame,
      cfg: ProfilerConfig = ProfilerConfig()): TableProfile = {
    val numCols = Kinds.numericCols(df)
    val withCorr = cfg.correlations && numCols.size >= 2
    val scan = ProfileStore.sketchScan(df, FusedK, FusedAccuracy,
      corrCols = if (withCorr) numCols else Nil)
    val sketched = df.schema.fields.toSeq.map { f =>
      sketchStats(f.name, Kinds.baseKind(f.dataType),
        MultiSketch.deserializeBuf(scan.state(f.name), FusedK,
          FusedAccuracy), cfg.bins)
    }
    // Spearman grid cuts queried straight from the GK summaries — no
    // extra scan for the grid; pass D2 then costs exactly one
    // rank/co-moment pass on top of the single profile scan.
    val cuts: Map[String, Array[Double]] =
      if (!cfg.spearman || cfg.exactSpearman || numCols.size < 2)
        Map.empty
      else {
        val ps = (0 to cfg.spearmanGrid).map(_.toDouble / cfg.spearmanGrid)
        sketched.filter(_.stats.base == "NUM").flatMap(s =>
          s.gk.map(g => s.stats.name -> MultiSketch.gkQuantiles(g, ps)))
          .toMap
      }
    val columns = sketched.map(_.stats)
    withPool(3) { implicit ec =>
      val fFreq = Future { freqPass(df, cfg.topK) }
      val fCatAssoc = Future { catAssocPass(df, cfg, columns) }
      val fSpearman = Future { spearmanPass(df, cfg, numCols, cuts) }
      assemble(cfg, scan.n, columns,
        sketched.map(s => s.stats.name -> s.histogram).toMap,
        await(fFreq), numCols,
        scan.cm.fold(Map.empty[(String, String), Option[Double]])(
          Stats.corrFromCm(_, numCols)),
        await(fSpearman), await(fCatAssoc), sizeBytes(df))
    }
  }

  /** A column's statistics from its (merged) sketch buffer — the one
    * reader of [[graft.functions.MultiSketchBuf]] state, shared by
    * [[profileFused]] and [[ProfileStore.storeProfile]]. Histograms
    * are estimated from the GK summary: per-bin error bounded by the
    * GK rank guarantee (≤ ε·n per edge), exact whenever the summary
    * never compressed. */
  private[profiler] def sketchStats(name: String, base: String,
      b: MultiSketchBuf, bins: Int): Sketched = {
    val hasNum = b.n > 0
    val compressed = Option.when(hasNum) { b.gkFlush(); b.qs.compress() }
    val stats: Map[String, Double] =
      if (base == "NUM")
        (if (hasNum) Map("mean" -> b.mean, "min" -> b.mn, "max" -> b.mx,
           "sum" -> b.sum) ++ Stats.momentsFromSums(b.n, b.m2, b.m3, b.m4)
         else Map.empty[String, Double]) ++
          Map("n_zeros" -> b.nz.toDouble)
      else if (base == "DATE" && hasNum)
        Map("dmn" -> b.mn.toLong.toDouble, "dmx" -> b.mx.toLong.toDouble)
      else Map.empty
    val quantiles = compressed match {
      case Some(q) if base == "NUM" =>
        Stats.Ps.map(p => q.query(p).getOrElse(Double.NaN))
      case _ => Seq.empty
    }
    val gk = compressed.map(MultiSketch.serializeGk)
    val histogram = gk match {
      case Some(g) if base != "CAT" =>
        MultiSketch.gkHistogram(g, b.mn, b.mx, bins)
      case _ => Seq.empty
    }
    Sketched(ColumnStats(name, base, b.cnt, b.distinctEstimate, stats,
      quantiles), histogram, gk)
  }

  /** Pass C histograms: one groupBy(col_idx, bin) over the long form
    * for the NUM and DATE columns (DATE as exact epoch-micros doubles,
    * < 2^53 — the date_histogram determinism argument), bounds from
    * the columns' min and, for NUM, `nanFreeMax` (the
    * [[Stats.histogram]] rule: NaN values are binned nowhere and bound
    * nothing); the grid fills the empty buckets after the collect. */
  private def histogramPass(df: DataFrame, bins: Int,
      cols: Seq[ColumnStats], nanFreeMax: Map[String, Double])
      : Map[String, Seq[(Long, Long)]] = {
    if (cols.isEmpty) return Map.empty
    tagPass(df, "passC-histograms")
    val hCols = cols.map(_.name)
    def bound(num: String, date: String) = cols.map(cs =>
      cs.name -> cs.stats.getOrElse(if (cs.base == "NUM") num else date,
        Double.NaN)).toMap
    val mnMap = bound("min", "dmn")
    val mxMap = bound("max", "dmx") ++ nanFreeMax
    val dateCols = cols.filter(_.base == "DATE").map(_.name)
    val src =
      if (dateCols.isEmpty) df
      else df.select(cols.map { cs =>
        if (cs.base == "NUM") col(cs.name)
        else unix_micros(col(cs.name).cast("timestamp")).cast("double")
          .as(cs.name)
      }: _*)
    val cells = Stats.histogramCounts(src, hCols, bins, mnMap, mxMap)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    Stats.histogramBins(hCols, bins, mnMap, mxMap)
      .flatMap { case (i, c, b, _, _, keepEmpty) =>
        val cnt = cells.getOrElse((i, b), 0L)
        if (cnt > 0 || keepEmpty) Some(c -> ((b, cnt))) else None
      }
      .groupBy(_._1).map { case (c, bs) => c -> bs.map(_._2) }
  }

  /** Pass C frequency tables: top-K per CAT column over the long form
    * (the `__other__` remainder is the assembly's). */
  private def freqPass(df: DataFrame, topK: Int)
      : Map[String, Seq[(String, Long)]] = {
    val catCols = Kinds.catCols(df)
    if (catCols.isEmpty) return Map.empty
    tagPass(df, "passC-freq")
    val top = Stats.topValues(Stats.freqCounts(df, catCols), topK)
      .collect().groupBy(_.getAs[Int]("col_idx"))
    catCols.zipWithIndex.flatMap { case (c, i) =>
      top.get(i).map { rs =>
        c -> rs.sortBy(_.getAs[Long]("rnk")).toSeq
          .map(r => (r.getAs[String]("value"), r.getAs[Long]("cnt")))
      }
    }.toMap
  }

  /** Pass D: the Pearson matrix in one co-moment scan
    * ([[Stats.pearson]], the function the corr_matrix, corr_reject and
    * table_kinds queries declare too). */
  private def pearsonPass(df: DataFrame, cfg: ProfilerConfig,
      numCols: Seq[String]): Map[(String, String), Option[Double]] =
    if (!cfg.correlations || numCols.size < 2) Map.empty
    else { tagPass(df, "passD-pearson"); Stats.pearson(df, numCols) }

  /** Pass E (opt-in): pairwise Cramér's V over the columns the
    * assembly keeps as CAT with 1 < distinct ≤ 100 (a CAT column is
    * never CORR-rejected — rejection runs over the numeric columns
    * only). Returns (associations, candidate pairs, pairs kept). */
  private def catAssocPass(df: DataFrame, cfg: ProfilerConfig,
      cols: Seq[ColumnStats]): (Seq[(String, String, Double)], Int, Int) = {
    tagPass(df, "passE-catassoc")
    val catCand = cols.filter(cs =>
      Kinds.kind(cs.base, cs.count, cs.distinct) == "CAT" &&
        cs.distinct > 1 && cs.distinct <= 100).map(_.name)
    val catPairsAll =
      for { i <- catCand.indices; j <- (i + 1) until catCand.size }
        yield (catCand(i), catCand(j))
    val catPairs = catPairsAll.take(cfg.maxCatAssocPairs)
    val assoc =
      if (!cfg.catAssociations || catPairs.isEmpty) Seq.empty
      else graft.ops.CatStats.associationAll(df, catPairs)
        .collect().toSeq.flatMap { r =>
          if (r.isNullAt(5)) None
          else Some((r.getString(0), r.getString(1), r.getDouble(5)))
        }
    (assoc, catPairsAll.size, catPairs.size)
  }

  /** Pass D2: the Spearman matrix over the numeric columns — the
    * window-sort exact ranks ([[Stats.spearmanRanked]]) under
    * `cfg.exactSpearman`, else the map-only GK-grid approximation
    * ([[Stats.gridRankCorr]]) against `cuts` (pass B's grid, or the
    * fused profile's GK summaries): one rank/co-moment pass. */
  private def spearmanPass(df: DataFrame, cfg: ProfilerConfig,
      numCols: Seq[String], cuts: Map[String, Array[Double]])
      : Seq[(String, String, Double)] = {
    tagPass(df, "passD2-spearman")
    def pairs(rho: Map[(String, String), Option[Double]]) =
      rho.toSeq.collect { case ((a, b), Some(r)) => (a, b, r) }
        .sortBy(t => (t._1, t._2))
    if (!cfg.spearman || numCols.size < 2) Seq.empty
    else if (cfg.exactSpearman)
      // collected rows (an ArraySeq) before: keep the type so the
      // TableProfile prints as it did
      pairs(Stats.pearson(Stats.spearmanRanked(df, numCols), numCols))
        .to(scala.collection.immutable.ArraySeq)
    else {
      val usable = numCols.filter(c => cuts.get(c).exists(_.nonEmpty))
      pairs(Stats.gridRankCorr(df.na.drop(numCols),
        usable.map(c => (c, c, cuts(c)))))
    }
  }

  /** Catalyst's optimized-plan size estimate; 0 when unavailable. */
  private def sizeBytes(df: DataFrame): BigInt =
    scala.util.Try(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .getOrElse(BigInt(0))

  /** The one place a [[TableProfile]] is built, for the exact, the
    * fused and the store profile alike. Pure: it runs no Spark
    * action. It owns the kind rule ([[Kinds.kind]]); the `__other__`
    * frequency row (non-null count − Σ top-K, for every column with a
    * `topValues` entry); CORR rejection over `corrCols` in that order
    * ([[Stats.rejectFromMatrix]] on `pearson`); the warnings; and the
    * table totals. `catAssoc` is pass E's (associations, candidate
    * pairs, pairs kept). */
  private[profiler] def assemble(cfg: ProfilerConfig, n: Long,
      columns: Seq[ColumnStats],
      histograms: Map[String, Seq[(Long, Long)]],
      topValues: Map[String, Seq[(String, Long)]],
      corrCols: Seq[String],
      pearson: Map[(String, String), Option[Double]],
      spearman: Seq[(String, String, Double)],
      catAssoc: (Seq[(String, String, Double)], Int, Int),
      sizeBytes: BigInt): TableProfile = {
    val rejected = Stats.rejectFromMatrix(corrCols, pearson, cfg.corrReject)
    val rejectedNames = rejected.map(_._1).toSet
    val profiles = columns.map { cs =>
      val cnt = cs.count
      val dis = cs.distinct
      ColumnProfile(
        name = cs.name,
        kind = Kinds.kind(cs.base, cnt, dis, rejectedNames(cs.name)),
        count = cnt, missing = n - cnt,
        pMissing = if (n == 0) 0.0 else (n - cnt).toDouble / n,
        distinct = dis,
        pUnique = if (cnt == 0) 0.0 else dis.toDouble / cnt,
        stats = cs.stats,
        quantiles =
          if (cs.quantiles.isEmpty) Map.empty
          else QuantileNames.zip(cs.quantiles).toMap,
        histogram = histograms.getOrElse(cs.name, Seq.empty),
        topValues = topValues.get(cs.name).fold(Seq.empty[(String, Long)]) {
          vals =>
            val other = cnt - vals.map(_._2).sum
            if (other > 0) vals :+ (("__other__", other)) else vals
        })
    }

    val totalMissing = profiles.map(_.missing).sum
    val colWarnings = profiles.flatMap { cp =>
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
    val (catAssociations, nAllCatPairs, nCatPairs) = catAssoc
    val warnings =
      if (cfg.catAssociations && nAllCatPairs > nCatPairs)
        colWarnings :+ (s"cat associations: $nAllCatPairs pairs " +
          s"capped to $nCatPairs")
      else colWarnings
    val nvar = profiles.size

    TableProfile(n, nvar, totalMissing,
      if (n == 0 || nvar == 0) 0.0
      else totalMissing.toDouble / (n.toDouble * nvar),
      profiles, rejected, warnings,
      correlations = pearson.toSeq.collect {
        case ((a, b), Some(rho)) => (a, b, rho)
      }.sortBy(t => (t._1, t._2)),
      catAssociations = catAssociations,
      sizeBytes = sizeBytes,
      spearman = spearman)
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
    val cfg = ProfilerConfig(spearman = false)
    // r16: the exact profile and the fused profile are independent —
    // run them concurrently (guide §2.6); both results unchanged
    val (e, f) = withPool(2) { implicit ec =>
      val fe = Future { tagPass(df, "check-exact"); profile(df, cfg) }
      val ff = Future {
        tagPass(df, "check-fused")
        profileFused(df, cfg.copy(fused = true))
      }
      (await(fe), await(ff))
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
