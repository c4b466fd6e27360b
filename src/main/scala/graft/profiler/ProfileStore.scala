package graft.profiler

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.det.Sig
import graft.functions.{CoMoment, CoMomentBuf, MultiSketch, MultiSketchBuf}

/** Incremental profile store — profile the daily crawl without ever
  * rescanning history.
  *
  * The fused profiler ([[Profiler.profileFused]]) already reduces a
  * whole-table profile to ONE scan whose per-column state is a
  * bounded, associative [[MultiSketchBuf]] (exact counts/min/max/sum/
  * zeros, Pébay central moments, KMV distinct, GK quantiles). This
  * store persists that state: each ingested batch pays one O(batch)
  * scan producing one ~O(k + accuracy)-byte row per column, and the
  * corpus-wide profile at any point is a driver-side merge of the
  * persisted snapshot rows — O(snapshots × columns) sketches of a few
  * KB each, milliseconds, no data rescan. At 100 TB this is the only
  * viable profiling shape: day N+1 costs O(day), not O(history).
  *
  * Lifecycle mirrors the dedup catalog and ANN index contracts
  * (`Dedup.writeCatalogIndex`, `AnnIndex.writeAnnIndex`): build
  * params (k, accuracy, format version) are persisted WITH the state
  * and verified on append — merging sketches built with different
  * params is refused loudly, never silently wrong.
  *
  * Reference scope: the upstream profiler (spark-df-profiling
  * `base.py::describe`) recomputes from raw rows on every call; the
  * incremental form is the scale extension, with the same statistics
  * contract where the state is exact (counts, min/max, sum, zeros)
  * and documented error bounds where it is sketched (KMV ~1/√k
  * distinct, GK ε-rank quantiles, moments exact up to float
  * summation order).
  */
object ProfileStore {

  /** v2: snapshot rows gained the Misra–Gries top-value state
    * (mg_n / mg_items) for categorical columns, so the store can
    * render the full profile report incl. frequency tables.
    * v3: one `__corr__` row per snapshot carries the serialized
    * [[graft.functions.CoMomentBuf]] (all-pairs streaming
    * co-moments over the SORTED numeric columns), so the Pearson
    * matrix too is answerable from state with no rescan.
    * v4: one `__spear__` row per snapshot carries a second co-moment
    * buffer over GRID-RANK-transformed numeric values, so the
    * SPEARMAN matrix is answerable from state too. Rank co-moments
    * cannot be derived from per-column state after the fact (they
    * need the joint pass), and each snapshot must rank against the
    * SAME transform for the buffers to merge exactly — so the store
    * FREEZES its rank grid at creation (`spearman_grid/`, the
    * AnnIndex frozen-index contract): later batches probe the stored
    * cuts map-only in the same single aggregation pass. The grid
    * approximates the creation batch's CDF; the documented 0.05
    * error contract therefore holds while the marginals stay near
    * that reference — exactly the condition the store's own drift
    * report monitors — and compaction is the natural point to
    * re-freeze if drift is detected. */
  val FormatVersion = 4

  /** Reserved snapshot row name for the co-moment state. */
  val CorrRow = "__corr__"

  /** Reserved snapshot row name for the rank co-moment state. */
  val SpearRow = "__spear__"

  /** Rank-grid resolution frozen at store creation: 1/256 rank
    * granularity is ~20× finer than the 0.05 Spearman contract. */
  val SpearGrid = 256

  /** Store defaults: KMV k as the fused profiler uses, but GK
    * accuracy 1000 (ε=1e-3), NOT the profiler's scan-time 10000 —
    * measured at 10M rows/snapshot, ε=1e-4 summaries serialize to
    * ~5.7 MB per column per snapshot (the GK size term is
    * O((1/ε)·log(εn))), which at a year of daily snapshots × 100
    * columns is hundreds of GB of state and a minutes-long merge;
    * ε=1e-3 keeps a snapshot row ~100s of KB with rank error still
    * 10× finer than the p05 granularity the profile reports. Callers
    * with tighter quantile contracts raise it per store. */
  val DefaultK = 1024
  val DefaultAccuracy = 1000

  /** Misra–Gries width for the per-column top-value state: the
    * report shows 10; k=32 keeps the MG error n/(k+1) well below the
    * top-10 cutoff on any plausibly skewed column. */
  val MgK = 32

  /** One row per column of serialized profile state:
    * (col_name, kind, n_rows, state, mg_n, mg_items). `kind` ∈
    * num|date|other decides how [[mergedProfile]] renders min/max
    * and which stats apply; mg_* carry the Misra–Gries top-value
    * summary for `other` (categorical) columns — its struct output
    * (n + counters) IS the buffer state, so it persists as plain
    * parquet columns and merges with the PODS-2012 rule. */
  def snapshotState(df: DataFrame, k: Int = DefaultK,
      accuracy: Int = DefaultAccuracy,
      spearCuts: Option[Map[String, Array[Double]]] = None)
      : DataFrame = {
    val spark = df.sparkSession
    val cols = df.columns.toSeq
    val numSet = Kinds.numericCols(df).toSet
    val dateSet = Kinds.dateCols(df).toSet
    val catSet = cols.filterNot(c => numSet(c) || dateSet(c)).toSet
    // SORTED numeric order: snapshot batches may present columns in
    // different schema orders, but the co-moment array layout must
    // agree across every snapshot of a store
    val scan = sketchScan(df, k, accuracy, cols.filter(numSet).sorted,
      catSet.toSeq.sorted, spearCuts)
    val out = cols.map { c =>
      val kind =
        if (numSet(c)) "num" else if (dateSet(c)) "date" else "other"
      val (mgN, mgItems): (Any, Any) = scan.mg.get(c) match {
        case Some(s) =>
          (s.getAs[Long]("n"), s.getAs[Map[String, Long]]("items"))
        case None => (null, null)
      }
      Row(c, kind, scan.n, scan.state(c), mgN, mgItems)
    } ++ scan.cm.map(b => Row(CorrRow, "corr", scan.n,
      CoMoment.serializeBuf(b), null, null)) ++
      scan.rank.map(b => Row(SpearRow, "spear", scan.n,
        CoMoment.serializeBuf(b), null, null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("col_name", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("state", BinaryType, nullable = false),
        StructField("mg_n", LongType, nullable = true),
        StructField("mg_items",
          MapType(StringType, LongType), nullable = true))))
  }

  /** What one [[sketchScan]] captures: the row count; per column the
    * serialized [[MultiSketchBuf]]; per requested column the
    * Misra–Gries struct (n, items); the co-moment buffers of the
    * values and of their grid ranks. */
  private[profiler] final case class SketchScan(n: Long,
      state: Map[String, Array[Byte]], mg: Map[String, Row],
      cm: Option[CoMomentBuf], rank: Option[CoMomentBuf])

  /** The capture scan shared by [[snapshotState]] and
    * [[Profiler.profileFused]]: ONE aggregation over a projection
    * that casts, hashes and null-guards every column (a codegen'd
    * projection under the aggregate, so the aggregates read bare
    * attributes). Captures each column's [[MultiSketch.state]]
    * (KMV `k`, GK `accuracy`), a Misra–Gries summary of each
    * `mgCols` column, and — over `corrCols` (≥ 2, in that order) —
    * the all-pairs co-moments of the values and, when `rankCuts`
    * covers them, of their grid ranks (a map-only GridRank binary
    * search against expression-local literal cuts). */
  private[profiler] def sketchScan(df: DataFrame, k: Int, accuracy: Int,
      corrCols: Seq[String], mgCols: Seq[String] = Nil,
      rankCuts: Option[Map[String, Array[Double]]] = None): SketchScan = {
    val cols = df.columns.toSeq
    val numSet = Kinds.numericCols(df).toSet
    val dateSet = Kinds.dateCols(df).toSet
    val mgSet = mgCols.toSet
    val proj = df.select(cols.flatMap { c =>
      val oc = Stats.orderable(df, c)
      val value =
        if (numSet(c)) col(c).cast("double")
        else if (dateSet(c))
          unix_micros(col(c).cast("timestamp")).cast("double")
        else lit(null).cast("double")
      Seq(value.as(s"v__$c"),
        when(oc.isNotNull, xxhash64(oc)).as(s"h__$c")) ++
        (if (mgSet(c)) Seq(col(c).cast("string").as(s"i__$c")) else Nil)
    }: _*)
    val withCorr = corrCols.size >= 2
    val withRank = withCorr && rankCuts.exists(m =>
      corrCols.forall(m.contains))
    def coMoments(values: String => Column, name: String) =
      CoMoment.sketch(array(corrCols.map(values): _*), corrCols.size)
        .as(name)
    val aggs = (count(lit(1)).as("__n") +: cols.map(c =>
      MultiSketch.state(col(s"v__$c"), col(s"h__$c"), k, accuracy)
        .as(s"st__$c"))) ++
      mgCols.map(c =>
        graft.functions.HeavyHitters.mg(col(s"i__$c"), MgK).as(s"mg__$c")) ++
      (if (withCorr) Seq(coMoments(c => col(s"v__$c"), "__cm")) else Nil) ++
      (if (withRank) Seq(coMoments(c => graft.functions.GridRank
        .grid_rank(col(s"v__$c"), rankCuts.get(c)), "__sm")) else Nil)
    val m = Stats.chunkedAgg(proj, aggs, chunk = 300)
    def buf(name: String) =
      m.get(name).map(r => coMomentBuf(r.asInstanceOf[Row], corrCols.size))
    SketchScan(m("__n").asInstanceOf[Long],
      cols.map(c => c -> m(s"st__$c").asInstanceOf[Array[Byte]]).toMap,
      mgCols.map(c => c -> m(s"mg__$c").asInstanceOf[Row]).toMap,
      buf("__cm"), buf("__sm"))
  }

  /** The [[CoMomentBuf]] behind a collected co-moment struct
    * (n, means, cm) over `k` columns. */
  private[profiler] def coMomentBuf(s: Row, k: Int): CoMomentBuf = {
    val buf = new CoMomentBuf(k)
    buf.n = s.getAs[Long]("n")
    s.getAs[scala.collection.Seq[Double]]("means").zipWithIndex
      .foreach { case (v, i) => buf.mean(i) = v }
    s.getAs[scala.collection.Seq[Double]]("cm").zipWithIndex
      .foreach { case (v, i) => buf.c(i) = v }
    buf
  }

  /** The store's frozen Spearman rank grid, computed from a batch:
    * per sorted numeric column, SpearGrid+1 approximate quantile
    * cuts. Empty map when fewer than two numeric columns. */
  def spearmanGridFromBatch(df: DataFrame)
      : Map[String, Array[Double]] = {
    val numCols = Kinds.numericCols(df).sorted
    if (numCols.size < 2) return Map.empty
    val ps = (0 to SpearGrid).map(_.toDouble / SpearGrid)
    val aggs = numCols.map(c => percentile_approx(
      col(c).cast("double"), typedLit(ps), lit(2500)).as(c))
    val row = Stats.chunkedAgg(df, aggs, 300)
    numCols.flatMap { c =>
      Option(row(c)).map(v =>
        c -> v.asInstanceOf[scala.collection.Seq[Any]]
          .flatMap(x => Option(x).map(_.asInstanceOf[Double]))
          .toArray)
    }.toMap.filter(_._2.nonEmpty)
  }

  /** The persisted frozen grid, if the store carries one. */
  def loadSpearmanGrid(spark: SparkSession, path: String)
      : Option[Map[String, Array[Double]]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$path/spearman_grid")
    if (!fs.exists(p)) return None
    Some(spark.read.parquet(s"$path/spearman_grid").collect()
      .map(r => r.getString(0) ->
        r.getSeq[Double](1).toArray).toMap)
  }

  /** Create a store at `path` from the first batch. Overwrites.
    * Freezes the Spearman rank grid from this batch (one extra
    * chunked percentile aggregation — creation only; appends rank
    * against the stored cuts inside their single state pass). */
  def writeSnapshot(df: DataFrame, path: String, snapshotId: String,
      k: Int = DefaultK, accuracy: Int = DefaultAccuracy): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = spearmanGridFromBatch(df)
    if (grid.nonEmpty)
      grid.toSeq.sortBy(_._1).map { case (c, cuts) =>
        (c, cuts.toSeq) }
        .toDF("col_name", "cuts")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/spearman_grid")
    snapshotState(df, k, accuracy,
        if (grid.isEmpty) None else Some(grid))
      .withColumn("snapshot_id", lit(snapshotId))
      .coalesce(1)
      .write.mode("overwrite").partitionBy("snapshot_id")
      .parquet(s"$path/state")
    spark.range(1).select(lit(FormatVersion).as("version"),
        lit(k).as("k"), lit(accuracy).as("accuracy"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Persisted build params: (version, k, accuracy). */
  def readMeta(spark: SparkSession, path: String): (Int, Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").collect().head
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Fold a new batch into an existing store: one O(batch) scan, one
    * parquet append — history untouched. Build params come from the
    * store's own meta (never the caller), and the batch's column set
    * must match the stored one: a schema drift would otherwise merge
    * a column against an unrelated sketch. */
  def appendSnapshot(df: DataFrame, path: String, snapshotId: String)
      : Unit = {
    val spark = df.sparkSession
    val (version, k, accuracy) = readMeta(spark, path)
    require(version == FormatVersion,
      s"profile store at $path has format v$version; this build " +
        s"reads v$FormatVersion")
    val existing = spark.read.parquet(s"$path/state")
    val storedIds = existing.select("snapshot_id").distinct()
      .collect().map(_.getString(0)).toSet
    require(!storedIds.contains(snapshotId),
      s"snapshot_id '$snapshotId' already present in $path")
    val storedCols = existing.select("col_name", "kind").distinct()
      .where(col("col_name") =!= CorrRow &&
        col("col_name") =!= SpearRow)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val batchCols = df.columns.toSet
    require(batchCols == storedCols.keySet,
      s"batch columns $batchCols do not match stored profile " +
        s"columns ${storedCols.keySet}")
    val snap = snapshotState(df, k, accuracy,
      loadSpearmanGrid(spark, path))
    snap.collect().filter(r => r.getString(0) != CorrRow &&
        r.getString(0) != SpearRow).foreach { r =>
      val c = r.getString(0)
      require(r.getString(1) == storedCols(c),
        s"column $c: batch kind ${r.getString(1)} vs stored " +
          s"${storedCols(c)} — type drift, refuse to merge")
    }
    snap.withColumn("snapshot_id", lit(snapshotId))
      .coalesce(1)
      .write.mode("append").partitionBy("snapshot_id")
      .parquet(s"$path/state")
  }

  /** Driver-side merge of all (or the selected) snapshots:
    * col_name → (kind, total rows, merged buffer, merged MG
    * top-value state — None for non-categorical columns). */
  def mergedBuffers(spark: SparkSession, path: String,
      snapshotIds: Option[Seq[String]] = None)
      : Map[String, (String, Long, MultiSketchBuf,
        Option[graft.functions.MgBuf])] = {
    val (version, k, accuracy) = readMeta(spark, path)
    require(version == FormatVersion,
      s"profile store at $path has format v$version")
    val st0 = spark.read.parquet(s"$path/state")
    val st = snapshotIds match {
      case None => st0
      case Some(ids) => st0.where(col("snapshot_id").isin(ids: _*))
    }
    // deterministic merge order (by snapshot id) so moment floats are
    // reproducible run-to-run; KMV/counts/min/max are order-free (MG
    // estimates are order-dependent but its guarantees are not —
    // the fixed order keeps runs reproducible)
    val rows = st.select("col_name", "kind", "n_rows", "state",
        "snapshot_id", "mg_n", "mg_items")
      .where(col("col_name") =!= CorrRow &&
        col("col_name") =!= SpearRow)
      .collect().sortBy(r => (r.getString(0), r.getString(4)))
    require(rows.nonEmpty, s"no snapshots selected at $path")
    rows.groupBy(_.getString(0)).map { case (c, rs) =>
      val kind = rs.head.getString(1)
      val n = rs.map(_.getLong(2)).sum
      val merged = rs.map(r =>
          MultiSketch.deserializeBuf(r.getAs[Array[Byte]](3), k,
            accuracy))
        .reduceLeft(_.mergeIn(_))
      val mg =
        if (rs.head.isNullAt(5)) None
        else Some(rs.map { r =>
          val buf = new graft.functions.MgBuf(MgK)
          buf.n = r.getLong(5)
          r.getAs[Map[String, Long]](6).foreach { case (it, cn) =>
            buf.counts.update(it, cn) }
          buf
        }.reduceLeft(_.mergeIn(_)))
      c -> (kind, n, merged, mg)
    }
  }

  private val profileSchema = StructType(Seq(
    StructField("col_name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("n_missing", LongType, nullable = false),
    StructField("distinct_est", LongType, nullable = false),
    StructField("mean", DoubleType),
    StructField("variance", DoubleType),
    StructField("min_val", DoubleType),
    StructField("max_val", DoubleType),
    StructField("sum_val", DoubleType),
    StructField("n_zeros", LongType),
    StructField("p05", DoubleType),
    StructField("q1", DoubleType),
    StructField("median", DoubleType),
    StructField("q3", DoubleType),
    StructField("p95", DoubleType)))

  /** The corpus-wide profile from persisted state only — no scan of
    * any data file. Exact fields are exact over the union; distinct
    * is the KMV estimate; quantiles the merged-GK estimates. */
  def mergedProfile(spark: SparkSession, path: String,
      snapshotIds: Option[Seq[String]] = None): DataFrame = {
    val merged = mergedBuffers(spark, path, snapshotIds)
    val out = merged.toSeq.sortBy(_._1).map {
      case (c, (kind, nRows, b, _)) =>
        val hasNum = b.n > 0
        b.gkFlush()
        val qs = if (hasNum) {
          val compressed = b.qs.compress()
          Stats.Ps.map(p => compressed.query(p)
            .map(Double.box).orNull)
        } else Stats.Ps.map(_ => null)
        Row.fromSeq(Seq[Any](c, kind, nRows, b.cnt, nRows - b.cnt,
          b.distinctEstimate,
          if (hasNum) Sig.sig5(b.mean) else null,
          if (b.n > 1) Sig.sig5(b.m2 / (b.n - 1).toDouble)
          else null,
          if (hasNum) b.mn else null,
          if (hasNum) b.mx else null,
          if (hasNum) Sig.sig5(b.sum) else null,
          if (hasNum) b.nz else null) ++ qs)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), profileSchema)
  }

  /** Compact a set of snapshots into ONE — the retention half of the
    * lifecycle: a years-old store otherwise carries O(days × columns)
    * state rows, and every merge pays for all of them. Compaction
    * folds the selected snapshots' buffers (sketch merge is
    * associative — the exact fields, KMV sets, and the MG/co-moment
    * guarantees are unchanged; merged-GK rank error and MG/moment
    * float estimates may shift within their documented bounds because
    * merge ORDER changes) and rewrites the state dir with the
    * compacted row set plus the untouched snapshots. Typical cadence:
    * compact last month into one snapshot, keep dailies for the
    * current month — drift against "all history" stays one cheap
    * merge forever. */
  def compactSnapshots(spark: SparkSession, path: String,
      ids: Seq[String], newId: String): Unit = {
    require(ids.nonEmpty, "nothing to compact")
    val (version, k, accuracy) = readMeta(spark, path)
    require(version == FormatVersion,
      s"profile store at $path has format v$version")
    val st = spark.read.parquet(s"$path/state")
    val allIds = st.select("snapshot_id").distinct()
      .collect().map(_.getString(0)).toSet
    require(ids.toSet.subsetOf(allIds),
      s"unknown snapshot ids: ${ids.toSet -- allIds}")
    require(!(allIds -- ids.toSet).contains(newId),
      s"compacted id '$newId' collides with a kept snapshot")
    val merged = mergedBuffers(spark, path, Some(ids))
    // co-moment state (raw + rank) for the selected ids, merged in
    // sorted-id order
    def specialRows(name: String) = st
      .where(col("col_name") === name &&
        col("snapshot_id").isin(ids: _*))
      .select("state", "snapshot_id", "n_rows")
      .collect().sortBy(_.getString(1))
    val corrRows = specialRows(CorrRow)
    val spearRows = specialRows(SpearRow)
    val nTotal = merged.values.map(_._2).max
    val compacted = merged.toSeq.sortBy(_._1).map {
      case (c, (kind, n, buf, mg)) =>
        val (mgN, mgItems): (Any, Any) = mg match {
          case Some(m) => (m.n, m.counts.toMap)
          case None => (null, null)
        }
        Row(c, kind, n, MultiSketch.serializeBuf(buf), mgN, mgItems)
    } ++ {
      val kk = merged.count(_._2._1 == "num")
      def foldSpecial(rows: Array[Row], name: String, kind: String) =
        if (rows.isEmpty) Nil
        else {
          val mergedCm = rows.map(r => graft.functions.CoMoment
              .deserializeBuf(r.getAs[Array[Byte]](0), kk))
            .reduceLeft(_.mergeIn(_))
          Seq(Row(name, kind, nTotal,
            graft.functions.CoMoment.serializeBuf(mergedCm),
            null, null))
        }
      foldSpecial(corrRows, CorrRow, "corr") ++
        foldSpecial(spearRows, SpearRow, "spear")
    }
    val keep = st.where(!col("snapshot_id").isin(ids: _*))
      .select("col_name", "kind", "n_rows", "state", "mg_n",
        "mg_items", "snapshot_id")
      .collect().toSeq
    val schema = StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("state", BinaryType, nullable = false),
      StructField("mg_n", LongType, nullable = true),
      StructField("mg_items", MapType(StringType, LongType),
        nullable = true),
      StructField("snapshot_id", StringType, nullable = false)))
    val newRows = keep ++ compacted.map(r =>
      Row.fromSeq(r.toSeq :+ newId))
    // rewrite via a temp dir then swap: a failure mid-write must not
    // leave the store truncated
    val tmp = s"$path/state_compact_tmp"
    spark.createDataFrame(
        spark.sparkContext.parallelize(newRows, 1), schema)
      .write.mode("overwrite").partitionBy("snapshot_id").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val stPath = new org.apache.hadoop.fs.Path(s"$path/state")
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val oldPath = new org.apache.hadoop.fs.Path(s"$path/state_old")
    fs.rename(stPath, oldPath)
    fs.rename(tmpPath, stPath)
    fs.delete(oldPath, true)
  }

  /** Merged Pearson correlations from persisted co-moment state:
    * (col_a, col_b, sig5 ρ) over the SORTED numeric columns, pairs
    * with a zero-variance side omitted. Empty when the store has
    * fewer than two numeric columns. */
  def mergedCorrelations(spark: SparkSession, path: String,
      snapshotIds: Option[Seq[String]] = None)
      : Seq[(String, String, Double)] =
    mergedCoMomentCorr(spark, path, CorrRow, snapshotIds)

  /** Merged SPEARMAN matrix from persisted rank co-moment state
    * (v4): the same merge + corr arithmetic as
    * [[mergedCorrelations]], over the grid-rank-transformed buffers
    * — every snapshot ranked against the store's frozen grid, so
    * buffers merge exactly. Accuracy contract: matches the scan-side
    * [[Stats.spearmanApprox]] within the documented 0.05 bound while
    * the data's marginals stay near the grid's reference batch
    * (unit-pinned store-vs-scan in ProfileStoreSpec/Round13Spec).
    * Empty when the store predates v4's grid (v3 stores carry no
    * SpearRow state — v3 is readable here because its state rows are
    * a strict subset of v4's) or has < 2 numeric columns. */
  def mergedSpearmanApprox(spark: SparkSession, path: String,
      snapshotIds: Option[Seq[String]] = None)
      : Seq[(String, String, Double)] =
    mergedCoMomentCorr(spark, path, SpearRow, snapshotIds)

  private def mergedCoMomentCorr(spark: SparkSession, path: String,
      rowName: String, snapshotIds: Option[Seq[String]])
      : Seq[(String, String, Double)] = {
    val (version, _, _) = readMeta(spark, path)
    // v3 state is a strict subset of v4 (no SpearRow grid-rank
    // buffers), so the correlation readers stay backward-compatible:
    // Pearson merges as before, Spearman comes back empty
    require(version == FormatVersion || version == 3,
      s"profile store at $path has format v$version")
    val st0 = spark.read.parquet(s"$path/state")
      .where(col("col_name") === rowName)
    val st = snapshotIds match {
      case None => st0
      case Some(ids) => st0.where(col("snapshot_id").isin(ids: _*))
    }
    val rows = st.select("state", "snapshot_id").collect()
      .sortBy(_.getString(1))
    if (rows.isEmpty) return Seq.empty
    // numeric column order is the sorted one snapshotState used;
    // recover it from the per-column rows
    val numCols = spark.read.parquet(s"$path/state")
      .where(col("kind") === "num").select("col_name").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val merged = rows.map(r => CoMoment
        .deserializeBuf(r.getAs[Array[Byte]](0), numCols.size))
      .reduceLeft(_.mergeIn(_))
    val rho = Stats.corrFromCm(merged, numCols)
    Stats.corrPairs(numCols).flatMap(p => rho(p).map(r => (p._1, p._2, r)))
  }

  /** The FULL profile report structure from persisted state only —
    * the 100 TB shape of `ProfileReport`: every overview stat,
    * column card, histogram, quantile row, and frequency table the
    * HTML report renders, assembled from the merged sketch state
    * with no data rescan, by the same reader ([[Profiler.sketchStats]])
    * and assembly ([[Profiler.assemble]]) as the one-scan
    * [[Profiler.profileFused]] under `ProfilerConfig()` defaults.
    * Deltas that remain from the fused profile: columns are in name
    * order; top values are the Misra–Gries summary (estimates are
    * lower bounds with error ≤ n/(MgK+1), exact while a column has at
    * most MgK distinct values); the Pearson matrix (and so the CORR
    * rejection, over the SORTED numeric columns) comes from the
    * persisted co-moment state, whose listwise-deletion population is
    * per-snapshot rows — equal to the scan's when batches share the
    * null layout; Spearman ranks against the store's frozen grid;
    * distinct and quantiles carry the store's own k and accuracy; no
    * Cramér's V and no plan size. */
  def storeProfile(spark: SparkSession, path: String,
      snapshotIds: Option[Seq[String]] = None): TableProfile = {
    val cfg = ProfilerConfig()
    val merged = mergedBuffers(spark, path, snapshotIds).toSeq.sortBy(_._1)
    val sketched = merged.map { case (c, (kind, _, b, _)) =>
      val base = kind match {
        case "num" => "NUM"
        case "date" => "DATE"
        case _ => "CAT"
      }
      Profiler.sketchStats(c, base, b, cfg.bins)
    }
    val topValues = merged.collect { case (c, (_, _, _, Some(mg))) =>
      c -> mg.counts.toSeq.sortBy { case (v, cn) => (-cn, v) }
        .take(cfg.topK)
    }.toMap
    Profiler.assemble(cfg, merged.map(_._2._2).max, sketched.map(_.stats),
      sketched.map(s => s.stats.name -> s.histogram).toMap, topValues,
      corrCols = merged.collect { case (c, ("num", _, _, _)) => c },
      pearson = mergedCorrelations(spark, path, snapshotIds)
        .map { case (a, b, r) => (a, b) -> Some(r) }.toMap,
      spearman = mergedSpearmanApprox(spark, path, snapshotIds),
      catAssoc = (Nil, 0, 0), sizeBytes = BigInt(0))
  }

  /** Standalone HTML report from the store (no data rescan). */
  def htmlFromStore(spark: SparkSession, path: String,
      title: String = "graft incremental profile",
      snapshotIds: Option[Seq[String]] = None): String =
    graft.report.HtmlReport.render(
      storeProfile(spark, path, snapshotIds), title)

  private val driftSchema = StructType(Seq(
    StructField("col_name", StringType, nullable = false),
    StructField("n_a", LongType, nullable = false),
    StructField("n_b", LongType, nullable = false),
    StructField("mean_shift_sd", DoubleType),
    StructField("distinct_ratio", DoubleType),
    StructField("psi", DoubleType)))

  /** Drift between two snapshot sets — computed ENTIRELY from
    * persisted state, no data rescan: compare "this week's crawl"
    * against "all of history" in milliseconds, at any history length.
    *
    *  - mean_shift_sd: |μ_b − μ_a| / pooled sd (numeric cols);
    *  - distinct_ratio: KMV estimate ratio b/a (all cols);
    *  - psi: population-stability index over 10 equal-width bins of
    *    the union range, bin masses estimated from each side's merged
    *    GK summary ([[graft.functions.MultiSketch.gkHistogram]]) —
    *    the same contract as the scan-based `Drift.psi`, with rank
    *    error bounded by the summaries' ε.
    *
    * The scan-based `ops/Drift` twins stay the oracle-checkable
    * forms; this is the monitoring shape a 100 TB store runs daily. */
  def driftReport(spark: SparkSession, path: String,
      idsA: Seq[String], idsB: Seq[String]): DataFrame = {
    val a = mergedBuffers(spark, path, Some(idsA))
    val b = mergedBuffers(spark, path, Some(idsB))
    require(a.keySet == b.keySet, "snapshot column sets differ")
    val out = a.keySet.toSeq.sorted.map { c =>
      val (_, _, ba, _) = a(c)
      val (_, _, bb, _) = b(c)
      val shift =
        if (ba.n > 1 && bb.n > 1) {
          val va = ba.m2 / (ba.n - 1).toDouble
          val vb = bb.m2 / (bb.n - 1).toDouble
          val pooled = math.sqrt(
            ((ba.n - 1) * va + (bb.n - 1) * vb) /
              (ba.n + bb.n - 2).toDouble)
          if (pooled > 0)
            Double.box(Sig.sig5(math.abs(bb.mean - ba.mean) / pooled))
          else null
        } else null
      val dr =
        if (ba.distinctEstimate > 0)
          Double.box(Sig.sig5(bb.distinctEstimate.toDouble /
            ba.distinctEstimate.toDouble))
        else null
      val psi =
        if (ba.n > 0 && bb.n > 0) {
          val mn = math.min(ba.mn, bb.mn)
          val mx = math.max(ba.mx, bb.mx)
          val bins = 10
          def masses(buf: MultiSketchBuf): Array[Double] = {
            val h = MultiSketch.gkHistogram(
              MultiSketch.serializeGk({ buf.gkFlush(); buf.qs.compress() }),
              mn, mx, bins)
            val tot = math.max(1L, h.map(_._2).sum).toDouble
            val arr = new Array[Double](bins)
            h.foreach { case (i, cnt) =>
              if (i < bins) arr(i.toInt) = cnt / tot }
            arr
          }
          val pa = masses(ba)
          val pb = masses(bb)
          val eps = 1e-4 // standard PSI zero-bin floor
          val v = (0 until bins).map { i =>
            val x = math.max(pa(i), eps)
            val y = math.max(pb(i), eps)
            (y - x) * math.log(y / x)
          }.sum
          Double.box(Sig.sig5(v))
        } else null
      Row(c, a(c)._2, b(c)._2, shift, dr, psi)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), driftSchema)
  }

  // ------------------------------------------------------------------
  // The sig5-canonical exact-merge form (the declared oracle query).
  // ------------------------------------------------------------------

  /** Per-partition canonical stats merged with the Pébay pairwise
    * formulas over ROUNDED canon — the oracle-checkable twin of the
    * sketch store. Each part pays the same two-pass scan as
    * [[Stats.moments]]; per-part mean/sum/M2 are sig5-rounded (the
    * canonical handoff both engines can reproduce bit-exactly), then
    * merged with exact IEEE arithmetic:
    *
    *   n = Σnᵢ;  mean = Σnᵢμᵢ / n;  M2 = ΣM2ᵢ + Σ nᵢ·(μᵢ − mean)²
    *
    * (the multi-way form of Chan/Pébay's pairwise update — exact for
    * any number of parts, no sequential fold order to agree on).
    * Emits one row per (column): n per part, merged n, mean, min,
    * max, sum, variance — everything sig5 on the way out, so a DuckDB
    * replay of the same per-part CTEs + merge arithmetic hash-matches.
    */
  /** The correlation twin of [[incrementalMoments]]: per-part
    * two-pass central CO-moments, sig5-canonicalized, merged with
    * the multi-way pairwise formula
    *
    *   Cxy = ΣCxyᵢ + Σ nᵢ·(μxᵢ − μx)(μyᵢ − μy)
    *
    * then ρ = Cxy / √(Cxx·Cyy) — value-checks the co-moment merge
    * algebra (the v3 store's correlation contract) relationally.
    * Two parts, fixed association, everything sig5 on the way out. */
  def incrementalCorr(parts: Seq[(String, DataFrame)],
      cols: Seq[String]): DataFrame = {
    require(parts.size == 2, "declared form merges exactly two parts")
    val spark = parts.head._2.sparkSession
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // per part: (n, per-col sig5 mean, per-col sig5 Cxx, per-pair
    // sig5 Cxy) — n is per-part row count (columns are non-null in
    // the declared use; listwise semantics otherwise)
    val partStats = parts.map { case (pname, df) =>
      val clean = df.na.drop(cols)
      val aggs1 = count(lit(1)).as("n") +: cols.map(c =>
        avg(col(c).cast("double")).as(s"mu__$c"))
      val r1 = clean.agg(aggs1.head, aggs1.tail: _*).first()
      val n = r1.getLong(0)
      val mu = cols.map(c =>
        c -> r1.getDouble(r1.fieldIndex(s"mu__$c"))).toMap
      def dev(c: String): Column = col(c).cast("double") - lit(mu(c))
      val aggs2 = cols.map(c =>
        sum(dev(c) * dev(c)).as(s"cxx__$c")) ++
        pairs.zipWithIndex.map { case ((a, b), i) =>
          sum(dev(a) * dev(b)).as(s"cxy__$i") }
      val r2 = clean.agg(aggs2.head, aggs2.tail: _*).first()
      (pname, n,
        cols.map(c => c -> Sig.sig5(mu(c))).toMap,
        cols.map(c => c -> Sig.sig5(
          r2.getDouble(r2.fieldIndex(s"cxx__$c")))).toMap,
        pairs.zipWithIndex.map { case (p, i) => p -> Sig.sig5(
          r2.getDouble(r2.fieldIndex(s"cxy__$i"))) }.toMap)
    }
    val Seq((_, na, mua, cxxa, cxya), (_, nb, mub, cxxb, cxyb)) =
      partStats
    val n = na + nb
    def mergedMean(c: String): Double =
      (na.toDouble * mua(c) + nb.toDouble * mub(c)) / n.toDouble
    def mergedC(xa: Double, xb: Double, dxa: Double, dya: Double,
        dxb: Double, dyb: Double): Double =
      (xa + xb) + ((dxa * dya) * na.toDouble + (dxb * dyb) * nb.toDouble)
    val out = pairs.map { case (x, y) =>
      val mx = mergedMean(x); val my = mergedMean(y)
      val cxy = mergedC(cxya((x, y)), cxyb((x, y)),
        mua(x) - mx, mua(y) - my, mub(x) - mx, mub(y) - my)
      val cxx = mergedC(cxxa(x), cxxb(x),
        mua(x) - mx, mua(x) - mx, mub(x) - mx, mub(x) - mx)
      val cyy = mergedC(cxxa(y), cxxb(y),
        mua(y) - my, mua(y) - my, mub(y) - my, mub(y) - my)
      Row(x, y, Sig.sig5(cxy / (math.sqrt(cxx) * math.sqrt(cyy))), n)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("col_a", StringType, nullable = false),
        StructField("col_b", StringType, nullable = false),
        StructField("rho", DoubleType),
        StructField("n", LongType, nullable = false))))
      .orderBy("col_a", "col_b")
  }

  def incrementalMoments(parts: Seq[(String, DataFrame)],
      cols: Seq[String]): DataFrame = {
    require(parts.nonEmpty)
    val spark = parts.head._2.sparkSession
    // per part: pass 1 (n, mean, min, max, sum) then pass 2 central
    // sum against the unrounded own-engine mean (the num_moments
    // pattern — sig5 absorbs the cross-engine 1e-12 divergence)
    val partStats: Seq[(String, Map[String,
        (Long, Double, Double, Double, Double, Double)])] =
      parts.map { case (pname, df) =>
        val aggs1 = cols.flatMap { c =>
          val d = col(c).cast("double")
          Seq(count(d).as(s"n__$c"), avg(d).as(s"mean__$c"),
            min(d).as(s"min__$c"), max(d).as(s"max__$c"),
            sum(d).as(s"sum__$c"))
        }
        val r1 = df.agg(aggs1.head, aggs1.tail: _*).first()
        val aggs2 = cols.map { c =>
          val i = r1.fieldIndex(s"mean__$c")
          val mu = if (r1.isNullAt(i)) 0.0 else r1.getDouble(i)
          val d = col(c).cast("double")
          sum(pow(d - lit(mu), 2)).as(s"s2__$c")
        }
        val r2 = df.agg(aggs2.head, aggs2.tail: _*).first()
        val m = cols.map { c =>
          val n = r1.getLong(r1.fieldIndex(s"n__$c"))
          def g(r: Row, f: String): Double = {
            val i = r.fieldIndex(f)
            if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
          }
          c -> ((n, Sig.sig5(g(r1, s"mean__$c")),
            g(r1, s"min__$c"), g(r1, s"max__$c"),
            Sig.sig5(g(r1, s"sum__$c")),
            Sig.sig5(g(r2, s"s2__$c"))))
        }.toMap
        pname -> m
      }
    val out = cols.map { c =>
      val ps = partStats.map { case (_, m) => m(c) }
      val n = ps.map(_._1).sum
      val mean = ps.map(p => p._1.toDouble * p._2).sum / n.toDouble
      val mn = ps.map(_._3).min
      val mx = ps.map(_._4).max
      val sm = ps.map(_._5).sum
      // association is load-bearing for the oracle replay: nᵢ·(d·d),
      // left-fold sums — the SQL writes the identical parenthesization
      val m2 = ps.map(_._6).sum +
        ps.map { p =>
          val d = p._2 - mean
          p._1.toDouble * (d * d)
        }.sum
      Row.fromSeq(Seq[Any](c, n,
        Sig.sig5(mean), mn, mx, Sig.sig5(sm),
        if (n > 1) Sig.sig5(m2 / (n - 1).toDouble) else null) ++
        ps.map(p => Long.box(p._1)))
    }
    val schema = StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("mean", DoubleType),
      StructField("min_val", DoubleType),
      StructField("max_val", DoubleType),
      StructField("sum_val", DoubleType),
      StructField("variance", DoubleType)) ++
      partStats.map { case (pname, _) =>
        StructField(s"n_$pname", LongType, nullable = false) })
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Robust anomaly detection over a metric history — "which ingest
    * day looks wrong": per part (snapshot) and column, the sig5 mean
    * canon, then a median/MAD z-score of each part's metric against
    * the whole history. MAD (not stddev) so one bad day cannot
    * inflate its own yardstick; the 1.4826 factor makes the scale
    * σ-consistent under normality. mad = 0 (a constant history)
    * yields z = null / anomalous = false rather than ±∞.
    *
    * The across-parts arithmetic is driver-side over the
    * O(snapshots × cols) metric canon — the same dashboard-sized
    * state [[incrementalMoments]] merges; each part contributes ONE
    * fused aggregation scan. Median interpolation is written as
    * v_lo + frac·(v_hi − v_lo) — quantile_cont's formula, so the
    * oracle's median() replays it bit-for-bit pre-rounding. */
  def metricAnomaly(parts: Seq[(String, DataFrame)], cols: Seq[String],
      zThresh: Double = 3.0, metric: String = "mean"): DataFrame = {
    require(parts.nonEmpty)
    val spark = parts.head._2.sparkSession
    // "mean" watches value drift; "null_frac" watches completeness —
    // the classic silent ingest breakage (a day whose extractor
    // started dropping a field). Both sig5 canon per (part, col).
    def m(c: String): Column = metric match {
      case "mean" => avg(col(c).cast("double"))
      case "null_frac" =>
        avg(when(col(c).isNull, 1.0).otherwise(0.0))
      case other =>
        throw new IllegalArgumentException(s"unknown metric $other")
    }
    val partMeans: Seq[(String, Map[String, Double])] =
      parts.map { case (pname, df) =>
        val aggs = cols.map(c => m(c).as(c))
        val r = df.agg(aggs.head, aggs.tail: _*).first()
        pname -> cols.map { c =>
          val i = r.fieldIndex(c)
          c -> (if (r.isNullAt(i)) Double.NaN else Sig.sig5(r.getDouble(i)))
        }.toMap
      }
    robustZ(spark, partMeans, cols, zThresh)
  }

  /** [[metricAnomaly]] over PERSISTED history: the per-snapshot
    * metric means come straight from the store's sketch state (the
    * buffer mean is an exact field), so the anomaly dashboard costs
    * O(snapshots × cols) driver work and ZERO data rescans — the
    * whole point of persisting state. Identical robust-z arithmetic
    * to the stateless oracle-checked form (one shared
    * implementation). */
  def metricAnomalyFromStore(spark: SparkSession, path: String,
      cols: Seq[String], zThresh: Double = 3.0): DataFrame = {
    val ids = spark.read.parquet(s"$path/state")
      .select("snapshot_id").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    require(ids.nonEmpty, s"no snapshots in $path")
    val partMeans = ids.map { id =>
      val bufs = mergedBuffers(spark, path, Some(Seq(id)))
      id -> cols.map { c =>
        val b = bufs.getOrElse(c,
          throw new IllegalArgumentException(
            s"column $c not profiled in $path"))._3
        c -> (if (b.n > 0) Sig.sig5(b.mean) else Double.NaN)
      }.toMap
    }
    robustZ(spark, partMeans, cols, zThresh)
  }

  private def robustZ(spark: SparkSession,
      partMeans: Seq[(String, Map[String, Double])], cols: Seq[String],
      zThresh: Double): DataFrame = {
    def medianCont(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.length - 1).toDouble
      val lo = pos.toInt
      val frac = pos - lo.toDouble
      if (frac == 0.0) s(lo) else s(lo) + frac * (s(lo + 1) - s(lo))
    }
    val out = cols.flatMap { c =>
      val ms = partMeans.map { case (p, m) => p -> m(c) }
      val med = Sig.sig5(medianCont(ms.map(_._2)))
      val mad = Sig.sig5(medianCont(ms.map(x => math.abs(x._2 - med))))
      ms.map { case (p, m) =>
        val z: Any =
          if (mad == 0.0) null else Sig.sig5((m - med) / (1.4826 * mad))
        // 0/1 BIGINT, not BOOLEAN — the repo's driver-comparator
        // convention for flags (QualityQueries `passed`)
        val anom: Long =
          if (mad != 0.0 &&
            math.abs((m - med) / (1.4826 * mad)) > zThresh) 1L
          else 0L
        Row(p, c, m, med, mad, z, anom)
      }
    }.sortBy(r => (r.getString(1), r.getString(0)))
    val schema = StructType(Seq(
      StructField("part", StringType, nullable = false),
      StructField("col_name", StringType, nullable = false),
      StructField("metric_mean", DoubleType),
      StructField("med", DoubleType),
      StructField("mad", DoubleType),
      StructField("z", DoubleType),
      StructField("anomalous", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }
}
