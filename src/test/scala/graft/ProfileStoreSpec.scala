package graft

import org.apache.spark.sql.functions._
import graft.functions.{MultiSketch, MultiSketchBuf}
import graft.profiler.{ProfileStore, Profiler, Stats, TableProfile}

/** Incremental profile store: persisted sketch-state merge must equal
  * a fresh whole-corpus scan — exactly where the state is exact, to
  * contract bounds where it is sketched. */
class ProfileStoreSpec extends SparkSpec {

  import spark.implicits._

  private def corpus(lo: Long, hi: Long) =
    spark.range(lo, hi).select(
      col("id"),
      (col("id") % 97).cast("double").as("x"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 1000).cast("double") / 10.0).as("y"),
      concat(lit("s"), (col("id") % 523).cast("string")).as("cat"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("snapshot merge ≡ whole-corpus scan: exact fields bit-equal, " +
      "KMV distinct bit-equal, GK quantiles within rank bound") {
    val a = corpus(0, 20000)
    val b = corpus(20000, 33000)
    val whole = corpus(0, 33000)
    val path = tmp("pstore")
    ProfileStore.writeSnapshot(a, path, "day=01", k = 256)
    ProfileStore.appendSnapshot(b, path, "day=02")
    val merged = ProfileStore.mergedBuffers(spark, path)
    // a fresh single-snapshot state over the union, same params
    val fresh = ProfileStore.snapshotState(whole, k = 256)
      .collect()
      .filter(_.getString(0) != ProfileStore.CorrRow) // co-moment row
      .map(r => r.getString(0) ->
        MultiSketch.deserializeBuf(r.getAs[Array[Byte]](3), 256,
          ProfileStore.DefaultAccuracy)).toMap
    for (c <- Seq("id", "x", "y", "cat")) {
      val (_, nRows, m, _) = merged(c)
      val f = fresh(c)
      assert(nRows === 33000L)
      assert(m.cnt === f.cnt, s"$c cnt")
      assert(m.n === f.n, s"$c n")
      assert(m.mn === f.mn, s"$c min")
      assert(m.mx === f.mx, s"$c max")
      assert(m.nz === f.nz, s"$c zeros")
      // KMV is a SET of the k smallest distinct hashes — merge order
      // cannot matter: bit-equality, not closeness
      assert(m.kmvLen === f.kmvLen, s"$c kmvLen")
      assert(m.kmv.take(m.kmvLen).toSeq ===
        f.kmv.take(f.kmvLen).toSeq, s"$c kmv hashes")
      if (f.n > 0) {
        assert(math.abs(m.sum - f.sum) <=
          1e-9 * math.max(1.0, math.abs(f.sum)), s"$c sum")
        assert(math.abs(m.mean - f.mean) <=
          1e-9 * math.max(1.0, math.abs(f.mean)), s"$c mean")
        assert(math.abs(m.m2 - f.m2) <=
          1e-6 * math.max(1.0, math.abs(f.m2)), s"$c m2")
        // merged GK keeps the ε-rank contract (merge adds the two
        // summaries' errors: ≤ 2ε·n; assert with slack 3ε)
        m.gkFlush()
        val q = m.qs.compress()
        val vals = whole.select(col(c).cast("double"))
          .where(col(c).isNotNull)
          .as[Double].collect().sorted
        for (p <- Seq(0.25, 0.5, 0.75)) {
          val est = q.query(p).get
          // two-sided form (correct under heavy duplicates, where a
          // single value can carry ≫ ε of rank mass): the est value's
          // rank INTERVAL [rank_lt, rank_le] must cover p to within
          // the merged-GK error (≤ 2ε; slack 3ε + head jitter)
          val eps = 3.0 / ProfileStore.DefaultAccuracy + 1e-3
          val rLt = vals.count(_ < est).toDouble / vals.length
          val rLe = vals.count(_ <= est).toDouble / vals.length
          assert(rLt <= p + eps && rLe >= p - eps,
            s"$c p$p est=$est rank interval [$rLt, $rLe]")
        }
      }
    }
  }

  test("mergedProfile matches a direct profile of the union on " +
      "exact fields; distinct estimate within KMV rsd") {
    val a = corpus(0, 8000)
    val b = corpus(8000, 15000)
    val path = tmp("pstore_prof")
    ProfileStore.writeSnapshot(a, path, "d1")
    ProfileStore.appendSnapshot(b, path, "d2")
    val prof = ProfileStore.mergedProfile(spark, path)
      .collect().map(r => r.getString(0) -> r).toMap
    val y = prof("y")
    assert(y.getLong(y.fieldIndex("n_rows")) === 15000L)
    val expectedNullY = corpus(0, 15000).where(col("y").isNull).count()
    assert(y.getLong(y.fieldIndex("n_missing")) === expectedNullY)
    val x = prof("x")
    assert(x.getDouble(x.fieldIndex("min_val")) === 0.0)
    assert(x.getDouble(x.fieldIndex("max_val")) === 96.0)
    // x has 97 distinct values < k=1024 → KMV is EXACT
    assert(x.getLong(x.fieldIndex("distinct_est")) === 97L)
    val cat = prof("cat")
    assert(cat.getLong(cat.fieldIndex("distinct_est")) === 523L)
    assert(cat.isNullAt(cat.fieldIndex("mean")))
    // id: 15000 distinct > k → estimate within ~3/√1024 ≈ 10%
    val id = prof("id")
    val est = id.getLong(id.fieldIndex("distinct_est")).toDouble
    assert(math.abs(est - 15000.0) / 15000.0 < 0.1,
      s"id distinct est $est")
  }

  test("append refuses: duplicate snapshot id, schema drift, " +
      "column-kind drift") {
    val path = tmp("pstore_guard")
    ProfileStore.writeSnapshot(corpus(0, 100), path, "d1")
    intercept[IllegalArgumentException] {
      ProfileStore.appendSnapshot(corpus(100, 200), path, "d1")
    }
    intercept[IllegalArgumentException] {
      ProfileStore.appendSnapshot(
        corpus(100, 200).withColumnRenamed("x", "z"), path, "d2")
    }
    intercept[IllegalArgumentException] {
      // same column NAME, different kind (numeric → string)
      ProfileStore.appendSnapshot(
        corpus(100, 200).withColumn("x", col("x").cast("string")),
        path, "d2")
    }
  }

  test("snapshot selection: merging a subset of snapshot ids " +
      "profiles exactly that subset") {
    val path = tmp("pstore_sel")
    ProfileStore.writeSnapshot(corpus(0, 1000), path, "d1")
    ProfileStore.appendSnapshot(corpus(1000, 2500), path, "d2")
    ProfileStore.appendSnapshot(corpus(2500, 3000), path, "d3")
    val sel = ProfileStore.mergedProfile(spark, path,
      Some(Seq("d1", "d3")))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(sel("id").getLong(sel("id").fieldIndex("n_rows")) === 1500L)
    assert(sel("id").getDouble(sel("id").fieldIndex("min_val")) === 0.0)
    assert(sel("id").getDouble(sel("id").fieldIndex("max_val"))
      === 2999.0)
  }

  test("incrementalMoments merge algebra equals single-scan moments " +
      "to sig5 on a skewed split") {
    // deliberately UNBALANCED parts with different distributions —
    // the merge formulas' stress case (large delta between means)
    val whole = corpus(0, 30000)
    val parts = Seq(
      "a" -> whole.where(col("id") < 27000),
      "b" -> whole.where(col("id") >= 27000))
    val inc = ProfileStore.incrementalMoments(parts, Seq("x", "y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val direct = graft.profiler.Stats.moments(whole, Seq("x", "y"))
      .collect().map(r => r.getString(r.fieldIndex("col_name")) -> r)
      .toMap
    for (c <- Seq("x", "y")) {
      val i = inc(c); val d = direct(c)
      assert(i.getLong(i.fieldIndex("n")) ===
        d.getLong(d.fieldIndex("n")), s"$c n")
      assert(i.getDouble(i.fieldIndex("min_val")) ===
        d.getDouble(d.fieldIndex("min_val")), s"$c min")
      assert(i.getDouble(i.fieldIndex("max_val")) ===
        d.getDouble(d.fieldIndex("max_val")), s"$c max")
      for (f <- Seq("mean", "sum_val", "variance")) {
        val iv = i.getDouble(i.fieldIndex(f))
        val dv = d.getDouble(d.fieldIndex(f))
        // both sides sig5-round their own path; the merge introduces
        // one extra rounding step → agree to ~1e-4 relative
        assert(math.abs(iv - dv) <= 2e-4 * math.max(1.0, math.abs(dv)),
          s"$c $f inc=$iv direct=$dv")
      }
    }
  }

  test("storeProfile renders the full report from state: top values " +
      "via merged Misra-Gries, histograms, quantiles, warnings, and " +
      "an HTML document — no data rescan") {
    val path = tmp("pstore_report")
    // skewed cat column: value "hot" dominates (planted heavy hitter)
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"),
      (col("id") % 100).cast("double").as("x"),
      when(col("id") % 3 === 0, lit("hot"))
        .otherwise(concat(lit("c"), (col("id") % 97).cast("string")))
        .as("cat"),
      lit("only").as("const_col"))
    ProfileStore.writeSnapshot(batch(0, 6000), path, "d1")
    ProfileStore.appendSnapshot(batch(6000, 9000), path, "d2")
    val p = ProfileStore.storeProfile(spark, path)
    assert(p.n === 9000L)
    assert(p.nvar === 4)
    val cat = p.columns.find(_.name == "cat").get
    assert(cat.kind === "CAT")
    // MG under-estimates but must surface the dominant value first
    // with est ≥ true − n/(k+1) = 3000 − 9000/33
    assert(cat.topValues.nonEmpty)
    assert(cat.topValues.head._1 === "hot")
    assert(cat.topValues.head._2 >= 3000L - 9000L / 33 &&
      cat.topValues.head._2 <= 3000L)
    val x = p.columns.find(_.name == "x").get
    assert(x.kind === "NUM")
    assert(x.histogram.map(_._2).sum === 9000L)
    assert(x.quantiles.contains("median"))
    assert(x.stats("min") === 0.0 && x.stats("max") === 99.0)
    val cc = p.columns.find(_.name == "const_col").get
    assert(cc.kind === "CONST")
    assert(p.warnings.exists(_.contains("const_col")),
      "constant-column warning must fire from state")
    assert(p.warnings.exists(_.contains("high cardinality")),
      "cat has 98 distinct > 50")
    val html = ProfileStore.htmlFromStore(spark, path)
    assert(html.contains("hot") && html.contains("const_col") &&
      html.contains("<svg"), "report renders freq table + histogram")
  }

  test("mergedCorrelations from persisted co-moment state equals the " +
      "scan-based Pearson matrix to sig5") {
    val path = tmp("pstore_corr")
    // correlated pair (x, x+noise-ish y via id mixing), independent z
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"),
      (col("id") % 97).cast("double").as("x"),
      ((col("id") % 97) * 2 + (col("id") % 5)).cast("double").as("y"),
      pmod(col("id") * 2654435761L, lit(1000L)).cast("double").as("z"))
    ProfileStore.writeSnapshot(batch(0, 7000), path, "d1")
    ProfileStore.appendSnapshot(batch(7000, 12000), path, "d2")
    val fromStore = ProfileStore.mergedCorrelations(spark, path)
      .map { case (a, b, r) => (a, b) -> r }.toMap
    val scan = graft.profiler.Stats
      .corrMatrix(batch(0, 12000), Seq("id", "x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(fromStore.keySet === scan.keySet)
    for ((k, s) <- scan)
      assert(fromStore(k) === s, s"pair $k store=${fromStore(k)} scan=$s")
    // and the report carries them
    val p = ProfileStore.storeProfile(spark, path)
    assert(p.correlations.size === 6)
  }

  test("driftReport from state only: planted mean shift and " +
      "distribution change surface; identical snapshots are quiet") {
    val path = tmp("pstore_drift")
    // week A: two snapshots of the same distribution
    ProfileStore.writeSnapshot(corpus(0, 10000), path, "a1")
    ProfileStore.appendSnapshot(corpus(10000, 20000), path, "a2")
    // week B: x SHIFTED by +50 (half an sd-ish), same y
    val shifted = corpus(20000, 30000)
      .withColumn("x", col("x") + lit(50.0))
    ProfileStore.appendSnapshot(shifted, path, "b1")
    val drift = ProfileStore.driftReport(spark, path,
      Seq("a1", "a2"), Seq("b1"))
      .collect().map(r => r.getString(0) -> r).toMap
    val x = drift("x")
    assert(x.getLong(x.fieldIndex("n_a")) === 20000L)
    assert(x.getLong(x.fieldIndex("n_b")) === 10000L)
    assert(x.getDouble(x.fieldIndex("mean_shift_sd")) > 1.0,
      "a +50 shift on a sd≈28 uniform must read as a large shift")
    assert(x.getDouble(x.fieldIndex("psi")) > 0.5,
      "disjoint-ish ranges give a large PSI")
    // y unchanged: quiet on both measures
    val y = drift("y")
    assert(y.getDouble(y.fieldIndex("mean_shift_sd")) < 0.05)
    assert(y.getDouble(y.fieldIndex("psi")) < 0.05)
    // self-drift is exactly quiet
    val self = ProfileStore.driftReport(spark, path,
      Seq("a1"), Seq("a1"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(self("x").getDouble(self("x").fieldIndex("mean_shift_sd"))
      === 0.0)
    assert(self("x").getDouble(self("x").fieldIndex("distinct_ratio"))
      === 1.0)
  }

  test("compactSnapshots: folding history into one snapshot leaves " +
      "the merged profile unchanged where exact, within bounds " +
      "where sketched, and shrinks the state") {
    val path = tmp("pstore_compact")
    ProfileStore.writeSnapshot(corpus(0, 4000), path, "d1")
    ProfileStore.appendSnapshot(corpus(4000, 7000), path, "d2")
    ProfileStore.appendSnapshot(corpus(7000, 9000), path, "d3")
    ProfileStore.appendSnapshot(corpus(9000, 12000), path, "d4")
    val before = ProfileStore.mergedProfile(spark, path)
      .collect().map(r => r.getString(0) -> r).toMap
    val corrBefore = ProfileStore.mergedCorrelations(spark, path)
      .map { case (a, b, r) => (a, b) -> r }.toMap
    ProfileStore.compactSnapshots(spark, path,
      Seq("d1", "d2", "d3"), "hist")
    val ids = spark.read.parquet(s"$path/state")
      .select("snapshot_id").distinct()
      .collect().map(_.getString(0)).sorted
    assert(ids === Array("d4", "hist"))
    val after = ProfileStore.mergedProfile(spark, path)
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("id", "x", "y", "cat")) {
      val b = before(c); val a = after(c)
      for (f <- Seq("n_rows", "n", "n_missing", "distinct_est"))
        assert(a.getLong(a.fieldIndex(f)) === b.getLong(b.fieldIndex(f)),
          s"$c.$f")
      for (f <- Seq("min_val", "max_val") if !b.isNullAt(b.fieldIndex(f)))
        assert(a.getDouble(a.fieldIndex(f)) ===
          b.getDouble(b.fieldIndex(f)), s"$c.$f")
      // sig5 canon absorbs the merge-order float shift
      for (f <- Seq("mean", "sum_val", "variance")
          if !b.isNullAt(b.fieldIndex(f)))
        assert(a.getDouble(a.fieldIndex(f)) ===
          b.getDouble(b.fieldIndex(f)), s"$c.$f")
    }
    // correlations survive compaction to sig5
    val corrAfter = ProfileStore.mergedCorrelations(spark, path)
      .map { case (a, b, r) => (a, b) -> r }.toMap
    assert(corrAfter.keySet === corrBefore.keySet)
    for ((k, v) <- corrBefore)
      assert(corrAfter(k) === v, s"corr $k")
    // append still works against the compacted store
    ProfileStore.appendSnapshot(corpus(12000, 13000), path, "d5")
    val n5 = ProfileStore.mergedProfile(spark, path)
      .collect().find(_.getString(0) == "id").get.getLong(2)
    assert(n5 === 13000L)
  }

  test("numericDriftByGroup: only the planted group drifts; bins " +
      "are per-group so a small group's shift is not diluted") {
    // group A: slice 1 shifted by +500 (drift); B and C: identical
    // slices (quiet). C's range is tiny vs A's — per-group bins must
    // still resolve it.
    val df = spark.range(30000).select(
      element_at(typedLit(Seq("A", "B", "C")),
        (col("id") % 3 + 1).cast("int")).as("src"),
      (col("id") % 2).as("slice"),
      (when(element_at(typedLit(Seq("A", "B", "C")),
          (col("id") % 3 + 1).cast("int")) === "A",
        (col("id") % 100) + when(col("id") % 2 === 1, 500)
          .otherwise(0))
        .when(element_at(typedLit(Seq("A", "B", "C")),
          (col("id") % 3 + 1).cast("int")) === "B", col("id") % 100)
        .otherwise(col("id") % 5)).cast("double").as("v"))
    val out = graft.ops.Drift.numericDriftByGroup(df, "src",
        col("v"), col("slice"))
      .collect().map(r => r.getString(0) ->
        r.getDouble(r.fieldIndex("psi"))).toMap
    assert(out.keySet === Set("A", "B", "C"))
    assert(out("A") > 1.0, s"planted shift must be loud: ${out("A")}")
    assert(out("B") < 0.05, s"quiet group B: ${out("B")}")
    assert(out("C") < 0.05, s"quiet small-range group C: ${out("C")}")
  }

  test("ksDriftByGroup: the planted whole-distribution shift is " +
      "near 1, quiet groups near 0, an empty slice reads NULL") {
    val grp = element_at(typedLit(Seq("A", "B", "C")),
      (col("id") % 3 + 1).cast("int"))
    val df = spark.range(30000).select(
      grp.as("src"), (col("id") % 2).as("slice"),
      (when(grp === "A",
        (col("id") % 100) + when(col("id") % 2 === 1, 500).otherwise(0))
        .when(grp === "B", col("id") % 100)
        .otherwise(col("id") % 5)).cast("double").as("v"))
    val out = graft.ops.Drift.ksDriftByGroup(df, "src",
        col("v"), col("slice"))
      .collect().map(r => r.getString(0) ->
        r.getDouble(r.fieldIndex("ks"))).toMap
    assert(out("A") > 0.9, s"disjoint slices: KS → 1: ${out("A")}")
    assert(out("B") < 0.05 && out("C") < 0.05)
    // a group whose slice 1 is empty: CDF undefined → NULL
    val one = spark.range(100).select(lit("D").as("src"),
      lit(0L).as("slice"), (col("id") % 7).cast("double").as("v"))
    val r = graft.ops.Drift.ksDriftByGroup(one, "src",
      col("v"), col("slice")).collect().head
    assert(r.isNullAt(r.fieldIndex("ks")))
  }

  test("incrementalCorr merge algebra equals single-scan corrMatrix " +
      "to sig5 on an unbalanced split") {
    val whole = spark.range(25000).select(
      col("id"),
      (col("id") % 97).cast("double").as("x"),
      ((col("id") % 97) * 3 + (col("id") % 7)).cast("double").as("y"),
      pmod(col("id") * 2654435761L, lit(1000L)).cast("double").as("z"))
    val parts = Seq(
      "a" -> whole.where(col("id") < 22000),
      "b" -> whole.where(col("id") >= 22000))
    val inc = ProfileStore.incrementalCorr(parts, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    val direct = graft.profiler.Stats
      .corrMatrix(whole, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(inc.keySet === direct.keySet)
    for ((k, d) <- direct)
      assert(math.abs(inc(k) - d) <= 2e-4 * math.max(1.0, math.abs(d)),
        s"$k inc=${inc(k)} direct=$d")
  }

  test("MultiSketchStateAgg state bytes round-trip: deserialize → " +
      "finalize equals the struct aggregate's output") {
    // the fused profile reads every statistic through this round trip
    val df = corpus(0, 5000)
    for (c <- Seq("x", "y")) {
      val proj = df.select(col(c).as("v"),
        when(col(c).isNotNull, xxhash64(col(c))).as("h"))
      val stBytes = proj.agg(
          MultiSketch.state(col("v"), col("h"), 256, 10000).as("st"))
        .first().getAs[Array[Byte]](0)
      val buf = MultiSketch.deserializeBuf(stBytes, 256, 10000)
      val struct = proj.agg(
          MultiSketch.sketch(col("v"), col("h"), 256, 10000, Stats.Ps)
            .as("ms"))
        .first().getStruct(0)
      assert(buf.cnt === struct.getAs[Long]("cnt"))
      assert(buf.distinctEstimate === struct.getAs[Long]("dis"))
      assert(buf.n === struct.getAs[Long]("n_num"))
      assert(buf.mean === struct.getAs[Double]("mean"))
      assert(buf.m2 === struct.getAs[Double]("m2"), s"$c m2")
      assert(buf.m3 === struct.getAs[Double]("m3"), s"$c m3")
      assert(buf.m4 === struct.getAs[Double]("m4"), s"$c m4")
      assert(buf.mn === struct.getAs[Double]("mn"))
      assert(buf.mx === struct.getAs[Double]("mx"))
      assert(buf.sum === struct.getAs[Double]("sm"))
      assert(buf.nz === struct.getAs[Long]("nz"))
      buf.gkFlush()
      val q = buf.qs.compress()
      assert(Stats.Ps.map(p => q.query(p).get) ===
        struct.getAs[scala.collection.Seq[Double]]("qs").toSeq, s"$c qs")
      assert(MultiSketch.serializeGk(q).toSeq ===
        struct.getAs[Array[Byte]]("gk").toSeq, s"$c GK bytes")
    }
  }

  test("storeProfile of one snapshot equals profileFused on the same " +
      "frame, apart from Spearman and plan size") {
    // name-ordered schema; string columns with ≤ 32 distinct values
    // (Misra–Gries counts exact); a date column; amount2 tracks amount
    // (ρ > 0.9, so it is CORR-rejected); nulls in cat and qty
    val df = spark.range(0, 3000, 1, 4).select(
      ((col("id") % 200) * 1.5 + col("id") % 7).as("amount"),
      ((col("id") % 200) * 3.0 + col("id") % 3).as("amount2"),
      when(col("id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("k"), (col("id") % 20).cast("string")))
        .as("cat"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 90).cast("int"))
        .as("day"),
      col("id"),
      when(col("id") % 11 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 50).cast("int")).as("qty"),
      lit("z").as("zconst"))
    assert(df.columns.toSeq === df.columns.toSeq.sorted)
    val path = tmp("pstore_fused")
    ProfileStore.writeSnapshot(df, path, "d1", k = 1024, accuracy = 10000)
    val store = ProfileStore.storeProfile(spark, path)
    val fused = Profiler.profileFused(df)
    assert(store.rejected.map(_._1) === Seq("amount2"))
    assert(store.columns.find(_.name == "cat").get.topValues
      .exists(_._1 == "__other__"))
    assert(store.columns.find(_.name == "day").get.histogram.nonEmpty)
    def comparable(p: TableProfile) =
      p.copy(spearman = Nil, sizeBytes = BigInt(0))
    assert(comparable(store) === comparable(fused))
  }

  test("metricAnomalyFromStore: persisted-state history flags the " +
      "same day with the same z as the stateless rescan form") {
    def day(seed: Long, shift: Double) =
      spark.range(0, 3000).select(
        (((col("id") * 131 + seed) % 997).cast("double") / 100.0 + shift)
          .as("x"),
        (col("id") % 17).cast("double").as("y"))
    val days = Seq("day=1" -> day(1, 0.0), "day=2" -> day(2, 0.0),
      "day=3" -> day(3, 0.0), "day=4" -> day(4, 25.0))
    val path = tmp("pstore_anom")
    ProfileStore.writeSnapshot(days.head._2, path, days.head._1)
    days.tail.foreach { case (id, df) =>
      ProfileStore.appendSnapshot(df, path, id) }
    val fromStore = ProfileStore
      .metricAnomalyFromStore(spark, path, Seq("x", "y")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("z"), r.getAs[Long]("anomalous"))).toMap
    val stateless = ProfileStore
      .metricAnomaly(days, Seq("x", "y")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("z"), r.getAs[Long]("anomalous"))).toMap
    assert(fromStore == stateless,
      "state-derived metrics must reproduce the rescan z exactly")
    assert(fromStore(("day=4", "x"))._2 == 1L)
    assert(fromStore(("day=4", "y"))._2 == 0L,
      "the unshifted column must stay clean on the shifted day")
  }

  test("metricAnomaly: only the shifted snapshot is flagged; a " +
      "constant history yields z=null / anomalous=0, never ±inf") {
    def day(seed: Long, shift: Double) =
      spark.range(0, 4000).select(
        (((col("id") * 131 + seed) % 997).cast("double") / 100.0 + shift)
          .as("x"))
    val parts = Seq("d1" -> day(1, 0.0), "d2" -> day(2, 0.0),
      "d3" -> day(3, 0.0), "d4" -> day(4, 0.0), "d5" -> day(5, 50.0))
    val r = ProfileStore.metricAnomaly(parts, Seq("x")).collect()
      .map(x => x.getString(0) ->
        (x.getAs[Double]("z"), x.getAs[Long]("anomalous"))).toMap
    assert(r("d5")._2 == 1L, "the +50 shift must be flagged")
    assert(Seq("d1", "d2", "d3", "d4").forall(r(_)._2 == 0L),
      "clean days must not be flagged")
    assert(r("d5")._1 > 3.0)
    // constant history: every part identical → mad = 0 → null z
    val const = Seq("c1", "c2", "c3").map(_ -> day(9, 0.0))
    val rc = ProfileStore.metricAnomaly(const, Seq("x")).collect()
    assert(rc.forall(_.isNullAt(rc.head.fieldIndex("z"))))
    assert(rc.forall(_.getAs[Long]("anomalous") == 0L))
  }

  test("property: compact(any partition of snapshots) then merge ≡ " +
      "merge(all) — exact fields bit-equal, sketches within bounds") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // base store: 5 daily snapshots, built ONCE
    val base = tmp("pstore_assoc")
    val days = (0 until 5).map(i => f"day=$i%02d")
    ProfileStore.writeSnapshot(corpus(0, 1200), base, days.head, k = 256)
    days.tail.zipWithIndex.foreach { case (d, i) =>
      ProfileStore.appendSnapshot(
        corpus(1200L * (i + 1), 1200L * (i + 2)), base, d)
    }
    val want = ProfileStore.mergedProfile(spark, base).collect()
      .map(r => r.getString(0) -> r).toMap
    val wantCorr = ProfileStore.mergedCorrelations(spark, base)
      .map { case (a, b, r) => (a, b) -> r }.toMap

    def copyDir(src: String): String = {
      val dst = tmp("pstore_assoc_cp")
      val sp = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(sp).forEach { p =>
        val t = java.nio.file.Paths.get(dst).resolve(sp.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      dst
    }

    val partGen = Gen.listOfN(days.size, Gen.chooseNum(0, 2))
    (0 until 5).foreach { seed =>
      val assign = partGen(Gen.Parameters.default, Seed(seed.toLong)).get
      val groups = days.zip(assign).groupBy(_._2)
        .values.map(_.map(_._1)).toSeq.sortBy(_.head)
      val store = copyDir(base)
      groups.zipWithIndex.foreach { case (ids, g) =>
        ProfileStore.compactSnapshots(spark, store, ids, s"compact=$g")
      }
      val got = ProfileStore.mergedProfile(spark, store).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(got.keySet === want.keySet)
      got.foreach { case (c, r) =>
        val w = want(c)
        // exact over any merge grouping: counts, extremes, KMV set
        Seq("kind", "n_rows", "n", "n_missing", "distinct_est",
          "min_val", "max_val", "n_zeros").foreach { f =>
          assert(r.getAs[Any](f) === w.getAs[Any](f),
            s"seed=$seed $c.$f groups=$groups")
        }
        // float estimates: merge ORDER changes summation order, and
        // sig5 rounding can split a near-boundary pair by one bucket
        Seq("mean", "variance", "sum_val").foreach { f =>
          val (a, b) = (r.getAs[Any](f), w.getAs[Any](f))
          (a, b) match {
            case (null, null) =>
            case (x: java.lang.Double, y: java.lang.Double) =>
              assert(math.abs(x - y) <=
                1e-4 * math.max(1.0, math.abs(y)),
                s"seed=$seed $c.$f $x vs $y")
            case _ => fail(s"seed=$seed $c.$f nullability diverged")
          }
        }
        // merged-GK quantiles: rank error stays O(ε·n) under any
        // grouping; on these (near-)uniform columns that is a value
        // band of ~4ε·range + discretization
        val range = (r.getAs[Any]("max_val"), r.getAs[Any]("min_val"))
          match {
            case (mx: java.lang.Double, mn: java.lang.Double) => mx - mn
            case _ => 0.0
          }
        Seq("p05", "q1", "median", "q3", "p95").foreach { f =>
          val (a, b) = (r.getAs[Any](f), w.getAs[Any](f))
          (a, b) match {
            case (null, null) =>
            case (x: java.lang.Double, y: java.lang.Double) =>
              assert(math.abs(x - y) <= 0.004 * range + 1.0,
                s"seed=$seed $c.$f $x vs $y")
            case _ => fail(s"seed=$seed $c.$f nullability diverged")
          }
        }
      }
      // co-moment correlations survive any compaction grouping
      val gotCorr = ProfileStore.mergedCorrelations(spark, store)
        .map { case (a, b, rho) => (a, b) -> rho }.toMap
      assert(gotCorr.keySet === wantCorr.keySet)
      gotCorr.foreach { case (k2, rho) =>
        assert(math.abs(rho - wantCorr(k2)) <= 1e-4,
          s"seed=$seed corr $k2")
      }
    }
  }
}
