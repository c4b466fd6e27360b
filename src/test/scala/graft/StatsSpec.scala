package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.profiler.Stats

/** Unit micro-fixtures for the core statistics operators (FIXTURES.md
  * §unit-test list): nulls, all-null, constant, unique, NaN, ties,
  * single row. */
class StatsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(rows.asJava, schema)

  private val numSchema = StructType(Seq(
    StructField("a", DoubleType), StructField("b", LongType)))

  private val mixed = df(Seq(
    Row(1.0, 10L), Row(2.0, 20L), Row(null, 30L), Row(4.0, 40L),
    Row(0.0, 50L)), numSchema)

  test("counts: per-column non-null and missing") {
    val r = Stats.counts(mixed, Seq("a", "b")).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("a") == (4L, 1L))
    assert(r("b") == (5L, 0L))
  }

  test("distinct: exact counts and uniqueness flags") {
    val r = Stats.distinct(mixed, Seq("a", "b")).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(3))).toMap
    assert(r("a") == (4L, 1L)) // 4 distinct over 4 non-null => unique
    assert(r("b") == (5L, 1L))
  }

  test("kinds: CONST and UNIQUE override the dtype bucket") {
    val s = StructType(Seq(StructField("c", StringType),
      StructField("u", LongType), StructField("n", DoubleType)))
    val d2 = df(Seq(Row("x", 1L, 5.0), Row("x", 2L, 5.0),
      Row("x", 3L, 7.0)), s)
    val r = Stats.kinds(d2, Seq("c", "u", "n")).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r == Map("c" -> "CONST", "u" -> "UNIQUE", "n" -> "NUM"))
  }

  test("moments: mean/min/max/sum on a known column ignore nulls") {
    val r = Stats.moments(mixed, Seq("a")).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("mean") == 1.75)
    assert(r.getAs[Double]("min_val") == 0.0)
    assert(r.getAs[Double]("max_val") == 4.0)
    assert(r.getAs[Double]("sum_val") == 7.0)
  }

  test("quantiles: monotone and exact on integers 1..5") {
    val d2 = df((1 to 5).map(i => Row(i.toLong)),
      StructType(Seq(StructField("x", LongType))))
    val r = Stats.quantiles(d2, Seq("x")).collect().head
    val qs = Seq("p05", "q1", "median", "q3", "p95")
      .map(r.getAs[Double])
    assert(qs == qs.sorted, "quantiles must be monotone")
    assert(r.getAs[Double]("median") == 3.0)
    assert(r.getAs[Double]("q1") == 2.0)
  }

  test("histogram: bin counts sum to non-null count; max in top bin") {
    val d2 = df((0 to 99).map(i => Row(i.toDouble)),
      StructType(Seq(StructField("x", DoubleType))))
    val h = Stats.histogram(d2, Seq("x"), bins = 10).collect()
    assert(h.map(_.getAs[Long]("cnt")).sum == 100L)
    assert(h.length == 10)
    assert(h.map(_.getAs[Long]("bin")).toSeq == (0L to 9L))
    // value 99.0 (the max) clamps into bin 9
    assert(h.last.getAs[Long]("cnt") == 10L)
  }

  test("histogram: null rows are excluded, not binned (least(null,9)=9 trap)") {
    val d2 = df(Seq(Row(1.0), Row(2.0), Row(null), Row(4.0), Row(0.0)),
      StructType(Seq(StructField("x", DoubleType))))
    val h = Stats.histogram(d2, Seq("x"), bins = 10).collect()
    assert(h.map(_.getAs[Long]("cnt")).sum == 4L,
      "null row must not be counted into any bin")
  }

  test("histogram: NaN values are excluded and do not poison the bounds") {
    val d2 = df(Seq(Row(1.0), Row(2.0), Row(Double.NaN), Row(4.0)),
      StructType(Seq(StructField("x", DoubleType))))
    val h = Stats.histogram(d2, Seq("x"), bins = 10).collect()
    assert(h.map(_.getAs[Long]("cnt")).sum == 3L)
    assert(h.forall(r => !r.getAs[Double]("bin_lo").isNaN))
  }

  test("corr: stable for large-mean/small-variance columns") {
    val s = StructType(Seq(StructField("x", DoubleType),
      StructField("y", DoubleType)))
    // epoch-like magnitudes with unit jitter: raw power sums would
    // cancel catastrophically here
    val d2 = df((1 to 1000).map(i =>
      Row(1.7e9 + (i % 7).toDouble, 1.7e9 + ((i * 3) % 11).toDouble)), s)
    val rho = Stats.corrMatrix(d2, Seq("x", "y")).collect()
      .head.getDouble(2)
    assert(!rho.isNaN && math.abs(rho) <= 1.0)
  }

  test("pearson equals a naive Pearson over collect(): listwise " +
      "deletion, epoch-like magnitudes, constant column") {
    val s = StructType(Seq(StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("t", DoubleType),
      StructField("k", DoubleType)))
    // t: epoch seconds with small jitter; k: constant; every 9th row
    // has a null in x or y, which drops the whole row for every pair
    val d2 = df((1 to 400).map { i =>
      val x = if (i % 9 == 0) null else (i % 23).toDouble
      val y = if (i % 9 == 4) null else 0.5 * (i % 23) + (i * 7 % 13)
      Row(x, y, 1.7e9 + (i * 31 % 17).toDouble + 0.25 * (i % 3), 3.0)
    }, s)
    val cols = Seq("x", "y", "t", "k")
    val kept = d2.collect().toSeq.filter(r => cols.indices.forall(i =>
      !r.isNullAt(i))).map(r => cols.indices.map(r.getDouble))
    def naive(i: Int, j: Int): Option[Double] = {
      val n = kept.size.toDouble
      val mi = kept.map(_(i)).sum / n
      val mj = kept.map(_(j)).sum / n
      val sij = kept.map(r => (r(i) - mi) * (r(j) - mj)).sum
      val sii = kept.map(r => (r(i) - mi) * (r(i) - mi)).sum
      val sjj = kept.map(r => (r(j) - mj) * (r(j) - mj)).sum
      Option.when(sii > 0 && sjj > 0)(sij / math.sqrt(sii * sjj))
    }
    assert(kept.size < 400 && kept.size > 300)
    val m = Stats.pearson(d2, cols)
    assert(m.keySet == Stats.corrPairs(cols).toSet)
    for (i <- cols.indices; j <- (i + 1) until cols.size) {
      val got = m((cols(i), cols(j)))
      naive(i, j) match {
        case None => assert(got.isEmpty, s"${cols(i)}/${cols(j)}")
        case Some(want) =>
          assert(got.exists(g => math.abs(g - want) <= 1e-4 * math.abs(want)
            + 1e-9), s"${cols(i)}/${cols(j)}: $got vs $want")
      }
    }
    assert(m(("x", "y")).exists(_ > 0.3), "the x/y pair is correlated")
    assert(m(("t", "k")).isEmpty && m(("x", "k")).isEmpty)
  }

  test("histogram: constant column lands in a single bin 0") {
    val d2 = df(Seq(Row(5.0), Row(5.0), Row(5.0)),
      StructType(Seq(StructField("x", DoubleType))))
    val h = Stats.histogram(d2, Seq("x")).collect()
    assert(h.length == 1 && h.head.getAs[Long]("bin") == 0L &&
      h.head.getAs[Long]("cnt") == 3L)
  }

  test("histogram2d: diagonal data fills only diagonal cells; " +
      "counts sum to jointly-valid rows") {
    val s = StructType(Seq(StructField("x", DoubleType),
      StructField("y", DoubleType)))
    val rows = (0 to 99).map(i => Row(i.toDouble, i.toDouble)) ++
      Seq(Row(null, 1.0), Row(1.0, null), Row(Double.NaN, 2.0))
    val h = Stats.histogram2d(df(rows, s), "x", "y", bins = 10).collect()
    assert(h.map(_.getAs[Long]("cnt")).sum == 100L,
      "rows missing either dim are not joint observations")
    assert(h.length == 10, "x=y data occupies exactly the diagonal")
    assert(h.forall(r => r.getAs[Long]("bx") == r.getAs[Long]("by")))
    assert(h.forall(r => r.getAs[Double]("x_lo") < r.getAs[Double]("x_hi")))
  }

  test("histogram2d: constant dim collapses to by=0; all-null input " +
      "yields an empty frame with the right schema") {
    val s = StructType(Seq(StructField("x", DoubleType),
      StructField("y", DoubleType)))
    val h = Stats.histogram2d(
      df((0 to 9).map(i => Row(i.toDouble, 7.0)), s), "x", "y").collect()
    assert(h.forall(_.getAs[Long]("by") == 0L))
    assert(h.map(_.getAs[Long]("cnt")).sum == 10L)
    val e = Stats.histogram2d(
      df(Seq(Row(null, 1.0)), s), "x", "y")
    assert(e.collect().isEmpty)
    assert(e.columns.toSeq ==
      Seq("bx", "by", "cnt", "x_lo", "x_hi", "y_lo", "y_hi"))
  }

  test("patterns: the stray free-text row in an id column surfaces " +
      "as its own mask; nulls excluded; topK + tie-break respected") {
    val s = StructType(Seq(StructField("id", StringType)))
    val rows = (0 until 50).map(i => Row(f"AB-$i%04d")) ++
      Seq(Row("call me maybe"), Row(null))
    val h = Stats.patterns(df(rows, s), Seq("id"), topK = 10).collect()
    val m = h.map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(m("AA-9999") == 50L)
    assert(m("aaaa aa aaaaa") == 1L, "the stray shape must be visible")
    assert(h.map(_.getAs[Long]("cnt")).sum == 51L, "null not masked")
    assert(h.head.getAs[Long]("rnk") == 1L &&
      h.head.getString(1) == "AA-9999")
  }

  test("freq: deterministic tie-break on value, topK respected, " +
      "remainder aggregated into __other__") {
    val s = StructType(Seq(StructField("c", StringType)))
    val d2 = df(Seq("b", "b", "a", "a", "c", "d", "c").map(Row(_)), s)
    val f = Stats.freq(d2, Seq("c"), topK = 2).collect()
    assert(f.map(r => (r.getAs[String]("value"), r.getAs[Long]("cnt"),
      r.getAs[Long]("rnk"))).toSeq ==
      Seq(("a", 2L, 1L), ("b", 2L, 2L), ("__other__", 3L, 3L)))
    // the profiler's table: same top-k core, __other__ from pass A's
    // non-null count (nulls never count into the remainder)
    val withNull = d2.union(df(Seq(Row(null), Row(null)), s))
    val p = graft.profiler.Profiler.profile(withNull,
      graft.profiler.ProfilerConfig(topK = 2))
    assert(p.columns.head.topValues ==
      Seq(("a", 2L), ("b", 2L), ("__other__", 3L)))
  }

  test("freq: no __other__ row when topK covers every value") {
    val s = StructType(Seq(StructField("c", StringType)))
    val d2 = df(Seq("b", "a", "a").map(Row(_)), s)
    val f = Stats.freq(d2, Seq("c"), topK = 10).collect()
    assert(f.map(_.getAs[String]("value")).toSeq == Seq("a", "b"))
    val p = graft.profiler.Profiler.profile(d2,
      graft.profiler.ProfilerConfig(topK = 10))
    assert(p.columns.head.topValues == Seq(("a", 2L), ("b", 1L)))
    // exactly topK values: still no remainder row
    val p2 = graft.profiler.Profiler.profile(d2,
      graft.profiler.ProfilerConfig(topK = 2))
    assert(p2.columns.head.topValues == Seq(("a", 2L), ("b", 1L)))
    assert(Stats.freq(d2, Seq("c"), topK = 2).collect()
      .map(_.getAs[String]("value")).toSeq == Seq("a", "b"))
  }

  test("kindCounts: every kind counted with CORR > CONST > UNIQUE " +
      "precedence") {
    val s = StructType(Seq(StructField("id", LongType),
      StructField("x", DoubleType), StructField("y", DoubleType),
      StructField("k", StringType), StructField("c", StringType)))
    // x is a low-correlation sawtooth vs the monotone id (ρ ≈ 0.17)
    // so only y (= 3x+1, ρ = 1 vs x) is rejected as CORR
    val d2 = df((1 to 20).map(i => Row(i.toLong, (i % 5).toDouble,
      3.0 * (i % 5) + 1.0, if (i % 2 == 0) "even" else "odd", "K")), s)
    val r = Stats.kindCounts(d2, d2.columns.toSeq).collect().head
    assert(r.getAs[Long]("n") == 20L)
    assert(r.getAs[Long]("nvar") == 5L)
    // id UNIQUE, x NUM, y CORR (ρ=1 vs x), k CAT, c CONST
    assert(r.getAs[Long]("n_num") == 1L)
    assert(r.getAs[Long]("n_cat") == 1L)
    assert(r.getAs[Long]("n_date") == 0L)
    assert(r.getAs[Long]("n_const") == 1L)
    assert(r.getAs[Long]("n_unique") == 1L)
    assert(r.getAs[Long]("n_corr") == 1L)
  }

  test("kindCounts equals the tally of the exact profile's kinds") {
    val s = StructType(Seq(StructField("id", LongType),
      StructField("x", DoubleType), StructField("x3", DoubleType),
      StructField("k", StringType), StructField("c", StringType),
      StructField("ts", TimestampType)))
    // id UNIQUE (a mod-41 permutation, uncorrelated with x), x3 = 3x
    // CORR, c CONST, k CAT, ts DATE, x NUM (with a null)
    val d2 = df((1 to 40).map(i => Row(((i * 17) % 41).toLong,
      if (i == 5) null else (i % 20).toDouble, 3.0 * (i % 20),
      if (i % 3 == 0) "a" else "b", "K",
      new java.sql.Timestamp((i % 6) * 3600000L))), s)
    val kinds = graft.profiler.Profiler.profile(d2).columns.map(_.kind)
    assert(kinds.toSet == Set("UNIQUE", "NUM", "CORR", "CAT", "CONST",
      "DATE"))
    val r = Stats.kindCounts(d2, d2.columns.toSeq).collect().head
    assert(r.getAs[Long]("n") == 40L && r.getAs[Long]("nvar") == 6L)
    Seq("NUM", "CAT", "DATE", "CONST", "UNIQUE", "CORR").foreach { k =>
      assert(r.getAs[Long](s"n_${k.toLowerCase}") == kinds.count(_ == k),
        k)
    }
  }

  test("quantilesByDtype: int column exact-interpolated, float column " +
      "routed through the sketch") {
    val s = StructType(Seq(StructField("i", LongType),
      StructField("f", DoubleType)))
    // n=5 so q1/q3 land exactly on elements: exact and approx agree
    // on f, while i exercises interpolation (p05 of 1..5 = 1.2)
    val d2 = df((1 to 5).map(x => Row(x.toLong, x.toDouble)), s)
    val byDtype = Stats.quantilesByDtype(d2, Seq("i", "f")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(byDtype("i").getAs[Double]("p05") == 1.2) // interpolated
    assert(byDtype("f").getAs[Double]("p05") == 1.0) // sketch: element
    assert(byDtype("i").getAs[Double]("q1") == 2.0)
    assert(byDtype("f").getAs[Double]("q1") == 2.0)
  }

  test("quantileRankCheck: sketch honors its rank-error contract") {
    val s = StructType(Seq(StructField("f", DoubleType)))
    val d2 = df((1 to 1000).map(x => Row(x.toDouble)), s)
    val r = Stats.quantileRankCheck(d2, Seq("f")).collect()
    assert(r.length == 5)
    assert(r.forall(_.getAs[Boolean]("within_bound")))
  }

  test("derived approx: IQR via sketch matches exact on element-aligned " +
      "quartiles") {
    val s = StructType(Seq(StructField("f", DoubleType)))
    val d2 = df((1 to 5).map(x => Row(x.toDouble)), s)
    val exact = Stats.derived(d2, Seq("f")).collect().head
    val approx = Stats.derived(d2, Seq("f"), approx = true).collect().head
    assert(exact.getAs[Double]("iqr") == 2.0)
    assert(approx.getAs[Double]("iqr") == 2.0)
    assert(exact.getAs[Double]("range_val") ==
      approx.getAs[Double]("range_val"))
  }

  test("corr: perfectly correlated pair detected and rejected") {
    val s = StructType(Seq(StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("z", DoubleType)))
    val d2 = df((1 to 20).map(i =>
      Row(i.toDouble, 2.0 * i + 1.0, math.sin(i.toDouble))), s)
    val m = Stats.corrMatrix(d2, Seq("x", "y", "z")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m(("x", "y")) - 1.0) < 1e-9)
    val rej = Stats.corrReject(d2, Seq("x", "y", "z"), 0.9).collect()
    assert(rej.length == 1)
    assert(rej.head.getString(0) == "y") // later column rejected
    assert(rej.head.getString(1) == "x")
  }

  test("zeros: counts exact zeros only") {
    val r = Stats.zeros(mixed, Seq("a")).collect().head
    assert(r.getAs[Long]("n_zeros") == 1L)
  }

  test("mad: mean absolute deviation around the mean") {
    val d2 = df(Seq(Row(1.0), Row(3.0)),
      StructType(Seq(StructField("x", DoubleType))))
    val r = Stats.mad(d2, Seq("x")).collect().head
    assert(r.getAs[Double]("mad") == 1.0)
  }

  test("empty table: aggregations return defined values, not crash") {
    val empty = df(Seq.empty[Row], numSchema)
    val c = Stats.counts(empty, Seq("a", "b")).collect()
    assert(c.forall(_.getAs[Long]("cnt") == 0L))
    val m = Stats.moments(empty, Seq("a")).collect().head
    assert(m.getAs[Long]("n") == 0L)
    assert(m.isNullAt(m.fieldIndex("mean")))
  }

  test("kinds: booleans and decimals bucket like the reference") {
    val s = StructType(Seq(StructField("b", BooleanType),
      StructField("d", DecimalType(10, 2))))
    val d2 = df(Seq(
      Row(true, new java.math.BigDecimal("1.25")),
      Row(false, new java.math.BigDecimal("2.50")),
      Row(true, new java.math.BigDecimal("1.25"))), s)
    val kinds = Stats.kinds(d2, Seq("b", "d")).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(kinds("b") == "CAT") // booleans are categorical (§1.2)
    assert(kinds("d") == "NUM") // decimals take the numeric path
    val m = Stats.moments(d2, Seq("d")).collect().head
    assert(m.getAs[Double]("min_val") == 1.25)
    assert(m.getAs[Double]("max_val") == 2.5)
    val f = Stats.freq(d2, Seq("b")).collect()
    assert(f.map(_.getAs[String]("value")).toSet == Set("true", "false"))
  }

  test("distinct: approx path returns HLL estimates in range") {
    val d2 = df((1 to 500).map(i => Row(i.toDouble, i.toLong)), numSchema)
    val r = Stats.distinct(d2, Seq("a"), approx = true).collect().head
    val est = r.getAs[Long]("distinct_cnt")
    assert(est > 400 && est < 600, s"HLL estimate $est off for 500")
  }

  test("overview: missing percentage over all cells") {
    val o = Stats.overview(mixed, Seq("a", "b")).collect().head
    assert(o.getAs[Long]("n") == 5L)
    assert(o.getAs[Long]("n_missing_total") == 1L)
    assert(math.abs(o.getAs[Double]("p_missing") - 0.1) < 1e-9)
  }

  test("distinctSketchCheck: HLL and KMV bounds hold; exact below k") {
    val d2 = df((1 to 2000).map(i =>
      Row((i % 700).toDouble, i.toLong)), numSchema)
    val r = Stats.distinctSketchCheck(d2, Seq("a", "b")).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(r.forall(_.getAs[Boolean]("hll_within_bound")))
    assert(r.forall(_.getAs[Boolean]("kmv_within_bound")))
    // KMV below capacity is exact — tighten the bound to zero error
    val tight = Stats.distinctSketchCheck(d2, Seq("a"), kmvK = 4096,
      marginSds = 0.0).collect().head
    assert(tight.getAs[Boolean]("kmv_within_bound")) // 700 < 4096: exact
  }

  test("nullAssociation: co-missing columns read phi near +1, " +
      "disjoint nulls negative, independent near 0, never-null " +
      "undefined") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10000).select(
      // a and b null TOGETHER (same driver)
      when(col("id") % 5 === 0, lit(null).cast("double"))
        .otherwise(lit(1.0)).as("a"),
      when(col("id") % 5 === 0, lit(null).cast("double"))
        .otherwise(lit(1.0)).as("b"),
      // c null exactly when a is NOT (disjoint)
      when(col("id") % 5 =!= 0, lit(null).cast("double"))
        .otherwise(lit(1.0)).as("c"),
      // d independent-ish pattern
      when(col("id") % 7 === 3, lit(null).cast("double"))
        .otherwise(lit(1.0)).as("d"),
      lit(1.0).as("e"))
    val out = graft.profiler.Stats
      .nullAssociation(df, Seq("a", "b", "c", "d", "e"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    def phi(k: (String, String)): Option[Double] = {
      val r = out(k)
      if (r.isNullAt(r.fieldIndex("phi"))) None
      else Some(r.getDouble(r.fieldIndex("phi")))
    }
    assert(phi(("a", "b")).get === 1.0)
    assert(phi(("a", "c")).get === -1.0)
    assert(math.abs(phi(("a", "d")).get) < 0.05,
      s"independent patterns: ${phi(("a", "d"))}")
    assert(phi(("a", "e")).isEmpty, "never-null side → undefined phi")
    val ab = out(("a", "b"))
    assert(ab.getLong(ab.fieldIndex("n_both_null")) === 2000L)
  }

  test("trimmed/winsorized stats are robust to planted corruption " +
      "where the plain mean is not") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1000 clean values in [0, 100); 10 corrupt at 1e9
    val clean = (0 until 1000).map(i => (i % 100).toDouble)
    val df = (clean ++ Seq.fill(10)(1e9)).toDF("x")
    val t = Stats.trimmed(df, Seq("x")).collect().head
    def g(n: String) = t.getDouble(t.fieldIndex(n))
    val plainMean = df.agg(avg("x")).first().getDouble(0)
    assert(plainMean > 9e6, "corruption owns the plain mean")
    assert(g("trimmed_mean") > 40 && g("trimmed_mean") < 60,
      s"trimmed mean stays near the clean center: ${g("trimmed_mean")}")
    assert(g("winsor_mean") < 200,
      s"winsorized mean bounded by the p95 fence: ${g("winsor_mean")}")
    assert(g("winsor_std") < 100, s"robust scale: ${g("winsor_std")}")
    assert(g("fence_hi") < 120, "p95 fence sits in the clean range")
    assert(t.getLong(t.fieldIndex("n_kept")) >= 900)
  }
}
