package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
  HashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.functions.ExactPercentile
import graft.profiler.{Kinds, Profiler, ProfilerConfig, Stats}

/** The long-form (col_idx, value) passes of the exact profile against
  * the per-column forms they replace, value for value, on the
  * [[LongFormFixtures]] domains; plus the plan shape they must keep. */
class LongFormSpec extends SparkSpec {

  private def frames = Seq("edge" -> LongFormFixtures.edge(spark),
    "empty" -> LongFormFixtures.empty(spark))

  private def dbl(c: String): Column = col(c).cast("double")

  /** Per-column bounds as the profiler's pass A computes them. */
  private def bounds(df: DataFrame, cols: Seq[String])
      : (Map[String, Double], Map[String, Double]) = {
    val aggs = cols.flatMap(c =>
      Seq(min(dbl(c)).as(s"mn__$c"), max(dbl(c)).as(s"mx__$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).first()
    def get(k: String) =
      Option(r.getAs[Any](k)).map(_.asInstanceOf[Double])
        .getOrElse(Double.NaN)
    (cols.map(c => c -> get(s"mn__$c")).toMap,
     cols.map(c => c -> get(s"mx__$c")).toMap)
  }

  /** The per-column conditional-sum histogram the long form replaced. */
  private def wideHistogram(df: DataFrame, cols: Seq[String], bins: Int,
      mnMap: Map[String, Double], mxMap: Map[String, Double]): DataFrame = {
    val binned = df.select(cols.map { c =>
      val mn = mnMap(c); val mx = mxMap(c)
      val w = (mx - mn) / bins.toDouble
      val bin =
        if (mn.isNaN || mn == mx)
          when(col(c).isNotNull && !isnan(dbl(c)), lit(0L))
        else when(col(c).isNotNull && !isnan(dbl(c)),
          least(floor((dbl(c) - lit(mn)) / lit(w)), lit(bins - 1L)))
      bin.as(s"bin__$c")
    }: _*)
    val aggs = cols.flatMap { c =>
      (0 until bins).map { b =>
        coalesce(sum(when(col(s"bin__$c") === b, 1L).otherwise(0L)),
          lit(0L)).as(s"h__${c}__$b")
      }
    }
    val row = binned.agg(aggs.head, aggs.tail: _*)
    val structs = cols.flatMap { c =>
      val mn = mnMap(c)
      val w = (mxMap(c) - mnMap(c)) / bins.toDouble
      (0 until bins).map { b =>
        struct(lit(c).as("col_name"), lit(b.toLong).as("bin"),
          col(s"h__${c}__$b").as("cnt"),
          lit(mn + b.toDouble * w).as("bin_lo"),
          lit(mn + (b + 1).toDouble * w).as("bin_hi"),
          lit(!mn.isNaN && w > 0).as("__keep_empty"))
      }
    }
    row.select(explode(array(structs: _*)).as("s")).select("s.*")
      .where(col("cnt") > 0 || col("__keep_empty"))
      .drop("__keep_empty")
      .orderBy("col_name", "bin")
  }

  /** The col_name-keyed frequency table the long form replaced. */
  private def wideFreq(df: DataFrame, cols: Seq[String], topK: Int)
      : DataFrame = {
    val structs = cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("value")))
    val counted = df.select(explode(array(structs: _*)).as("s"))
      .select("s.*").where(col("value").isNotNull)
      .groupBy("col_name", "value").count()
      .withColumnRenamed("count", "cnt")
    val w = Window.partitionBy("col_name")
      .orderBy(col("cnt").desc, col("value").asc)
    val top = counted.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
    val other = counted.groupBy("col_name").agg(sum("cnt").as("total"))
      .join(top.groupBy("col_name").agg(sum("cnt").as("topsum")),
        Seq("col_name"))
      .select(col("col_name"), lit("__other__").as("value"),
        (col("total") - col("topsum")).as("cnt"), lit(topK + 1L).as("rnk"))
      .where(col("cnt") > 0)
    top.unionByName(other).orderBy("col_name", "rnk")
  }

  private def bits(xs: Seq[Double]) =
    xs.map(java.lang.Double.doubleToRawLongBits)

  /** Row values with doubles as raw bits, so NaN equals NaN. */
  private def exact(r: Row): Seq[Any] = r.toSeq.map {
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case x => x
  }

  test("exactDistinctPerCol equals per-column count/countDistinct") {
    frames.foreach { case (name, df) =>
      val cols = df.columns.toSeq
      val got = Stats.exactDistinctPerCol(df, cols)
      cols.foreach { c =>
        val r = df.agg(count(col(c)),
          countDistinct(Stats.orderable(df, c))).first()
        assert(got(c) == ((r.getLong(0), r.getLong(1))), s"$name.$c")
      }
    }
    // −0.0 and 0.0 are one value, NaN is one value: {−0.0/0.0, NaN,
    // 1.5} ∪ {i : i % 6 == 5}
    val d = Stats.exactDistinctPerCol(LongFormFixtures.edge(spark), Seq("d"))
    assert(d("d") == ((250L, 53L)))
  }

  test("histogramWithBounds equals the conditional-sum histogram") {
    frames.foreach { case (name, df) =>
      val cols = Seq("d", "nul", "dec", "i")
      val (mn, mx) = bounds(df, cols)
      Seq(1, 10).foreach { bins =>
        val want = wideHistogram(df, cols, bins, mn, mx).collect().toSeq
        val h = Stats.histogramWithBounds(df, cols, bins, mn, mx)
        assert(h.columns.toSeq ==
          Seq("col_name", "bin", "cnt", "bin_lo", "bin_hi"))
        val got = h.collect().toSeq
        assert(got.map(exact) == want.map(exact), s"$name bins=$bins")
      }
    }
    // degenerate bounds: only non-empty bins; NaN never counted
    val (mn, mx) = bounds(LongFormFixtures.edge(spark), Seq("nul", "d"))
    val h = Stats.histogramWithBounds(LongFormFixtures.edge(spark),
      Seq("nul", "d"), 10, mn, mx).collect()
    assert(!h.exists(_.getString(0) == "nul"))
    assert(h.filter(_.getString(0) == "d").map(_.getLong(2)).sum == 200L)
  }

  test("freq equals the col_name-keyed frequency table") {
    frames.foreach { case (name, df) =>
      val cols = Seq("m", "b", "s", "dt", "d")
      Seq(2, 10).foreach { k =>
        val want = wideFreq(df, cols, k).collect().toSeq
        val got = Stats.freq(df, cols, k).collect().toSeq
        assert(got.map(exact) == want.map(exact), s"$name topK=$k")
      }
    }
  }

  test("profile frequency tables equal Stats.freq, __other__ from " +
      "pass A's counts") {
    val df = LongFormFixtures.edge(spark)
    val cat = Kinds.catCols(df)
    assert(cat == Seq("m", "b", "s"))
    Seq(2, 10).foreach { k =>
      val p = Profiler.profile(df, ProfilerConfig(topK = k))
      val want = Stats.freq(df, cat, k).collect().groupBy(_.getString(0))
      cat.foreach { c =>
        val top = p.columns.find(_.name == c).get.topValues
        assert(top == want(c).toSeq.map(r => (r.getString(1), r.getLong(2))),
          s"$c topK=$k")
      }
    }
  }

  test("quantilesFrame equals per-column exact and approx percentiles") {
    val gridPs = (0 to 16).map(_ / 16.0)
    frames.foreach { case (name, df) =>
      val cols = Kinds.numericCols(df)
      assert(cols == Seq("d", "nul", "dec", "i"))
      val (q, grid) = Profiler.quantilesLong(df, cols, Some(gridPs))
      cols.foreach { c =>
        val r = df.agg(
          ExactPercentile.pctl(dbl(c), Stats.Ps),
          percentile_approx(dbl(c), typedLit(gridPs), lit(2500))).first()
        def arr(j: Int): Seq[Double] =
          Option(r.getSeq[Double](j)).map(_.toSeq).getOrElse(Seq.empty)
        assert(bits(q(c)) == bits(arr(0)), s"$name.$c")
        assert(bits(grid(c).toSeq) == bits(arr(1)), s"$name.$c grid")
      }
    }
  }

  /** Every node of an executed (adaptive) plan, query stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** Whether `p` reaches the explode without crossing an exchange. */
  private def overGenerate(p: SparkPlan): Boolean = p match {
    case _: GenerateExec => true
    case _: ShuffleExchangeLike | _: QueryStageExec => false
    case o => o.children.exists(overGenerate)
  }

  /** The operators compiled into one whole-stage-codegen class. */
  private def region(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case o => o +: o.children.flatMap(region)
  }

  test("plan shape: the explode feeds the partial aggregation in the " +
      "scan stage, with no exchange in between") {
    val df = spark.read.parquet(LongFormFixtures.lineitem)
    val num = Kinds.numericCols(df)
    val cat = Kinds.catCols(df)
    val (mn, mx) = bounds(df, num)
    val passes = Seq(
      "distinct" -> (Stats.distinctCounts(df, df.columns.toSeq), true),
      "histogram" -> (Stats.histogramCounts(df, num, 10, mn, mx), true),
      "freq" -> (Stats.topValues(Stats.freqCounts(df, cat), 10), true),
      // typed imperative aggregates plan an ObjectHashAggregate, which
      // has no codegen: same stage, no exchange, but its own operator
      "quantiles" -> (Stats.quantilesFrame(df, num,
        Some(Seq(0.0, 0.5, 1.0))), false))
    passes.foreach { case (name, (frame, codegen)) =>
      frame.collect()
      val all = nodes(frame.queryExecution.executedPlan)
      assert(all.count(_.isInstanceOf[GenerateExec]) == 1, name)
      val partial = all.collect {
        case a: BaseAggregateExec if a.children.exists(overGenerate) => a
      }
      assert(partial.size == 1, s"$name: one aggregate over the explode")
      if (codegen)
        assert(all.exists {
          case w: WholeStageCodegenExec =>
            val r = region(w.child)
            r.exists(_.isInstanceOf[GenerateExec]) &&
              r.exists(_.isInstanceOf[HashAggregateExec])
          case _ => false
        }, s"$name: explode and partial agg in one codegen stage")
    }
  }

  test("collected long-form results are bounded by the column count, " +
      "not by rows or distinct values") {
    val df = spark.range(0, 20000).select(col("id"),
      (col("id") * 7).cast("double").as("x"),
      col("id").cast("string").as("s"))
    assert(Stats.distinctCounts(df, df.columns.toSeq).count() == 3L)
    val (mn, mx) = bounds(df, Seq("id", "x"))
    assert(Stats.histogramCounts(df, Seq("id", "x"), 10, mn, mx)
      .count() <= 20L)
    assert(Stats.topValues(Stats.freqCounts(df, Seq("s")), 10)
      .count() == 10L)
    assert(Stats.quantilesFrame(df, Seq("id", "x"), Some(Seq(0.0, 1.0)))
      .count() == 2L)
  }
}
