package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.profiler.{Profiler, ProfilerConfig}

/** Column-count stress: the fixed-pass architecture must hold for
  * wide tables (the reference's per-column loop is O(k) jobs; ours
  * must stay at the same handful of jobs and must not die on the
  * codegen method-size limit). 40 numeric + 10 categorical columns. */
class WideTableSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  test("50-column profile completes with sane results (scale config)") {
    val numCols = (0 until 40).map(i => StructField(s"n$i", DoubleType))
    val catCols = (0 until 10).map(i => StructField(s"c$i", StringType))
    val schema = StructType(numCols ++ catCols)
    val rows = (1 to 2000).map { r =>
      Row.fromSeq(
        (0 until 40).map(i => ((r * (i + 3) + i * 17) % 101).toDouble) ++
          (0 until 10).map(i => s"v${(r + i) % 7}"))
    }
    val df = spark.createDataFrame(rows.asJava, schema).repartition(4)
    // scale config: the one-scan fused profile (KMV distinct, GK
    // quantiles and histograms)
    val p = Profiler.profileFused(df, ProfilerConfig(correlations = false))
    assert(p.nvar == 50)
    assert(p.columns.size == 50)
    val n0 = p.columns.find(_.name == "n0").get
    assert(n0.count == 2000L)
    assert(n0.stats.contains("mean") && n0.stats.contains("sd"))
    assert(n0.histogram.map(_._2).sum == 2000L)
    val c0 = p.columns.find(_.name == "c0").get
    assert(c0.topValues.nonEmpty)
    // exact config must also survive (the long-form distinct pass at
    // k=50)
    val pe = Profiler.profile(df.limit(500),
      ProfilerConfig(correlations = false))
    assert(pe.columns.size == 50)
  }

  test("60-column correlation matrix (1770 pairs) runs chunked") {
    val k = 60
    val schema = StructType((0 until k).map(i =>
      StructField(s"n$i", DoubleType)))
    val rows = (1 to 100).map { r =>
      Row.fromSeq((0 until k).map(i =>
        ((r * (i + 3) + i * 17) % 101).toDouble))
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    val m = graft.profiler.Stats.corrMatrix(df,
      (0 until k).map(i => s"n$i"))
    val collected = m.collect()
    assert(collected.length == k * (k - 1) / 2)
    // self-consistency spot check: ρ(n0, n0-shifted-clone) would be 1;
    // here just assert every ρ is in [-1, 1] (sig5 can nudge ~1e-5)
    assert(collected.forall { r =>
      r.isNullAt(2) || math.abs(r.getDouble(2)) <= 1.0 + 1e-4
    })
  }

  test("fused single-scan profile holds at 50 mixed + correlations " +
      "and at 250 numeric columns") {
    val numCols = (0 until 40).map(i => StructField(s"n$i", DoubleType))
    val catCols = (0 until 10).map(i => StructField(s"c$i", StringType))
    val schema = StructType(numCols ++ catCols)
    val rows = (1 to 2000).map { r =>
      Row.fromSeq(
        (0 until 40).map(i => ((r * (i + 3) + i * 17) % 101).toDouble) ++
          (0 until 10).map(i => s"v${(r + i) % 7}"))
    }
    val df = spark.createDataFrame(rows.asJava, schema).repartition(4)
    // correlations ON: the 40-column co-moment buffer (820 cells)
    // rides the same scan as 50 MultiSketch buffers
    val p = Profiler.profileFused(df, ProfilerConfig())
    assert(p.nvar == 50 && p.columns.size == 50)
    val n0 = p.columns.find(_.name == "n0").get
    assert(n0.count == 2000L && n0.stats.contains("sd"))
    assert(n0.histogram.map(_._2).sum == 2000L)
    assert(p.correlations.size == 40 * 39 / 2)
    assert(p.correlations.forall { case (_, _, rho) =>
      math.abs(rho) <= 1.0 + 1e-4 })
    // 250 columns: chunked object aggregation (300-agg chunks) with a
    // 250-wide co-moment buffer (31k cells)
    val k = 250
    val ws = StructType((0 until k).map(i => StructField(s"m$i", DoubleType)))
    val wrows = (1 to 200).map { r =>
      Row.fromSeq((0 until k).map(i =>
        ((r * (i + 3) + i * 17) % 101).toDouble))
    }
    val wdf = spark.createDataFrame(wrows.asJava, ws).repartition(4)
    val wp = Profiler.profileFused(wdf, ProfilerConfig(correlations = false))
    assert(wp.nvar == k && wp.columns.size == k)
    val last = wp.columns.find(_.name == s"m${k - 1}").get
    assert(last.count == 200L && last.quantiles.nonEmpty)
    assert(last.histogram.map(_._2).sum == 200L)
  }

  test("250-column profile exercises the chunked aggregation passes") {
    val k = 250
    val schema = StructType((0 until k).map(i =>
      StructField(s"n$i", DoubleType)))
    val rows = (1 to 200).map { r =>
      Row.fromSeq((0 until k).map(i =>
        ((r * (i + 3) + i * 17) % 101).toDouble))
    }
    val df = spark.createDataFrame(rows.asJava, schema).repartition(4)
    // pass A (1250 aggs) exceeds one 600-expression chunk; pass B and
    // the histogram pass are one long-form grouping each. Results must
    // merge seamlessly
    val p = Profiler.profile(df, ProfilerConfig(correlations = false))
    assert(p.nvar == k && p.columns.size == k)
    val last = p.columns.find(_.name == s"n${k - 1}").get
    assert(last.count == 200L)
    assert(last.stats.contains("mean"))
    assert(last.quantiles.nonEmpty)
    assert(last.histogram.map(_._2).sum == 200L)
  }
}
