package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.profiler.{Profiler, ProfilerConfig}

class ProfilerSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  // id is a mod-41 permutation of 1..40: UNIQUE but uncorrelated with
  // x (a plain id=i would itself be corr-rejected against x)
  private val schema = StructType(Seq(
    StructField("id", LongType),          // UNIQUE
    StructField("x", DoubleType),         // NUM
    StructField("x2", DoubleType),        // CORR (2*x)
    StructField("k", StringType),         // CAT
    StructField("c", StringType),         // CONST
    StructField("ts", TimestampType)))    // DATE

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  private val df = spark.createDataFrame(
    (1 to 40).map(i => Row(((i * 17) % 41).toLong, (i % 20).toDouble, 2.0 * (i % 20),
      if (i % 2 == 0) "even" else "odd", "const", ts((i % 10) * 3600L)))
      .asJava, schema)

  test("full profile: kinds, stats, quantiles, rejection, tidy output") {
    val p = Profiler.profile(df, ProfilerConfig())
    val byName = p.columns.map(c => c.name -> c).toMap
    assert(p.n == 40L && p.nvar == 6)
    assert(byName("id").kind == "UNIQUE")
    assert(byName("x").kind == "NUM")
    assert(byName("x2").kind == "CORR") // rejected, correlated with x
    assert(byName("k").kind == "CAT")
    assert(byName("c").kind == "CONST")
    assert(byName("ts").kind == "DATE")
    assert(p.rejected.map(r => (r._1, r._2)) == Seq(("x2", "x")))
    assert(byName("x").stats("mean") == 9.5)
    assert(byName("x").quantiles("median") == 9.5)
    assert(byName("k").topValues.map(_._1).sorted == Seq("even", "odd"))
    assert(byName("x").histogram.map(_._2).sum == 40L)
    assert(p.warnings.exists(_.contains("constant")))
    val tidy = Profiler.profileTidy(df)
    assert(tidy.count() > 40)
    assert(tidy.columns.toSeq ==
      Seq("col_name", "metric", "value_num", "value_str"))
  }

  test("exact histogram of a NUM column holding a NaN equals " +
      "Stats.histogram's bins") {
    val s1 = StructType(Seq(StructField("v", DoubleType)))
    val d1 = spark.createDataFrame(((1 to 10).map(i => Row(i.toDouble)) :+
      Row(Double.NaN)).asJava, s1)
    val want = graft.profiler.Stats.histogram(d1, Seq("v")).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("cnt"))).toSeq
    assert(want == (0L until 10L).map(b => (b, 1L)))
    val col = Profiler.profile(d1).columns.head
    assert(col.histogram == want)
    assert(col.stats("max").isNaN, "the reported max keeps the NaN")
  }

  test("SparkEntry.entry returns the tidy profile of lineitem") {
    assume(new java.io.File(LongFormFixtures.lineitem).exists)
    val out = SparkEntry.entry(spark)
    assert(out.schema.map(f => f.name -> f.dataType) === Seq(
      "col_name" -> StringType, "metric" -> StringType,
      "value_num" -> DoubleType, "value_str" -> StringType))
    assert(out.count() > 0)
  }

  test("scale config: approx distinct + approx quantiles still sane") {
    val p = Profiler.profileFused(df)
    val x = p.columns.find(_.name == "x").get
    assert(math.abs(x.quantiles("median") - 9.5) <= 1.0)
    assert(x.distinct >= 17 && x.distinct <= 23) // KMV estimate
  }

  test("fused single-scan profile matches the pass-based profile") {
    // small fixture: every sketch is below capacity, so distinct is
    // exact (compare vs the exact profile) and GK quantiles return
    // the same elements percentile_approx does (compare vs Spark's
    // percentile_approx per numeric column — the exact path
    // INTERPOLATES, which no element-returning sketch reproduces)
    import org.apache.spark.sql.functions.{col, lit, percentile_approx,
      typedLit}
    val exact = Profiler.profile(df, ProfilerConfig())
    val fused = Profiler.profileFused(df, ProfilerConfig())
    assert(fused.n == exact.n && fused.nvar == exact.nvar)
    val e = exact.columns.map(c => c.name -> c).toMap
    val names = Seq("p05", "q1", "median", "q3", "p95")
    val sk: Map[String, Map[String, Double]] =
      graft.profiler.Kinds.numericCols(df).map { c =>
        c -> names.zip(df.agg(percentile_approx(col(c).cast("double"),
          typedLit(graft.profiler.Stats.Ps), lit(10000))).first()
          .getSeq[Double](0)).toMap
      }.toMap
    fused.columns.foreach { f =>
      val x = e(f.name)
      assert(f.kind == x.kind, s"${f.name} kind")
      assert(f.count == x.count && f.missing == x.missing,
        s"${f.name} counts")
      assert(f.distinct == x.distinct, s"${f.name} distinct")
      x.stats.foreach { case (k0, v) =>
        val fv = f.stats(k0)
        assert(math.abs(fv - v) <= 1e-9 * math.max(1.0, math.abs(v)),
          s"${f.name}.$k0: fused $fv vs exact $v")
      }
      sk.getOrElse(f.name, Map.empty).foreach { case (k0, v) =>
        assert(math.abs(f.quantiles(k0) - v) <= 1e-12,
          s"${f.name}.$k0 quantile: fused ${f.quantiles(k0)} vs GK $v")
      }
      assert(f.histogram == x.histogram, s"${f.name} histogram")
      assert(f.topValues == x.topValues, s"${f.name} freq")
    }
    assert(fused.rejected == exact.rejected)
  }

  test("fused profile at sf0.001: counts exact, sketches within bounds " +
      "on every fixture table") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exact = Profiler.profile(li, ProfilerConfig())
    val fused = Profiler.profileFused(li, ProfilerConfig())
    val e = exact.columns.map(c => c.name -> c).toMap
    val n = exact.n.toDouble
    fused.columns.foreach { f =>
      val x = e(f.name)
      assert(f.count == x.count, s"${f.name} count")
      // KMV k=1024: exact below k, ~3·(1/√1024) ≈ 10% above
      val tol = if (x.distinct < 1024) 0.0 else 0.10 * x.distinct
      assert(math.abs(f.distinct - x.distinct) <= tol,
        s"${f.name} distinct: fused ${f.distinct} vs exact ${x.distinct}")
      Seq("mean", "sum", "min", "max", "n_zeros").foreach { k0 =>
        (f.stats.get(k0), x.stats.get(k0)) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
              s"${f.name}.$k0: fused $a vs exact $b")
          case (a, b) => assert(a == b, s"${f.name}.$k0 presence")
        }
      }
      Seq("var", "sd", "sk", "ku").foreach { k0 =>
        (f.stats.get(k0), x.stats.get(k0)) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) <= 1e-4 * math.max(1.0, math.abs(b)),
              s"${f.name}.$k0: fused $a vs exact $b")
          case (a, b) => assert(a == b, s"${f.name}.$k0 presence")
        }
      }
      // GK rank contract (discrete-data form): for the returned value
      // v at probability p, count(<v)/n ≤ p+ε and count(≤v)/n ≥ p−ε
      // (±1/n boundary slack); ε = 1/accuracy = 1e-4
      if (f.quantiles.nonEmpty) {
        import org.apache.spark.sql.functions._
        val cName = f.name
        val probs = Seq("p05" -> 0.05, "q1" -> 0.25, "median" -> 0.5,
          "q3" -> 0.75, "p95" -> 0.95)
        val aggs = count(col(cName)).as("nn") +:
          probs.flatMap { case (k0, _) =>
            val v = f.quantiles(k0)
            Seq(
              sum(when(col(cName).cast("double") < v, 1L)
                .otherwise(0L)).as(s"lt_$k0"),
              sum(when(col(cName).cast("double") <= v, 1L)
                .otherwise(0L)).as(s"le_$k0"))
          }
        val cnts = li.agg(aggs.head, aggs.tail: _*).collect()(0)
        val nn = cnts.getAs[Long]("nn").toDouble
        probs.foreach { case (k0, p) =>
          val lt = cnts.getAs[Long](s"lt_$k0") / nn
          val le = cnts.getAs[Long](s"le_$k0") / nn
          val eps = 1.0 / 10000 + 1.0 / nn
          assert(lt <= p + eps && le >= p - eps,
            s"${f.name}.$k0: lt=$lt le=$le for p=$p")
        }
      }
      // GK-derived histogram: same bins, per-bin count within the
      // rank-error bound (2 edges × ε·n each, plus FP-edge slack)
      if (x.histogram.nonEmpty) {
        assert(f.histogram.map(_._1) == x.histogram.map(_._1),
          s"${f.name} histogram bins")
        assert(f.histogram.map(_._2).sum == x.histogram.map(_._2).sum,
          s"${f.name} histogram total")
        val tol = math.max(4.0, 2 * n / 10000 + 4)
        f.histogram.zip(x.histogram).foreach { case ((b, fc), (_, xc)) =>
          assert(math.abs(fc - xc) <= tol,
            s"${f.name} bin $b: fused $fc vs exact $xc")
        }
      }
    }
    // streaming co-moment correlations agree with the two-pass exact
    // matrix after the shared sig5 rounding
    val exactCorr = exact.correlations.map(t => (t._1, t._2) -> t._3).toMap
    assert(fused.correlations.size == exactCorr.size)
    fused.correlations.foreach { case (a, b, rho) =>
      val e0 = exactCorr((a, b))
      assert(math.abs(rho - e0) <= 5e-5 * math.max(1.0, math.abs(e0)),
        s"corr($a,$b): fused $rho vs exact $e0")
    }
    assert(fused.rejected == exact.rejected)
  }

  test("profile survives a MapType column (non-orderable distinct)") {
    val s = StructType(Seq(StructField("id", LongType),
      StructField("m", MapType(StringType, LongType))))
    val d = spark.createDataFrame(Seq(
      Row(1L, Map("a" -> 1L)), Row(2L, Map("b" -> 2L)),
      Row(3L, Map("a" -> 1L))).asJava, s)
    val p = Profiler.profile(d, ProfilerConfig(correlations = false))
    val m = p.columns.find(_.name == "m").get
    assert(m.kind == "CAT" && m.count == 3L)
    assert(m.distinct == 2L) // via canonical string proxy
    val report = ProfileReport(d, ProfilerConfig(correlations = false))
    assert(report.html.contains("col-m")) // sample orderBy survives maps
  }

  test("profile runs on every fixture table (arrays, nanos ts, json)") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val df = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      val p = Profiler.profile(df)
      assert(p.n > 0, s"$t rows")
      assert(p.columns.size == df.columns.length, s"$t columns")
      assert(p.columns.forall(_.count <= p.n), s"$t counts")
      // the one-scan path must survive the same schema diversity and
      // agree on the exact stats (counts, n)
      val f = Profiler.profileFused(df)
      assert(f.n == p.n, s"$t fused rows")
      assert(f.columns.map(c => c.name -> c.count).toMap ==
        p.columns.map(c => c.name -> c.count).toMap, s"$t fused counts")
    }
  }

  test("profile of all-null and single-row tables") {
    val s = StructType(Seq(StructField("a", DoubleType)))
    val allNull = spark.createDataFrame(
      Seq(Row(null), Row(null)).asJava, s)
    val p = Profiler.profile(allNull,
      ProfilerConfig(correlations = false))
    assert(p.columns.head.missing == 2L)
    val single = spark.createDataFrame(Seq(Row(7.0)).asJava, s)
    val p2 = Profiler.profile(single, ProfilerConfig(correlations = false))
    assert(p2.columns.head.kind == "CONST")
    assert(p2.columns.head.stats("mean") == 7.0)
  }

  test("fused profile degenerate inputs: all-null, single-row, empty") {
    val s = StructType(Seq(StructField("a", DoubleType)))
    val cfgNc = ProfilerConfig(correlations = false)
    val allNull = spark.createDataFrame(
      Seq(Row(null), Row(null)).asJava, s)
    val p = Profiler.profileFused(allNull, cfgNc)
    assert(p.columns.head.missing == 2L)
    assert(p.columns.head.quantiles.isEmpty)
    assert(p.columns.head.histogram.isEmpty)
    val single = spark.createDataFrame(Seq(Row(7.0)).asJava, s)
    val p2 = Profiler.profileFused(single, cfgNc)
    assert(p2.columns.head.kind == "CONST")
    assert(p2.columns.head.stats("mean") == 7.0)
    assert(p2.columns.head.histogram == Seq((0L, 1L))) // degenerate bin
    val empty = spark.createDataFrame(
      Seq.empty[Row].asJava, s)
    val p3 = Profiler.profileFused(empty, cfgNc)
    assert(p3.n == 0L && p3.columns.head.count == 0L)
  }

  test("ProfileReport(fused = true) renders through the one-scan path") {
    val report = ProfileReport(df, ProfilerConfig(fused = true))
    assert(report.getDescription.n == 40L)
    assert(report.getRejectedVariables() == Seq("x2"))
    assert(report.html.contains("col-x"))
    assert(report.tidy.where(
      org.apache.spark.sql.functions.col("metric") === "median")
      .count() > 0)
  }

  test("a warm profile loop recompiles nothing and its classes fit the " +
      "codegen cache") {
    // Spark's codegen cache is JVM-wide and holds 100 classes
    // (spark.sql.codegen.cache.maxEntries): a profile loop needing
    // more evicts its own classes and recompiles them on every warm
    // run. The cache is an LRU split into 4 segments of 25 keyed by a
    // hash of (class loader identity, code), so a loop needing fewer
    // than 100 classes can still overflow one segment in some JVMs
    // and not in others. The test therefore measures, in a fresh JVM
    // with a cache that never evicts, how many classes one loop needs
    // (every one a cache entry in the default JVM) and whether a
    // warm loop generates any code the first did not.
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx2g",
      "-Dspark.sql.codegen.cache.maxEntries=1000",
      "-cp", System.getProperty("java.class.path"), "graft.CodegenLoop",
      LongFormFixtures.lineitem)
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out ++= l + "\n", _ => ()))
    assert(code == 0, out.toString)
    val line = out.toString.linesIterator.find(_.startsWith("codegen "))
    assert(line.isDefined, out.toString)
    val Array(_, first, warm) = line.get.split(" ")
    assert(warm.toLong == 0L, "warm loop generated new code")
    assert(first.toLong < 100L,
      s"one profile loop needs $first classes; the codegen cache holds 100")
  }

  test("long-form passes submit the same jobs for 11 and 33 columns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(LongFormFixtures.lineitem)
    val base = li.columns.take(11).toSeq
    val narrow = li.select(base.map(col): _*)
    // the same type mix three times over
    val wide = li.select((1 to 3).flatMap(k =>
      base.map(c => col(c).as(s"${c}_$k"))): _*)
    val tags = Seq("passA-distinct", "passB-quantiles",
      "passC-histograms", "passC-freq").map(t => s"profile: $t")
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    def jobsPerTag(d: org.apache.spark.sql.DataFrame): Map[String, Int] = {
      org.apache.spark.ListenerBusDrain(sc)
      seen.clear()
      Profiler.profile(d, ProfilerConfig())
      org.apache.spark.ListenerBusDrain(sc)
      val all = seen.asScala.toSeq
      tags.map(t => t -> all.count(_ == t)).toMap
    }
    sc.addSparkListener(listener)
    try {
      val n11 = jobsPerTag(narrow)
      val n33 = jobsPerTag(wide)
      assert(tags.forall(t => n11(t) > 0), n11.toString)
      assert(n11 == n33)
    } finally sc.removeSparkListener(listener)
  }
}
