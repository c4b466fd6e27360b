package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the given
  * scale dir and prints ONE JSON line. Uses collect() (not count())
  * so Catalyst cannot prune away the aggregate expressions being
  * measured; all query results are small (stats / top-k / pair sets),
  * never proportional to input size. */
object Bench {

  /** The GB/core sizing rule as CODE (VERDICT r15 task 4): the exact
    * profile at 600M rows GC-thrashed to heartbeat death at
    * 1.5 GB/thread and needed ~3.3 GB/thread (80g / 24 threads on the
    * 15 GB-on-disk sf100 tier). Calibrated on the measured tiers:
    * total heap ≈ 2 GB + 5 × on-disk parquet GB (sf100: 77 GB ✓;
    * sf0.1 driver tier 17 MB: ~2 GB, the stock -Xmx8g is fine).
    * Returns (wantGb, diskGb). */
  def heapRule(sfDir: String): (Double, Double) = {
    val files = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum
      else f.length()
    val diskGb = files.map(sizeOf).sum / (1L << 30).toDouble
    (2.0 + 5.0 * diskGb, diskGb)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Refuse LOUDLY (not an opaque executor-heartbeat death an hour
    // in) when the configured heap is far below the sizing rule for
    // this tier; warn when merely below it. GRAFT_BENCH_FORCE=1
    // overrides — the refusal is a guard rail, not a cage.
    locally {
      val (wantGb, diskGb) = heapRule(sfDir)
      val haveGb = Runtime.getRuntime.maxMemory / (1L << 30).toDouble
      if (haveGb < wantGb) {
        val threads = math.max(1, math.min(cpus.toInt,
          (wantGb / 2.5).toInt)) // the 2–4 GB/core band
        System.err.println(f"[bench] heap $haveGb%.1fg is below the " +
          f"sizing rule's $wantGb%.1fg for this ${diskGb}%.1f GB tier" +
          f" — suggest -Xmx${math.ceil(wantGb).toInt}g with " +
          s"SPARK_GRAFT_CPUS=$threads (2-4 GB/core)")
        if (haveGb < 0.5 * wantGb && diskGb >= 5.0 &&
            !sys.env.get("GRAFT_BENCH_FORCE").contains("1")) {
          System.err.println("[bench] refusing: heap under half the " +
            "rule on a big tier means GC-thrash/heartbeat death, not " +
            "a measurement (set GRAFT_BENCH_FORCE=1 to override)")
          sys.exit(2)
        }
      }
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query isn't charged
    // ~10s of one-time session cost
    spark.read.parquet(s"$sfDir/region.parquet").collect()
    // Representative warmup: run EVERY query once at the smallest SF
    // before timing at the target SF. Measured r3→r4: a first (cold)
    // execution of a heavy plan family pays 2–4 s of one-time
    // whole-stage-codegen compilation + JIT (dedup_minhash 7.0 s cold
    // vs 3.1 s steady-state at sf0.1) that has nothing to do with data
    // volume — at the 100 TB operating point those fixed costs
    // amortize to zero, so steady-state is the honest per-query
    // number. Warmup failures are ignored here; the timed run below
    // still reports them.
    // Family filter (VERDICT r10 task 8): ~200 entries × 3 reps ≈
    // 10 min wall and growing each round. SPARK_GRAFT_BENCH_ONLY=
    // "dedup,embed,profile_full" — a comma list of FAMILIES (the
    // prefix before the first '_') and/or exact query names —
    // restricts the timed set for time-boxed local iteration. Which
    // families actually ran is recorded in bench_full.json
    // ("families") so a partial artifact can never masquerade as a
    // full run. Default (unset): everything — the driver's per-round
    // run stays complete.
    def familyOf(name: String): String = name.takeWhile(_ != '_')
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
    def selected(name: String): Boolean =
      only.forall(o => o.contains(name) || o.contains(familyOf(name)))
    val warmDir = "/root/testdata/sf0.001"
    if (warmDir != sfDir && new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => selected(q._1)).foreach { case (_, fn) =>
        try { fn(spark, warmDir).collect(); () } catch { case _: Throwable => }
      }
      import graft.profiler.{Profiler => P}
      val wli = spark.read.parquet(s"$warmDir/lineitem.parquet")
      try {
        P.profile(wli)
        P.profileFused(wli)
      } catch { case _: Throwable => }
    }
    // flagship timings (VERDICT r1 task 7): the full fixed-job-count
    // profile of lineitem, exact and fused (one sketch scan),
    // measured per round rather than inferred. Not SparkEntry queries
    // — the profile is the composition the per-stat oracles already
    // cover.
    import graft.profiler.Profiler
    val flagship: Seq[(String, () => Unit)] = Seq(
      "profile_full" -> (() => {
        Profiler.profile(spark.read.parquet(s"$sfDir/lineitem.parquet"))
        ()
      }),
      "profile_full_fused" -> (() => {
        Profiler.profileFused(
          spark.read.parquet(s"$sfDir/lineitem.parquet"))
        ()
      }))
    // Median-of-N timing (VERDICT r5 task 3): single-shot numbers on
    // this box vary up to 10× with zero code change (GC, JIT
    // recompilation, page cache), which has twice produced phantom
    // regressions in round-over-round analysis. Each query runs
    // `reps` times and reports the MEDIAN; the honest end-to-end cost
    // is reported separately as "wall".
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // Box-load evidence (VERDICT r9 task 2): the r9 headline was 1.41×
    // inflated by concurrent work sharing the box, and nothing in the
    // artifact let a reader separate noise from regression without
    // re-timing by hand. Record the 1-min system load average before
    // and after the timed run (OS-level, sees OTHER processes too) so
    // a contaminated run is machine-detectable: loads well above the
    // bench's own CPU budget mean the numbers carry external noise.
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadBefore = loadAvg
    val wall0 = System.nanoTime()
    // A failed rep must NOT contribute a timing sample: a query that
    // throws quickly would otherwise report a misleadingly low median
    // with the failure visible only on stderr. The median is over
    // SUCCESSFUL reps only; queries with zero successes report null
    // and every failure is counted in the "fails" map.
    val allEntries = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) => name -> (() => { fn(spark, sfDir).collect(); () })
    } ++ flagship
    // A typoed filter token (e.g. "dedupe") must fail LOUDLY, not
    // complete and write a vacuous bench_full.json with families:[]
    // that only the filtered:true flag hints at. Every token must
    // match a known query name or family.
    only.foreach { o =>
      val names = allEntries.map(_._1).toSet
      val unmatched = o.filterNot(t =>
        names.contains(t) || names.exists(familyOf(_) == t))
      require(unmatched.isEmpty,
        "SPARK_GRAFT_BENCH_ONLY tokens match no query or family: " +
          unmatched.toSeq.sorted.mkString(",") +
          s" (families: ${names.map(familyOf).toSeq.sorted.distinct.mkString(",")})")
    }
    val results = allEntries.filter(e => selected(e._1)).map { case (name, run) =>
      val samples = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val ok =
          try { run(); true }
          catch { case e: Throwable =>
            System.err.println(
              s"[bench] $name rep $i failed: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val good = samples.collect { case (t, true) => t }.sorted
      val median = if (good.nonEmpty) Some(good(good.length / 2)) else None
      (name, median, samples.count(!_._2), good)
    }
    val wall = (System.nanoTime() - wall0) / 1e9
    val loadAfter = loadAvg
    // wall/(sum of ALL samples) ≈ 1/overlap under no contention; a
    // ratio far above it with high load means the box was shared
    val sumAll = results.flatMap(_._4).sum
    val familiesJson = results.map(r => familyOf(r._1)).distinct.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadJson = s""""load_avg_1m":{"before":$loadBefore,""" +
      s""""after":$loadAfter},"wall_vs_sum":${
        if (sumAll > 0) "%.3f".format(wall / sumAll) else "null"},""" +
      s""""families":$familiesJson,"filtered":${only.isDefined}"""
    val ordered = results.sortBy(_._2.getOrElse(Double.MaxValue))
    def queriesJson(fmt: Double => String): String =
      ordered.map { case (k, v, _, _) =>
        "\"" + k + "\":" + v.map(fmt).getOrElse("null")
      }.mkString("{", ",", "}")
    // per-query [min, max] spread over the successful reps, so a
    // round-over-round delta can be separated from this box's
    // documented run-to-run variance mechanically (a "regression"
    // inside the previous round's spread is noise, not a plan change)
    val spreadJson = ordered.collect {
      case (k, Some(_), _, good) if good.nonEmpty =>
        "\"" + k + "\":[" + good.min + "," + good.max + "]"
    }.mkString("{", ",", "}")
    val failsJson = results.collect { case (k, _, f, _) if f > 0 =>
      "\"" + k + "\":" + f
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    def line(fmt: Double => String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${queriesJson(fmt)},"spread":$spreadJson,"fails":$failsJson,"sf":"$sfDir","reps":$reps,"wall":${fmt(wall)},$loadJson}"""
    val pw = new java.io.PrintWriter("bench_full.json")
    try pw.println(line(_.toString)) finally pw.close()
    // Human-readable complete map first (cheapest-first, full
    // precision) ...
    println(line(v => "%.3f".format(v)))
    // ... then, as the LAST line, a SELF-CONTAINED compact JSON the
    // driver's ~2000-char stdout tail preserves whole: the complete
    // 112-entry map is ~2.5k chars and CANNOT fit that window (the
    // r7/r8 artifacts captured a decapitated line, parsed: null), so
    // this line keeps totals + fails exact and as many of the MOST
    // EXPENSIVE per-query medians as fit a 1700-char budget,
    // most-expensive-first, with the truncation made explicit
    // (shown/total counts) and the complete map's location named.
    val compactEntries = ordered.reverse.map { case (k, v, _, _) =>
      "\"" + k + "\":" + v.map(t => "%.2f".format(t)).getOrElse("null")
    }
    val budget = 1700
    val fixedPart =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","sf":"$sfDir","reps":$reps,"wall":${"%.3f".format(wall)},$loadJson,"fails":$failsJson,"full":"bench_full.json","n_queries":${results.size},"n_shown":NNN,"queries":{}}"""
    var used = fixedPart.length
    val shown = compactEntries.takeWhile { e =>
      val fits = used + e.length + 1 <= budget
      if (fits) used += e.length + 1
      fits
    }
    val compactLine =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","sf":"$sfDir","reps":$reps,"wall":${"%.3f".format(wall)},$loadJson,"fails":$failsJson,"full":"bench_full.json","n_queries":${results.size},"n_shown":${shown.size},"queries":${shown.mkString("{", ",", "}")}}"""
    // The compact line goes out AFTER spark.stop() so no Spark
    // shutdown logging can print behind it, and build.sbt sets
    // `run / outputStrategy := StdoutOutput` (no sbt "[info] "
    // prefix on forked output) + `showSuccess := false` (no
    // trailing "[success] ..." line) — making this the genuinely
    // FINAL stdout line, parseable from the driver's tail capture
    // (the three-round `parsed: null` item).
    spark.stop()
    System.out.println(compactLine)
    System.out.flush()
  }
}
