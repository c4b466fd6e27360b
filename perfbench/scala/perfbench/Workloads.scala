package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ProfileReport
import graft.functions.{CoMoment, ExactPercentile, MultiSketch}
import graft.ops.{BloomPrefilter, Dedup, Materialize, TextStats}
import graft.pipeline.CorpusPipeline
import graft.profiler.{Kinds, ProfilerConfig, Stats, TableProfile}
import graft.report.HtmlReport

/** Exact per-column reference values from one plain Spark aggregation:
  * non-null count, exact distinct, and min/max/sum over numeric columns. */
final case class ColTruth(count: Long, distinct: Long,
    min: Option[Double], max: Option[Double], sum: Option[Double])

object Truth {
  def of(df: DataFrame): Map[String, ColTruth] = {
    val num = Kinds.numericCols(df).toSet
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      // collect_set rather than count_distinct: k distinct aggregates
      // would make Spark expand every row k times
      Seq(count(col(c)), size(collect_set(col(c))).cast("long")) ++
        (if (num(c)) Seq(min(col(c).cast("double")),
          max(col(c).cast("double")), sum(col(c).cast("double")))
         else Nil)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).first()
    var i = 0
    def next(): Option[Double] = {
      val v = Option(r.get(i)).map(_.asInstanceOf[Double]); i += 1; v
    }
    cols.map { c =>
      val cnt = r.getLong(i); val dis = r.getLong(i + 1); i += 2
      val (mn, mx, sm) =
        if (num(c)) (next(), next(), next()) else (None, None, None)
      c -> ColTruth(cnt, dis, mn, mx, sm)
    }.toMap
  }

  def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Checks a profile against the reference values. Exact profiles must
    * match every field; a fused profile's distinct count is a KMV
    * estimate (k = 1024) and may be off by up to 4/sqrt(k). */
  def check(p: TableProfile, n: Long, t: Map[String, ColTruth],
      exactDistinct: Boolean): Boolean =
    p.n == n && p.columns.size == t.size && p.columns.forall { c =>
      val e = t(c.name)
      val dOk =
        if (exactDistinct) c.distinct == e.distinct
        else math.abs(c.distinct - e.distinct) <= 0.125 * e.distinct
      def stat(k: String, v: Option[Double]) =
        v.forall(x => c.stats.get(k).exists(y => close(x, y, 1e-9)))
      c.count == e.count && c.missing == n - e.count && dOk &&
        stat("min", e.min) && stat("max", e.max) && stat("sum", e.sum)
    }
}

/** Direct calls into the custom aggregates of the `functions` layer,
  * one aggregation each over the numeric columns of `df`. */
object FunctionAggs {
  def run(r: Run, df: DataFrame): Unit = {
    val num = Kinds.numericCols(df)
    val dbl = num.map(c => col(c).cast("double"))
    r.span("functions.exact_pctl_agg") {
      df.agg(ExactPercentile.pctl(dbl.head, Stats.Ps),
        dbl.tail.map(ExactPercentile.pctl(_, Stats.Ps)): _*).collect()
    }
    r.span("functions.comoment_agg") {
      df.agg(CoMoment.sketch(array(dbl: _*), num.size)).collect()
    }
    r.span("functions.multisketch_agg") {
      val ms = num.map(c => MultiSketch.sketch(col(c).cast("double"),
        when(col(c).isNotNull, xxhash64(col(c))), ps = Stats.Ps))
      df.agg(ms.head, ms.tail: _*).collect()
    }
  }
}

/** The reference report API on lineitem: the exact default profile
  * alternates, in a seed-chosen order, with the one-scan fused one. */
final class ProfileWorkload extends Workload {
  private var dir: Path = _
  private var truth: Map[String, ColTruth] = _
  private var n = 0L
  private var meta = Seq.empty[(String, String)]
  def inputs: Seq[(String, String)] = meta

  def prepare(run: Run, spark: SparkSession): Unit = {
    dir = run.data.resolve(s"lineitem-${run.seed}")
    Inputs.writeLineitem(spark, run.seed, run.cores, dir)
    val df = spark.read.parquet(dir.toString)
    truth = Truth.of(df)
    n = df.count()
    meta = Seq("seed" -> run.seed.toString, "rows" -> n.toString,
      "bytes" -> Inputs.bytesUnder(dir).toString,
      "content_hash" -> Inputs.contentHash(df))
  }

  private def report(run: Run, spark: SparkSession, fused: Boolean): Unit =
    run.op(if (fused) "fused_report" else "exact_report", n) {
      val df = spark.read.parquet(dir.toString)
      val rep = ProfileReport(df, ProfilerConfig(fused = fused))
      val p = run.span(
        if (fused) "profiler.profile_fused" else "profiler.profile") {
        rep.getDescription
      }
      val html = run.span("report.html")(rep.html)
      if (run.tracing) {
        val page = run.span("report.render")(HtmlReport.render(p, "perfbench"))
        run.notes("report.html_bytes") = page.length.toString
      }
      Truth.check(p, n, truth, exactDistinct = !fused) &&
        html.contains("l_extendedprice")
    }

  def first(run: Run, spark: SparkSession): Unit =
    report(run, spark, fused = false)

  val minSteps = 3

  def step(run: Run, spark: SparkSession, rnd: scala.util.Random): Unit = {
    val exactFirst = rnd.nextBoolean()
    report(run, spark, fused = !exactFirst)
    report(run, spark, fused = exactFirst)
  }

  def decompose(run: Run, spark: SparkSession): Unit =
    FunctionAggs.run(run, spark.read.parquet(dir.toString))
}

/** The no-config curation funnel on a corpus above the router's
  * 20,000-row threshold, so the banded MinHash and Bloom arms run. */
final class FunnelWorkload extends Workload {
  /** 95% of the docs are train rows; they stay above the router's
    * 20,000-row threshold after the quality filter and the dedup. */
  val Docs = 22500L
  private var dir: Path = _
  private var nTrain = 0L
  private var expected: Option[Seq[Long]] = None
  private var meta = Seq.empty[(String, String)]
  def inputs: Seq[(String, String)] = meta

  private def corpus(spark: SparkSession) = spark.read.parquet(dir.toString)
  private def train(spark: SparkSession) =
    corpus(spark).where(col("source") =!= "src0")
  private def eval(spark: SparkSession) =
    corpus(spark).where(col("source") === "src0")

  def prepare(run: Run, spark: SparkSession): Unit = {
    dir = run.data.resolve(s"corpus-${run.seed}")
    Inputs.once(dir)(p => Inputs.corpus(spark, run.seed, Docs, run.cores)
      .write.mode("overwrite").parquet(p))
    nTrain = train(spark).count()
    meta = Seq("seed" -> run.seed.toString, "rows" -> Docs.toString,
      "bytes" -> Inputs.bytesUnder(dir).toString,
      "content_hash" -> Inputs.contentHash(corpus(spark)))
  }

  /** Stage counts must repeat exactly, never grow from one stage to the
    * next, and start from the whole train slice. */
  private def checkCounts(c: Seq[Long]): Boolean = {
    if (expected.isEmpty) expected = Some(c)
    expected.contains(c) && c.head == nTrain &&
      c.sliding(2).forall { case Seq(a, b) => b <= a }
  }

  private def funnel(run: Run, spark: SparkSession): Unit =
    run.op("funnel", Docs) {
      val r = CorpusPipeline.funnelCounts(train(spark), eval(spark),
        "doc_id", "text").first()
      checkCounts((0 until 4).map(r.getLong))
    }

  def first(run: Run, spark: SparkSession): Unit = funnel(run, spark)

  val minSteps = 2

  def step(run: Run, spark: SparkSession, rnd: scala.util.Random): Unit =
    funnel(run, spark)

  /** Calls the funnel's stage and operator functions one by one on the
    * same inputs, each materialized, so each gets its own span. */
  def decompose(run: Run, spark: SparkSession): Unit = {
    val cfg = CorpusPipeline.FunnelConfig()
    val tr = train(spark)
    val ev = eval(spark)
    def mat(df: => DataFrame): (DataFrame, Long) = {
      val m = Materialize.materialize(df)
      (m, m.count())
    }
    val (q, nq) = run.span("pipeline.quality")(
      mat(CorpusPipeline.qualityFiltered(tr, "doc_id", "text", cfg)))
    run.span("ops.repetition")(mat(TextStats.repetition(tr, "doc_id", "text")))
    val nCand = run.span("ops.lsh_candidates")(
      Dedup.minhashLshPairs(q, "doc_id", "text", maxDf = Some(cfg.maxDf),
        maxBucket = Some(1024L)).count())
    val (pairs, nPairs) = run.span("ops.verified_pairs")(
      mat(CorpusPipeline.nearDupPairs(q, "doc_id", "text", cfg)))
    run.span("ops.clusters")(mat(Dedup.duplicateClustersStar(pairs)))
    val (d, nd) = run.span("pipeline.dedup")(
      mat(CorpusPipeline.dedupKeepOne(q, "doc_id", "text", cfg)))
    run.span("ops.bloom_decontam")(
      BloomPrefilter.bloomDecontaminate(d, ev, "doc_id", "text", n = 3,
        minShared = cfg.contaminationMinShared, maxDf = Some(cfg.maxDf))
        .count())
    val nc = run.span("pipeline.decontam")(
      CorpusPipeline.decontaminated(d, ev, "doc_id", "text", cfg).count())
    // planted pairs whose both sides passed the quality filter
    val ids = q.select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = ids.filter(i => Inputs.isPlanted(i) && ids(i - 1))
    val found = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = planted.count(i => found((i - 1, i)) || found((i, i - 1)))
    val recall = if (planted.isEmpty) 0.0 else hit.toDouble / planted.size
    val stagesMatch = expected.contains(Seq(nTrain, nq, nd, nc))
    run.notes ++= Seq("pipeline.n_corpus" -> nTrain.toString,
      "pipeline.n_quality" -> nq.toString, "pipeline.n_dedup" -> nd.toString,
      "pipeline.n_clean" -> nc.toString,
      "ops.candidate_pairs" -> nCand.toString,
      "ops.verified_pairs" -> nPairs.toString,
      "ops.planted_pairs" -> planted.size.toString,
      "ops.planted_recall" -> recall.toString,
      "decompose_ok" -> (stagesMatch && recall == 1.0).toString)
  }
}
