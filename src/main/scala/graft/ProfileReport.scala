package graft

import org.apache.spark.sql.DataFrame
import graft.profiler.{Profiler, ProfilerConfig, TableProfile}
import graft.report.HtmlReport

/** Drop-in analogue of the reference's public API
  * (spark_df_profiling/__init__.py::ProfileReport ≈L12–75):
  *
  * {{{
  *   // reference:  ProfileReport(df, bins=10, corr_reject=0.9)
  *   val report = ProfileReport(df, ProfilerConfig(bins = 10,
  *     corrReject = 0.9))
  *   report.getDescription          // ≙ get_description()
  *   report.getRejectedVariables()  // ≙ get_rejected_variables()
  *   report.html                    // ≙ report.html / rendered_html()
  *   report.toFile("profile.html")  // ≙ to_file(outputfile)
  * }}}
  *
  * All analytics run in the fixed-pass Spark plans of
  * [[graft.profiler.Profiler]]; only HTML assembly happens on the
  * driver (as in the reference, where pandas/jinja2 rendering is
  * driver-side).
  */
class ProfileReport(df: DataFrame,
    cfg: ProfilerConfig = ProfilerConfig(), title: String = "graft profile") {

  /** The description set (reference: `get_description()`).
    * `cfg.fused = true` routes through the one-scan multi-sketch
    * profiler — the 100 TB shape. */
  lazy val getDescription: TableProfile =
    if (cfg.fused) Profiler.profileFused(df, cfg)
    else Profiler.profile(df, cfg)

  /** Names of variables rejected for correlation ≥ threshold
    * (reference: `get_rejected_variables(threshold)`). Re-evaluates
    * the stored correlation matrix, so thresholds both above AND
    * below the profile's `corrReject` work. */
  def getRejectedVariables(
      threshold: Double = cfg.corrReject): Seq[String] = {
    val numCols = graft.profiler.Kinds.numericCols(df)
    val m = correlationMatrix
    graft.profiler.Stats.rejectFromMatrix(numCols, m, threshold)
      .map(_._1)
  }

  /** Correlations from the profile when available, computed on demand
    * by the profile's own pass-D function ([[graft.profiler.Stats.pearson]])
    * when the profile was built with correlations = false (so
    * getRejectedVariables never silently reports "nothing rejected"
    * for an unprofiled dimension). */
  private lazy val correlationMatrix
      : Map[(String, String), Option[Double]] = {
    val numCols = graft.profiler.Kinds.numericCols(df)
    val fromProfile = getDescription.correlations
    if (fromProfile.nonEmpty || numCols.size < 2 || cfg.correlations)
      fromProfile.map { case (a, b, rho) => (a, b) -> Option(rho) }.toMap
    else graft.profiler.Stats.pearson(df, numCols)
  }

  /** Head sample rendered into the report (reference stores
    * `df.limit(sample).toPandas()`); totally ordered over all columns
    * because a bare LIMIT is nondeterministic in any distributed
    * engine. */
  private lazy val sample: Seq[Seq[String]] = {
    val head = df
      .orderBy(df.columns.toSeq
        .map(c => graft.profiler.Stats.orderable(df, c)): _*)
      .limit(cfg.sampleRows).collect()
    val header = df.columns.toSeq
    header +: head.toSeq.map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))))
  }

  /** Rendered report (reference: `report.html` / `rendered_html()`). */
  lazy val html: String =
    HtmlReport.render(getDescription, title, sample)

  /** Rendered report with user render-hook overrides — the analogue
    * of swapping the reference's jinja2 templates
    * (spark_df_profiling/templates.py). E.g.
    * `report.render(ReportTemplates.pngHistograms)` for
    * matplotlib-parity base64-PNG histograms. */
  def render(templates: graft.report.ReportTemplates): String =
    HtmlReport.render(getDescription, title, sample,
      templates = templates)

  /** Report WITH a quality-gate section: evaluates the declared
    * check suite ([[graft.ops.Quality.runChecks]] — one extra
    * aggregation scan) and renders the pass/fail table above the
    * column cards. The natural pairing: `suggestedChecks` from LAST
    * version's profile, rendered against this version's data. */
  def htmlWithChecks(checks: Seq[graft.ops.Quality.Check]): String = {
    val rows = graft.ops.Quality.runChecks(df, checks).collect()
      .toSeq.map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))
    HtmlReport.render(getDescription, title, sample, rows)
  }

  /** Write the standalone HTML report (reference: `to_file(path)`). */
  def toFile(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), html)

  /** Tidy queryable stats DataFrame — our Spark-native extension. */
  def tidy: DataFrame = Profiler.profileTidy(df, cfg)
}

object ProfileReport {
  def apply(df: DataFrame, cfg: ProfilerConfig = ProfilerConfig(),
      title: String = "graft profile"): ProfileReport =
    new ProfileReport(df, cfg, title)
}
