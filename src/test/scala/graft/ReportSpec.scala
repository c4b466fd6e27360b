package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.profiler.ProfilerConfig

class ReportSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("x", DoubleType),
    StructField("k", StringType)))

  private val df = spark.createDataFrame(
    (1 to 30).map(i => Row(i.toLong, (i % 7).toDouble,
      if (i % 2 == 0) "even" else "odd")).asJava, schema)

  test("ProfileReport mirrors the reference API surface") {
    val report = ProfileReport(df, ProfilerConfig(), title = "t1")
    val desc = report.getDescription
    assert(desc.n == 30L && desc.nvar == 3)
    assert(report.getRejectedVariables().isEmpty)
    val html = report.html
    assert(html.startsWith("<!DOCTYPE html>"))
    Seq("id", "x", "k", "Overview", "Sample", "svg").foreach(s =>
      assert(html.contains(s), s"html must contain $s"))
    val out = java.nio.file.Files.createTempFile("profile", ".html")
    report.toFile(out.toString)
    assert(java.nio.file.Files.size(out) > 1000)
    assert(report.tidy.count() > 10)
  }

  test("getRejectedVariables honors thresholds below the profile's corrReject") {
    val s = StructType(Seq(StructField("x", DoubleType),
      StructField("y", DoubleType)))
    val noisy = spark.createDataFrame(
      (1 to 40).map(i => Row(i.toDouble,
        i.toDouble + ((i * 7) % 11) * 9.0)).asJava, s)
    val report = ProfileReport(noisy) // default corrReject = 0.9
    val rho = report.getDescription.correlations
      .collectFirst { case ("x", "y", r) => r }.get
    assert(rho > 0.2 && rho < 0.9, s"fixture rho=$rho must be mid-range")
    assert(report.getRejectedVariables() == Seq.empty)
    assert(report.getRejectedVariables(rho - 0.05) == Seq("y"))
    assert(report.getRejectedVariables(rho + 0.05) == Seq.empty)
  }

  test("html escapes content and formats percentages") {
    assert(graft.report.HtmlReport.fmtPercent(0.1234) == "12.3%")
    assert(graft.report.HtmlReport.fmtBytesize(2048) == "2.0 KiB")
    val p = graft.profiler.TableProfile(1, 1, 0, 0.0,
      Seq(graft.profiler.ColumnProfile("a<b", "CAT", 1, 0, 0.0, 1, 1.0,
        Map.empty, Map.empty, Seq.empty, Seq("<x>" -> 1L))),
      Seq.empty, Seq.empty)
    val html = graft.report.HtmlReport.render(p)
    assert(html.contains("a&lt;b") && html.contains("&lt;x&gt;"))
    assert(!html.contains("<x>"))
  }

  test("overview renders plan-size via fmt_bytesize and separated " +
      "counts (formatters.py parity)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val p = graft.profiler.Profiler.profileFused(li,
      graft.profiler.ProfilerConfig(correlations = false))
    assert(p.sizeBytes > 0, "plan size estimate must be available")
    val html = graft.report.HtmlReport.render(p)
    assert(html.contains("Total size"))
    assert(html.contains("Average record size"))
    assert("\\d [KMG]?i?B".r.findFirstIn(html).isDefined)
    // thousands separators on row/count stats (fmt "{:n}" parity)
    assert(html.contains(graft.report.HtmlReport.fmtNumber(p.n.toDouble)))
  }

  test("htmlWithChecks renders the quality-gate section with " +
      "pass/fail rows; plain html omits it") {
    import graft.ops.Quality._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val rep = ProfileReport(li,
      graft.profiler.ProfilerConfig(fused = true, correlations = false))
    assert(!rep.html.contains("Quality checks"))
    val html = rep.htmlWithChecks(Seq(
      Completeness("l_quantity", 1.0),           // passes
      Uniqueness("l_orderkey", 0.99)))           // fails (repeats)
    assert(html.contains("Quality checks"))
    assert(html.contains("(1/2 passed)"))
    assert(html.contains("qc-fail"))
    assert(html.contains(">pass<") && html.contains(">FAIL<"))
    assert(html.contains("completeness") && html.contains("uniqueness"))
  }

  test("heatmap and anomaly sections: real 2D-histogram cells render " +
      "as opacity-scaled rects, flagged snapshots badge; both " +
      "sections absent when not provided") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cells = graft.profiler.Stats
      .histogram2d(li, "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cells.nonEmpty)
    val anom = Seq(
      ("day=1", "x", 10.0, Some(0.2), 0L),
      ("day=2", "x", 99.0, Some(8.7), 1L),
      ("day=3", "x", 10.1, None, 0L))
    val p = graft.profiler.TableProfile(1, 1, 0, 0.0, Seq.empty,
      Seq.empty, Seq.empty)
    val html = graft.report.HtmlReport.render(p,
      heatmap = cells, heatmapLabels = ("price", "discount"),
      anomalies = anom)
    assert(html.contains("Joint histogram"))
    assert("<rect ".r.findAllIn(html).size == cells.size)
    assert(html.contains("price") && html.contains("discount"))
    assert(html.contains("(1 anomalous)") && html.contains(">ANOMALY<"))
    assert(html.contains("&mdash;"), "null z renders as a dash")
    val plain = graft.report.HtmlReport.render(p)
    assert(!plain.contains("Joint histogram") &&
      !plain.contains("Ingest history"))
  }

  test("privacy section renders the risk curve from real audit rows") {
    val sql = spark
    import sql.implicits._
    val cust = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
    val curve = graft.ops.Privacy.riskCurve(cust,
      Seq("c_mktsegment", "c_nationkey"), Seq(2L, 10L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val minGroup = graft.ops.Privacy.kAnonymity(cust,
      Seq("c_mktsegment", "c_nationkey"), 10L)
      .agg(org.apache.spark.sql.functions.min("n")).head().getLong(0)
    val p = graft.profiler.TableProfile(1, 1, 0, 0.0, Seq.empty,
      Seq.empty, Seq.empty)
    val html = graft.report.HtmlReport.render(p,
      privacy = curve, privacyMinGroup = minGroup)
    assert(html.contains("Privacy audit"))
    assert(html.contains(s"smallest QI group: $minGroup"))
    assert(html.contains("share at risk"))
    assert(!graft.report.HtmlReport.render(p).contains("Privacy audit"))
  }

  test("domain section renders the datasheet from real domainProfile " +
      "rows, hot domains badged") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = graft.ops.UrlOps.domainProfile(
        graft.ops.UrlOps.synthUrl(docs, "doc_id"), "url", "text")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSeq
    val p = graft.profiler.Profiler.profile(docs.select("doc_id"))
    val html = graft.report.HtmlReport.render(p, domains = rows)
    assert(html.contains("Domain mix"))
    assert(html.contains("doc share"))
    val nHot = rows.count(_._6)
    assert(html.contains(s"${rows.size} domains, $nHot hot"))
    if (nHot > 0) assert(html.contains("HOT"))
    assert(!graft.report.HtmlReport.render(p).contains("Domain mix"))
  }

  test("PNG histogram round-trips through the engine's own decoder") {
    import graft.report.ChartPng
    val hist = Seq(0L -> 5L, 1L -> 60L, 2L -> 1L, 4L -> 30L)
    val img = ChartPng.histogramImg(hist)
    assert(img.startsWith("""<img class="hist" """))
    val b64 = img.split("base64,")(1).takeWhile(_ != '"')
    val png = java.util.Base64.getDecoder.decode(b64)
    val px = graft.ops.Multimodal.decodePixels(png).get
    // same geometry as the SVG renderer: 16 px/bin, 64 px tall
    assert(px.width == 4 * 16 + 16 && px.height == 64 &&
      px.channels == 3)
    def rgb(x: Int, y: Int): Int =
      ((px.data((y * px.width + x) * 3) & 0xff) << 16) |
        ((px.data((y * px.width + x) * 3 + 1) & 0xff) << 8) |
        (px.data((y * px.width + x) * 3 + 2) & 0xff)
    // recompute every pixel from the bar formula — full-raster check
    val maxC = 60L
    for (y <- 0 until 64; x <- 0 until px.width) {
      val bin = x / 16
      val inBar = (x % 16) < 14 &&
        hist.toMap.get(bin.toLong).exists { cnt =>
          val hgt = math.max(1L, cnt * 60 / maxC).toInt
          y >= 62 - hgt && y < 62
        }
      assert(rgb(x, y) == (if (inBar) ChartPng.BarRgb else 0xffffff),
        s"pixel ($x,$y)")
    }
    assert(ChartPng.histogramImg(Seq.empty) == "")
  }

  test("template hooks override row/css/histogram rendering") {
    import graft.report.{HtmlReport, ReportTemplates}
    val p = graft.profiler.TableProfile(5, 1, 0, 0.0,
      Seq(graft.profiler.ColumnProfile("x", "NUM", 5, 0, 0.0, 5, 1.0,
        Map("mean" -> 2.0), Map.empty, Seq(0L -> 3L, 1L -> 2L),
        Seq.empty)),
      Seq.empty, Seq.empty)
    val custom = HtmlReport.render(p, templates = ReportTemplates(
      statRow = (k, v) => s"<tr data-hook='1'><th>$k</th><td>$v</td></tr>",
      css = "/* my-css-marker */ body{color:red}"))
    assert(custom.contains("data-hook='1'"))
    assert(custom.contains("my-css-marker"))
    assert(!custom.contains("background:#fafafa")) // stock css replaced
    // png-parity histograms: no inline SVG remains, data-URI appears
    val png = HtmlReport.render(p,
      templates = ReportTemplates.pngHistograms)
    assert(png.contains("data:image/png;base64,"))
    assert(!png.contains("<svg"))
    // default render is unchanged by the hook machinery
    val stock = HtmlReport.render(p)
    assert(stock.contains("<svg") && !stock.contains("base64"))
  }

  test("datasheet document renders every section from real " +
      "corpusDatasheet rows") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val d = graft.ops.UrlOps.synthUrl(
      graft.ops.Pii.synthPii(docs, "doc_id", "text"), "doc_id")
    val rows = graft.ops.Datasheet
      .corpusDatasheet(d, urlCol = Some("url")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSeq
    val html = graft.report.HtmlReport.datasheetHtml(rows)
    Seq("corpus", "domains", "quality", "dedup", "pii").foreach(s0 =>
      assert(html.contains(s"<h2>$s0</h2>"), s0))
    assert(html.contains("doc_share"))
    assert(html.contains("%")) // shares render as percentages
    assert(html.contains("__corpus__"))
  }
}
