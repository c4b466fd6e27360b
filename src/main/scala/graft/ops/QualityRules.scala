package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.det.Sig.sig5

/** Gopher-style document-quality RULE GATE (Rae et al. 2021, "Scaling
  * Language Models: ... Gopher", App. A — the public rule family
  * every crawl pipeline runs before tokenization): token-count
  * bounds, mean-word-length bounds, a minimum stop-word count and a
  * repetition cap, applied with FIRST-failing-rule precedence and
  * LOUD per-rule accounting (the [[UrlOps.urlFilterStats]] contract:
  * a rule that suddenly eats 40% of a crawl must show up in a table,
  * not vanish into a silent drop).
  *
  * Scale shape: two aggregations of the token stream (one per-doc
  * projection with the split() kept out of the HOF lambdas — the
  * hashedGramFrame CollapseProject note — and one (doc, token)
  * count for the repetition signal), then ALL funnel arithmetic runs
  * on the O(rules) aggregate: the rule table is a literal frame, the
  * cumulative-survivor window orders 6 rows. Nothing driver-side
  * grows with the corpus; no UDFs, no transcendentals in any rule
  * DECISION (integer ratios compare identically across engines). */
object QualityRules {

  /** Rule names in evaluation order; index = first-fail precedence. */
  val RuleNames: Seq[String] = Seq("too_few_tokens", "too_many_tokens",
    "mean_word_length", "too_few_stopwords", "repetitive", "kept")

  /** The rule thresholds as one value (for callers like the corpus
    * datasheet that thread a whole gate config through). Defaults
    * are Gopher's published operating points. */
  case class Thresholds(minTokens: Long = 50L,
    maxTokens: Long = 100000L, minMeanWordLen: Double = 3.0,
    maxMeanWordLen: Double = 10.0, minStopwords: Long = 2L,
    maxTopTokenFrac: Double = 0.2)

  /** The repetition signal as an in-row fold: per-doc top-token
    * count = the longest equal run of the SORTED token array over
    * token array column `w` — shared by the rule gate and the
    * learned-filter featurizer so the two can never drift (see
    * [[ruleAssign]]'s scale note for the measured win over the
    * (doc, token) histogram join it replaced). */
  private[ops] val topRunExpr = expr("""aggregate(array_sort(w),
      named_struct('prev', '', 'run', 0L, 'best', 0L),
      (a, x) -> named_struct(
        'prev', x,
        'run', IF(x = a.prev, a.run + 1L, 1L),
        'best', GREATEST(a.best, IF(x = a.prev, a.run + 1L, 1L))),
      a -> a.best)""")

  /** Per-document rule assignment: (doc_id, rule_idx, rule) where
    * rule is the FIRST failing rule, or "kept". */
  def ruleAssign(df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwords: Long = 2L, maxTopTokenFrac: Double = 0.2,
      carry: Seq[String] = Nil): DataFrame = {
    val en = TextStats.stopwords.toMap.apply("en")
    // repetition signal WITHOUT the (doc, token) histogram shuffle:
    // the per-doc top-token count is the longest equal run of the
    // SORTED token array — an in-row fold, so the whole rule gate is
    // ONE map-only scan + the O(rules) aggregate. Measured at 10M
    // docs / 400M tokens: the histogram-join form paid 109.6 s,
    // almost all of it the 400M-row (doc_id, token) shuffle this
    // fold deletes (value-identical — the oracle still derives
    // top_c from the histogram).
    val topC = topRunExpr
    // `carry` threads extra df columns (e.g. the source) through the
    // projection so per-slice forms stay map-only instead of joining
    // back against their own input
    val base = df.select(col(idCol).as("doc_id") +:
        carry.map(col) :+ split(col(textCol), " ").as("w"): _*)
      .select((col("doc_id") +: carry.map(col)) ++ Seq(
        // NULL text → nt 0, so it fails too_few_tokens instead of
        // falling through every NULL comparison into "kept"
        coalesce(size(col("w")).cast("long"), lit(0L)).as("nt"),
        aggregate(col("w"), lit(0L), (acc, x) => acc + length(x))
          .as("sum_len"),
        size(filter(col("w"), t =>
          t.isin(en.map(x => lit(x)): _*))).cast("long").as("ns"),
        topC.as("top_c")): _*)
    val meanWl = col("sum_len").cast("double") / col("nt")
    val topFrac = col("top_c").cast("double") / col("nt")
    val idx = when(col("nt") < minTokens, 0L)
      .when(col("nt") > maxTokens, 1L)
      .when(meanWl < minMeanWordLen || meanWl > maxMeanWordLen, 2L)
      .when(col("ns") < minStopwords, 3L)
      .when(topFrac > maxTopTokenFrac, 4L)
      .otherwise(5L)
    base.select(col("doc_id") +: carry.map(col) :+
      idx.as("rule_idx"): _*)
  }

  /** The funnel table: one row per rule (plus "kept"), with the
    * first-fail count, its corpus share, and the number of documents
    * SURVIVING that rule and all earlier ones — the cumulative
    * survival curve a pipeline datasheet publishes. Every rule row
    * is always present (zero-count rules included) via the literal
    * rule frame. */
  def filterFunnel(df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwords: Long = 2L, maxTopTokenFrac: Double = 0.2)
      : DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val counts = ruleAssign(df, idCol, textCol, minTokens, maxTokens,
        minMeanWordLen, maxMeanWordLen, minStopwords, maxTopTokenFrac)
      .groupBy("rule_idx").agg(count(lit(1)).as("n"))
    val rules = RuleNames.zipWithIndex
      .map { case (r, i) => (i.toLong, r) }.toDF("rule_idx", "rule")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("rule_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    // O(rules) frame from here on — the single-partition window
    // orders 6 rows, never corpus rows
    rules.join(counts, Seq("rule_idx"), "left")
      .select(col("rule_idx"), col("rule"),
        coalesce(col("n"), lit(0L)).as("n_docs"))
      .withColumn("__cum", sum("n_docs").over(w))
      .withColumn("__tot", sum("n_docs").over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("rule_idx"), col("rule"), col("n_docs"),
        sig5(col("n_docs").cast("double") / col("__tot")).as("share"),
        when(col("rule") === "kept", col("n_docs"))
          .otherwise(col("__tot") - col("__cum")).as("n_surviving"))
      .orderBy("rule_idx")
  }

  /** [[filterFunnel]] sliced per source — "WHICH feed is dying at
    * WHICH rule": the per-(source, rule) first-fail counts, shares
    * within the source, and the per-source survival curve. Every
    * (source, rule) row is present (zero counts included) via the
    * rule-frame × distinct-sources cross (O(sources · rules), tiny);
    * the windows order rule rows WITHIN a source — never corpus
    * rows. */
  def filterFunnelBySource(df: DataFrame, idCol: String,
      textCol: String, srcCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwords: Long = 2L, maxTopTokenFrac: Double = 0.2)
      : DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val counts = ruleAssign(df, idCol, textCol, minTokens, maxTokens,
        minMeanWordLen, maxMeanWordLen, minStopwords, maxTopTokenFrac,
        carry = Seq(srcCol))
      .groupBy(col(srcCol).as("source"), col("rule_idx"))
      .agg(count(lit(1)).as("n"))
    val rules = RuleNames.zipWithIndex
      .map { case (r, i) => (i.toLong, r) }.toDF("rule_idx", "rule")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("rule_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
    df.select(col(srcCol).as("source")).distinct()
      .crossJoin(rules)
      .join(counts, Seq("source", "rule_idx"), "left")
      .select(col("source"), col("rule_idx"), col("rule"),
        coalesce(col("n"), lit(0L)).as("n_docs"))
      .withColumn("__cum", sum("n_docs").over(w))
      .withColumn("__tot", sum("n_docs").over(wTot))
      .select(col("source"), col("rule_idx"), col("rule"),
        col("n_docs"),
        sig5(col("n_docs").cast("double") / col("__tot")).as("share"),
        when(col("rule") === "kept", col("n_docs"))
          .otherwise(col("__tot") - col("__cum")).as("n_surviving"))
      .orderBy("source", "rule_idx")
  }

  /** Operating-point table for the gate's token-count floor (the
    * [[Dedup]] threshold-curve pattern applied to the rule gate):
    * for each candidate minTokens, the kept count and share under
    * the FULL gate with every other rule fixed — the table a
    * pipeline owner reads before picking the cutoff, from ONE scan.
    * The per-doc signals are computed once; the candidate list rides
    * a broadcast literal frame (O(candidates) multiplier on the
    * already-aggregated comparisons, no re-scan per point). */
  def thresholdCurve(df: DataFrame, idCol: String, textCol: String,
      minTokensCandidates: Seq[Long],
      maxTokens: Long = 100000L, minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0, minStopwords: Long = 2L,
      maxTopTokenFrac: Double = 0.2): DataFrame = {
    require(minTokensCandidates.nonEmpty)
    val s = df.sparkSession
    import s.implicits._
    // minTokens = 0 disables the floor, so ruleAssign emits the
    // OTHER rules' verdict; the floor is re-applied per candidate
    val sig = ruleAssign(df, idCol, textCol, 0L, maxTokens,
      minMeanWordLen, maxMeanWordLen, minStopwords, maxTopTokenFrac,
      carry = Seq())
    val nt = df.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("nt"))
    val cand = minTokensCandidates.toDF("min_tokens")
    sig.join(nt, Seq("doc_id"))
      .crossJoin(broadcast(cand))
      .groupBy("min_tokens")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rule_idx") === 5L && col("nt") >=
          col("min_tokens"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("min_tokens"), col("n_docs"), col("n_kept"),
        sig5(col("n_kept").cast("double") / col("n_docs"))
          .as("kept_share"))
      .orderBy("min_tokens")
  }

  /** The keep TRANSFORM: rows whose document passes every rule —
    * what the pipeline feeds downstream after publishing the funnel
    * table. Same assignment, so the two can never drift. */
  def filterDocs(df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwords: Long = 2L, maxTopTokenFrac: Double = 0.2)
      : DataFrame = {
    val kept = ruleAssign(df, idCol, textCol, minTokens, maxTokens,
        minMeanWordLen, maxMeanWordLen, minStopwords, maxTopTokenFrac)
      .where(col("rule_idx") === 5L).select(col("doc_id").as("__keep"))
    df.join(kept, col(idCol) === col("__keep")).drop("__keep")
  }
}
