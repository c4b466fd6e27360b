package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.det.Sig.sig5

/** Distribution-shape statistics for categorical columns, beyond the
  * reference's frequency tables: Shannon entropy and the normalized
  * (0..1) evenness — the corpus-balance diagnostics a training
  * pipeline reads before stratifying or re-weighting.
  *
  * Scale shape: one hash aggregation per column over its value
  * counts (map-side combined), then an O(distinct) reduction via the
  * algebraic identity H = ln n − (Σ c·ln c)/n — no per-row ln, no
  * second pass over the data, no windows. Columns are processed in
  * one union of independent (tiny) aggregates. */
object CatStats {

  /** Pairwise association between categorical columns — the
    * "which metadata facets are redundant?" diagnostic a pipeline
    * reads before stratifying on several of them at once. Emits,
    * per requested pair, the bias-uncorrected Cramér's V
    * (symmetric, chi-square-based) and Theil's uncertainty
    * coefficient U in BOTH directions (asymmetric: U(a|b) = how
    * much of A's entropy B explains) — the categorical analogue of
    * the reference's Pearson matrix
    * (spark_df_profiling/base.py::corr ≈L300, numeric-only there).
    *
    * Scale shape: ONE shuffle per pair — the (a, b) contingency
    * groupBy (map-side combined, ≤ card_a·card_b rows). Marginals
    * are groupBys OF THE CONTINGENCY (tiny), broadcast back onto
    * it; chi² uses the identity χ² = n·(Σ nij²/(ri·cj) − 1), which
    * needs only OBSERVED cells (an empty cell contributes 0), so no
    * dense r×c grid is ever materialized. Conditional entropies come
    * from the same joined frame: H(A|B) = −Σ (nij/n)·ln(nij/cj).
    * Columns past `maxCard` distinct values report NULL scores (the
    * statistics are meaningless there and the tiny-marginal
    * broadcast assumption breaks); the contingency pass itself
    * distributes regardless of cardinality. NULL values are a
    * regular category (the [[entropy]] contract): marginal joins are
    * null-safe and cardinalities count the null group. */
  def association(df: DataFrame, pairs: Seq[(String, String)],
      maxCard: Long = 10000L): DataFrame =
    pairs.map { case (a, b) =>
      // the contingency feeds THREE consumers (cells + both marginal
      // groupBys); without a lineage cut each one recomputes it from
      // the source scan — 3 corpus passes per pair instead of 1. The
      // materialized frame is tiny (≤ card_a·card_b rows).
      val cont = Materialize.materialize(
        df.groupBy(col(a).as("va"), col(b).as("vb"))
          .agg(count(lit(1)).as("nij")))
      pairStats(cont, a, b, maxCard)
    }.reduce(_ unionByName _).orderBy("col_a", "col_b")

  /** All pairs' associations in ONE corpus scan: each row explodes
    * into its (pair, value-a, value-b) structs (values unified to
    * string — the statistics depend only on category identity, never
    * representation), one map-side-combined aggregation builds every
    * contingency at once, and the per-pair math runs over slices of
    * the materialized (tiny) result — the profiler's path: k_cat²/2
    * pairs cost one pass, not one scan each. Shuffle volume is
    * partitions × Σ card_a·card_b — independent of row count. */
  def associationAll(df: DataFrame, pairs: Seq[(String, String)],
      maxCard: Long = 10000L): DataFrame = {
    require(pairs.nonEmpty, "no column pairs")
    // float/double facets are NORMALIZED before the string cast so
    // this path groups exactly like [[association]]'s native groupBy:
    // native grouping keys normalize -0.0 to 0.0, but their strings
    // ("-0.0" vs "0.0") differ — a category-cardinality drift between
    // the two "cannot drift" twins. NaN needs no guard (one native
    // group, one "NaN" string).
    def catStr(name: String): Column = {
      val c = col(name)
      df.schema(name).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          when(c === lit(0.0), lit(0.0).cast(df.schema(name).dataType))
            .otherwise(c).cast("string")
        case _ => c.cast("string")
      }
    }
    val structs = pairs.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("pidx"), catStr(a).as("va"),
        catStr(b).as("vb"))
    }
    val cont = Materialize.materialize(
      df.select(explode(array(structs: _*)).as("e"))
        .groupBy(col("e.pidx").as("pidx"), col("e.va").as("va"),
          col("e.vb").as("vb"))
        .agg(count(lit(1)).as("nij")))
    pairs.zipWithIndex.map { case ((a, b), i) =>
      pairStats(cont.where(col("pidx") === i).drop("pidx"), a, b,
        maxCard)
    }.reduce(_ unionByName _).orderBy("col_a", "col_b")
  }

  /** The per-pair reduction over a contingency frame (va, vb, nij) —
    * the ONE implementation [[association]] and [[associationAll]]
    * both feed, so the two paths cannot drift. */
  private def pairStats(cont: DataFrame, a: String, b: String,
      maxCard: Long): DataFrame = {
      val ra = cont.groupBy("va").agg(sum("nij").as("ri"))
        .withColumnRenamed("va", "rva")
      val cb = cont.groupBy("vb").agg(sum("nij").as("cj"))
        .withColumnRenamed("vb", "cvb")
      // NULL is a regular category (the cat_entropy contract): the
      // marginal joins are NULL-SAFE — a plain equi-join would drop
      // every null-valued cell here while the oracle's window
      // partitions keep them, silently diverging on real data
      val j = cont
        .join(broadcast(ra), col("va") <=> col("rva"))
        .join(broadcast(cb), col("vb") <=> col("cvb"))
        .select(col("va"), col("vb"),
          col("nij").cast("double").as("nij"),
          col("ri").cast("double").as("ri"),
          col("cj").cast("double").as("cj"))
      // ONE reduction over observed cells — the shared [[cellAggs]] /
      // [[scoreCols]] math (see there for the identities).
      val cell = j.agg(cellAggs.head, cellAggs.tail: _*)
      cell.select(
        (lit(a).as("col_a") +: lit(b).as("col_b") +: col("n") +:
          col("card_a") +: col("card_b") +: scoreCols(maxCard)): _*)
  }

  /** Per-group association over a PRE-AGGREGATED contingency frame
    * `(grpCol, va, vb, nij)` — a per-window contingency (grp = the
    * event-time window) or any other sliced contingency:
    * Cramér's V / Theil's U per group, "did the facet association
    * shift this hour" as a number. Marginals via window sums over
    * the tiny contingency (partitions bounded by card products),
    * then one groupBy(grp) reduction — the same [[cellAggs]] /
    * [[scoreCols]] math as the table-level paths, so the three can
    * never drift. */
  def associationGrouped(cont: DataFrame, grpCol: String,
      maxCard: Long = 10000L): DataFrame = {
    val wA = Window.partitionBy(grpCol, "va")
    val wB = Window.partitionBy(grpCol, "vb")
    val x = cont.select(col(grpCol), col("va"), col("vb"),
        col("nij").cast("double").as("nij"))
      .withColumn("ri", sum("nij").over(wA))
      .withColumn("cj", sum("nij").over(wB))
    x.groupBy(grpCol).agg(cellAggs.head, cellAggs.tail: _*)
      .select((col(grpCol) +: col("n") +: col("card_a") +:
        col("card_b") +: scoreCols(maxCard)): _*)
      .orderBy(grpCol)
  }

  /** The observed-cells reduction shared by every association path.
    * Marginal entropies come from the same pass via
    * Σ_cells nij·ln(ri) = Σ_a ri·ln(ri) (row sums of a row's
    * observed cells ARE the marginal), so rlr doubles as both H(A)'s
    * sum and H(B|A)'s numerator term. Cardinalities count the null
    * category too (countDistinct skips nulls in both engines, so add
    * its presence flag). */
  private def cellAggs: Seq[Column] = Seq(
    sum("nij").cast("long").as("n"),
    (countDistinct("va") +
      max(when(col("va").isNull, 1L).otherwise(0L))).as("card_a"),
    (countDistinct("vb") +
      max(when(col("vb").isNull, 1L).otherwise(0L))).as("card_b"),
    sum(col("nij") * col("nij") / (col("ri") * col("cj")))
      .as("sumsq"),
    sum(col("nij") * log(col("nij"))).as("nln"),
    sum(col("nij") * log(col("cj"))).as("clc"),
    sum(col("nij") * log(col("ri"))).as("rlr"))

  /** V/U from the [[cellAggs]] columns. V² = χ²/(n·(min(r,c)−1))
    * with χ² = n·(sumsq−1): the n cancels exactly, so compute
    * (sumsq−1)/(min−1) — same expression the oracle uses, keeping
    * both engines on one rounding path. */
  private def scoreCols(maxCard: Long): Seq[Column] = {
    val nD = col("n").cast("double")
    val ha = log(nD) - col("rlr") / nD           // H(A), nats
    val hb = log(nD) - col("clc") / nD           // H(B)
    val hab = (col("clc") - col("nln")) / nD     // H(A|B)
    val hba = (col("rlr") - col("nln")) / nD     // H(B|A)
    val minDf = least(col("card_a"), col("card_b")) - lit(1L)
    val inCard = col("card_a") <= maxCard && col("card_b") <= maxCard
    // U's positive-entropy guard runs on the exact INTEGER cardinality
    // (H(A) > 0 ⟺ card_a > 1), not the raw float sum: for a constant
    // facet ha is a near-zero float whose SIGN depends on the engine's
    // summation order — a discrete cross-engine decision on unrounded
    // doubles, against the rounded-decision contract (the V guard
    // already decides on minDf > 0 for the same reason). The
    // DENOMINATOR is additionally clamped: card_a > 1 makes H(A) > 0
    // mathematically, but the float ln(n) − rlr/n can still cancel to
    // 0.0 or a tiny negative for a near-constant facet at extreme n —
    // 0/0 or a flipped sign that sig5 would pass through. The oracle
    // twins clamp identically.
    val haC = greatest(ha, lit(1e-12))
    val hbC = greatest(hb, lit(1e-12))
    Seq(
      sig5(when(inCard && minDf > 0,
        sqrt(greatest((col("sumsq") - lit(1.0)) / minDf.cast("double"),
          lit(0.0)))))
        .as("cramers_v"),
      sig5(when(inCard && col("card_a") > 1L, (ha - hab) / haC))
        .as("theils_u_ab"),
      sig5(when(inCard && col("card_b") > 1L, (hb - hba) / hbC))
        .as("theils_u_ba"))
  }

  /** Per-column (col_name, n, n_distinct, entropy, evenness):
    * entropy in nats over the value distribution (NULL treated as a
    * regular category), evenness = H / ln(n_distinct) (1 = uniform;
    * NULL for a single-valued column where evenness is undefined). */
  def entropy(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
          sum(col("cnt").cast("double") * log(col("cnt").cast("double")))
            .as("clc"))
        .select(lit(c).as("col_name"), col("n").cast("long").as("n"),
          col("n_distinct"),
          sig5(log(col("n").cast("double")) - col("clc") / col("n"))
            .as("entropy"),
          sig5(when(col("n_distinct") > 1,
            (log(col("n").cast("double")) - col("clc") / col("n")) /
              log(col("n_distinct").cast("double"))))
            .as("evenness"))
    }.reduce(_ unionByName _).orderBy("col_name")

  /** Count–Min sketch (Cormode & Muthukrishnan 2005): the MERGEABLE
    * production twin of exact frequency counting — d×w counters,
    * est(v) = min over the d rows of the counter at hash_i(v), with
    * the one-sided guarantee true ≤ est and the ε = e/w Markov bound
    * est − true ≤ ε·N (per row with prob 1−1/e; the min over d rows
    * makes an excess vanishingly unlikely).
    *
    * Scale shape: the sketch is built from the per-VALUE count frame
    * (one O(distinct) shuffle — the same shuffle exact counting
    * pays), so the counter matrix lives as an O(d·w) frame that
    * merges across shards/days by counter ADDITION (union +
    * re-aggregate — the col_distinct_mergeable contract), and point
    * lookups broadcast it. Hashes are the engine's portable 60-bit
    * md5 keys, so any engine rebuilds the identical sketch. */
  private def cmBucket(v: Column, i: Column, w: Int): Column =
    pmod(conv(substring(md5(concat(v, lit("|"), i.cast("string"))
      .cast("binary")), 1, 15), 16, 10).cast("long"), lit(w.toLong))

  /** The counter matrix (i, b, mc) of `colName` over `df`. */
  def countMinSketch(df: DataFrame, colName: String, d: Int = 4,
      w: Int = 256): DataFrame = {
    val vc = df.groupBy(col(colName).cast("string").as("v"))
      .agg(count(lit(1)).as("c"))
    vc.select(col("v"), col("c"),
        explode(typedLit((0 until d).map(_.toLong).toList)).as("i"))
      .groupBy(col("i"), cmBucket(col("v"), col("i"), w).as("b"))
      .agg(sum("c").as("mc"))
  }

  /** Error-contract table for the top-k heavy values: exact count vs
    * the CM estimate, the overestimate, and the ε·N Markov-bound
    * verdict — the `col_distinct_approx_err` pattern applied to
    * frequency sketching. One O(distinct) shuffle builds both sides;
    * the bound check runs on the O(distinct) estimate frame. */
  def countMinErr(df: DataFrame, colName: String, d: Int = 4,
      w: Int = 256, topK: Int = 20): DataFrame = {
    val vc = df.groupBy(col(colName).cast("string").as("v"))
      .agg(count(lit(1)).as("c"))
    val rows = vc.select(col("v"), col("c"),
        explode(typedLit((0 until d).map(_.toLong).toList)).as("i"))
      .withColumn("b", cmBucket(col("v"), col("i"), w))
    val m = rows.groupBy("i", "b").agg(sum("c").as("mc"))
    val n = vc.agg(sum("c").cast("long").as("n"))
    val est = rows.join(m, Seq("i", "b"))
      .groupBy("v").agg(max("c").as("true_count"),
        min("mc").cast("long").as("cm_count"))
    est.crossJoin(broadcast(n))
      .select(col("v").as("value"), col("true_count"),
        col("cm_count"),
        (col("cm_count") - col("true_count")).as("overestimate"),
        (col("cm_count") >= col("true_count")).as("lower_ok"),
        ((col("cm_count") - col("true_count")).cast("double") <=
          lit(2.718281828459045) / lit(w.toDouble) *
            col("n").cast("double")).as("within_eps"))
      .orderBy(col("true_count").desc, col("value").asc)
      .limit(topK)
  }

  /** Merge-algebra check: per-`shardCol` sketches summed
    * counter-wise vs the whole-corpus sketch, every (row, bucket)
    * compared — the `col_distinct_mergeable` contract applied to
    * Count–Min (pins that the hash depends on the value alone, so
    * shard-built counters really are addable across days/shards). */
  def countMinMergeCheck(df: DataFrame, colName: String,
      shardCol: String, d: Int = 4, w: Int = 256): DataFrame = {
    val shardSk = df
      .groupBy(col(shardCol).as("shard"),
        col(colName).cast("string").as("v"))
      .agg(count(lit(1)).as("c"))
      .select(col("shard"), col("v"), col("c"),
        explode(typedLit((0 until d).map(_.toLong).toList)).as("i"))
      .groupBy(col("shard"), col("i"),
        cmBucket(col("v"), col("i"), w).as("b"))
      .agg(sum("c").as("mc"))
    val merged = shardSk.groupBy("i", "b")
      .agg(sum("mc").cast("long").as("mc_merged"))
    val whole = countMinSketch(df, colName, d, w)
      .select(col("i"), col("b"), col("mc").cast("long").as("mc_whole"))
    whole.join(merged, Seq("i", "b"), "full")
      .select(col("i"), col("b"),
        coalesce(col("mc_whole"), lit(0L)).as("mc_whole"),
        coalesce(col("mc_merged"), lit(0L)).as("mc_merged"),
        (coalesce(col("mc_whole"), lit(0L)) ===
          coalesce(col("mc_merged"), lit(0L))).as("equal"))
      .orderBy("i", "b")
  }
}
