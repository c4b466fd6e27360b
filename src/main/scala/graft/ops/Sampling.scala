package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.det.Sig.sig5

/** Deterministic sampling / train-val splitting for training-data
  * pipelines. Two paths with different scale shapes:
  *
  *  - [[stratifiedExact]]: exact per-stratum fractions via window
  *    ranking — fully reproducible AND oracle-expressible, but pays a
  *    per-stratum sort shuffle; the right tool at audit/test scale or
  *    when exact stratum counts are contractual.
  *  - [[hashSplit]]: map-only assignment from a seeded xxhash64 of
  *    the id — no shuffle, no sort, stable under repartitioning and
  *    insertion order, the 100 TB path. Fractions are approximate
  *    (binomial around the target), which is what production splits
  *    accept in exchange for O(1) per-row cost.
  */
object Sampling {

  /** Exact deterministic stratified sample: the ceil(frac·n) lowest
    * `idCol` rows of every stratum. One shuffle (window partition by
    * stratum); ties impossible for unique ids.
    *
    * 100 TB switch: this window form sorts EVERY stratum through one
    * task — a 90%-skewed stratum serializes most of the corpus.
    * [[stratifiedHashExact]] is the production path (same exact
    * per-stratum quota, map-only admission, only a ~n/bucket-count
    * residual ever sorted); [[hashSplit]] when approximate fractions
    * are acceptable. */
  def stratifiedExact(df: DataFrame, stratumCol: String, idCol: String,
      frac: Double): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(col(idCol))
    val wc = Window.partitionBy(stratumCol)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wc))
      .where(col("__rn") <= ceil(col("__cnt") * lit(frac)))
      .drop("__rn", "__cnt")
  }

  /** EXACT-quota stratified sample that never sorts a stratum: each
    * stratum keeps its quota = ceil(frac·n) smallest rows under the
    * ordering (bucket, id) with bucket = minstdHash(id) mod
    * `buckets` — a deterministic pseudo-random draw (the oracle
    * re-derives it as one window expression; the hash makes the
    * selection corpus-order-free like [[hashSplit]], unlike
    * [[stratifiedExact]]'s lowest-id rule).
    *
    * Scale shape — the point: pass 1 builds the per-(stratum, bucket)
    * HISTOGRAM (one map-side-combined groupBy; ≤ `buckets` rows per
    * stratum regardless of stratum size). The admission threshold —
    * the bucket where the quota boundary falls and the residual count
    * r — comes from a running sum over that bounded histogram
    * (window partitions capped at `buckets` rows, never data-sized).
    * Pass 2 admits every row below the boundary bucket MAP-ONLY via
    * a broadcast of the strata-sized threshold frame; only the
    * boundary bucket itself — expected n/buckets rows, ~10⁶× smaller
    * than the stratum — is ranked by id for the last r rows. A
    * 90%-skewed stratum costs a hash-agg, not a corpus sort.
    *
    * `buckets` sizing: the histogram is strata × buckets rows and the
    * sorted residual ~biggest-stratum / buckets rows — keep buckets
    * ≪ stratum size so the map-side combine collapses the histogram
    * (the 10⁶ default assumes corpus-scale strata of 10⁹⁺ rows; a
    * 10⁷-row corpus wants ~10⁴). Measured 90/10 skew vs the windowed
    * form (BASELINE.md round 9): 9.5 s vs 13.8 s at
    * 10M rows, 41 s vs 157 s at 100M — the windowed form's
    * single-task sort of the dominant stratum is the diverging
    * term. */
  def stratifiedHashExact(df: DataFrame, stratumCol: String,
      idCol: String, frac: Double, buckets: Int = 1000000)
      : DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    // quota on the DOUBLE product (both engines' identical IEEE
    // multiply+ceil — the discrete decision compares identical
    // operands, the hashSplit contract)
    val quotas = df.groupBy(col(stratumCol).as("__s"))
      .agg(ceil(count(lit(1)).cast("double") * lit(frac))
        .cast("long").as("__quota"))
    quotaSampleByHash(df, stratumCol, idCol, quotas, buckets)
  }

  /** The shared threshold machinery behind [[stratifiedHashExact]]
    * and [[mixtureSampleHash]]: keep each stratum's `__quota`
    * smallest rows under the (bucket, id) ordering, where `quotas`
    * is a strata-sized (`__s`, `__quota`) frame. See
    * [[stratifiedHashExact]] for the scale argument. */
  def quotaSampleByHash(df: DataFrame, stratumCol: String,
      idCol: String, quotas: DataFrame, buckets: Int = 1000000)
      : DataFrame = {
    val b = pmod(minstdHash(col(idCol)), lit(buckets.toLong))
    val hist = df.groupBy(col(stratumCol).as("__s"), b.as("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val wcum = Window.partitionBy("__s").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    // stratum joins are NULL-SAFE (<=>): a NULL stratum is a regular
    // stratum here, exactly as the window forms' PARTITION BY treats
    // it — a plain equi-join would silently drop every NULL-stratum
    // row while the oracle keeps them
    val bounds = hist
      .withColumn("__cum", coalesce(sum("__cnt").over(wcum), lit(0L)))
      .join(quotas.withColumnRenamed("__s", "__sq"),
        col("__s") <=> col("__sq"))
      .where(col("__cum") < col("__quota") &&
        col("__cum") + col("__cnt") >= col("__quota"))
      .select(col("__s"), col("__b").as("__tb"),
        (col("__quota") - col("__cum")).as("__r"))
    val withB = df.withColumn("__b", b)
      .join(broadcast(bounds), df(stratumCol) <=> col("__s"))
    val core = withB.where(col("__b") < col("__tb"))
    val resid = withB.where(col("__b") === col("__tb"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__s").orderBy(col(idCol))))
      .where(col("__rn") <= col("__r")).drop("__rn")
    core.unionByName(resid).drop("__s", "__b", "__tb", "__r")
  }

  /** [[mixtureSample]]'s exact-mixture semantics on the
    * [[quotaSampleByHash]] scale path: same availability scan and
    * largest-exact-mixture quota derivation, but the per-stratum
    * selection is the hash-threshold plan (map-only admission,
    * bounded residual) instead of a full-stratum ranking window —
    * the production form when one mixture stratum dominates the
    * corpus. Selection rule is the deterministic (bucket, id) draw,
    * not lowest-id. */
  def mixtureSampleHash(df: DataFrame, stratumCol: String,
      idCol: String, weights: Map[String, Double],
      buckets: Int = 1000000): DataFrame = {
    val quotas = mixtureQuotas(df, stratumCol, weights)
      .select(col("__stratum").as("__s"), col("__quota"))
    quotaSampleByHash(df, stratumCol, idCol, quotas, buckets)
  }

  /** Map-only deterministic split assignment: bucket = seeded
    * xxhash64(id) taken non-negative mod `buckets`. A row's bucket
    * never changes across runs, partitionings, or cluster sizes, so
    * downstream train/val/test membership is stable forever —
    * `pmod` keeps ANSI mode happy on Long.MinValue. */
  def splitBucket(id: Column, buckets: Int, seed: Long = 42L): Column =
    pmod(xxhash64(lit(seed), id), lit(buckets.toLong))

  /** Split a frame into (train, holdout) by hashed id:
    * `holdoutPerMille` of 1000 buckets go to the holdout side. */
  def hashSplit(df: DataFrame, idCol: String, holdoutPerMille: Int,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val b = splitBucket(col(idCol), 1000, seed)
    (df.where(b >= holdoutPerMille), df.where(b < holdoutPerMille))
  }

  /** Leakage-aware split assignment: a document's train/val/test
    * membership is decided by the MINSTD mille of its near-dup
    * CLUSTER representative (its own id when unclustered), so two
    * near-duplicate documents can NEVER straddle a split boundary —
    * the train→test contamination mode a naive per-doc hash split
    * creates whenever the corpus still contains near-dups (Lee et
    * al., "Deduplicating Training Data Makes Language Models
    * Better", §6: duplicates across the split inflate eval scores).
    *
    * `clusters` is the (idCol, cluster_id) frame the dedup family
    * produces ([[graft.ops.Dedup.duplicateClustersStar]]); a real
    * pipeline materializes it once and reuses it here. Scale shape:
    * one co-partitioned left join on the id (the cluster map is
    * data-sized — NOT broadcast), then a map-only mille on the
    * representative. Returns the docs frame plus `rep` and `split`.
    */
  def splitAssign(docs: DataFrame, clusters: DataFrame, idCol: String,
      trainPerMille: Int = 800, valPerMille: Int = 100): DataFrame = {
    require(trainPerMille + valPerMille <= 1000,
      "train + val shares exceed 1000 mille")
    val rep = docs.join(clusters, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
    val m = minstdMille(col("rep"))
    rep.withColumn("split",
      when(m < trainPerMille, lit("train"))
        .when(m < trainPerMille + valPerMille, lit("val"))
        .otherwise(lit("test")))
  }

  /** Per-split balance report over [[splitAssign]]: doc count,
    * distinct dedup-group count, and total chars — the numbers a
    * pipeline checks before accepting a split (shares near target,
    * no split starved of whole clusters). */
  def splitStats(docs: DataFrame, clusters: DataFrame, idCol: String,
      charsCol: String, trainPerMille: Int = 800,
      valPerMille: Int = 100): DataFrame =
    splitAssign(docs, clusters, idCol, trainPerMille, valPerMille)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_groups"),
        sum(col(charsCol)).cast("long").as("n_chars"))
      .orderBy("split")

  /** Split-LEAKAGE audit: given the corpus's near-dup pairs and its
    * cluster map, count pairs straddling a split boundary under (a)
    * the naive per-doc hash split and (b) [[splitAssign]]'s
    * cluster-representative split — the before/after table that
    * justifies the leakage-aware split to a release reviewer (Lee et
    * al. §6: near-dups across train/test inflate eval). The
    * cluster_rep row's n_cross is ZERO by construction — published,
    * not asserted, so a broken cluster map shows up as a nonzero
    * row, loudly.
    *
    * Scale shape: both assignments ride ONE pass over docs (the
    * splitAssign join), the pair frame joins the O(docs) assignment
    * on each endpoint, and everything after is a 1-row aggregate
    * fanned to 2 output rows. */
  def splitLeakage(docs: DataFrame, pairs: DataFrame,
      clusters: DataFrame, idCol: String, trainPerMille: Int = 800,
      valPerMille: Int = 100): DataFrame = {
    val m = minstdMille(col(idCol))
    val naive = when(m < trainPerMille, lit("train"))
      .when(m < trainPerMille + valPerMille, lit("val"))
      .otherwise(lit("test"))
    val a = splitAssign(docs, clusters, idCol, trainPerMille,
        valPerMille)
      .select(col(idCol).as("did"), naive.as("naive"),
        col("split").as("aware"))
    val pa = pairs
      .join(a.select(col("did").as("id_a"), col("naive").as("naive_a"),
        col("aware").as("aware_a")), Seq("id_a"))
      .join(a.select(col("did").as("id_b"), col("naive").as("naive_b"),
        col("aware").as("aware_b")), Seq("id_b"))
    val aggd = pa.agg(count(lit(1)).as("np"),
      sum(when(col("naive_a") =!= col("naive_b"), 1L).otherwise(0L))
        .as("xn"),
      sum(when(col("aware_a") =!= col("aware_b"), 1L).otherwise(0L))
        .as("xa"))
    def row(mode: String, x: Column) = aggd.select(
      lit(mode).as("mode"), col("np").as("n_pairs"),
      x.as("n_cross"),
      sig5(x.cast("double") / col("np")).as("cross_share"))
    row("cluster_rep", col("xa")).unionByName(row("naive", col("xn")))
      .orderBy("mode")
  }

  private val MinstdM = 2147483647L // 2^31 − 1 (MINSTD modulus)
  private val MinstdA = 48271L

  /** Deterministic pseudo-random hash in [0, 2³¹−1) from a row id via
    * two MINSTD (Lehmer) steps — pure BIGINT arithmetic, so unlike
    * xxhash64 it is re-derivable in ANY SQL engine (the oracle
    * recomputes it exactly). pmod bounds the id first, keeping every
    * product < 2³¹·48271 ≪ 2⁶³: no ANSI overflow for any id.
    * Injective for ids in [−12345, 2³¹−12346) — the Lehmer step is a
    * bijection on the field — so sketch paths can treat it as a
    * collision-free uniformizer at fixture scales. */
  def minstdHash(id: Column): Column = {
    val h0 = pmod(id + 12345L, lit(MinstdM))
    val h1 = pmod(h0 * MinstdA, lit(MinstdM))
    pmod(h1 * MinstdA, lit(MinstdM))
  }

  /** [[minstdHash]] folded to a mille bucket in [0, 1000). */
  def minstdMille(id: Column): Column =
    pmod(minstdHash(id), lit(1000L))

  /** Data mixing to target proportions: the largest sample achieving
    * EXACTLY the requested mixture `weights` given what each stratum
    * has available. scale = min_i(avail_i / w_i); stratum i keeps
    * floor(scale · w_i) rows — the binding stratum contributes all
    * (or nearly all) of its rows, every other stratum is downsampled
    * to match. Selection is deterministic: lowest `idCol` first.
    *
    * Scale shape: availability is one tiny groupBy (map-side
    * combined); the scale factor and per-stratum quotas are an
    * O(strata) reduction broadcast back; the final selection pays one
    * window shuffle partitioned by stratum. 100 TB switch:
    * [[mixtureSampleHash]] keeps the EXACT quotas without ever
    * sorting a stratum (hash-threshold admission, bounded residual);
    * [[weightedSample]] with weight = quota_i / avail_i is the
    * map-only approximate form (same expected mixture, binomial
    * deviation).
    *
    * Every `weights` key MUST have at least one row in the data: an
    * absent stratum makes the exact mixture unsatisfiable (its
    * availability is 0, so the only exact sample is empty), and the
    * query fails loudly at execution via `raise_error` rather than
    * silently emitting a mixture that omits the stratum. */
  def mixtureSample(df: DataFrame, stratumCol: String, idCol: String,
      weights: Map[String, Double]): DataFrame = {
    val quotas = mixtureQuotas(df, stratumCol, weights)
    val ranked = df.join(broadcast(quotas),
        df(stratumCol) === quotas("__stratum"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(stratumCol).orderBy(col(idCol))))
    ranked.where(col("__rn") <= col("__quota"))
      .drop("__stratum", "__quota", "__rn")
  }

  /** The largest-exact-mixture quota frame (`__stratum`, `__quota`)
    * shared by [[mixtureSample]] and [[mixtureSampleHash]]:
    * scale = min_i(avail_i / w_i), quota_i = floor(scale·w_i). A
    * weights key with no data rows fails loudly in-plan. */
  private[ops] def mixtureQuotas(df: DataFrame, stratumCol: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0.0),
      "weights must be positive")
    val w = weights.toSeq.sortBy(_._1)
      .map { case (k, v) => struct(lit(k).as("stratum"), lit(v).as("w")) }
    val wdf = df.sparkSession.range(1)
      .select(explode(array(w: _*)).as("t"))
      .select(col("t.stratum").as("__stratum"), col("t.w").as("__w"))
    val avail = df.groupBy(col(stratumCol).as("__stratum"))
      .agg(count(lit(1)).as("__avail"))
      // right join keeps every weights key; a key with no data rows
      // surfaces as a NULL availability → loud in-plan failure (no
      // extra driver action, the check rides the existing premise agg)
      .join(wdf, Seq("__stratum"), "right")
      .withColumn("__avail", when(col("__avail").isNull,
        raise_error(concat(
          lit("mixtureSample: weights stratum absent from data: "),
          col("__stratum")))).otherwise(col("__avail")))
    val scale = avail
      .agg(min(col("__avail").cast("double") / col("__w")).as("__scale"))
    avail.crossJoin(broadcast(scale))
      .select(col("__stratum"),
        floor(col("__scale") * col("__w")).cast("long").as("__quota"))
  }

  /** Per-row weighted subsampling: keep a row iff its deterministic
    * mille bucket falls under floor(weight·1000) — rows with weight
    * ≥ 1 always survive, weight ≤ 0 never. The acceptance decision is
    * a map-only row-local predicate (no shuffle, stable under
    * repartitioning), the quality-proportional sampling stage of a
    * corpus pipeline. Returns the kept rows with the bucket and
    * threshold exposed for audit. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column)
      : DataFrame = {
    val m = minstdMille(col(idCol))
    val thr = floor(weight * 1000.0).cast("long")
    df.withColumn("mille", m)
      .withColumn("w_mille", thr)
      .where(col("mille") < col("w_mille"))
  }

  /** Temperature-scaled mixture quotas — the multilingual/source
    * re-balancing rule (mBERT/XLM-R style): stratum s gets a share
    * ∝ n_s^invT of `budget`, so invT = 1 reproduces natural
    * proportions, invT → 0 approaches uniform, and 0 < invT < 1
    * up-samples the tail without letting the head dominate. Emits
    * one row per stratum: (stratum, n_docs, share, quota).
    *
    * Scale shape: ONE count aggregation (strata-sized result) and
    * closed-form arithmetic — no second scan, no window. Discrete
    * determinism: the share is sig5-ROUNDED before the quota
    * multiply+floor, so the cross-engine contract rests on rounded
    * operands (the pow/sum ulp noise never reaches the floor). */
  def temperatureQuotas(df: DataFrame, stratumCol: String,
      budget: Long, invT: Double = 0.5): DataFrame = {
    require(invT > 0.0 && budget > 0L, "invT and budget must be > 0")
    val counts = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("wgt", pow(col("n_docs").cast("double"), lit(invT)))
    val tot = counts.agg(sum("wgt").as("tw"))
    counts.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_docs"),
        graft.det.Sig.sig5(col("wgt") / col("tw")).as("share"))
      .withColumn("quota",
        floor(col("share") * budget.toDouble).cast("long"))
      .orderBy("stratum")
  }

  /** Loss-aware mixture reweighting — the DoReMi-family signal
    * (Xie et al., "DoReMi: Optimizing Data Mixtures Speeds Up
    * Language Model Pretraining", NeurIPS 2023) in its simplest
    * deployable form: domains whose documents score HIGH loss get
    * UPWEIGHTED, w_s = exp((nll_s − min nll)/T), share = w/Σw,
    * quota = ⌊share·budget⌋. The loss here is the corpus-unigram
    * per-token NLL ([[Search.unigramNll]] — self-contained and
    * oracle-replayable); a real run swaps in model losses keyed by
    * doc id, and the whole reweighting plan downstream of the score
    * column is unchanged.
    *
    * Scale shape: the NLL join is the token-stream shuffle
    * unigramNll already pays; everything after is O(sources) rows.
    * Discrete determinism: per-doc and per-source NLLs are sig5
    * canon, the exp/ratio arithmetic runs on canon operands, the
    * share is re-canonicalized, and the quota floors the ROUNDED
    * share (the temperatureQuotas contract). */
  def mixtureByLoss(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, budget: Long, temp: Double = 0.5): DataFrame = {
    require(budget > 0L && temp > 0.0, "budget and temp must be > 0")
    val nll = Search.unigramNll(docs, idCol, textCol)
      .select(col("doc_id"), col("nll"))
    val bySrc = nll.join(docs.select(col(idCol).as("doc_id"),
        col(srcCol).as("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        graft.det.Sig.sig5(avg("nll")).as("nll"))
    val mn = bySrc.agg(min("nll").as("mn"))
    val w = bySrc.crossJoin(broadcast(mn))
      .withColumn("w", exp((col("nll") - col("mn")) / lit(temp)))
    val tw = w.agg(sum("w").as("tw"))
    w.crossJoin(broadcast(tw))
      .select(col("source"), col("n_docs"), col("nll"),
        graft.det.Sig.sig5(col("w") / col("tw")).as("share"))
      .withColumn("quota",
        floor(col("share") * budget.toDouble).cast("long"))
      .orderBy("source")
  }

  /** Diversity-aware selection (the prototype/coreset shape behind
    * SemDeDup-style "keep one per semantic region" and k-center
    * data-selection): partition the embedding space into Voronoi
    * cells around a seeded codebook (corpus rows [seedLo, seedHi) —
    * the [[Similarity.ivfAssign]] machinery, no RNG), join each
    * vector's row in `quality` (any per-id score: text quality,
    * perplexity, n_chars), and keep the single best-quality member
    * of every cell — maximal coverage of the space per selected row,
    * instead of the frequency-proportional picks a random sample
    * makes.
    *
    * Output: (cell, vec_id, quality, n_members), one row per
    * non-empty cell.
    *
    * Scale shape: cell assignment is a MAP-ONLY argmin against the
    * broadcast codebook (no shuffle, no row expansion); the per-cell
    * winner is one windowless struct-min aggregation over O(cells)
    * groups; the quality join shuffles on the 8-byte id (or
    * broadcasts when quality is small). Nothing scales with corpus
    * size except the one assignment pass.
    *
    * Discrete determinism: assignment scores are sig5-rounded with
    * centroid-id tie-break (the IVF contract); the per-cell winner
    * orders by (quality DESC, id ASC) via min of struct(−quality,
    * id) — both deterministic and oracle-replayable. */
  def diverseByCell(emb: DataFrame, idCol: String, vecCol: String,
      quality: DataFrame, qIdCol: String, qCol: String,
      seedLo: Long, seedHi: Long, dim: Int = 64): DataFrame = {
    val cents = Similarity.seedCodebook(emb, idCol, vecCol,
      seedLo, seedHi)
    val assigned = Similarity.ivfAssign(emb, idCol, vecCol, cents, dim)
    val scored = assigned.join(
      quality.select(col(qIdCol).cast("long").as("vec_id"),
        col(qCol).cast("double").as("q")), "vec_id")
    scored.groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("q")).as("nq"), col("vec_id").as("vid")))
          .as("w"))
      .select(col("cell"), col("w.vid").as("vec_id"),
        (-col("w.nq")).as("quality"), col("n_members"))
      .orderBy("cell")
  }
}
