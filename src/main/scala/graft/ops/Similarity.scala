package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.det.Sig.sig5

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query
  * set against the full corpus; one scan, no shuffle of the corpus.
  * Scale path: LSH with deterministic random-hyperplane signatures —
  * bucket join prunes the corpus to colliding candidates, trading
  * recall for a ~2^bits reduction in scored pairs; IVF-flat cells
  * are the data-adaptive alternative. All variants rank by
  * sig5-rounded cosine with vec_id tie-break so results are fully
  * deterministic. All dot products run through the native codegen'd
  * [[graft.functions.ArrayDot]] loop in doubles (the composed
  * zip_with + aggregate form is kept only as a cross-check — HOF
  * lambdas evaluate interpreted per element).
  */
object Similarity {

  /** Σ aᵢ·bᵢ in doubles via the native codegen'd
    * [[graft.functions.ArrayDot]] loop (identical index-order fold as
    * the composed zip_with+aggregate form, ~10× faster — the HOF
    * lambdas evaluate interpreted per element). */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDot.array_dot(a, b)

  /** Composed-builtins dot product, kept for cross-checking the
    * native expression in tests. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Shared ranking tail: scored (qid, vid, cosine) candidates →
    * (query_id, rnk, neighbor_id, cosine), the k best per query.
    *
    * Scale shape: a bounded [[graft.functions.TopKByScore]] heap
    * aggregate, NOT `row_number() OVER (PARTITION BY qid ...)` — the
    * window form sorts each query's entire candidate set (O(corpus)
    * for brute force) through one task per query; the aggregate
    * prunes to O(k) state map-side with a linear O(k) final merge,
    * then explodes only the ≤k survivors. Same rank-after-bound
    * contract as the vocab/BPE/DSIR heads. Determinism: cosine is
    * sig5-rounded upstream; ties break on ascending vid inside the
    * aggregate's total order. */
  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(graft.functions.TopKByScore.top_k(k)(
        col("cosine"), col("vid")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("qid").as("query_id"),
        (col("p") + 1).cast("long").as("rnk"),
        col("e._2").as("neighbor_id"), col("e._1").as("cosine"))
      .orderBy("query_id", "rnk")

  /** Margin-based parallel-pair mining (Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL 2019): cross-side candidate pairs score
    * margin = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2) — the
    * RATIO margin that normalizes away hubness (a target close to
    * everything inflates its own denominator), the selection rule
    * bitext/translation-pair mining pipelines use. Emits the top
    * `topM` pairs: (rnk, src_id, tgt_id, cosine, margin).
    *
    * Scale shape: the cross-side score matrix is materialized ONCE
    * (|X|·|Y| pairs — at corpus scale you prune candidates with the
    * ANN family first and feed only the pruned pairs; the margin
    * math itself is one pair pass + two bounded [[graft.functions
    * .TopKByScore]] aggregations — O(k) state per side id, no
    * windows, no unbounded sort — joined back by side id). Head via
    * orderBy().limit(topM) (TakeOrderedAndProject), rank stamped
    * after the limit.
    *
    * Determinism: cosines are sig5-rounded BEFORE the neighbor
    * heaps (rounded-operand top-k, id tie-break); the k-neighbor
    * averages feed a guarded division (NULL when the mean neighbor
    * cosine is non-positive — ANSI-safe, and margin is meaningless
    * there) and the margin is sig5-rounded again; final ties break
    * (margin DESC, src_id, tgt_id). */
  def marginMine(x: DataFrame, y: DataFrame, idCol: String,
      vecCol: String, dim: Int = 64, k: Int = 4, topM: Int = 25)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && topM >= 1, "k and topM must be >= 1")
    def side(df: DataFrame, id: String, v: String, n: String) =
      df.where(size(col(vecCol)) === dim)
        .select(col(idCol).as(id), col(vecCol).as(v),
          norm(col(vecCol)).as(n))
    val pairs = Materialize.materialize(
      side(x, "xid", "xv", "xn")
        .crossJoin(side(y, "yid", "yv", "yn"))
        .select(col("xid"), col("yid"),
          sig5(cosine(dot(col("xv"), col("yv")), col("xn"),
            col("yn"))).as("cos"))
        .where(col("cos").isNotNull))
    marginFromPairs(pairs, k, topM)
  }

  /** The margin math over a PRE-SCORED candidate frame
    * (xid, yid, cos — cosines already sig5-rounded) — the corpus-
    * scale entry point: feed the ANN family's pruned candidates
    * (LSH buckets / IVF probes) instead of [[marginMine]]'s dense
    * cross matrix, and the whole computation is one pair pass + two
    * bounded heap aggregations. Neighbor means are then over the
    * SURVIVING candidates per side — exactly the mining-pipeline
    * practice (the margin is computed over the retrieved k-NN list,
    * not the full matrix). */
  def marginFromPairs(pairs: DataFrame, k: Int = 4, topM: Int = 25)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && topM >= 1, "k and topM must be >= 1")
    def nnAvg(id: String, other: String, as: String) = pairs
      .groupBy(id)
      .agg(graft.functions.TopKByScore.top_k(k)(
        col("cos"), col(other)).as("t"))
      .select(col(id), explode(col("t")).as("e"))
      .groupBy(id).agg(avg(col("e._1")).as(as))
    val m = pairs
      .join(nnAvg("xid", "yid", "ax"), "xid")
      .join(nnAvg("yid", "xid", "ay"), "yid")
      .select(col("xid"), col("yid"), col("cos"),
        sig5(when((col("ax") + col("ay")) / 2.0 > 0.0,
          col("cos") / ((col("ax") + col("ay")) / 2.0))).as("margin"))
      .where(col("margin").isNotNull)
    val top = m.orderBy(col("margin").desc, col("xid"), col("yid"))
      .limit(topM)
    val wR = Window.orderBy(col("margin").desc, col("xid"), col("yid"))
    top.withColumn("rnk", row_number().over(wR).cast("long"))
      .select(col("rnk"), col("xid").as("src_id"),
        col("yid").as("tgt_id"), col("cos").as("cosine"),
        col("margin"))
      .orderBy("rnk")
  }

  /** ANN-PRUNED margin mining — the corpus-scale form of
    * [[marginMine]]: candidate pairs come from hyperplane-LSH bucket
    * collisions (the [[annTopK]] machinery) instead of the dense
    * |X|·|Y| cross matrix, then [[marginFromPairs]] runs the margin
    * math over the survivors. This is exactly the mining-pipeline
    * practice (Artetxe & Schwenk §3.2 retrieve k-NN candidates with
    * an index, then margin-score the retrieved lists).
    *
    * Scale shape: both sides compute their bucket in one map-only
    * pass; the X side explodes into its bucket + the `bits`
    * Hamming-1 probe buckets (the [[annTopK]] multiprobe — a
    * (bits+1)× bounded replication of ONE side, never the corpus
    * cross product) and the candidate join is a plain shuffle join
    * on the 8-byte bucket key — pairs scored = colliding pairs only.
    * Each probe bucket is distinct and each Y vector has exactly one
    * bucket, so no pair is scored twice. The pair frame is
    * materialized once ([[marginFromPairs]] reads it three times).
    * The |X|·|Y| materialize of the dense form appears NOWHERE in
    * this plan.
    *
    * Determinism: same contracts as [[marginMine]] (sig5-rounded
    * cosines before the bounded neighbor heaps, guarded ratio
    * margin, rounded again, (margin DESC, src, tgt) total order) —
    * the bucket decision is the [[lshBucket]] `proj ≥ 1e-12`
    * threshold the oracle replays with identical plane literals. */
  def marginMineAnn(x: DataFrame, y: DataFrame, idCol: String,
      vecCol: String, dim: Int = 64, bits: Int = 8, k: Int = 4,
      topM: Int = 25, seed: Long = 42L): DataFrame = {
    require(k >= 1 && topM >= 1, "k and topM must be >= 1")
    val planes = hyperplanes(bits, dim, seed)
    def side(df: DataFrame, id: String, v: String, n: String,
        b: String) =
      df.where(size(col(vecCol)) === dim)
        .select(col(idCol).as(id), col(vecCol).as(v),
          norm(col(vecCol)).as(n),
          lshBucket(col(vecCol), planes).as(b))
    val ys = side(y, "yid", "yv", "yn", "yb")
    // multiprobe the X side: its own bucket + the bits Hamming-1
    // neighbors (one near-zero projection is the dominant miss mode)
    val xp = side(x, "xid", "xv", "xn", "xb")
      .select(col("xid"), col("xv"), col("xn"),
        explode(array(col("xb") +: (0 until bits).map(j =>
          col("xb").bitwiseXOR(lit(1L << j))): _*)).as("probe"))
    val pairs = Materialize.materialize(
      ys.join(xp, col("yb") === col("probe"))
        .select(col("xid"), col("yid"),
          sig5(cosine(dot(col("xv"), col("yv")), col("xn"),
            col("yn"))).as("cos"))
        .where(col("cos").isNotNull))
    marginFromPairs(pairs, k, topM)
  }

  /** Cosine that is NULL (not NaN) for zero-norm vectors: 0/0 = NaN
    * sorts ABOVE every number in Spark and passes >= thresholds, so a
    * failed-encoder all-zero embedding would otherwise rank as the #1
    * neighbor of every query. */
  def cosine(dp: Column, na: Column, nb: Column): Column =
    when(na > 0.0 && nb > 0.0, dp / (na * nb))

  /** Brute-force cosine top-k: rows with `idCol` < `numQueries` are
    * the query set (broadcast), every other row a candidate. Returns
    * (query_id, rnk, neighbor_id, cosine). */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    val base = df.select(col(idCol).as("vid"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val q = base.where(col("vid") < numQueries)
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scored = base.join(broadcast(q), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        sig5(cosine(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
          .as("cosine"))
      .where(col("cosine").isNotNull)
    rankTopK(scored, k)
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-similar vectors with a DIFFERENT label — the pairs a
    * contrastive loss learns the most from (high similarity, wrong
    * class). Identical plan shape to [[cosineTopK]] (broadcast query
    * side, codegen'd dot, bounded [[rankTopK]] heads) with the label
    * inequality pushed into the candidate filter, so non-negative
    * rows never reach the heap. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, numQueries: Int = 5, k: Int = 10): DataFrame = {
    val base = df.select(col(idCol).as("vid"), col(vecCol).as("v"),
      col(labelCol).as("lbl"), norm(col(vecCol)).as("nrm"))
    val q = base.where(col("vid") < numQueries)
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("lbl").as("qlbl"), col("nrm").as("qnrm"))
    val scored = base.join(broadcast(q),
        col("vid") =!= col("qid") &&
          // a NULL label can't PROVE a different class — excluded
          col("lbl").isNotNull && col("qlbl").isNotNull &&
          col("lbl") =!= col("qlbl"))
      .select(col("qid"), col("vid"),
        sig5(cosine(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
          .as("cosine"))
      .where(col("cosine").isNotNull)
    rankTopK(scored, k)
  }

  /** Shared dim guard for every LSH entry point: a dim mismatch makes
    * the plane projection NULL, which would collapse every vector
    * into bucket 0 — a silent all-pairs join. Fails fast on the first
    * observed non-null vector; returns false when the input has no
    * non-null vectors (callers then short-circuit to empty). */
  private[ops] def checkDim(df: DataFrame, vecCol: String, dim: Int)
      : Boolean = {
    val firstDim = df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).take(1)
    firstDim.headOption.foreach(r => require(r.getInt(0) == dim,
      s"embedding dim ${r.getInt(0)} does not match configured dim $dim"))
    firstDim.nonEmpty
  }

  /** Deterministic random hyperplanes: component d of plane j is a
    * fixed function of (seed, j, d) via a seeded RNG — reproducible
    * across sessions, no runtime entropy. */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L)
      : Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bits, dim)(rng.nextGaussian())
  }

  /** LSH bucket signature: bit j = sign(v · plane_j), each projection
    * through the native codegen'd dot loop. The sign test follows the
    * engine contract for discrete decisions (as ivfTopK ranks rounded
    * cell scores): the bit is set iff sig5(proj) > 0, which reduces
    * ALGEBRAICALLY to `proj ≥ 1e-12` — for x ≥ 1e-12, x/10^⌊log10 x⌋
    * ∈ [1,10) so the rounded mantissa is ≥ 1; below the 1e-12 cutoff
    * sig5 collapses to exactly 0. The threshold form costs nothing
    * per row (no log/pow/round) while keeping the cross-engine
    * guarantee: a raw projection differing by one ulp between Spark
    * and DuckDB flips the decision only if it straddles 1e-12 itself,
    * the same negligible boundary the sig5 bucket has. The oracle SQL
    * applies the identical `pr >= 1e-12` test. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val proj = graft.functions.ArrayDot.array_dot(vec, typedLit(p))
      when(proj >= 1e-12, lit(1L << j)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** Sorted (score, cid) cell array of a vector column against a
    * broadcast-size centroid codebook `(cid, centroid, |centroid|²)`.
    * The ranking key |c|² − 2·v·c (per-row-constant |v|² dropped) is
    * sig5-ROUNDED on both engines (engine contract: every discrete
    * decision — argmin cell and the nprobe cutoff — ranks rounded
    * values; raw doubles differ by an ULP between Spark's sequential
    * dot and DuckDB's join-order sum, which could flip the assignment
    * of a near-equidistant vector); ties break on centroid id via the
    * struct's lexicographic order. */
  def cellArray(vec: Column, cents: Seq[(Long, Array[Double], Double)])
      : Column =
    array_sort(array(cents.map { case (cid, cv, cn2) =>
      struct(
        sig5(lit(cn2) - lit(2.0) * graft.functions.ArrayDot
          .array_dot(vec, typedLit(cv))).as("score"),
        lit(cid).as("cid"))
    }: _*))

  /** Codebook rows from the data itself: the rows with `idCol` in
    * [lo, hi), collected once as O(C·dim) driver/broadcast state —
    * the seeding contract shared with [[ivfTopK]] / KMeansOp. */
  def seedCodebook(df: DataFrame, idCol: String, vecCol: String,
      lo: Long, hi: Long): Seq[(Long, Array[Double], Double)] =
    df.where(col(idCol) >= lo && col(idCol) < hi)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map { r =>
        val cv = r.getSeq[Double](1).toArray
        (r.getLong(0), cv, cv.map(x => x * x).sum)
      }
      .sortBy(_._1).toSeq

  /** [[seedCodebook]] refined by `iters − 1` Lloyd rounds (the
    * [[KMeansOp]] machinery: map-only assignment, bounded recompute
    * shuffle) — the TRAINED coarse quantizer an IVF index actually
    * deploys; iters = 1 is exactly the seeded codebook. Entries keep
    * their seed-row cid (cell identity and tie-break survive
    * training); cells emptied by a round drop out. */
  def trainedCodebook(df: DataFrame, idCol: String, vecCol: String,
      lo: Long, hi: Long, dim: Int, iters: Int)
      : Seq[(Long, Array[Double], Double)] =
    KMeansOp.trainedCentroids(
        KMeansOp.vecBase(df, idCol, vecCol, dim), lo, hi, dim, iters)
      .map { case (cid, cv) => (cid, cv, cv.map(x => x * x).sum) }
      .toSeq

  /** Map-only IVF cell assignment against an explicit codebook:
    * (vec_id, cell) per input vector — the indexing pass of an
    * IVF index build, usable verbatim on a STREAMING DataFrame
    * (stateless projection).
    * Vectors of the wrong length are dropped (same guard as every
    * vector entry point). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Array[Double], Double)], dim: Int = 64)
      : DataFrame = {
    require(cents.nonEmpty, "empty codebook")
    df.where(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("vec_id"),
        element_at(cellArray(col(vecCol), cents), 1)
          .getField("cid").as("cell"))
  }

  /** IVF(-flat) ANN top-k: partition the corpus into Voronoi cells
    * around a centroid codebook — the corpus rows with ids in
    * [centroidLo, centroidHi), optionally refined by `iters − 1`
    * Lloyd rounds ([[trainedCodebook]]; both forms are closed-form
    * functions of the data the oracle recomputes relationally) —
    * and search only the `nprobe` cells nearest each query.
    *
    * Scale shape: the codebook is tiny and driver/broadcast-resident
    * (as in any IVF index), so cell assignment is a MAP-ONLY pass —
    * per row, argmin over C inline `array_dot` scores via
    * lexicographic struct-`least` (no shuffle, no row expansion; a
    * C-way crossJoin + window would shuffle n·C rows). Ranking key is
    * |c|² − 2·v·c (per-row-constant |v|² dropped), ties broken by
    * centroid id. Probed-cell candidates are then scored exactly and
    * top-k ranked — the second ANN family next to the hyperplane-LSH
    * path, trading its hash buckets for data-adaptive cells. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      numQueries: Int = 5, k: Int = 10, centroidLo: Long = 100L,
      centroidHi: Long = 116L, nprobe: Int = 4, dim: Int = 64,
      iters: Int = 1): DataFrame = {
    if (!checkDim(df, vecCol, dim))
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("rnk"),
          lit(0L).as("neighbor_id"), lit(0.0).as("cosine")).limit(0)
    val base = df.where(size(col(vecCol)) === dim)
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
    // iters > 1: Lloyd-trained coarse quantizer (the deployed IVF
    // shape); iters = 1: the raw seed rows, byte-identical to the
    // original seeded path
    val cents =
      if (iters <= 1) seedCodebook(base, "vid", "v", centroidLo,
        centroidHi)
      else trainedCodebook(base, "vid", "v", centroidLo, centroidHi,
        dim, iters)
    require(cents.nonEmpty,
      s"no centroid rows with id in [$centroidLo, $centroidHi)")
    // the C scores are computed ONCE into the sorted array; argmin =
    // element 1 (struct order = (score, cid) lexicographic). The
    // array alias is referenced once per consumer, so CollapseProject
    // cannot duplicate the C dot products.
    val withCells = base.select(col("vid"), col("v"), col("nrm"),
      cellArray(col("v"), cents).as("cells"))
    val assigned = withCells.select(col("vid"), col("v"), col("nrm"),
      element_at(col("cells"), 1).getField("cid").as("cell"))
    // query probes: nprobe nearest cells of the (tiny) query rows
    val probes = withCells.where(col("vid") < numQueries)
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"),
        explode(slice(col("cells"), 1, nprobe)).as("p"))
      .select(col("qid"), col("qv"), col("qnrm"),
        col("p.cid").as("pcell"))
    val scored = assigned.join(broadcast(probes),
        col("vid") =!= col("qid") && col("cell") === col("pcell"))
      .select(col("qid"), col("vid"),
        sig5(cosine(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
          .as("cosine"))
      .where(col("cosine").isNotNull)
    rankTopK(scored, k)
  }

  /** Embedding outlier screen: per vector, the squared distance to
    * its assigned (Lloyd-trained) coarse centroid, flagged when it
    * exceeds its CELL's p-th percentile — corrupt or mislabeled
    * embeddings sit far from every center, and a per-cell threshold
    * keeps a naturally diffuse cluster from flooding the report.
    * dist² = sig5(cellScore + |v|²) where cellScore is the
    * sig5-rounded |c|²−2v·c ranking canon (the discrete outlier
    * decision compares rounded values — the engine contract).
    *
    * The codebook is SEEDED (iters = 1) by default, deliberately:
    * Lloyd training is not outlier-robust — an extreme vector drags
    * its cell's mean toward itself and, dragged far enough, becomes
    * the sole member of its own cell, where a per-cell percentile
    * can never flag it (its threshold IS its own distance; observed
    * on a planted 100× vector in the unit test). Frozen seed
    * centroids are corpus vectors an outlier cannot move, so the
    * screen stays sensitive exactly to what it is hunting.
    *
    * Scale shape: assignment is the map-only broadcast-codebook
    * pass; thresholds are an O(cells) aggregate broadcast back; the
    * exact per-cell percentile state is bounded by cell populations
    * (use a GK sketch per cell if cells get huge). */
  def embedOutliers(df: DataFrame, idCol: String, vecCol: String,
      centroidLo: Long = 100L, centroidHi: Long = 116L, dim: Int = 64,
      iters: Int = 1, p: Double = 0.99): DataFrame = {
    val base = df.where(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
    val cents =
      if (iters <= 1) seedCodebook(base, "vec_id", "v", centroidLo,
        centroidHi)
      else trainedCodebook(base, "vec_id", "v", centroidLo, centroidHi,
        dim, iters)
    require(cents.nonEmpty,
      s"no centroid rows with id in [$centroidLo, $centroidHi)")
    val scored = base
      .select(col("vec_id"), dot(col("v"), col("v")).as("vn2"),
        element_at(cellArray(col("v"), cents), 1).as("best"))
      .select(col("vec_id"), col("best").getField("cid").as("cell"),
        sig5(col("best").getField("score") + col("vn2")).as("dist2"))
    val thr = scored.groupBy("cell")
      .agg(element_at(graft.functions.ExactPercentile.pctl(
        col("dist2"), Seq(p)), 1).as("praw"))
      .select(col("cell"), sig5(col("praw")).as("p_thresh"))
    scored.join(broadcast(thr), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("dist2"), col("p_thresh"),
        when(col("dist2") > col("p_thresh"), 1L).otherwise(0L)
          .as("is_outlier"))
      .orderBy("vec_id")
  }

  /** ANN top-k via hyperplane LSH: score only candidates colliding on
    * one of the query's probe buckets. With `multiProbe` (default),
    * each query also probes the `bits` neighboring buckets at Hamming
    * distance 1 — a vector one sign-flip away from the query's bucket
    * (the dominant miss mode: one near-zero projection) is still
    * found, fixing the single-probe recall cliff for a (bits+1)×
    * candidate cost instead of the 2^bits cost of shorter codes.
    * Probe buckets are distinct values and each corpus vector has
    * exactly one bucket, so no candidate is scored twice. Approximate
    * — recall depends on `bits`/probing; the 100 TB path where brute
    * force is quadratic-infeasible. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      numQueries: Int = 5, k: Int = 10, bits: Int = 8,
      dim: Int = 64, multiProbe: Boolean = true): DataFrame = {
    // fail fast on a dim mismatch; drop stragglers of other lengths
    if (!checkDim(df, vecCol, dim))
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("rnk"),
          lit(0L).as("neighbor_id"), lit(0.0).as("cosine")).limit(0)
    val planes = hyperplanes(bits, dim)
    val base = df.where(size(col(vecCol)) === dim)
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"),
        lshBucket(col(vecCol), planes).as("bucket"))
    val q0 = base.where(col("vid") < numQueries)
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
    // multiprobe: explode the (tiny, broadcast) query side into its
    // probe set — the corpus is never replicated
    val q =
      if (!multiProbe) q0.withColumnRenamed("qbucket", "probe")
      else q0.select(col("qid"), col("qv"), col("qnrm"),
        explode(array(col("qbucket") +:
          (0 until bits).map(j =>
            col("qbucket").bitwiseXOR(lit(1L << j))): _*)).as("probe"))
    val scored = base.join(broadcast(q),
        col("vid") =!= col("qid") && col("bucket") === col("probe"))
      .select(col("qid"), col("vid"),
        sig5(cosine(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
          .as("cosine"))
      .where(col("cosine").isNotNull)
    rankTopK(scored, k)
  }
}
