package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.det.Sig
import graft.ops._
import graft.pipeline.CorpusPipeline

/** Embedding similarity / ANN / PQ / k-means queries. Split from the monolithic Extensions
  * registry (round 11) — pure move, zero behavior; every
  * query keeps its DuckDB oracle. */
object EmbedQueries {

  import Shared._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // embedding outlier screen: distance-to-trained-centroid above
    // the per-cell p99 — corrupt vectors sit far from every center
    "embed_outliers" -> ((s, dir) =>
      Similarity.embedOutliers(t(s, dir, "embeddings"), "vec_id",
        "embedding")),
    // ---- similarity search ----
    "embed_cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", numQueries = 5, k = 10)),
    // hard-negative mining: per query the most-similar DIFFERENT-
    // label vectors (what a contrastive loss learns from) — the
    // cosineTopK plan with the label inequality in the candidate
    // filter, so non-negatives never reach the heap
    "embed_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", numQueries = 5, k = 10)),
    "embed_ann_lsh" -> ((s, dir) =>
      Similarity.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        numQueries = 5, k = 10, bits = 8, dim = 64, multiProbe = true)),
    // the recall trio's third member: multiprobe-LSH vs brute top-10
    // (IVF and PQ twins above) — the bucketing-quality number that
    // motivated the IVF default (BASELINE: LSH 0.10 vs IVF 0.50 on
    // the hardest fixture regime)
    "embed_lsh_recall" -> ((s, dir) => {
      val bf = Similarity.cosineTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", numQueries = 5, k = 10)
      val lsh = Similarity.annTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", numQueries = 5, k = 10, bits = 8, dim = 64,
        multiProbe = true)
      bf.select(col("query_id"), col("neighbor_id"))
        .join(lsh.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(coalesce(sum("hit"), lit(0L)).as("n_common"))
        .select(col("query_id"), col("n_common"),
          Sig.sig5(col("n_common").cast("double") / 10.0)
            .as("recall10"))
        .orderBy("query_id")
    }),
    // IVF-flat ANN: Voronoi cells around designated corpus rows (ids
    // 100..115) as the codebook, nprobe=4 — the oracle recomputes the
    // identical cells relationally (no literals needed)
    // IVF with a TRAINED coarse quantizer (iters = 2: seed rows
    // refined by one Lloyd round — the deployed IVF shape, like the
    // PQ family's trained codebooks); the oracle replays the
    // training round relationally
    "embed_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        numQueries = 5, k = 10, centroidLo = 100L, centroidHi = 116L,
        nprobe = 4, dim = 64, iters = 2)),
    // ANN recall as DATA: per query, |IVF top-10 ∩ brute top-10|/10
    // — the index-quality number an operator tunes nprobe against,
    // computed from the SAME two declared queries (literally composed
    // so the recall view can never drift from what it audits)
    "embed_ann_recall" -> ((s, dir) => {
      val bf = Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", numQueries = 5, k = 10)
      val ann = Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", numQueries = 5, k = 10, centroidLo = 100L,
        centroidHi = 116L, nprobe = 4, dim = 64, iters = 2)
      bf.select(col("query_id"), col("neighbor_id"))
        .join(ann.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(coalesce(sum("hit"), lit(0L)).as("n_common"))
        .select(col("query_id"), col("n_common"),
          graft.det.Sig.sig5(col("n_common").cast("double") / 10.0)
            .as("recall10"))
        .orderBy("query_id")
    }),
    // margin-based bitext pair mining (Artetxe & Schwenk ratio
    // margin): even vec_ids as the source side, odd as the target —
    // cross-side cosine matrix, k-NN mean normalization on BOTH
    // sides (hubness correction), top-25 pairs by rounded margin
    "embed_margin_mine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") < 2000L)
      Similarity.marginMine(
        e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", dim = 64, k = 4, topM = 25)
    }),
    // the SCALE form of margin mining as a first-class query (the
    // _hash-twin precedent): candidates from hyperplane-LSH bucket
    // collisions with X-side multiprobe — NO |X|·|Y| materialize
    // anywhere in the plan — then the identical margin math over the
    // survivors; the oracle replays buckets (same plane literals),
    // probes, candidate join, and heaps relationally
    "embed_margin_mine_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") < 2000L)
      Similarity.marginMineAnn(
        e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", dim = 64, bits = 8, k = 4, topM = 25)
    }),
    // embedding-quality eval against the labeled column (the checks
    // run BEFORE trusting a space for semantic dedup / ANN): k-NN
    // majority-vote label agreement — integer votes, (cnt DESC,
    // label ASC) argmax as a struct max, no windows
    "embed_knn_label" -> ((s, dir) =>
      EmbedEval.knnLabelAgreement(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", "label", numQueries = 20, k = 10)),
    // per-class separability: cohesion (members → own centroid) vs
    // separation (nearest OTHER centroid) — centroids are one
    // bounded O(L·dim) aggregation collected as broadcast state,
    // cohesion a map-only pass
    "embed_label_stats" -> ((s, dir) =>
      EmbedEval.labelStats(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", "label", dim = 64)),
    // cluster purity: do the seeded kmeans cells (the embed_kmeans
    // seed rows) track the label classes? purity ≈ 1 means
    // cell-scoped dedup/sampling decisions are class-scoped
    "embed_cluster_purity" -> ((s, dir) =>
      EmbedEval.clusterPurity(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", "label", seedLo = 120L,
        seedHi = 136L, dim = 64)),
    // the IVF index-build pass on its own: map-only nearest-cell
    // assignment of every corpus vector against the broadcast
    // codebook; one scalar row per vector
    "embed_ivf_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfAssign(emb, "vec_id", "embedding",
        Similarity.seedCodebook(emb, "vec_id", "embedding", 100L, 116L),
        dim = 64).orderBy("vec_id")
    }),
    // int8 scalar quantization report: codes are bit-identical across
    // engines (floor(x+0.5) on identical doubles), only the error
    // averages are rounded
    "embed_quantize" -> ((s, dir) =>
      VectorQuant.quantizeStats(t(s, dir, "embeddings"), "embedding",
        dim = 64)),
    // seeded 2-iteration Lloyd k-means: designated corpus rows
    // 120..135 as centroids (no RNG), assignment by sig5-rounded
    // score argmin — the oracle unrolls both iterations relationally
    "embed_kmeans" -> ((s, dir) =>
      KMeansOp.kmeansStats(t(s, dir, "embeddings"), "vec_id",
        "embedding", seedLo = 120L, seedHi = 136L, iters = 2)),
    // the Lloyd convergence CONTRACT as data: per-iteration WCSS
    // (non-increasing by construction) and squared centroid movement
    // — the trajectory a user reads to size the iteration count; the
    // oracle replays both iterations and the inter-codebook shift
    "embed_kmeans_convergence" -> ((s, dir) =>
      KMeansOp.kmeansConvergence(t(s, dir, "embeddings"), "vec_id",
        "embedding", seedLo = 120L, seedHi = 136L, iters = 2)),
    // product quantization with a LEARNED codebook: 32 sub-centroids
    // per subspace initialized from corpus seed rows and Lloyd-
    // trained for one recompute round (iters = 2 — the actual PQ
    // training loop, per-subspace k-means); map-only encode, one
    // scalar row per (vec_id, subspace, code) — the nested
    // codes-array form crashed the driver's pandas comparator
    // (unhashable ndarray), so the harness-facing query posexplodes.
    // The oracle re-derives the training round relationally (the
    // embed_kmeans unrolling), so the codebook itself is verified.
    "embed_pq" -> ((s, dir) =>
      VectorQuant.pqCodeRows(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", seedLo = 120L, seedHi = 152L,
        dim = 64, m = 8, iters = 2)),
    // PQ asymmetric-distance (ADC) top-k: exact queries against the
    // codes-only corpus via broadcast per-query LUTs — the search
    // mode the PQ codes exist for; map-only scoring, TopKByScore
    // tail; same trained codebook as embed_pq
    "embed_pq_search" -> ((s, dir) =>
      VectorQuant.pqAdcTopK(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", seedLo = 120L, seedHi = 152L,
        numQueries = 5, k = 10, dim = 64, m = 8, iters = 2)),
    // IVF-PQ: coarse cells (the embed_ann_ivf codebook) prune to
    // nprobe cells, survivors scored by ADC against the TRAINED
    // codes only — the canonical billion-scale index shape
    "embed_ivf_pq" -> ((s, dir) =>
      VectorQuant.ivfPqTopK(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", ivfLo = 100L, ivfHi = 116L,
        pqLo = 120L, pqHi = 152L, numQueries = 5, k = 10,
        nprobe = 4, dim = 64, m = 8, iters = 2, coarseIters = 2)),
    // PQ recall as DATA (the twin of embed_ann_recall for the
    // quantized index): ADC top-10 ∩ exact top-10 per query over the
    // same subset — the number that says the codebook size, not
    // nprobe, is the quality knob (BASELINE r9/r10 frontier)
    "embed_pq_recall" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings").where(col("vec_id") < 2000L)
      val bf = Similarity.cosineTopK(sub, "vec_id", "embedding",
        numQueries = 5, k = 10)
      val pq = VectorQuant.ivfPqTopK(sub, "vec_id", "embedding",
        ivfLo = 100L, ivfHi = 116L, pqLo = 120L, pqHi = 152L,
        numQueries = 5, k = 10, nprobe = 4, dim = 64, m = 8,
        iters = 2, coarseIters = 2)
      bf.select(col("query_id"), col("neighbor_id"))
        .join(pq.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(coalesce(sum("hit"), lit(0L)).as("n_common"))
        .select(col("query_id"), col("n_common"),
          graft.det.Sig.sig5(col("n_common").cast("double") / 10.0)
            .as("recall10"))
        .orderBy("query_id")
    }),
    // two-stage search: the same trained index's ADC top-25
    // shortlist, exactly re-ranked — the deployed refinement that
    // undoes PQ quantization loss at M exact distances per query
    "embed_ivf_pq_rerank" -> ((s, dir) =>
      VectorQuant.ivfPqRerankTopK(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", ivfLo = 100L, ivfHi = 116L,
        pqLo = 120L, pqHi = 152L, numQueries = 5, k = 10, topM = 25,
        nprobe = 4, dim = 64, m = 8, iters = 2, coarseIters = 2)),
    // RESIDUAL IVF-PQ (the full Jégou IVF-ADC shape): the PQ
    // codebook is trained on and encodes r = x − coarse centroid —
    // the refinement that separates a deployed IVF-ADC index from
    // naive per-cell PQ. TRAINED coarse quantizer (coarseIters = 2,
    // like embed_ann_ivf/embed_ivf_pq — the deployed index trains
    // its cells too; residuals subtract the CANONICAL sig5-rounded
    // centroid components so they stay exact cross-engine
    // differences), Lloyd-trained residual codebook (iters = 2),
    // per-(query, probed-cell) LUTs
    "embed_ivf_pq_residual" -> ((s, dir) =>
      VectorQuant.ivfPqResidualTopK(
        t(s, dir, "embeddings").where(col("vec_id") < 2000L),
        "vec_id", "embedding", ivfLo = 100L, ivfHi = 116L,
        pqLo = 120L, pqHi = 152L, numQueries = 5, k = 10,
        nprobe = 4, dim = 64, m = 8, iters = 2, coarseIters = 2))
  )

  lazy val embedAnnRecallSql: String =
    s"""WITH bf AS (SELECT * FROM ($embedCosineSql)),
       |ann AS (SELECT * FROM ($embedAnnIvfSql))
       |SELECT bf.query_id,
       |  CAST(coalesce(sum(CASE WHEN ann.neighbor_id IS NOT NULL
       |    THEN 1 END), 0) AS BIGINT) AS n_common,
       |  ${sig("coalesce(sum(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 END), 0) / 10.0")}
       |    AS recall10
       |FROM bf LEFT JOIN ann
       |  ON ann.query_id = bf.query_id
       |  AND ann.neighbor_id = bf.neighbor_id
       |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin

  /** [[embedCosineSql]] with the different-label candidate filter —
    * the hard-negative mirror. */

  val embedHardNegativesSql: String = {
    val cosExpr = sig("dp / (na.nrm * nb.nrm)")
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |            FROM embeddings, range(1, 65) t(i)),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM el
       |        GROUP BY vec_id),
       |dot AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
       |          sum(a.v * b.v) AS dp
       |        FROM el a JOIN el b
       |          ON a.i = b.i AND b.vec_id <> a.vec_id
       |        WHERE a.vec_id < 5 GROUP BY 1, 2),
       |cos AS (SELECT qid, vid, $cosExpr AS cosine
       |        FROM dot JOIN nrm na ON na.vec_id = dot.qid
       |        JOIN nrm nb ON nb.vec_id = dot.vid),
       |f AS (SELECT c.qid, c.vid, c.cosine FROM cos c
       |      JOIN lab la ON la.vec_id = c.qid
       |      JOIN lab lb ON lb.vec_id = c.vid
       |      WHERE la.label IS NOT NULL AND lb.label IS NOT NULL
       |        AND la.label <> lb.label)
       |SELECT query_id, rnk, neighbor_id, cosine FROM (
       |  SELECT qid AS query_id,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, vid ASC) AS BIGINT) AS rnk,
       |    vid AS neighbor_id, cosine FROM f)
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  }

  val embedOutliersSql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)),
       |c0 AS (SELECT vec_id AS cid, i, v AS w FROM el
       |       WHERE vec_id BETWEEN 100 AND 115),
       |cn AS (SELECT cid, sum(w * w) AS cn2 FROM c0 GROUP BY 1),
       |cd AS (SELECT a.vec_id AS vid, c.cid, sum(a.v * c.w) AS dp
       |       FROM el a JOIN c0 c ON c.i = a.i GROUP BY 1, 2),
       |sc AS (SELECT vid, cd.cid, ${sig("cn2 - 2 * dp")} AS score
       |       FROM cd JOIN cn ON cn.cid = cd.cid),
       |rk AS (SELECT vid, cid, score, row_number() OVER (
       |       PARTITION BY vid ORDER BY score ASC, cid ASC) AS rn
       |       FROM sc),
       |vn AS (SELECT vec_id, sum(v * v) AS vn2 FROM el GROUP BY 1),
       |d AS (SELECT vid, cid AS cell, ${sig("score + vn2")} AS dist2
       |      FROM rk JOIN vn ON vn.vec_id = rk.vid WHERE rn = 1),
       |thr AS (SELECT cell, ${sig("quantile_cont(dist2, 0.99)")}
       |        AS p_thresh FROM d GROUP BY cell)
       |SELECT vid AS vec_id, d.cell, dist2, thr.p_thresh,
       |CAST(CASE WHEN dist2 > p_thresh THEN 1 ELSE 0 END AS BIGINT)
       |  AS is_outlier
       |FROM d JOIN thr ON thr.cell = d.cell
       |ORDER BY vec_id""".stripMargin

  /** Incremental-semantic-dedup mirror: the [[embedAnnIvfSql]] replay
    * with the codebook seeded AND trained on the even-id INDEX side
    * only, probes for every odd-id batch vector, best-match argmax
    * (max sig5 cosine, min-vid tie-break) and the ≥ 0.4 dup flag;
    * batch vectors with no candidates surface via the left join. */

  val embedIvfAssignSql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE len(embedding) = 64),
       |cn AS (SELECT vec_id AS cid, sum(v * v) AS cn2 FROM el
       |       WHERE vec_id BETWEEN 100 AND 115 GROUP BY 1),
       |cd AS (SELECT a.vec_id AS vid, c.vec_id AS cid, sum(a.v * c.v) AS dp
       |       FROM el a JOIN el c ON c.i = a.i
       |       AND c.vec_id BETWEEN 100 AND 115 GROUP BY 1, 2),
       |sc AS (SELECT vid, cd.cid, ${sig("cn2 - 2 * dp")} AS score
       |       FROM cd JOIN cn ON cn.cid = cd.cid)
       |SELECT vid AS vec_id, cid AS cell FROM (
       |  SELECT vid, cid, row_number() OVER (PARTITION BY vid
       |    ORDER BY score ASC, cid ASC) AS rn FROM sc) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  lazy val embedLshRecallSql: String =
    s"""WITH bf AS (SELECT * FROM ($embedCosineSql)),
       |ann AS (SELECT * FROM ($embedAnnLshSql))
       |SELECT bf.query_id,
       |  CAST(coalesce(sum(CASE WHEN ann.neighbor_id IS NOT NULL
       |    THEN 1 END), 0) AS BIGINT) AS n_common,
       |  ${sig("coalesce(sum(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 END), 0) / 10.0")}
       |    AS recall10
       |FROM bf LEFT JOIN ann
       |  ON ann.query_id = bf.query_id
       |  AND ann.neighbor_id = bf.neighbor_id
       |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin

  val embedQuantizeSql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)),
       |b AS (SELECT i, min(v) AS mn, max(v) AS mx,
       |      (max(v) - min(v)) / 255.0 AS step FROM el GROUP BY i),
       |e AS (SELECT el.i, mn, mx, step,
       |      CASE WHEN step > 0 THEN
       |        CAST(least(greatest(floor((v - mn) / step + 0.5), 0.0),
       |          255.0) AS BIGINT)
       |        ELSE 0 END AS q, v
       |      FROM el JOIN b ON b.i = el.i),
       |w AS (SELECT i, mn, mx, step, q,
       |      abs(v - (mn + q * step)) AS err FROM e)
       |SELECT i, mn, mx, step, ${sig("avg(err)")} AS avg_abs_err,
       |max(err) AS max_abs_err,
       |CAST(count(DISTINCT q) AS BIGINT) AS n_codes
       |FROM w GROUP BY i, mn, mx, step ORDER BY i""".stripMargin

  /** Two Lloyd iterations unrolled relationally: seed centroids =
    * corpus rows 120..135, argmin on the sig5-rounded score
    * |c|² − 2·v·c with cid tie-break (identical decision machinery as
    * [[embedAnnIvfSql]]); WCSS sums the rounded score + raw |v|². */

  val embedKmeansConvergenceSql: String = {
    val score = sig("cn2 - 2 * dp")
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)),
       |vn AS (SELECT vec_id, sum(v * v) AS vn2 FROM el GROUP BY vec_id),
       |c0 AS (SELECT vec_id AS cid, i, v AS w FROM el
       |       WHERE vec_id BETWEEN 120 AND 135),
       |cn0 AS (SELECT cid, sum(w * w) AS cn2 FROM c0 GROUP BY cid),
       |d0 AS (SELECT e.vec_id AS vid, c.cid, sum(e.v * c.w) AS dp
       |       FROM el e JOIN c0 c ON c.i = e.i GROUP BY 1, 2),
       |s0 AS (SELECT vid, d0.cid, $score AS score
       |       FROM d0 JOIN cn0 ON cn0.cid = d0.cid),
       |a0 AS (SELECT vid, cid, score FROM (
       |  SELECT vid, cid, score, row_number() OVER (PARTITION BY vid
       |    ORDER BY score ASC, cid ASC) AS rn FROM s0) WHERE rn = 1),
       |i1 AS (SELECT count(DISTINCT cid) AS n_clusters,
       |       ${sig("sum(score + vn2)")} AS inertia
       |       FROM a0 JOIN vn ON vn.vec_id = a0.vid),
       |c1 AS (SELECT a0.cid, el.i, avg(el.v) AS w FROM el
       |       JOIN a0 ON a0.vid = el.vec_id GROUP BY 1, 2),
       |cn1 AS (SELECT cid, sum(w * w) AS cn2 FROM c1 GROUP BY cid),
       |d1 AS (SELECT e.vec_id AS vid, c.cid, sum(e.v * c.w) AS dp
       |       FROM el e JOIN c1 c ON c.i = e.i GROUP BY 1, 2),
       |s1 AS (SELECT vid, d1.cid, $score AS score
       |       FROM d1 JOIN cn1 ON cn1.cid = d1.cid),
       |a1 AS (SELECT vid, cid, score FROM (
       |  SELECT vid, cid, score, row_number() OVER (PARTITION BY vid
       |    ORDER BY score ASC, cid ASC) AS rn FROM s1) WHERE rn = 1),
       |i2 AS (SELECT count(DISTINCT cid) AS n_clusters,
       |       ${sig("sum(score + vn2)")} AS inertia
       |       FROM a1 JOIN vn ON vn.vec_id = a1.vid),
       |sh AS (SELECT
       |       ${sig("sum((c1.w - c0.w) * (c1.w - c0.w))")} AS shift
       |       FROM c1 JOIN c0 ON c0.cid = c1.cid AND c0.i = c1.i)
       |SELECT CAST(1 AS BIGINT) AS iter,
       |CAST(n_clusters AS BIGINT) AS n_clusters, inertia,
       |CAST(NULL AS DOUBLE) AS center_shift FROM i1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), CAST(n_clusters AS BIGINT), inertia,
       |(SELECT shift FROM sh) FROM i2
       |ORDER BY iter""".stripMargin
  }

  /** Margin mining re-derived: cross-parity cosine matrix, per-side
    * k-NN means over the ROUNDED cosines (row_number windows with
    * id tie-breaks — the TopKByScore twin), guarded ratio margin,
    * rounded again, top 25 by (margin DESC, src, tgt). */

  val embedMarginMineSql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |nr AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM el GROUP BY 1),
       |dp AS (SELECT a.vec_id AS xid, b.vec_id AS yid,
       |       sum(a.v * b.v) AS dp
       |       FROM el a JOIN el b ON b.i = a.i
       |       WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
       |       GROUP BY 1, 2),
       |cc AS (SELECT xid, yid,
       |       ${sig("CASE WHEN nx.nrm > 0 AND ny.nrm > 0 THEN dp / (nx.nrm * ny.nrm) END")} AS c
       |       FROM dp JOIN nr nx ON nx.vec_id = xid
       |       JOIN nr ny ON ny.vec_id = yid),
       |cn AS (SELECT * FROM cc WHERE c IS NOT NULL),
       |ax AS (SELECT xid, avg(c) AS ax FROM (
       |   SELECT xid, c, row_number() OVER (PARTITION BY xid
       |     ORDER BY c DESC, yid ASC) AS rn FROM cn)
       |   WHERE rn <= 4 GROUP BY xid),
       |ay AS (SELECT yid, avg(c) AS ay FROM (
       |   SELECT yid, c, row_number() OVER (PARTITION BY yid
       |     ORDER BY c DESC, xid ASC) AS rn FROM cn)
       |   WHERE rn <= 4 GROUP BY yid),
       |m AS (SELECT cn.xid, cn.yid, c,
       |      ${sig("CASE WHEN (ax + ay) / 2 > 0 THEN c / ((ax + ay) / 2) END")} AS margin
       |      FROM cn JOIN ax ON ax.xid = cn.xid
       |      JOIN ay ON ay.yid = cn.yid),
       |r AS (SELECT xid, yid, c, margin,
       |      row_number() OVER (ORDER BY margin DESC, xid, yid) AS rnk
       |      FROM m WHERE margin IS NOT NULL)
       |SELECT CAST(rnk AS BIGINT) AS rnk, xid AS src_id,
       |yid AS tgt_id, c AS cosine, margin
       |FROM r WHERE rnk <= 25 ORDER BY rnk""".stripMargin

  /** ANN-pruned margin mining re-derived: the [[embedAnnLshSql]]
    * bucket CTEs (identical plane literals, `pr >= 1e-12` bit test),
    * X-side multiprobe (bucket + 8 Hamming-1 neighbors — j = 8 is
    * the identity probe), candidate pairs = bucket collisions, then
    * the [[embedMarginMineSql]] margin math verbatim over the
    * SURVIVING candidates (k-NN means are over the retrieved lists,
    * exactly the Spark `marginFromPairs` contract). */

  val embedMarginMineAnnSql: String = {
    val pv = planesValues(Similarity.hyperplanes(8, 64))
    s"""WITH planes(pj, i, w) AS (VALUES $pv),
       |el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |proj AS (SELECT e.vec_id, p.pj, sum(e.v * p.w) AS pr
       |         FROM el e JOIN planes p ON p.i = e.i GROUP BY 1, 2),
       |bkt AS (SELECT vec_id,
       |        CAST(sum(CASE WHEN pr >= 1e-12
       |          THEN CAST(1 AS BIGINT) << pj
       |          ELSE 0 END) AS BIGINT) AS bucket
       |        FROM proj GROUP BY 1),
       |xb AS (SELECT vec_id AS xid, bucket FROM bkt
       |       WHERE vec_id % 2 = 0),
       |yb AS (SELECT vec_id AS yid, bucket FROM bkt
       |       WHERE vec_id % 2 = 1),
       |probes AS (SELECT xid, CASE WHEN t.j = 8 THEN bucket
       |             ELSE xor(bucket, CAST(1 AS BIGINT) << t.j) END AS pb
       |           FROM xb, range(0, 9) t(j)),
       |cand AS (SELECT p.xid, y.yid FROM probes p
       |         JOIN yb y ON y.bucket = p.pb),
       |nr AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM el GROUP BY 1),
       |dp AS (SELECT c.xid, c.yid, sum(a.v * b.v) AS dp
       |       FROM cand c JOIN el a ON a.vec_id = c.xid
       |       JOIN el b ON b.vec_id = c.yid AND b.i = a.i
       |       GROUP BY 1, 2),
       |cc AS (SELECT xid, yid,
       |       ${sig("CASE WHEN nx.nrm > 0 AND ny.nrm > 0 THEN dp / (nx.nrm * ny.nrm) END")} AS c
       |       FROM dp JOIN nr nx ON nx.vec_id = xid
       |       JOIN nr ny ON ny.vec_id = yid),
       |cn AS (SELECT * FROM cc WHERE c IS NOT NULL),
       |ax AS (SELECT xid, avg(c) AS ax FROM (
       |   SELECT xid, c, row_number() OVER (PARTITION BY xid
       |     ORDER BY c DESC, yid ASC) AS rn FROM cn)
       |   WHERE rn <= 4 GROUP BY xid),
       |ay AS (SELECT yid, avg(c) AS ay FROM (
       |   SELECT yid, c, row_number() OVER (PARTITION BY yid
       |     ORDER BY c DESC, xid ASC) AS rn FROM cn)
       |   WHERE rn <= 4 GROUP BY yid),
       |m AS (SELECT cn.xid, cn.yid, c,
       |      ${sig("CASE WHEN (ax + ay) / 2 > 0 THEN c / ((ax + ay) / 2) END")} AS margin
       |      FROM cn JOIN ax ON ax.xid = cn.xid
       |      JOIN ay ON ay.yid = cn.yid),
       |r AS (SELECT xid, yid, c, margin,
       |      row_number() OVER (ORDER BY margin DESC, xid, yid) AS rnk
       |      FROM m WHERE margin IS NOT NULL)
       |SELECT CAST(rnk AS BIGINT) AS rnk, xid AS src_id,
       |yid AS tgt_id, c AS cosine, margin
       |FROM r WHERE rnk <= 25 ORDER BY rnk""".stripMargin
  }

  /** k-NN label agreement re-derived: the [[embedCosineSql]] exact
    * top-k CTEs with Q = 20 queries, then integer vote counts and
    * the (cnt DESC, label ASC) argmax as a row_number pick — the
    * Spark struct-max twin. */

  val embedKnnLabelSql: String = {
    val cosExpr = sig("dp / (na.nrm * nb.nrm)")
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |            FROM embeddings, range(1, 65) t(i)
       |            WHERE vec_id < 2000),
       |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM el GROUP BY vec_id),
       |dot AS (SELECT a.vec_id AS qid, b.vec_id AS vid, sum(a.v * b.v) AS dp
       |        FROM el a JOIN el b ON a.i = b.i AND b.vec_id <> a.vec_id
       |        WHERE a.vec_id < 20 GROUP BY 1, 2),
       |cos AS (SELECT qid, vid, $cosExpr AS cosine
       |        FROM dot JOIN nrm na ON na.vec_id = dot.qid
       |        JOIN nrm nb ON nb.vec_id = dot.vid),
       |nb AS (SELECT qid, vid FROM (
       |   SELECT qid, vid, row_number() OVER (PARTITION BY qid
       |     ORDER BY cosine DESC, vid ASC) AS rnk FROM cos)
       |   WHERE rnk <= 10),
       |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label
       |       FROM embeddings WHERE vec_id < 2000),
       |votes AS (SELECT nb.qid, lb.label, count(*) AS cnt
       |          FROM nb JOIN lb ON lb.vec_id = nb.vid GROUP BY 1, 2),
       |pick AS (SELECT qid, label AS pred_label, cnt AS n_votes FROM (
       |   SELECT qid, label, cnt, row_number() OVER (PARTITION BY qid
       |     ORDER BY cnt DESC, label ASC) AS rn FROM votes)
       |   WHERE rn = 1)
       |SELECT p.qid AS query_id, t.label AS true_label, p.pred_label,
       |CAST(p.n_votes AS BIGINT) AS n_votes,
       |t.label = p.pred_label AS correct
       |FROM pick p JOIN lb t ON t.vec_id = p.qid
       |ORDER BY query_id""".stripMargin
  }

  /** Per-class separability re-derived: per-label centroids as
    * (label, dim) averages, member→centroid cosines rounded then
    * averaged (rounded again), centroid-pair cosines rounded with a
    * (cos DESC, label ASC) nearest-other pick — mirroring
    * [[graft.ops.EmbedEval.labelStats]]'s broadcast-centroid map
    * pass and driver-side argmax. */

  val embedLabelStatsSql: String =
    s"""WITH el AS (SELECT vec_id, CAST(label AS BIGINT) AS label, i,
       |        CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |cent AS (SELECT label, i, avg(v) AS w FROM el GROUP BY 1, 2),
       |cn AS (SELECT label, sqrt(sum(w * w)) AS cnrm FROM cent GROUP BY 1),
       |vn AS (SELECT vec_id, sqrt(sum(v * v)) AS vnrm FROM el GROUP BY 1),
       |dp AS (SELECT e.vec_id, e.label, sum(e.v * c.w) AS dp
       |       FROM el e JOIN cent c ON c.label = e.label AND c.i = e.i
       |       GROUP BY 1, 2),
       |coh0 AS (SELECT dp.label,
       |       ${sig("CASE WHEN vnrm > 0 AND cnrm > 0 THEN dp / (vnrm * cnrm) END")} AS coh
       |       FROM dp JOIN vn ON vn.vec_id = dp.vec_id
       |       JOIN cn ON cn.label = dp.label),
       |coh AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
       |        ${sig("avg(coh)")} AS cohesion FROM coh0 GROUP BY 1),
       |cc AS (SELECT a.label AS la, b.label AS lb2, sum(a.w * b.w) AS dp
       |       FROM cent a JOIN cent b ON b.i = a.i AND b.label <> a.label
       |       GROUP BY 1, 2),
       |sep0 AS (SELECT la, lb2,
       |        ${sig("CASE WHEN na.cnrm > 0 AND nb.cnrm > 0 THEN dp / (na.cnrm * nb.cnrm) END")} AS cos
       |        FROM cc JOIN cn na ON na.label = la
       |        JOIN cn nb ON nb.label = lb2),
       |sep AS (SELECT la AS label, lb2 AS nn_label, cos AS separation
       |        FROM (SELECT la, lb2, cos,
       |          row_number() OVER (PARTITION BY la
       |            ORDER BY cos DESC, lb2 ASC) AS rn
       |          FROM sep0 WHERE cos IS NOT NULL) WHERE rn = 1)
       |SELECT c.label, c.n, c.cohesion, s.nn_label, s.separation
       |FROM coh c LEFT JOIN sep s ON s.label = c.label
       |ORDER BY c.label""".stripMargin

  /** Cluster purity re-derived: the seed-assignment CTEs (the
    * [[embedIvfAssignSql]] pattern over the embed_kmeans seed rows
    * [120, 136)), label votes per cell, and the (cnt DESC, label
    * ASC) argmax as a row_number pick — the Spark struct-max twin;
    * purity = top_n / n on integer operands, rounded identically. */

  val embedClusterPuritySql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |cn AS (SELECT vec_id AS cid, sum(v * v) AS cn2 FROM el
       |       WHERE vec_id BETWEEN 120 AND 135 GROUP BY 1),
       |cd AS (SELECT a.vec_id AS vid, c.vec_id AS cid, sum(a.v * c.v) AS dp
       |       FROM el a JOIN el c ON c.i = a.i
       |       AND c.vec_id BETWEEN 120 AND 135 GROUP BY 1, 2),
       |sc AS (SELECT vid, cd.cid, ${sig("cn2 - 2 * dp")} AS score
       |       FROM cd JOIN cn ON cn.cid = cd.cid),
       |asg AS (SELECT vid, cid AS cell FROM (
       |  SELECT vid, cid, row_number() OVER (PARTITION BY vid
       |    ORDER BY score ASC, cid ASC) AS rn FROM sc) WHERE rn = 1),
       |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label
       |       FROM embeddings WHERE vec_id < 2000),
       |votes AS (SELECT cell, label, count(*) AS cnt
       |          FROM asg JOIN lb ON lb.vec_id = asg.vid GROUP BY 1, 2),
       |tot AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n
       |        FROM votes GROUP BY 1),
       |pick AS (SELECT cell, label AS top_label, cnt AS top_n FROM (
       |  SELECT cell, label, cnt, row_number() OVER (PARTITION BY cell
       |    ORDER BY cnt DESC, label ASC) AS rn FROM votes)
       |  WHERE rn = 1)
       |SELECT t.cell AS cluster_id, t.n, p.top_label,
       |CAST(p.top_n AS BIGINT) AS top_n,
       |${sig("CAST(p.top_n AS DOUBLE) / t.n")} AS purity
       |FROM tot t JOIN pick p ON p.cell = t.cell
       |ORDER BY cluster_id""".stripMargin

  private def pqTrainedCtes(withScore: Boolean,
      src: String = "el"): String = {
    val scoreSel = if (withScore) ", sd2" else ""
    val scoreCol = if (withScore) s", ${sig("d2")} AS sd2" else ""
    s"""xn AS (SELECT vec_id, s, sum(v * v) AS xn2 FROM $src GROUP BY 1, 2),
       |c0 AS (SELECT vec_id AS cid, i, v AS w, s FROM $src
       |       WHERE vec_id BETWEEN 120 AND 151),
       |cn0 AS (SELECT cid, s, sum(w * w) AS cn2 FROM c0 GROUP BY 1, 2),
       |tdp AS (SELECT e.vec_id AS vid, c.cid, e.s, sum(e.v * c.w) AS dp
       |       FROM $src e JOIN c0 c ON c.i = e.i
       |       GROUP BY 1, 2, 3),
       |ta AS (SELECT vid, s, cid FROM (
       |   SELECT t.vid, t.s, t.cid,
       |     row_number() OVER (PARTITION BY t.vid, t.s
       |       ORDER BY ${sig("cn2 - 2 * dp")} ASC, t.cid ASC) AS rn
       |   FROM tdp t JOIN cn0 ON cn0.cid = t.cid AND cn0.s = t.s)
       |   WHERE rn = 1),
       |c1 AS (SELECT ta.cid, e.i, avg(e.v) AS w, e.s FROM $src e
       |       JOIN ta ON ta.vid = e.vec_id AND ta.s = e.s
       |       GROUP BY 1, 2, 4),
       |cn AS (SELECT cid, s, sum(w * w) AS cn2 FROM c1 GROUP BY 1, 2),
       |dp AS (SELECT e.vec_id AS vid, c.cid, e.s, sum(e.v * c.w) AS dp
       |       FROM $src e JOIN c1 c ON c.i = e.i
       |       GROUP BY 1, 2, 3),
       |d AS (SELECT vid, dp.cid, dp.s, cn2 - 2 * dp + xn2 AS d2
       |      FROM dp JOIN cn ON cn.cid = dp.cid AND cn.s = dp.s
       |      JOIN xn ON xn.vec_id = dp.vid AND xn.s = dp.s),
       |a AS (SELECT vid, s, cid$scoreSel FROM (
       |   SELECT vid, s, cid$scoreCol,
       |     row_number() OVER (PARTITION BY vid, s
       |       ORDER BY ${sig("d2")} ASC, cid ASC) AS rn
       |   FROM d) WHERE rn = 1)""".stripMargin
  }

  /** PQ re-derived: subspace id s = (i−1)//8 folds each dimension
    * into its slice, the [[pqTrainedCtes]] Lloyd-trained codebook and
    * rounded argmin assignment, one scalar row per
    * (vec_id, subspace, code) with the per-vector mse repeated —
    * mirrors [[graft.ops.VectorQuant.pqCodeRows]] at iters = 2. The
    * `len(embedding) = 64` guard matches the Spark side's
    * `KMeansOp.vecBase` length filter. */

  val embedPqSql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v,
       |        (i - 1) // 8 AS s
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |${pqTrainedCtes(withScore = true)},
       |m AS (SELECT vid, ${sig("sum(sd2) / 64.0")} AS mse
       |      FROM a GROUP BY vid)
       |SELECT a.vid AS vec_id, a.s AS subspace, a.cid - 120 AS code,
       |m.mse
       |FROM a JOIN m ON m.vid = a.vid
       |ORDER BY vec_id, subspace""".stripMargin

  /** ADC search re-derived: the SAME trained code-assignment CTEs as
    * [[embedPqSql]] ([[pqTrainedCtes]]: Lloyd round, rounded
    * per-subspace argmin, cid tie-break), then the LUT as exact
    * per-(query, centroid, subspace) squared distances AGAINST THE
    * TRAINED codebook `c1` and the ADC score as their sum over the
    * assigned codes. Only the SUMMED distance is rounded (matching
    * [[graft.ops.VectorQuant.pqAdcTopK]]); ranking compares rounded
    * values with vid tie-break. */

  val embedPqSearchSql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v,
       |        (i - 1) // 8 AS s
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |${pqTrainedCtes(withScore = false)},
       |q AS (SELECT vec_id AS qid, i, v, s FROM el WHERE vec_id < 5),
       |ld AS (SELECT q.qid, c.cid, q.s,
       |       sum((q.v - c.w) * (q.v - c.w)) AS d2
       |       FROM q JOIN c1 c ON c.i = q.i GROUP BY 1, 2, 3),
       |sc AS (SELECT ld.qid, a.vid, sum(ld.d2) AS dist
       |       FROM a JOIN ld ON ld.cid = a.cid AND ld.s = a.s
       |       WHERE a.vid <> ld.qid GROUP BY 1, 2),
       |r AS (SELECT qid, vid, ${sig("dist")} AS adc_d2,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY ${sig("dist")} ASC, vid ASC) AS rnk FROM sc)
       |SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rnk,
       |vid AS neighbor_id, adc_d2
       |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** IVF-PQ re-derived: [[embedAnnIvfSql]]'s cell/probe CTEs
    * (i-prefixed to avoid collisions) over the SAME restricted
    * corpus as the PQ family, [[pqTrainedCtes]]'s trained
    * code-assignment CTEs, then candidates = probed cells and the
    * ADC sum (LUT against the trained codebook `c1`) over assigned
    * codes. */
  /** k-parameterized so the rerank oracle can reuse the whole ADC
    * replay as its shortlist subquery. */

  def embedIvfPqSqlK(k: Int): String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v,
       |        (i - 1) // 8 AS s
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |ic0 AS (SELECT vec_id AS cid, i, v AS w FROM el
       |       WHERE vec_id BETWEEN 100 AND 115),
       |icn0 AS (SELECT cid, sum(w * w) AS cn2 FROM ic0 GROUP BY 1),
       |icd0 AS (SELECT a.vec_id AS vid, c.cid, sum(a.v * c.w) AS dp
       |       FROM el a JOIN ic0 c ON c.i = a.i GROUP BY 1, 2),
       |ita AS (SELECT vid, cid FROM (
       |   SELECT vid, icd0.cid, row_number() OVER (PARTITION BY vid
       |     ORDER BY ${sig("cn2 - 2 * dp")} ASC, icd0.cid ASC) AS rn
       |   FROM icd0 JOIN icn0 ON icn0.cid = icd0.cid) WHERE rn = 1),
       |ic1 AS (SELECT ita.cid, el.i, avg(el.v) AS w FROM el
       |       JOIN ita ON ita.vid = el.vec_id GROUP BY 1, 2),
       |icn AS (SELECT cid, sum(w * w) AS cn2 FROM ic1 GROUP BY 1),
       |icd AS (SELECT a.vec_id AS vid, c.cid, sum(a.v * c.w) AS dp
       |       FROM el a JOIN ic1 c ON c.i = a.i GROUP BY 1, 2),
       |isc AS (SELECT vid, icd.cid, ${sig("cn2 - 2 * dp")} AS score
       |       FROM icd JOIN icn ON icn.cid = icd.cid),
       |irk AS (SELECT vid, cid, row_number() OVER (PARTITION BY vid
       |       ORDER BY score ASC, cid ASC) AS rn FROM isc),
       |iassign AS (SELECT vid, cid AS cell FROM irk WHERE rn = 1),
       |iprobes AS (SELECT vid AS qid, cid AS cell FROM irk
       |           WHERE vid < 5 AND rn <= 4),
       |cand AS (SELECT p.qid, a.vid FROM iprobes p
       |         JOIN iassign a ON a.cell = p.cell WHERE a.vid <> p.qid),
       |${pqTrainedCtes(withScore = false)},
       |q AS (SELECT vec_id AS qid, i, v, s FROM el WHERE vec_id < 5),
       |ld AS (SELECT q.qid, c.cid, q.s,
       |       sum((q.v - c.w) * (q.v - c.w)) AS d2
       |       FROM q JOIN c1 c ON c.i = q.i GROUP BY 1, 2, 3),
       |sc AS (SELECT cd.qid, cd.vid, sum(ld.d2) AS dist
       |       FROM cand cd JOIN a ON a.vid = cd.vid
       |       JOIN ld ON ld.qid = cd.qid AND ld.cid = a.cid
       |        AND ld.s = a.s
       |       GROUP BY 1, 2),
       |r AS (SELECT qid, vid, ${sig("dist")} AS adc_d2,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY ${sig("dist")} ASC, vid ASC) AS rnk FROM sc)
       |SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rnk,
       |vid AS neighbor_id, adc_d2
       |FROM r WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  val embedIvfPqSql: String = embedIvfPqSqlK(10)

  /** Rerank mirror: the WHOLE ADC replay at k = 25 as the shortlist
    * subquery, then exact cosine + re-rank — stage 1 is shared by
    * construction on both engines. */
  /** [[embedIvfPqSqlK]](10) ∩ exact subset top-10 per query — the
    * PQ-recall view; brute side mirrors [[embedCosineSql]] restricted
    * to the index's vec_id < 2000 population. */

  lazy val embedPqRecallSql: String = {
    val cosExpr = sig("dp / (na.nrm * nb.nrm)")
    s"""WITH ann AS (SELECT query_id, neighbor_id
       |  FROM (${embedIvfPqSqlK(10)})),
       |bel AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |bnrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM bel
       |         GROUP BY 1),
       |bdot AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
       |          sum(a.v * b.v) AS dp
       |        FROM bel a JOIN bel b
       |          ON a.i = b.i AND b.vec_id <> a.vec_id
       |        WHERE a.vec_id < 5 GROUP BY 1, 2),
       |bcos AS (SELECT qid, vid, $cosExpr AS cosine
       |        FROM bdot JOIN bnrm na ON na.vec_id = bdot.qid
       |        JOIN bnrm nb ON nb.vec_id = bdot.vid),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |  SELECT qid AS query_id, vid AS neighbor_id,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, vid ASC) AS rn FROM bcos)
       |  WHERE rn <= 10)
       |SELECT bf.query_id,
       |  CAST(coalesce(sum(CASE WHEN ann.neighbor_id IS NOT NULL
       |    THEN 1 END), 0) AS BIGINT) AS n_common,
       |  ${sig("coalesce(sum(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 END), 0) / 10.0")}
       |    AS recall10
       |FROM bf LEFT JOIN ann
       |  ON ann.query_id = bf.query_id
       |  AND ann.neighbor_id = bf.neighbor_id
       |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin
  }

  val embedIvfPqRerankSql: String = {
    val cosExpr = sig("dp / (na.nrm * nb.nrm)")
    s"""WITH cand AS (SELECT query_id AS qid, neighbor_id AS vid
       |  FROM (${embedIvfPqSqlK(25)})),
       |xel AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |xnrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM xel
       |         GROUP BY 1),
       |xdot AS (SELECT c.qid, c.vid, sum(a.v * b.v) AS dp
       |        FROM cand c JOIN xel a ON a.vec_id = c.qid
       |        JOIN xel b ON b.vec_id = c.vid AND b.i = a.i
       |        GROUP BY 1, 2),
       |xcos AS (SELECT qid, vid, $cosExpr AS cosine
       |        FROM xdot JOIN xnrm na ON na.vec_id = xdot.qid
       |        JOIN xnrm nb ON nb.vec_id = xdot.vid)
       |SELECT query_id, rnk, neighbor_id, cosine FROM (
       |  SELECT qid AS query_id,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, vid ASC) AS BIGINT) AS rnk,
       |    vid AS neighbor_id, cosine FROM xcos)
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  }

  /** RESIDUAL IVF-PQ re-derived: the TRAINED coarse quantizer (seed
    * rows [100, 116) + one Lloyd round — the [[embedAnnIvfSql]]
    * replay, r-prefixed), residualization against the CANONICAL
    * sig5-ROUNDED trained components (`rcw` — a Lloyd average's last
    * ulp differs between engines, so both subtract the identical
    * rounded double and residuals stay exact differences; cell
    * assignment still ranks the unrounded components through
    * sig5-rounded scores), the residual CTE `rel` (v − rounded
    * assigned-cell centroid, column-compatible with `el` so
    * [[pqTrainedCtes]] trains the PQ codebook ON RESIDUALS
    * unchanged), per-(query, probed-cell) LUTs against the trained
    * residual codebook `c1`, and the ADC sum over each candidate
    * through the LUT of ITS cell — mirroring
    * [[graft.ops.VectorQuant.ivfPqResidualTopK]] at iters = 2,
    * coarseIters = 2. */

  val embedIvfPqResidualSql: String =
    s"""WITH el AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v,
       |        (i - 1) // 8 AS s
       |       FROM embeddings, range(1, 65) t(i)
       |       WHERE vec_id < 2000 AND len(embedding) = 64),
       |rc0 AS (SELECT vec_id AS cid, i, v AS w FROM el
       |       WHERE vec_id BETWEEN 100 AND 115),
       |rcn0 AS (SELECT cid, sum(w * w) AS cn2 FROM rc0 GROUP BY 1),
       |rcd0 AS (SELECT a.vec_id AS vid, c.cid, sum(a.v * c.w) AS dp
       |       FROM el a JOIN rc0 c ON c.i = a.i GROUP BY 1, 2),
       |rta AS (SELECT vid, cid FROM (
       |   SELECT vid, rcd0.cid, row_number() OVER (PARTITION BY vid
       |     ORDER BY ${sig("cn2 - 2 * dp")} ASC, rcd0.cid ASC) AS rn
       |   FROM rcd0 JOIN rcn0 ON rcn0.cid = rcd0.cid) WHERE rn = 1),
       |rc1 AS (SELECT rta.cid, el.i, avg(el.v) AS w FROM el
       |       JOIN rta ON rta.vid = el.vec_id GROUP BY 1, 2),
       |rcn AS (SELECT cid, sum(w * w) AS cn2 FROM rc1 GROUP BY 1),
       |rcd AS (SELECT a.vec_id AS vid, c.cid, sum(a.v * c.w) AS dp
       |       FROM el a JOIN rc1 c ON c.i = a.i GROUP BY 1, 2),
       |rrk AS (SELECT vid, rcd.cid,
       |       row_number() OVER (PARTITION BY vid
       |         ORDER BY ${sig("cn2 - 2 * dp")} ASC, rcd.cid ASC) AS rn
       |       FROM rcd JOIN rcn ON rcn.cid = rcd.cid),
       |rassign AS (SELECT vid, cid AS cell FROM rrk WHERE rn = 1),
       |rprobes AS (SELECT vid AS qid, cid AS cell FROM rrk
       |           WHERE vid < 5 AND rn <= 4),
       |rcw AS (SELECT cid, i, ${sig("w")} AS w FROM rc1),
       |rel AS (SELECT e.vec_id, e.i, e.v - c.w AS v, e.s FROM el e
       |       JOIN rassign ra ON ra.vid = e.vec_id
       |       JOIN rcw c ON c.cid = ra.cell AND c.i = e.i),
       |${pqTrainedCtes(withScore = false, src = "rel")},
       |qr AS (SELECT p.qid, p.cell, e.i, e.v - c.w AS v, e.s
       |       FROM rprobes p
       |       JOIN el e ON e.vec_id = p.qid
       |       JOIN rcw c ON c.cid = p.cell AND c.i = e.i),
       |ld AS (SELECT qr.qid, qr.cell, c.cid, qr.s,
       |       sum((qr.v - c.w) * (qr.v - c.w)) AS d2
       |       FROM qr JOIN c1 c ON c.i = qr.i GROUP BY 1, 2, 3, 4),
       |cand AS (SELECT p.qid, p.cell, a2.vid FROM rprobes p
       |         JOIN rassign a2 ON a2.cell = p.cell
       |         WHERE a2.vid <> p.qid),
       |sc AS (SELECT cd.qid, cd.vid, sum(ld.d2) AS dist
       |       FROM cand cd JOIN a ON a.vid = cd.vid
       |       JOIN ld ON ld.qid = cd.qid AND ld.cell = cd.cell
       |        AND ld.cid = a.cid AND ld.s = a.s
       |       GROUP BY 1, 2),
       |r AS (SELECT qid, vid, ${sig("dist")} AS adc_d2,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY ${sig("dist")} ASC, vid ASC) AS rnk FROM sc)
       |SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rnk,
       |vid AS neighbor_id, adc_d2
       |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** Temperature quotas re-derived; floor runs on the sig5-rounded
    * share in BOTH engines so pow/sum ulp noise never flips the
    * discrete quota. */

  val oracle: Map[String, String] = Map(
    "embed_pq" -> embedPqSql,
    "embed_pq_search" -> embedPqSearchSql,
    "embed_ivf_pq" -> embedIvfPqSql,
    "embed_ivf_pq_rerank" -> embedIvfPqRerankSql,
    "embed_ivf_pq_residual" -> embedIvfPqResidualSql,
    "embed_outliers" -> embedOutliersSql,
    "embed_cosine_topk" -> embedCosineSql,
    "embed_ann_lsh" -> embedAnnLshSql,
    "embed_lsh_recall" -> embedLshRecallSql,
    "embed_ann_ivf" -> embedAnnIvfSql,
    "embed_ann_recall" -> embedAnnRecallSql,
    "embed_pq_recall" -> embedPqRecallSql,
    "embed_hard_negatives" -> embedHardNegativesSql,
    "embed_ivf_assign" -> embedIvfAssignSql,
    "embed_quantize" -> embedQuantizeSql,
    "embed_kmeans" -> embedKmeansSql,
    "embed_kmeans_convergence" -> embedKmeansConvergenceSql,
    "embed_margin_mine" -> embedMarginMineSql,
    "embed_margin_mine_ann" -> embedMarginMineAnnSql,
    "embed_knn_label" -> embedKnnLabelSql,
    "embed_label_stats" -> embedLabelStatsSql,
    "embed_cluster_purity" -> embedClusterPuritySql
  )
}
