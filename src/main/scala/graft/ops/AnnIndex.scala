package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.det.Sig

/** Persisted lifecycle of a trained IVF-PQ similarity index — the
  * daily-crawl shape for vector search, mirroring the dedup family's
  * catalog index ([[Dedup.writeCatalogIndex]]): build ONCE per corpus
  * version, parquet-persist the trained state, then PROBE on every
  * query batch and APPEND on every ingest batch without retraining.
  *
  * What persists (all pure functions of the build corpus):
  *  - `coarse`: the trained coarse quantizer (cid, centroid) — O(C·d)
  *  - `pq`: the trained per-subspace PQ codebooks (s, cid, sub) —
  *    O(m·k·dsub)
  *  - `codes`: one row per corpus vector (vec_id, codes, mse, cell),
  *    written PARTITIONED BY cell so a probe of `nprobe` cells prunes
  *    the file scan to nprobe/C of the index — the on-disk analogue
  *    of an inverted list
  *  - `meta`: the build params (dim, m, id ranges, iteration counts),
  *    verified on append so a mismatched batch fails loudly instead
  *    of silently corrupting probe equality (the
  *    [[Dedup.appendCatalogIndex]] contract)
  *
  * Scale shape: build = the [[VectorQuant.ivfPqTopK]] training +
  * encode passes (two map-only scans over the corpus, bounded
  * recompute shuffles, O(k·d) driver codebooks). Probe = driver-side
  * cell ranking for the (small) query batch, a static
  * partition-pruning filter (`cell IN probedCells`) + broadcast
  * candidate join over the codes, and the flat-LUT ADC scorer — the
  * corpus is scanned codes-only, raw floats never leave the build.
  * Append = the same two map-only passes over JUST the batch against
  * the FROZEN codebooks, then a parquet append into the cell
  * partitions; codes are per-vector pure functions of the codebooks,
  * so append ≡ re-encoding the union corpus with the same codebooks,
  * exactly (probe-equality is unit-tested).
  *
  * Determinism: identical to [[VectorQuant.ivfPqTopK]] — every
  * discrete decision (cell argmin, probe cutoff, encode argmins,
  * final ranking) compares sig5-rounded scores with id tie-breaks.
  * The driver-side probe ranking uses [[Sig.sig5Col]], the scalar
  * twin of the column expression, so a probed cell set equals what
  * the column form would have chosen. */
object AnnIndex {

  /** Persisted build params: (dim, m, pqLo, pqHi, ivfLo, ivfHi,
    * iters, coarseIters). */
  case class Meta(dim: Int, m: Int, pqLo: Long, pqHi: Long,
      ivfLo: Long, ivfHi: Long, iters: Int, coarseIters: Int)

  /** Train coarse + PQ codebooks on `df` and persist codebooks,
    * per-vector codes (partitioned by coarse cell) and build params
    * under `path`. */
  def writeAnnIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, ivfLo: Long, ivfHi: Long, pqLo: Long, pqHi: Long,
      dim: Int = 64, m: Int = 8, iters: Int = 2,
      coarseIters: Int = 2): Unit = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into $m")
    val spark = df.sparkSession
    val base = KMeansOp.vecBase(df, idCol, vecCol, dim)
    val ivfCents =
      if (coarseIters <= 1)
        Similarity.seedCodebook(base, "vid", "v", ivfLo, ivfHi)
      else Similarity.trainedCodebook(base, "vid", "v", ivfLo, ivfHi,
        dim, coarseIters)
    val cbs = VectorQuant.pqCodebook(base, pqLo, pqHi, dim, m, iters)
    writeCodebooks(spark, path, ivfCents, cbs,
      Meta(dim, m, pqLo, pqHi, ivfLo, ivfHi, iters, coarseIters))
    encodeWithCell(base, ivfCents, cbs, pqLo, dim, m)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** Encode a NEW batch against the index's FROZEN codebooks and
    * append its codes into the cell partitions — an O(batch) job vs
    * the full rebuild. The caller's (dim, m) are verified against
    * the persisted build params: a mismatched append would silently
    * corrupt probe equality (codes of a different geometry in one
    * index), so it fails loudly instead. */
  def appendAnnIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String, dim: Int = 64, m: Int = 8): Unit = {
    val spark = batch.sparkSession
    val meta = readMeta(spark, path)
    require(meta.dim == dim && meta.m == m,
      s"appendAnnIndex params (dim=$dim, m=$m) do not match the " +
        s"index's persisted build params (dim=${meta.dim}, " +
        s"m=${meta.m}) at $path")
    val (ivfCents, cbs) = readCodebooks(spark, path, meta)
    val base = KMeansOp.vecBase(batch, idCol, vecCol, dim)
    encodeWithCell(base, ivfCents, cbs, meta.pqLo, dim, m)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** ADC top-k of a (small) query-vector frame against the persisted
    * codes — the serving path: codebooks and the per-query LUTs are
    * driver state, the scan reads ONLY the probed cells' partitions
    * and ONLY code columns. Returns (query_id, rnk, neighbor_id,
    * adc_d2), the [[VectorQuant.ivfPqTopK]] output contract (probe
    * of the build corpus's own query rows is bit-equal to running
    * ivfPqTopK directly — unit-tested). */
  def probeAnnIndex(spark: SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nprobe: Int = 4): DataFrame = {
    val meta = readMeta(spark, path)
    val (ivfCents, cbs) = readCodebooks(spark, path, meta)
    val (dim, m) = (meta.dim, meta.m)
    val dsub = dim / m
    val ksz = (meta.pqHi - meta.pqLo).toInt
    val qs = KMeansOp.vecBase(queries, idCol, vecCol, dim)
      .select(col("vid"), col("v").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(qs.nonEmpty, "empty query batch")
    val qids = qs.map(_._1)
    // driver-side probe ranking — the scalar twin of cellArray's
    // sig5-rounded |c|²−2·q·c with cid tie-break
    val probed: Array[Array[Long]] = qs.map { case (_, qv) =>
      ivfCents.toArray.map { case (cid, cv, cn2) =>
        var d = 0; var dp = 0.0
        while (d < dim) { dp += qv(d) * cv(d); d += 1 }
        (Sig.sig5Col(cn2 - 2.0 * dp), cid)
      }.sortBy(identity).take(nprobe).map(_._2)
    }
    val centByCode: Array[Map[Int, Array[Double]]] =
      cbs.map(_.map { case (cid, cv) =>
        ((cid - meta.pqLo).toInt, cv) }.toMap)
    // ONE flat LUT for all queries: slot = qidx·m·k + s·k + code
    // (the ivfPqTopK layout)
    val flatLut = qs.flatMap { case (_, qv) =>
      Array.tabulate(m * ksz) { i =>
        val (s, c) = (i / ksz, i % ksz)
        centByCode(s).get(c) match {
          case None => Double.NaN
          case Some(cv) =>
            var d2 = 0.0
            var d = 0
            while (d < dsub) {
              val t = qv(s * dsub + d) - cv(d); d2 += t * t; d += 1
            }
            d2
        }
      }
    }
    import spark.implicits._
    val probesDf = qs.map(_._1).zip(probed)
      .flatMap { case (qid, cells) => cells.map(c => (qid, c)) }
      .toSeq.toDF("qid", "pcell")
    val allCells = probed.flatten.distinct.toSeq
    // static IN-list BEFORE the join: partition pruning cuts the
    // file scan to the probed cells (the broadcast-join condition
    // alone would not prune at plan time)
    val codes = spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(allCells: _*))
    val cand = codes.join(broadcast(probesDf),
        col("vec_id") =!= col("qid") && col("cell") === col("pcell"))
      .select(col("qid"), col("vec_id").as("vid"), col("codes"))
    val qidx = array_position(typedLit(qids), col("qid")) - 1L
    val dist = (0 until m).map { s =>
      element_at(typedLit(flatLut),
        (qidx * (m * ksz) + col("codes").getItem(s) + lit(s * ksz) + 1)
          .cast("int"))
    }.reduce(_ + _)
    val scored = cand
      .select(col("qid"), col("vid"), (-graft.det.Sig.sig5(dist))
        .as("cosine"))
    Similarity.rankTopK(scored, k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        (-col("cosine")).as("adc_d2"))
  }

  /** The persisted build params of a [[writeAnnIndex]] index. */
  def readMeta(spark: SparkSession, path: String): Meta = {
    val r = spark.read.parquet(s"$path/meta").collect().head
    Meta(r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getInt(6), r.getInt(7))
  }

  // ---- internals ----

  /** (vec_id, codes, mse, cell) in ONE stateless projection — cell
    * assignment and all m PQ argmins computed from the same row, no
    * join, no sort, no shuffle. Being a pure per-row map makes it
    * legal verbatim on a STREAMING DataFrame; slices are
    * projected once and the argmin structs extracted once per
    * subspace (the [[VectorQuant.pqEncode]] expression-economy
    * contract). Values are bit-identical to pqEncode ∘ ivfAssign:
    * same rounded argmins, same tie-breaks. */
  private def encodeWithCell(base: DataFrame,
      ivfCents: Seq[(Long, Array[Double], Double)],
      cbs: VectorQuant.PqCodebook, pqLo: Long, dim: Int, m: Int)
      : DataFrame = {
    val dsub = dim / m
    val sliced = base.select(
      col("vid") +:
        element_at(Similarity.cellArray(col("v"), ivfCents), 1)
          .getField("cid").as("cell") +:
        (0 until m).map(s =>
          slice(col("v"), s * dsub + 1, dsub).as(s"x$s")): _*)
    val withBest = sliced.select(
      col("vid") +: col("cell") +: (0 until m).map { s =>
        graft.functions.PqArgMin.pq_argmin(col(s"x$s"), cbs(s),
          includeNorm = true).as(s"b$s")
      }: _*)
    withBest.select(col("vid").as("vec_id"),
      array((0 until m).map(s =>
        col(s"b$s").getField("cid") - lit(pqLo)): _*).as("codes"),
      graft.det.Sig.sig5((0 until m).map(s =>
          col(s"b$s").getField("score")).reduce(_ + _) / dim.toDouble)
        .as("mse"),
      col("cell"))
  }

  private def writeCodebooks(spark: SparkSession, path: String,
      ivfCents: Seq[(Long, Array[Double], Double)],
      cbs: VectorQuant.PqCodebook, meta: Meta): Unit = {
    import spark.implicits._
    ivfCents.map { case (cid, cv, _) => (cid, cv.toSeq) }
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (cid, cv) => (s, cid, cv.toSeq) }
    }.toSeq.toDF("s", "cid", "sub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
    spark.range(1).select(lit(meta.dim).as("dim"), lit(meta.m).as("m"),
        lit(meta.pqLo).as("pq_lo"), lit(meta.pqHi).as("pq_hi"),
        lit(meta.ivfLo).as("ivf_lo"), lit(meta.ivfHi).as("ivf_hi"),
        lit(meta.iters).as("iters"),
        lit(meta.coarseIters).as("coarse_iters"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private def readCodebooks(spark: SparkSession, path: String,
      meta: Meta)
      : (Seq[(Long, Array[Double], Double)], VectorQuant.PqCodebook) = {
    val coarse = spark.read.parquet(s"$path/coarse").collect()
      .map { r =>
        val cv = r.getSeq[Double](1).toArray
        (r.getLong(0), cv, cv.map(x => x * x).sum)
      }.sortBy(_._1).toSeq
    val pqRows = spark.read.parquet(s"$path/pq").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val cbs: VectorQuant.PqCodebook = Array.tabulate(meta.m)(s =>
      pqRows.filter(_._1 == s).map { case (_, cid, cv) => (cid, cv) }
        .sortBy(_._1))
    (coarse, cbs)
  }
}
