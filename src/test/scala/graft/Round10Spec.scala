package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, Dedup, EmbedEval, Similarity, TextStats,
  VectorQuant}
import graft.det.Sig

/** Round-10 additions: the ANN-pruned margin-mining path (driver-side
  * independent reconstruction + plan-shape assert — no |X|·|Y|
  * materialize), the trained-coarse residual IVF-PQ contract, and the
  * boilerplate-report ≡ catalog-frozen-hot-set equality (the
  * inspectable report explains the dedup behavior). */
class Round10Spec extends SparkSpec {

  // ---- deterministic synthetic embeddings (dim 8, float) ----
  private def synthVec(i: Long, dim: Int): Array[Float] =
    Array.tabulate(dim)(d =>
      (math.sin(i * 31.0 + d * 7.0) + 0.1 * math.cos(i * 3.0 - d)).toFloat)

  private def synthEmb(n: Int, dim: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, synthVec(i.toLong, dim)))
      .toDF("vec_id", "embedding")
  }

  // ---- driver-side replication of the ANN margin-mining pipeline ----

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var d = 0
    while (d < a.length) { s += a(d) * b(d); d += 1 }
    s
  }

  /** bit j set iff v·plane_j ≥ 1e-12 — the lshBucket threshold. */
  private def bucketOf(v: Array[Double],
      planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.map { case (p, j) =>
      if (dot(v, p) >= 1e-12) 1L << j else 0L
    }.reduce(_ | _)

  test("marginMineAnn equals a driver-side independent " +
      "reconstruction of buckets, multiprobe candidates and margins") {
    val dim = 8; val bits = 4; val k = 2; val topM = 10
    val n = 60
    val df = synthEmb(n, dim)
    val x = df.where(col("vec_id") % 2 === 0)
    val y = df.where(col("vec_id") % 2 === 1)
    val got = Similarity.marginMineAnn(x, y, "vec_id", "embedding",
        dim = dim, bits = bits, k = k, topM = topM)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))

    // independent reconstruction (plain Scala, no Spark)
    val planes = Similarity.hyperplanes(bits, dim)
    val vecs = (0 until n).map { i =>
      i.toLong -> synthVec(i.toLong, dim).map(_.toDouble)
    }.toMap
    val nrm = vecs.map { case (i, v) => i -> math.sqrt(dot(v, v)) }
    val bkt = vecs.map { case (i, v) => i -> bucketOf(v, planes) }
    val xs = (0 until n).map(_.toLong).filter(_ % 2 == 0)
    val ys = (0 until n).map(_.toLong).filter(_ % 2 == 1)
    val pairs = for {
      xi <- xs
      probe <- bkt(xi) +: (0 until bits).map(j => bkt(xi) ^ (1L << j))
      yi <- ys if bkt(yi) == probe
      if nrm(xi) > 0.0 && nrm(yi) > 0.0
    } yield (xi, yi,
      Sig.sig5Col(dot(vecs(xi), vecs(yi)) / (nrm(xi) * nrm(yi))))
    // k-NN mean per side over the SURVIVING candidates: top-k by
    // (cos desc, other-id asc), summed in that sorted order (the
    // TopKByScore explode order Spark's avg consumes)
    def nnAvg(grouped: Map[Long, Seq[(Long, Double)]])
        : Map[Long, Double] =
      grouped.map { case (id, cand) =>
        val top = cand.sortBy { case (o, c) => (-c, o) }.take(k)
        id -> top.map(_._2).sum / top.size
      }
    val ax = nnAvg(pairs.groupBy(_._1).map { case (i, ps) =>
      i -> ps.map(p => (p._2, p._3)).toSeq })
    val ay = nnAvg(pairs.groupBy(_._2).map { case (i, ps) =>
      i -> ps.map(p => (p._1, p._3)).toSeq })
    val margins = pairs.flatMap { case (xi, yi, c) =>
      val den = (ax(xi) + ay(yi)) / 2.0
      if (den > 0.0) Some((xi, yi, c, Sig.sig5Col(c / den))) else None
    }
    val want = margins
      .sortBy { case (xi, yi, _, m) => (-m, xi, yi) }
      .take(topM).zipWithIndex
      .map { case ((xi, yi, c, m), p) =>
        ((p + 1).toLong, xi, yi, c, m) }

    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
  }

  test("marginMineAnn plan has no cross product — the |X|·|Y| " +
      "materialize of the dense form appears nowhere") {
    val df = synthEmb(60, 8)
    val plan = Similarity.marginMineAnn(
        df.where(col("vec_id") % 2 === 0),
        df.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", dim = 8, bits = 4, k = 2, topM = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "ANN margin mining must not materialize the cross matrix")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "ANN margin mining must join on the bucket key, not nested-loop")
  }

  test("ANN-pruned margins agree with the dense form on shared " +
      "pairs' cosines and never exceed its pair set") {
    val df = synthEmb(60, 8)
    val x = df.where(col("vec_id") % 2 === 0)
    val y = df.where(col("vec_id") % 2 === 1)
    val dense = Similarity.marginMine(x, y, "vec_id", "embedding",
        dim = 8, k = 2, topM = 1000).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val ann = Similarity.marginMineAnn(x, y, "vec_id", "embedding",
        dim = 8, bits = 4, k = 2, topM = 1000).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ann.nonEmpty)
    // every ANN pair exists in the dense matrix with the IDENTICAL
    // sig5-rounded cosine (the margin denominators legitimately
    // differ: k-NN means are over the retrieved lists)
    ann.foreach { case (xi, yi, c) =>
      assert(dense.get((xi, yi)).contains(c),
        s"pair ($xi,$yi) cosine $c not in dense result")
    }
  }

  test("residual IVF-PQ with trained coarse quantizer: " +
      "deterministic, ranked, distance-monotone per query") {
    val df = synthEmb(200, 8)
    def run() = VectorQuant.ivfPqResidualTopK(df, "vec_id",
        "embedding", ivfLo = 100L, ivfHi = 104L, pqLo = 110L,
        pqHi = 114L, numQueries = 3, k = 5, nprobe = 2, dim = 8,
        m = 4, iters = 2, coarseIters = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val a = run(); val b = run()
    assert(a.toSeq == b.toSeq, "trained-coarse residual must be " +
      "a pure function of the data")
    assert(a.nonEmpty)
    a.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"query $q ranks not contiguous")
      assert(sorted.map(_._4).toSeq ==
        sorted.map(_._4).sorted.toSeq,
        s"query $q adc_d2 not non-decreasing in rank")
      assert(rows.map(_._3).distinct.length == rows.length,
        s"query $q repeated a neighbor")
    }
  }

  test("residual IVF-PQ trained-coarse differs from seeded-coarse " +
      "only through the residual canon (both run green)") {
    val df = synthEmb(200, 8)
    val seeded = VectorQuant.ivfPqResidualTopK(df, "vec_id",
      "embedding", 100L, 104L, 110L, 114L, numQueries = 3, k = 5,
      nprobe = 2, dim = 8, m = 4, iters = 2, coarseIters = 1)
      .collect()
    assert(seeded.nonEmpty)
  }

  // ---- persisted ANN index lifecycle ----

  test("probeAnnIndex over a persisted index is bit-equal to " +
      "running ivfPqTopK directly on the build corpus") {
    val df = synthEmb(300, 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft_annidx").toString
    AnnIndex.writeAnnIndex(df, "vec_id", "embedding", path,
      ivfLo = 100L, ivfHi = 106L, pqLo = 110L, pqHi = 116L,
      dim = 8, m = 4, iters = 2, coarseIters = 2)
    val probed = AnnIndex.probeAnnIndex(spark, path,
        df.where(col("vec_id") < 4), "vec_id", "embedding",
        k = 5, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val direct = VectorQuant.ivfPqTopK(df, "vec_id", "embedding",
        ivfLo = 100L, ivfHi = 106L, pqLo = 110L, pqHi = 116L,
        numQueries = 4, k = 5, nprobe = 2, dim = 8, m = 4,
        iters = 2, coarseIters = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(probed.nonEmpty)
    assert(probed.toSeq == direct.toSeq,
      "persisted-index probe must replay the direct search exactly")
  }

  test("appendAnnIndex ≡ encoding the union corpus with the frozen " +
      "codebooks; mismatched build params fail loudly") {
    val all = synthEmb(300, 8)
    val a = all.where(col("vec_id") < 250)
    val b = all.where(col("vec_id") >= 250)
    val pathA = java.nio.file.Files
      .createTempDirectory("graft_annidx_a").toString
    val pathU = java.nio.file.Files
      .createTempDirectory("graft_annidx_u").toString
    // index built on A, then B appended (codebooks stay frozen)
    AnnIndex.writeAnnIndex(a, "vec_id", "embedding", pathA,
      ivfLo = 100L, ivfHi = 106L, pqLo = 110L, pqHi = 116L,
      dim = 8, m = 4, iters = 2, coarseIters = 2)
    AnnIndex.appendAnnIndex(b, "vec_id", "embedding", pathA,
      dim = 8, m = 4)
    // reference: same A-trained codebooks (write trains ONLY on the
    // df it is given — A here), codes for the union corpus.
    // Codebook seeds/training rows (ids 100..115) all live in A, so
    // writeAnnIndex(A) and writeAnnIndex(A∪B after re-slicing) would
    // differ only through B's membership in training; the frozen-
    // codebook contract is what append promises, so the reference
    // encodes A∪B against the A-trained state = probe both and
    // compare.
    AnnIndex.writeAnnIndex(a, "vec_id", "embedding", pathU,
      ivfLo = 100L, ivfHi = 106L, pqLo = 110L, pqHi = 116L,
      dim = 8, m = 4, iters = 2, coarseIters = 2)
    AnnIndex.appendAnnIndex(b, "vec_id", "embedding", pathU,
      dim = 8, m = 4)
    def codesOf(p: String) = spark.read.parquet(s"$p/codes")
      .select(col("vec_id"), col("cell").cast("long"),
        concat_ws(",", col("codes")).as("cs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(codesOf(pathA).toSeq == codesOf(pathU).toSeq)
    // every vector appears exactly once after the append
    assert(codesOf(pathA).map(_._1).distinct.length == 300)
    // probe the appended index: identical across the two lifecycles
    val p1 = AnnIndex.probeAnnIndex(spark, pathA,
      all.where(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, nprobe = 2).collect().map(_.toSeq)
    val p2 = AnnIndex.probeAnnIndex(spark, pathU,
      all.where(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, nprobe = 2).collect().map(_.toSeq)
    assert(p1.toSeq == p2.toSeq)
    // loud failure on a geometry mismatch
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendAnnIndex(b, "vec_id", "embedding", pathA,
        dim = 8, m = 2)
    }
    assert(e.getMessage.contains("persisted build params"))
  }

  test("probeAnnIndex plan prunes the codes scan to the probed " +
      "cell partitions") {
    val df = synthEmb(300, 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft_annidx_prune").toString
    AnnIndex.writeAnnIndex(df, "vec_id", "embedding", path,
      ivfLo = 100L, ivfHi = 106L, pqLo = 110L, pqHi = 116L,
      dim = 8, m = 4, iters = 2, coarseIters = 2)
    val plan = AnnIndex.probeAnnIndex(spark, path,
        df.where(col("vec_id") < 2), "vec_id", "embedding",
        k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"))
  }

  // ---- embedding-quality eval (labeled column) ----

  /** Cleanly clustered labeled fixture: label = id mod 4, vector =
    * the label's direction + small per-id perturbation — k-NN and
    * separability have known right answers. */
  private def labeledEmb(n: Int, dim: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      val lbl = i % 4
      val v = Array.tabulate(dim)(d =>
        (math.sin((lbl + 1.0) * (d + 1.0)) +
          0.05 * math.sin(i * 7.0 + d)).toFloat)
      (i.toLong, v, lbl)
    }.toDF("vec_id", "embedding", "label")
  }

  test("knnLabelAgreement on a cleanly clustered corpus predicts " +
      "every query's own label with a full vote") {
    val df = labeledEmb(120, 8)
    val got = EmbedEval.knnLabelAgreement(df, "vec_id", "embedding",
        "label", numQueries = 8, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got.length == 8)
    got.foreach { case (q, t, p, votes, correct) =>
      assert(correct && t == p && votes == 5L,
        s"query $q: true=$t pred=$p votes=$votes")
      assert(t == q % 4)
    }
  }

  test("labelStats: cohesion ≫ separation on clustered data, " +
      "nn picks are symmetric-sane, deterministic") {
    val df = labeledEmb(120, 8)
    def run() = EmbedEval.labelStats(df, "vec_id", "embedding",
        "label", dim = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    val a = run()
    assert(a.toSeq == run().toSeq)
    assert(a.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    a.foreach { case (l, n, coh, nn, sep) =>
      assert(n == 30L)
      assert(coh > 0.99, s"label $l cohesion $coh")
      assert(coh > sep, s"label $l cohesion $coh !> separation $sep")
      assert(nn != l && nn >= 0 && nn < 4)
    }
  }

  test("clusterPurity on clustered data: every seeded cell is pure " +
      "and its top label is the seed row's own label") {
    val df = labeledEmb(200, 8)
    val got = EmbedEval.clusterPurity(df, "vec_id", "embedding",
        "label", seedLo = 120L, seedHi = 136L, dim = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    assert(got.map(_._2).sum == 200L, "every vector assigned once")
    got.foreach { case (cell, n, topLabel, topN, purity) =>
      assert(topLabel == cell % 4,
        s"cell $cell top label $topLabel != seed label ${cell % 4}")
      assert(purity == 1.0 && topN == n,
        s"cell $cell impure: purity=$purity")
    }
  }

  test("boilerplate report's over-cap gram set equals the frozen " +
      "hot-shingle set the catalog index persists (equal n/maxDf)") {
    val s = spark
    import s.implicits._
    // 30 docs sharing a boilerplate prefix; unique tails
    val docs = (0 until 30).map { i =>
      (i.toLong, s"terms of service apply tail$i unique$i words$i")
    }.toDF("doc_id", "text")
    val cap = 10L
    val path = java.nio.file.Files
      .createTempDirectory("graft_hotset").toString
    Dedup.writeCatalogIndex(docs, "doc_id", "text", path,
      n = 3, numHashes = 8, bands = 4, maxDf = Some(cap))
    val (_, _, _, maxDf, hot) = Dedup.readCatalogMeta(spark, path)
    assert(maxDf.contains(cap))
    assert(hot.nonEmpty, "fixture must produce a non-empty hot set")

    // the boilerplate derivation (TextStats.distinctGrams — the
    // exact gram set the report ranks), filtered at the SAME df cap,
    // hashed with the dedup family's token-tuple construction
    val base = docs.where(col("text").isNotNull)
      .select(split(col("text"), " ").as("ts"))
    val overCap = base
      .select(explode(TextStats.distinctGrams(col("ts"), 3)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df_docs"))
      .where(col("df_docs") > cap)
    val w = split(col("gram"), " ")
    val hashed = overCap
      .select(xxhash64((0 until 3).map(kk =>
        xxhash64(element_at(w, kk + 1))): _*).as("h"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(hashed == hot.sorted,
      "boilerplate over-cap grams must equal the persisted hot set")

    // and the REPORT surfaces exactly those grams at the head: both
    // shared 3-grams appear with df_docs = 30
    val report = TextStats.boilerplateGrams(docs, "doc_id", "text",
      n = 3, topK = 5).collect()
    val headGrams = report.filter(_.getLong(2) == 30L)
      .map(_.getString(1)).toSet
    assert(headGrams == Set("terms of service", "of service apply"))
  }

  test("fuzzyPairs: a one-char typo pair survives verification with " +
      "edit_dist 1; a blocked candidate with a large insertion is " +
      "rejected by the verify stage, not the blocker") {
    val s = spark
    import s.implicits._
    val base = Seq.fill(5)("the quick brown fox jumps over the lazy dog")
      .mkString(" ")
    val typo = base.replaceFirst("lazy", "hazy")
    val insert = base + " pelican stew tastes great right now today"
    val docs = Seq((1L, base), (2L, typo), (3L, insert))
      .toDF("doc_id", "text")
    // (1,3) must BE a blocking candidate — otherwise the rejection
    // below would prove nothing about the verify stage
    val cand = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 3L)))
    val out = Dedup.fuzzyPairs(docs, "doc_id", "text",
      n = 3, blockJaccard = 0.3, maxNormDist = 0.05).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)),
      "the 42-char insertion exceeds 5% of the longer text")
    val typoRow = out.find(r =>
      r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(typoRow.getLong(2) == 1L, "one substitution = distance 1")
    assert(typoRow.getDouble(3) > 0.0 && typoRow.getDouble(3) < 0.01)
    // the banded form with the tight fuzzyCap is row-for-row equal:
    // any pair the band abandons (−1) would have failed the ratio
    // filter anyway
    val cap = Dedup.fuzzyCap(docs, "text", 0.05)
    assert(cap >= 1, "cap must allow the typo pair")
    val banded = Dedup.fuzzyPairs(docs, "doc_id", "text",
      n = 3, blockJaccard = 0.3, maxNormDist = 0.05,
      maxDistCap = Some(cap)).collect()
    assert(banded.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("incrementalSemanticDups: full-probe best equals driver brute " +
      "force; a planted exact duplicate is flagged even at nprobe=1") {
    val s = spark
    import s.implicits._
    // the sin-family synthVec is near-collinear at dim 8 (best
    // cosines all > 0.99); this hash-style generator spreads best
    // cosines across ~[0.65, 0.97] so a 0.9 flag has both outcomes
    def hashVec(i: Long, dim: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        ((math.sin(i * 12.9898 + d * 78.233) * 43758.5453) % 1.0 - 0.5)
          .toFloat)
    val emb = (0 until 200)
      .map(i => (i.toLong, hashVec(i.toLong, 8)))
      .toDF("vec_id", "embedding")
    val index = emb.where($"vec_id" % 2 === 0)
    val planted = Seq((9999L, hashVec(42L, 8))).toDF("vec_id", "embedding")
    val batch = emb.where($"vec_id" % 2 === 1).union(planted)
    // nprobe = C (8 even seed ids in [100,116)) probes every cell, so
    // the IVF best must equal exhaustive search exactly
    val out = Dedup.incrementalSemanticDups(index, batch, "vec_id",
        "embedding", centroidLo = 100L, centroidHi = 116L, nprobe = 8,
        dim = 8, minCosine = 0.9, iters = 2).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
          r.getLong(3))).toMap
    // driver brute force with the engine's arithmetic: sequential
    // double dot over the float-valued entries, then sig5
    val idxVecs = index.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    val batVecs = batch.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    for ((qid, qv) <- batVecs) {
      val brute = idxVecs.map { case (_, v) =>
        Sig.sig5(dot(qv, v) /
          (math.sqrt(dot(qv, qv)) * math.sqrt(dot(v, v))))
      }.max
      assert(out(qid)._1 == brute,
        s"full-probe best for $qid must equal brute force")
    }
    assert(out(9999L) == ((1.0, 1L)),
      "the planted copy of index vector 42 scores cosine 1.0")
    // the flag is exactly best ≥ minCosine, never vacuous either way
    assert(out.forall { case (_, (b, f)) => f == (if (b >= 0.9) 1L else 0L) })
    assert(out.exists(_._2._2 == 0L) && out.exists(_._2._2 == 1L),
      "fixture must exercise both flag outcomes")
    // nprobe = 1: the duplicate shares its twin's argmin cell, so the
    // single probed cell already contains it
    val np1 = Dedup.incrementalSemanticDups(index, planted, "vec_id",
      "embedding", centroidLo = 100L, centroidHi = 116L, nprobe = 1,
      dim = 8, minCosine = 0.9, iters = 2).collect().head
    assert(np1.getLong(0) == 9999L && np1.getLong(3) == 1L &&
      np1.getLong(1) == 42L)
  }

  test("session-4 plan shapes: heads are TakeOrderedAndProject, no " +
      "cartesian product anywhere, fuzzy joins stay equi") {
    val s = spark
    import s.implicits._
    val docs = (0 until 40)
      .map(i => (i.toLong, s"alpha beta gamma delta tok$i more$i"))
      .toDF("doc_id", "text")
    val events = (0 until 40).map(i =>
      (i.toLong % 5, i.toLong, i.toLong * 60000000000L,
        s"t${i % 3}")).toDF("user_id", "event_id", "ts", "event_type")
    for ((name, df) <- Seq(
      "pmi" -> TextStats.pmiBigrams(docs, "text", 5, 1L),
      "zipf" -> TextStats.zipfFit(docs, "text", 10),
      "paths" -> graft.ops.EventOps.topPaths(events, 5),
      "fuzzy" -> Dedup.fuzzyPairs(docs, "doc_id", "text",
        blockJaccard = 0.1, maxNormDist = 0.9))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not plan a cartesian product")
    }
    val headPlans = Seq(
      TextStats.pmiBigrams(docs, "text", 5, 1L),
      graft.ops.EventOps.topPaths(events, 5))
      .map(_.queryExecution.executedPlan.toString)
    headPlans.foreach(p =>
      assert(p.contains("TakeOrderedAndProject"),
        "top-k heads must plan per-partition heaps"))
  }

  test("session-4 operators survive empty input with the right " +
      "schema and zero rows") {
    val s = spark
    import s.implicits._
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val events = Seq.empty[(Long, Long, Long, String)]
      .toDF("user_id", "event_id", "ts", "event_type")
    assert(graft.ops.EventOps.transitionMatrix(events).collect().isEmpty)
    assert(graft.ops.EventOps.sequenceAnomaly(events).collect().isEmpty)
    assert(graft.ops.EventOps.transitionDrift(events).collect().isEmpty)
    assert(graft.ops.EventOps.topPaths(events).collect().isEmpty)
    assert(Dedup.fuzzyPairs(docs, "doc_id", "text").collect().isEmpty)
    assert(Dedup.fuzzyCap(docs, "text", 0.05) == 0)
    assert(TextStats.pmiBigrams(docs, "text").collect().isEmpty)
    val z = TextStats.zipfFit(docs, "text").collect().head
    assert(z.getLong(0) == 0L && z.isNullAt(1),
      "regr over nothing is null, not a crash")
  }

  test("imagePhash: five PNG encodings of the same pixels collide " +
      "exactly; different images differ; corrupt rows are dropped") {
    val s = spark
    import s.implicits._
    import graft.ops.Multimodal
    // ids 0..34: seed = (id%7)*41, filter = id%5 — every filter type
    // encodes every image at least once
    val ids = (0L until 35L).toDF("doc_id")
    val out = Multimodal.imagePhash(
      Multimodal.synthRasterMedia(ids, "doc_id"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 35)
    for (id <- 0L until 35L)
      assert(out(id) == out(id % 7L),
        s"id $id must hash equal to its same-pixel twin ${id % 7L}")
    assert(out.values.toSet.size >= 2,
      "the seven images must not all collide")
    assert(out.values.forall(_ >= 0L), "56-bit hash stays non-negative")
    // a corrupt payload is dropped, not fatal
    val withJunk = Multimodal.synthRasterMedia(ids, "doc_id")
      .union(Seq((999L, Array[Byte](1, 2, 3)))
        .toDF("doc_id", "payload"))
    assert(Multimodal.imagePhash(withJunk, "doc_id", "payload")
      .count() == 35L)
  }

  test("ivfPqRerankTopK: the re-ranked head is the exact-cosine " +
      "ordering of the ADC shortlist, bit-for-bit") {
    val s = spark
    import s.implicits._
    def hv(i: Long): Array[Float] =
      Array.tabulate(8)(d =>
        ((math.sin(i * 12.9898 + d * 78.233) * 43758.5453) % 1.0 - 0.5)
          .toFloat)
    val emb = (0 until 300).map(i => (i.toLong, hv(i.toLong)))
      .toDF("vec_id", "embedding")
    val args = (100L, 116L, 120L, 128L) // ivfLo, ivfHi, pqLo, pqHi
    val shortlist = VectorQuant.ivfPqTopK(emb, "vec_id", "embedding",
        args._1, args._2, args._3, args._4, numQueries = 3, k = 25,
        nprobe = 4, dim = 8, m = 2, iters = 2, coarseIters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val rerank = VectorQuant.ivfPqRerankTopK(emb, "vec_id", "embedding",
        args._1, args._2, args._3, args._4, numQueries = 3, k = 10,
        topM = 25, nprobe = 4, dim = 8, m = 2, iters = 2,
        coarseIters = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val vecs = (0 until 300)
      .map(i => i.toLong -> hv(i.toLong).map(_.toDouble)).toMap
    for (q <- 0L until 3L) {
      val cands = shortlist.filter(_._1 == q).map(_._2)
      assert(cands.length == 25)
      val brute = cands.map { vid =>
        val (a, b) = (vecs(q), vecs(vid))
        vid -> Sig.sig5(dot(a, b) /
          (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      }.sortBy { case (vid, c) => (-c, vid) }.take(10)
      brute.zipWithIndex.foreach { case ((vid, c), idx) =>
        assert(rerank((q, idx + 1L)) == ((vid, c)),
          s"query $q rank ${idx + 1}")
      }
    }
  }

  test("embedOutliers: a planted far-away vector is flagged above " +
      "its cell's p99; the flag equals the rounded comparison") {
    val s = spark
    import s.implicits._
    def hv(i: Long, scale: Double): Array[Float] =
      Array.tabulate(8)(d =>
        (((math.sin(i * 12.9898 + d * 78.233) * 43758.5453) % 1.0 - 0.5)
          * scale).toFloat)
    val emb = ((0 until 300).map(i => (i.toLong, hv(i.toLong, 1.0))) :+
      ((9999L, hv(3L, 100.0)))).toDF("vec_id", "embedding")
    // seeded cells (the default): Lloyd training would let the 100×
    // vector drag a centroid and become its cell's sole member,
    // where a per-cell p99 can never flag it — the exact failure
    // this operator's iters=1 default exists to avoid (observed:
    // this same fixture goes unflagged at iters=2)
    val out = Similarity.embedOutliers(emb, "vec_id", "embedding",
        centroidLo = 100L, centroidHi = 116L, dim = 8).collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(byId(9999L)._3 == 1L, "the 100x vector must be flagged")
    assert(byId(9999L)._1 > byId(9999L)._2)
    assert(out.forall(r =>
      r.getLong(4) == (if (r.getDouble(2) > r.getDouble(3)) 1L else 0L)))
    val flagged = out.count(_.getLong(4) == 1L)
    assert(flagged < out.length / 10,
      "a p99 screen must not flood the report")
  }

  test("repetitionNgrams: dup mass exact on a hand-computed doc; " +
      "short docs absent for large n; unique docs read 0") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a a a a"),          // 4 bigrams all equal → 0.75
      (2L, "p q r s t u v w x y z p2 q2 r2 s2")) // all grams unique
      .toDF("doc_id", "text")
    val r = TextStats.repetitionNgrams(docs, "doc_id", "text",
        ns = Seq(2, 5, 10)).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    assert(r((1L, 2L)) == ((4L, 0.75)))
    assert(r((1L, 5L)) == ((1L, 0.0)))
    assert(!r.contains((1L, 10L)), "5 tokens have no 10-grams")
    assert(Seq(2L, 5L, 10L).forall(n => r((2L, n))._2 == 0.0))
  }

  test("compressionRatio: a repeated line deflates far below mixed " +
      "prose, which deflates below high-entropy text") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val docs = Seq(
      (1L, Seq.fill(200)("all work and no play makes jack a dull boy")
        .mkString(" ")),
      (2L, (0 until 400).map(i => s"w${(i * 37) % 211}x$i").mkString(" ")),
      (3L, Array.fill(4000)((33 + rng.nextInt(94)).toChar).mkString))
      .toDF("doc_id", "text")
    val r = TextStats.compressionRatio(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) < 0.05, s"repetition must collapse: ${r(1L)}")
    assert(r(1L) < r(2L) && r(2L) < r(3L))
    assert(r(3L) > 0.7, s"high-entropy text barely deflates: ${r(3L)}")
  }

  test("pmiBigrams: an always-together pair scores high PMI, an " +
      "independent stopword collision scores near zero") {
    val s = spark
    import s.implicits._
    // "new york" occurs only together (20×); "the" and "a" are both
    // frequent (50× each) but adjacent only 5 times — roughly the
    // rate unigram independence predicts, PMI ≈ ln(0.70) ≈ −0.35
    val docs = ((0 until 20).map(i => s"new york city$i") ++
      (0 until 5).map(i => s"the a p$i") ++
      (0 until 45).map(i => s"the q$i r$i a"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val r = TextStats.pmiBigrams(docs, "text", topK = 10, minCount = 5)
      .collect()
      .map(x => (x.getString(1), x.getString(2)) -> x.getDouble(4))
      .toMap
    assert(r(("new", "york")) > 1.5,
      "an exclusive pair must beat unigram-independence by a lot")
    assert(math.abs(r(("the", "a"))) < 0.7,
      "a chance collision of two frequent tokens sits near 0")
    assert(r(("new", "york")) > r(("the", "a")) + 1.0)
  }

  test("zipfFit: an exact power-law vocabulary fits slope ≈ -1 with " +
      "high r²") {
    val s = spark
    import s.implicits._
    // token t_r appears round(720/r) times: counts 720, 360, 240, …
    val words = (1 to 20).flatMap(r =>
      Seq.fill(math.round(720.0 / r).toInt)(s"t${('a' + r).toChar}$r"))
    val docs = words.grouped(50).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val row = TextStats.zipfFit(docs, "text", topK = 20).collect().head
    assert(row.getLong(0) == 20L)
    val slope = row.getDouble(1)
    assert(slope > -1.1 && slope < -0.9, s"slope $slope should be ≈ -1")
    assert(row.getDouble(3) > 0.99, "an exact power law is a line")
  }
}
