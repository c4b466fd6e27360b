package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.ops._

/** Unit tests for the LLM-pipeline operators on tiny synthetic
  * corpora with known duplicate / similarity structure. */
class OpsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val docs = spark.createDataFrame(Seq(
    Row(0L, "the quick brown fox jumps over the lazy dog today"),
    Row(1L, "the quick brown fox jumps over the lazy cat today"),
    Row(2L, "completely different words appear here nothing shared at all"),
    Row(3L, "the quick brown fox jumps over the lazy dog today")
  ).asJava, docSchema)

  test("exact dedup: doc 0 and 3 are identical") {
    val r = Dedup.exactStats(docs, Seq("text")).collect().head
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("n_distinct") == 3L)
    assert(r.getAs[Long]("n_dup_rows") == 2L)
    assert(r.getAs[Long]("n_dup_groups") == 1L)
  }

  test("exact dedup: hashed-key scale path matches by-value grouping") {
    val byValue = Dedup.exactStats(docs, Seq("text")).collect().head
    val byHash = Dedup.exactStats(docs, Seq("text"), hashKeys = true)
      .collect().head
    assert(byValue == byHash)
    // and on the real fixture corpus
    val fx = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert(Dedup.exactStats(fx, Seq("text")).collect().head ==
      Dedup.exactStats(fx, Seq("text"), hashKeys = true).collect().head)
    // null-position disambiguation: Spark's hash skips null children,
    // so ('x', NULL) and (NULL, 'x') would merge without the is-null
    // flags in the hash input
    val ns = StructType(Seq(StructField("k1", StringType),
      StructField("k2", StringType)))
    val nd = spark.createDataFrame(Seq(
      Row("x", null), Row(null, "x"), Row("x", null)).asJava, ns)
    val r = Dedup.exactStats(nd, Seq("k1", "k2"), hashKeys = true)
      .collect().head
    assert(r.getAs[Long]("n_distinct") == 2L)
    assert(r.getAs[Long]("n_dup_rows") == 2L)
  }

  test("hashed gram sets are value-equivalent to string word n-grams") {
    // the production index hashes token-hash tuples; wordNgrams is
    // the reference string construction — per doc, the SET SIZES and
    // the cross-doc equality structure must agree exactly
    import org.apache.spark.sql.functions.{col, size => asize}
    val strSizes = docs
      .select(col("doc_id"), asize(Dedup.wordNgrams(col("text"), 3))
        .as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hashed = Dedup.shingleIndex(docs, "doc_id", "text", 3)
    val hashSizes = hashed.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(strSizes == hashSizes)
    // identical docs 0 and 3 share ALL hashed shingles; doc 2 none
    val sets = hashed.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(sets(0L) == sets(3L))
    assert(sets(0L).intersect(sets(2L)).isEmpty)
  }

  test("ngram jaccard: identical docs = 1.0, near-dup high, disjoint absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs((0L, 1L)) > 0.5 && pairs((0L, 1L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash LSH: finds the identical and near-dup pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      minEstJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 3L)) == 1.0) // identical signatures
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash: identical docs at hamming 0; disjoint docs far") {
    val fps = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(3L))
    assert(java.lang.Long.bitCount(fps(0L) ^ fps(2L)) > 10)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  test("cosine top-k: orthogonal ranked below aligned") {
    val vecs = spark.createDataFrame(Seq(
      Row(0L, Seq(1.0f, 0.0f, 0.0f)),
      Row(5L, Seq(2.0f, 0.0f, 0.0f)),   // same direction as query 0
      Row(6L, Seq(1.0f, 1.0f, 0.0f)),   // 45 degrees
      Row(7L, Seq(0.0f, 1.0f, 0.0f))    // orthogonal
    ).asJava, vecSchema)
    val r = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      numQueries = 1, k = 3).collect()
    assert(r.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(5L, 6L, 7L))
    assert(r.head.getAs[Double]("cosine") == 1.0)
  }

  test("ann lsh: identical vector is always its own bucket's top hit") {
    val vecs = spark.createDataFrame(
      (Seq(Row(0L, Seq.fill(8)(0.5f))) ++
        (1 to 20).map(i => Row(i.toLong,
          Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat / 5f))) ++
        Seq(Row(21L, Seq.fill(8)(0.25f)))).asJava,
      vecSchema)
    val r = Similarity.annTopK(vecs, "vec_id", "embedding",
      numQueries = 1, k = 5, bits = 4, dim = 8).collect()
    // vec 21 is colinear with query 0 => same bucket, cosine 1.0 rank 1
    assert(r.nonEmpty)
    assert(r.head.getAs[Long]("neighbor_id") == 21L)
    assert(r.head.getAs[Double]("cosine") == 1.0)
  }

  test("minhash containment view: exact J>=0.7 pairs all captured") {
    val r = Dedup.minhashContainmentPairs(docs, "doc_id", "text",
      minJaccard = 0.7).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    // both high-J pairs (0,3) identical and (0,1)/(1,3) near-dup
    // survive the LSH candidate join — the containment invariant
    assert(r.contains((0L, 3L)) && r((0L, 3L)) == 1.0)
    assert(r.keySet ==
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.7).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet)
  }

  test("simhash bounded view: near-identical pairs inside Hamming 16") {
    val r = Dedup.simhashBoundedPairs(docs, "doc_id", "text",
      minJaccard = 0.9, maxHamming = 16).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((0L, 3L))) // the identical pair (hamming 0)
    // a tight bound excludes nothing that J>=0.9 includes here
    val r0 = Dedup.simhashBoundedPairs(docs, "doc_id", "text",
      minJaccard = 0.9, maxHamming = 0).collect()
    assert(r0.length == 1)
  }

  test("ngram maxDf cap defuses a stop-phrase hot shingle") {
    // pathological corpus: every doc shares one stop phrase; without
    // the cap the inverted index emits O(m²) candidate pairs
    val m = 40
    val stop = "all rights reserved by the original author"
    val hotDocs = spark.createDataFrame(
      (0 until m).map(i =>
        Row(i.toLong, s"$stop unique tail $i with words w$i x$i y$i z$i"))
        .asJava, docSchema)
    val uncapped = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text",
      n = 3, minJaccard = 0.0)
    // every pair shares the stop-phrase shingles => m(m-1)/2 pairs
    assert(uncapped.count() == m.toLong * (m - 1) / 2)
    val capped = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text",
      n = 3, minJaccard = 0.0, maxDf = Some(10L))
    // all stop shingles exceed df 10; unique tails share nothing
    assert(capped.count() == 0L)
  }

  test("corpus pipeline: funnel stages drop monotonically and the " +
      "split partitions the clean set") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val corpus = docs.where(col("source") =!= "src0")
    val eval = docs.where(col("source") === "src0")
    val counts = graft.pipeline.CorpusPipeline
      .funnelCounts(corpus, eval, "doc_id", "text").collect().head
    val (n0, n1, n2, n3) = (counts.getLong(0), counts.getLong(1),
      counts.getLong(2), counts.getLong(3))
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3)
    assert(n3 > 0 && n1 < n0 && n2 < n1 && n3 < n2,
      s"every stage must bite: $n0 -> $n1 -> $n2 -> $n3")
    val (train, holdout) = graft.pipeline.CorpusPipeline
      .run(corpus, eval, "doc_id", "text")
    val tr = train.select("doc_id").collect().map(_.getLong(0)).toSet
    val ho = holdout.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((tr & ho).isEmpty)
    assert(tr.size + ho.size == n3)
  }

  test("stratifiedExact: ceil(frac*n) lowest ids per stratum") {
    val s = StructType(Seq(StructField("id", LongType),
      StructField("g", StringType)))
    val d = spark.createDataFrame(
      ((1L to 10L).map(i => Row(i, "a")) ++
        (11L to 13L).map(i => Row(i, "b"))).asJava, s)
    val r = Sampling.stratifiedExact(d, "g", "id", 0.2).collect()
      .map(x => (x.getString(1), x.getLong(0))).toSet
    // a: ceil(10*0.2)=2 lowest ids; b: ceil(3*0.2)=1
    assert(r == Set(("a", 1L), ("a", 2L), ("b", 11L)))
  }

  test("hashSplit: deterministic, disjoint, exhaustive") {
    val s = StructType(Seq(StructField("id", LongType)))
    val d = spark.createDataFrame(
      (1L to 500L).map(Row(_)).asJava, s)
    val (tr1, ho1) = Sampling.hashSplit(d, "id", holdoutPerMille = 100)
    val (tr2, ho2) = Sampling.hashSplit(d, "id", holdoutPerMille = 100)
    val t1 = tr1.collect().map(_.getLong(0)).toSet
    val h1 = ho1.collect().map(_.getLong(0)).toSet
    assert(t1 == tr2.collect().map(_.getLong(0)).toSet) // stable
    assert(h1 == ho2.collect().map(_.getLong(0)).toSet)
    assert((t1 & h1).isEmpty && t1.size + h1.size == 500)
    assert(h1.size > 20 && h1.size < 200) // ~10% binomial envelope
  }

  test("contamination: eval doc flagged against overlapping train doc " +
      "only") {
    val train = spark.createDataFrame(Seq(
      Row(1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      Row(2L, "totally unrelated content nothing shared here at all ok")
    ).asJava, docSchema)
    val eval = spark.createDataFrame(Seq(
      Row(100L, "alpha beta gamma delta epsilon zeta eta kappa lambda"),
      Row(101L, "fresh benchmark question with its own novel words")
    ).asJava, docSchema)
    val r = Dedup.contaminationPairs(train, eval, "doc_id", "text",
      n = 3, minShared = 5L).collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 100L && r.head.getLong(1) == 1L)
    // eval 100 has 7 distinct 3-grams, 5 shared with train 1
    assert(r.head.getAs[Long]("n_shared") == 5L)
    assert(math.abs(r.head.getAs[Double]("overlap") - 5.0 / 7) < 1e-4)
  }

  test("duplicateClusters: chain and clique collapse to min-id labels; " +
      "unpaired docs absent") {
    val s = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType)))
    // chain 1-2-3-4 (diameter 3, needs multiple propagation rounds)
    // plus clique {10,11,12}; doc 99 appears in no pair
    val pairs = spark.createDataFrame(Seq(
      Row(1L, 2L), Row(2L, 3L), Row(3L, 4L),
      Row(10L, 11L), Row(10L, 12L), Row(11L, 12L)).asJava, s)
    val cl = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("duplicateClustersStar: 100-node chain collapses in O(log n) " +
      "rounds; agrees with propagation on mixed graphs") {
    val s = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType)))
    // a chain of diameter 99 — min-label propagation would need 99
    // rounds (beyond its maxIter guard); the star algorithm must
    // converge logarithmically
    val chain = spark.createDataFrame(
      (1L until 100L).map(i => Row(i, i + 1)).asJava, s)
    val cl = Dedup.duplicateClustersStar(chain,
      driverThreshold = 0L).collect() // force the distributed rounds
    assert(cl.length == 100)
    assert(cl.forall(_.getLong(1) == 1L))
    // equivalence with min-label propagation on a mixed graph
    val mixed = spark.createDataFrame(Seq(
      Row(5L, 3L), Row(3L, 9L), Row(20L, 21L), Row(21L, 22L),
      Row(40L, 41L)).asJava, s)
    val a = Dedup.duplicateClusters(mixed).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.duplicateClustersStar(mixed).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("duplicateClustersStar under a reliable checkpoint dir: same " +
      "labels, checkpoint files actually written") {
    val s = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType)))
    val pairs = spark.createDataFrame(Seq(
      Row(1L, 2L), Row(2L, 3L), Row(3L, 4L),
      Row(10L, 11L), Row(10L, 12L), Row(11L, 12L)).asJava, s)
    val baseline = Dedup.duplicateClustersStar(pairs,
      driverThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      // auto mode must now route through reliable checkpoint()
      val withCkpt = Dedup.duplicateClustersStar(pairs,
        driverThreshold = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(withCkpt == baseline)
      // prove the reliable path engaged: checkpoint data on disk
      def files(p: java.io.File): Iterator[java.io.File] =
        Option(p.listFiles).iterator.flatten
          .flatMap(f => Iterator(f) ++ files(f))
      assert(files(dir.toFile).exists(_.isFile))
      // explicit "true" with a dir set also works
      spark.conf.set(Materialize.ConfKey, "true")
      assert(Dedup.duplicateClustersStar(pairs, driverThreshold = 0L)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == baseline)
    } finally {
      // the shared session keeps its checkpoint dir (no unset API);
      // force the fast local path back for every other suite
      spark.conf.set(Materialize.ConfKey, "false")
    }
  }

  test("materialize: reliable=true without a checkpoint dir fails " +
      "loudly instead of silently degrading") {
    // a fresh session view shares the context but its own SQL conf
    val s2 = spark.newSession()
    s2.conf.set(Materialize.ConfKey, "true")
    val df = s2.range(3).toDF("id")
    if (s2.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        Materialize.materialize(df)
      }
      assert(e.getMessage.contains("checkpoint dir"))
    } else {
      // the shared context already has a dir (suite-order dependent):
      // then the call must succeed on the reliable path
      assert(Materialize.materialize(df).count() == 3L)
    }
  }

  test("keepStats: one representative survives per cluster") {
    val s = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType)))
    val pairs = spark.createDataFrame(Seq(
      Row(1L, 2L), Row(2L, 3L), Row(10L, 11L)).asJava, s)
    val docsDf = spark.createDataFrame(
      (1L to 20L).map(i => Row(i, s"doc $i")).asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val r = Dedup.keepStats(docsDf, "doc_id",
      Dedup.duplicateClusters(pairs)).collect().head
    assert(r.getAs[Long]("n_docs") == 20L)
    assert(r.getAs[Long]("n_in_clusters") == 5L)
    assert(r.getAs[Long]("n_dropped") == 3L) // {2,3} and {11}
    assert(r.getAs[Long]("n_kept") == 17L)
  }

  test("banded embed LSH on the fixture: captures the exact near-dup " +
      "pair and emits nothing else") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Dedup.embedCosinePairs(emb, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.embedCosinePairsBanded(emb, "vec_id", "embedding",
      0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(banded == exact) // 100% recall + exact-cosine precision here
  }

  test("banded embed LSH adversarial skew: maxBucket caps a " +
      "pathological bucket to star edges, preserving connectivity") {
    // 500 positive scalings of ONE direction: identical hyperplane
    // signs in every band -> one bucket of 500 per band; plus two
    // unrelated orthogonal-ish vectors that must be unaffected
    val dim = 64
    val baseVec = (0 until dim).map(d => math.sin(d + 1.0).toFloat)
    val rows = (0L until 500L).map { i =>
      Row(i, baseVec.map(x => x * (1.0f + i.toFloat * 1e-6f)))
    } ++ Seq(
      Row(900L, (0 until dim).map(d =>
        if (d == 0) 1.0f else 0.0f)),
      Row(901L, (0 until dim).map(d =>
        if (d == 1) 1.0f else 0.0f)))
    val s = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val emb = spark.createDataFrame(rows.asJava, s).repartition(8)
    // uncapped: quadratic blow-up confined to the hot bucket
    val uncapped = Dedup.embedCosinePairsBanded(emb, "vec_id",
      "embedding", minCosine = 0.9)
    assert(uncapped.count() == 500L * 499L / 2)
    // capped: the hot bucket degrades to 499 star edges — candidate
    // volume bounded by m-1, not C(m,2)
    val capped = Dedup.embedCosinePairsBanded(emb, "vec_id",
      "embedding", minCosine = 0.9, maxBucket = Some(100L))
    val cappedPairs = capped.collect()
    assert(cappedPairs.length == 499)
    assert(cappedPairs.forall(_.getLong(0) == 0L)) // star rep = min id
    // connectivity identical: one cluster of all 500 either way
    val cl = Dedup.duplicateClustersStar(capped).collect()
    assert(cl.length == 500 && cl.forall(_.getLong(1) == 0L))
    // under-cap buckets still do exact all-pairs: nothing spurious
    assert(cappedPairs.forall(r => r.getLong(1) < 500L))
  }

  test("minhash banded join honors the same maxBucket star cap") {
    // 40 identical docs: every band bucket holds all 40
    val m = 40
    val same = spark.createDataFrame(
      (0 until m).map(i => Row(i.toLong,
        "identical boilerplate text repeated across the corpus body"))
        .asJava, docSchema)
    val uncapped = Dedup.minhashLshPairs(same, "doc_id", "text",
      minEstJaccard = 0.5)
    assert(uncapped.count() == m.toLong * (m - 1) / 2)
    val capped = Dedup.minhashLshPairs(same, "doc_id", "text",
      minEstJaccard = 0.5, maxBucket = Some(10L)).collect()
    assert(capped.length == m - 1)
    assert(capped.forall(_.getLong(0) == 0L)) // star rep = min id
    assert(capped.forall(_.getDouble(2) == 1.0)) // identical sigs
  }

  test("multiprobe ANN recall@10 vs brute force, and >= single-probe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def recall(ann: Map[Long, Set[Long]], ref: Map[Long, Set[Long]])
        : Double = {
      val hits = ref.toSeq.map { case (q, s) =>
        ann.getOrElse(q, Set.empty).intersect(s).size
      }.sum
      hits.toDouble / ref.values.map(_.size).sum
    }
    def tops(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) =>
          q -> rs.map(_.getAs[Long]("neighbor_id")).toSet
        }
    val brute = tops(Similarity.cosineTopK(emb, "vec_id", "embedding",
      numQueries = 5, k = 10))
    val single = tops(Similarity.annTopK(emb, "vec_id", "embedding",
      numQueries = 5, k = 10, bits = 8, dim = 64, multiProbe = false))
    val multi = tops(Similarity.annTopK(emb, "vec_id", "embedding",
      numQueries = 5, k = 10, bits = 8, dim = 64, multiProbe = true))
    val ivf = tops(Similarity.ivfTopK(emb, "vec_id", "embedding",
      numQueries = 5, k = 10))
    val ri = recall(ivf, brute)
    val rs = recall(single, brute)
    val rm = recall(multi, brute)
    info(f"single-probe recall@10 = $rs%.2f, multiprobe = $rm%.2f, " +
      f"ivf(4/16 cells) = $ri%.2f")
    // IVF probing 4 of 16 data-adaptive cells scans ~25% of the
    // corpus; its recall floor is measured like the LSH ones
    assert(ri >= 0.2, "IVF recall collapsed below the measured floor")
    // deterministic given seed-42 planes + fixture: measured 0.00
    // single-probe vs 0.10 multiprobe. The fixture's true top-10 sit
    // at cosine ≈ 0.3–0.4 (no planted neighbors at sf0.001), the
    // hardest regime for an 8-bit code; the invariant under test is
    // that Hamming-1 probing strictly lifts the single-probe cliff
    // and never drops below its measured floor.
    assert(rm > rs)
    assert(rm >= 0.1, "multiprobe recall collapsed below the measured floor")
  }

  test("zero-norm embeddings never rank as neighbors or near-dups") {
    val vecs = spark.createDataFrame(Seq(
      Row(0L, Seq(1.0f, 0.0f)), Row(5L, Seq(0.0f, 0.0f)),
      Row(6L, Seq(2.0f, 0.0f))).asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      numQueries = 1, k = 5).collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(6L),
      "the zero vector must not appear (its cosine was NaN = rank 1)")
    val pairs = Dedup.embedCosinePairs(vecs, "vec_id", "embedding",
      minCosine = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 6L)))
  }

  test("text stats: token and stopword accounting") {
    val q = TextStats.quality(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(q(0L).getAs[Long]("n_tokens") == 10L)
    // 'the' twice in doc 0 => stop_ratio 0.2
    assert(math.abs(q(0L).getAs[Double]("stop_ratio") - 0.2) < 1e-9)
    assert(q(2L).getAs[Double]("stop_ratio") == 0.0)
  }

  test("repetition: degenerate loop text scores near 1, varied text low") {
    val d = spark.createDataFrame(Seq(
      Row(1L, "spam spam spam spam spam spam"),
      Row(2L, "each word here appears exactly once today"),
      Row(3L, "solo")
    ).asJava, docSchema)
    val r = TextStats.repetition(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Double]("top_token_frac") == 1.0)
    assert(r(1L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(r(2L).getAs[Long]("n_tokens") == 7L)
    assert(math.abs(r(2L).getAs[Double]("top_token_frac") - 1.0 / 7) < 1e-4)
    assert(math.abs(r(2L).getAs[Double]("top_bigram_frac") - 1.0 / 6) < 1e-4)
    assert(r(3L).isNullAt(r(3L).fieldIndex("top_bigram_frac")),
      "a one-token doc has no bigrams")
  }

  test("langid: english stopwords dominate; unknown when no markers") {
    val conf = TextStats.langIdConfusion(
      docs.withColumn("lang", org.apache.spark.sql.functions.lit("en")),
      "text", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(conf(("en", "en")) == 3L)       // docs 0,1,3 contain 'the'
    assert(conf(("en", "unknown")) == 1L)  // doc 2 has no markers
  }

  test("fingerprint: identical docs share fp; deterministic across runs") {
    val f1 = TextStats.fingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f2 = TextStats.fingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f1 == f2)
    assert(f1(0L) == f1(3L))
  }

  test("multimodal: PNG IHDR parse on hand-written bytes") {
    // 13x7 truecolour PNG, hand-assembled: sig + IHDR + IDAT + IEND.
    // CRCs computed here, not by the code under test.
    def crc(bs: Array[Byte]): Array[Byte] = {
      val c = new java.util.zip.CRC32(); c.update(bs)
      val v = c.getValue
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    }
    val ihdr = "IHDR".getBytes ++ Array[Byte](0, 0, 0, 13, 0, 0, 0, 7,
      8, 2, 0, 0, 0)
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++
      Array[Byte](0, 0, 0, 13) ++ ihdr ++ crc(ihdr) ++
      Array[Byte](0, 0, 0, 0) ++ "IDAT".getBytes ++
        crc("IDAT".getBytes) ++
      Array[Byte](0, 0, 0, 0) ++ "IEND".getBytes ++ crc("IEND".getBytes)
    val d = Multimodal.decode(png)
    assert(d.format == "png")
    assert(d.width.contains(13L) && d.height.contains(7L))
    assert(d.nFrames.contains(1L) && d.channels.contains(3L))
  }

  test("multimodal: JPEG SOF scan skips preceding segments") {
    // SOI + APP1 (9 bytes of junk the scan must skip by length) +
    // SOF2 (progressive) declaring 300x200, 3 components + EOI
    val jpeg = Array[Int](0xff, 0xd8,
      0xff, 0xe1, 0x00, 0x0b, 1, 2, 3, 4, 5, 6, 7, 8, 9,
      0xff, 0xc2, 0x00, 0x11, 8, 0x00, 0xc8, 0x01, 0x2c, 3,
      1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1,
      0xff, 0xd9).map(_.toByte)
    val d = Multimodal.decode(jpeg)
    assert(d.format == "jpeg")
    assert(d.width.contains(300L) && d.height.contains(200L))
    assert(d.channels.contains(3L))
  }

  test("multimodal: WAV fmt/data chunk walk, LE fields") {
    // 44.1 kHz stereo 16-bit, 10 frames => data = 40 bytes
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val wav = "RIFF".getBytes ++ le32(76) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(40) ++ new Array[Byte](40)
    val d = Multimodal.decode(wav)
    assert(d.format == "wav")
    assert(d.sampleRate.contains(44100L) && d.channels.contains(2L))
    assert(d.nFrames.contains(10L))
    assert(d.width.isEmpty && d.height.isEmpty)
  }

  test("multimodal: garbage and truncated payloads degrade to unknown") {
    assert(Multimodal.decode("not a media file".getBytes)
      .format == "unknown")
    assert(Multimodal.decode(Array[Byte](0x89.toByte, 0x50))
      .format == "unknown") // truncated PNG sig
    // JPEG that ends mid-scan: no SOF found, but no exception
    val d = Multimodal.decode(
      Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10).map(_.toByte))
    assert(d.format == "jpeg" && d.width.isEmpty)
  }

  test("multimodal: byte features — exact histogram on a known " +
      "payload, entropy bounds, zero-run detection") {
    import org.apache.spark.sql.functions.col
    // WAV with zero-filled PCM data: 44 header bytes + 64 zeros
    val wav = Multimodal.synthWav(8000L, 1L, 32L)
    val s = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val one = spark.createDataFrame(
      Seq(Row(1L, wav)).asJava, s)
    val f = Multimodal.byteFeatures(one, "doc_id", "payload")
      .collect().head
    assert(f.n_bytes == wav.length.toLong)
    assert(f.byte_hist.sum == wav.length.toLong)
    // zero-dominated: bucket 0 holds all PCM zeros plus header zeros
    val zeros = wav.count(_ == 0)
    assert(f.byte_hist(0) >= zeros)
    assert(f.entropy > 0.0 && f.entropy < 8.0)
    // uniform 0..255 payload has exactly 8 bits of entropy
    val uniform = Array.tabulate[Byte](256)(_.toByte)
    val u = Multimodal.byteFeatures(
      spark.createDataFrame(Seq(Row(2L, uniform)).asJava, s),
      "doc_id", "payload").collect().head
    assert(math.abs(u.entropy - 8.0) < 1e-12)
    assert(u.byte_hist.forall(_ == 16L)) // 256 values / 16 buckets
    // corpus-scale shape: runs over the synthesized fixture payloads
    val many = Multimodal.byteFeatures(
      Multimodal.synthMedia(docs.select(col("doc_id")), "doc_id"),
      "doc_id", "payload").collect()
    assert(many.length == 4)
    assert(many.forall(x => x.byte_hist.sum == x.n_bytes))
  }

  test("multimodal: real PNG pixel decode inverts synthesis under " +
      "every scanline filter; resize samples exact source pixels") {
    for (ft <- 0 to 4) {
      val png = Multimodal.synthPngRaster(13, 7, seed = ft * 11,
        filterType = ft)
      val px = Multimodal.decodePixels(png)
        .getOrElse(fail(s"filter $ft did not decode"))
      assert(px.width == 13 && px.height == 7 && px.channels == 3)
      for (y <- 0 until 7; x <- 0 until 13; c <- 0 until 3)
        assert((px.data((y * 13 + x) * 3 + c) & 0xff) ==
          Multimodal.rasterPixel(x, y, c, ft * 11),
          s"filter $ft pixel ($x,$y,$c)")
    }
    // nearest-neighbor resize: output (x,y) = source (x*W/outW, ...)
    val px = Multimodal.decodePixels(
      Multimodal.synthPngRaster(16, 8, seed = 1)).get
    val t = Multimodal.resizeNearest(px, 4, 2)
    assert(t.width == 4 && t.height == 2)
    for (y <- 0 until 2; x <- 0 until 4; c <- 0 until 3)
      assert((t.data((y * 4 + x) * 3 + c) & 0xff) ==
        Multimodal.rasterPixel(x * 4, y * 4, c, 1))
    // headers-only synthetic PNGs (fake IDAT) and non-PNGs decode to
    // None, never throw
    assert(Multimodal.decodePixels(Multimodal.synthPng(5, 5, 1)).isEmpty)
    assert(Multimodal.decodePixels(
      Multimodal.synthWav(8000, 1, 4)).isEmpty)
  }

  test("multimodal: distributed thumbnail stats over real rasters") {
    import org.apache.spark.sql.functions.col
    val s = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rows = (0L until 6L).map(i =>
      Row(i, Multimodal.synthPngRaster(16 + i.toInt, 8, seed = i.toInt)))
    val mixed = rows :+ Row(99L, "not a png".getBytes) // must be dropped
    val df = spark.createDataFrame(mixed.asJava, s).repartition(3)
    val t = Multimodal.thumbStats(df, "doc_id", "payload",
      thumbW = 4, thumbH = 4).collect().map(x => x.doc_id -> x).toMap
    assert(t.size == 6 && !t.contains(99L))
    assert(t(0L).width == 16L && t(0L).height == 8L)
    assert(t(0L).thumb_means.length == 3)
    assert(t(0L).thumb_means.forall(m => m >= 0.0 && m <= 255.0))
    // deterministic: same content -> same hash; different seeds differ
    assert(t(0L).thumb_hash != t(1L).thumb_hash)
    val again = Multimodal.thumbStats(df, "doc_id", "payload",
      thumbW = 4, thumbH = 4).collect().map(x => x.doc_id -> x).toMap
    assert(again(3L).thumb_hash == t(3L).thumb_hash)
  }

  test("multimodal: synth payloads decode to their embedded params") {
    // end-to-end over the Dataset boundary: synthesize real bytes,
    // decode distributed, check against the id formulas
    val ids = docs.select(org.apache.spark.sql.functions.col("doc_id"))
    val m = Multimodal.mediaMeta(Multimodal.synthMedia(ids, "doc_id"),
      "doc_id", "payload").collect().map(x => x.doc_id -> x).toMap
    assert(m(0L).format == "png" && m(0L).width.contains(16L) &&
      m(0L).n_frames.contains(1L) && m(0L).n_bytes == 65L)
    assert(m(3L).format == "png" && m(3L).n_frames.contains(4L) &&
      m(3L).n_bytes == 85L) // animated: acTL present
    assert(m(1L).format == "jpeg" && m(1L).width.contains(21L) &&
      m(1L).height.contains(19L))
    assert(m(2L).format == "wav" && m(2L).sample_rate.contains(22050L)
      && m(2L).n_frames.contains(18L) && m(2L).channels.contains(1L))
    val frames = Multimodal.frameSample(
      Multimodal.mediaMeta(Multimodal.synthMedia(ids, "doc_id"),
        "doc_id", "payload"), stride = 2L)
    assert(frames.count() > 0)
  }

  test("map profile: key frequency and value stats via map_entries") {
    val s = StructType(Seq(StructField("m",
      MapType(StringType, DoubleType))))
    val d = spark.createDataFrame(Seq(
      Row(Map("a" -> 1.0, "b" -> 2.0)),
      Row(Map("a" -> 3.0)),
      Row(Map("b" -> 4.0, "c" -> 5.0))
    ).asJava, s)
    val r = ArrayStats.mapProfile(d, "m").collect()
      .map(x => x.getString(0) ->
        (x.getAs[Long]("cnt"), x.getAs[Double]("avg_value"))).toMap
    assert(r("a") == (2L, 2.0))
    assert(r("b") == (2L, 3.0))
    assert(r("c")._1 == 1L)
  }

  test("multimodal: null payload rows are skipped, not fatal") {
    val s = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val d = spark.createDataFrame(Seq(
      Row(1L, "abc".getBytes), Row(2L, null)).asJava, s)
    val out = Multimodal.mediaMeta(d, "doc_id", "payload").collect()
    assert(out.map(_.doc_id).toSeq == Seq(1L))
  }

  test("sessionize: 30-min gaps split sessions") {
    val es = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", LongType)))
    val min = 60L * 1000000000L // ns
    val ev = spark.createDataFrame(Seq(
      Row(1L, 1L, 0L * min), Row(1L, 2L, 10L * min),
      Row(1L, 3L, 50L * min), // 40-min gap => new session
      Row(2L, 4L, 0L * min)
    ).asJava, es)
    val r = EventOps.sessionize(ev).collect()
      .map(x => (x.getLong(0), x.getAs[Long]("session_idx")) ->
        x.getAs[Long]("n_events")).toMap
    assert(r == Map((1L, 1L) -> 2L, (1L, 2L) -> 1L, (2L, 1L) -> 1L))
  }

  test("transitionMatrix: per-user steps only, row-normalized " +
      "probabilities, no cross-user step") {
    val es = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType)))
    val min = 60L * 1000000000L // ns
    val ev = spark.createDataFrame(Seq(
      Row(1L, 1L, 0L * min, "A"), Row(1L, 2L, 1L * min, "B"),
      Row(1L, 3L, 2L * min, "A"),
      // user 2 ends on C; no (C, ...) step may appear even though
      // user 1's events come later in input order
      Row(2L, 4L, 0L * min, "B"), Row(2L, 5L, 1L * min, "C")
    ).asJava, es)
    val r = EventOps.transitionMatrix(ev).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getAs[Long]("n"), x.getAs[Double]("p"))).toMap
    assert(r == Map(("A", "B") -> ((1L, 1.0)), ("B", "A") -> ((1L, 0.5)),
      ("B", "C") -> ((1L, 0.5))))
  }

  test("sequenceAnomaly: the rare-path user scores -ln(0.2), the " +
      "common-path users -ln(0.8)") {
    val es = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType)))
    val min = 60L * 1000000000L
    val rows = (1L to 4L).flatMap(u => Seq(
      Row(u, u * 10, 0L * min, "A"), Row(u, u * 10 + 1, 1L * min, "B")
    )) ++ Seq(Row(5L, 50L, 0L * min, "A"), Row(5L, 51L, 1L * min, "C"))
    val ev = spark.createDataFrame(rows.asJava, es)
    val r = EventOps.sequenceAnomaly(ev).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("avg_nll")).toMap
    assert(math.abs(r(5L) - (-math.log(0.2))) < 1e-4)
    assert((1L to 4L).forall(u => math.abs(r(u) - (-math.log(0.8))) < 1e-4))
    assert(r(5L) > r(1L), "the improbable path must score higher")
  }

  test("transitionDrift: a flipped next-type distribution scores " +
      "TVD 1, stable behavior 0, one-half-empty types NULL") {
    val es = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType)))
    val min = 60L * 1000000000L
    def ev(u: Long, e: Long, m: Long, t: String) = Row(u, e, m * min, t)
    val rows = Seq(
      // early half: users 1,2 do A→B; late half: users 3,4 do A→C
      ev(1, 1, 10, "A"), ev(1, 2, 11, "B"),
      ev(2, 3, 20, "A"), ev(2, 4, 21, "B"),
      ev(3, 5, 2010, "A"), ev(3, 6, 2011, "C"),
      ev(4, 7, 2020, "A"), ev(4, 8, 2021, "C"),
      // stable: D→D in both halves
      ev(5, 9, 30, "D"), ev(5, 10, 31, "D"),
      ev(6, 11, 2030, "D"), ev(6, 12, 2031, "D"),
      // early-only: E→F, no late E steps
      ev(7, 13, 40, "E"), ev(7, 14, 41, "F"))
    val r = EventOps.transitionDrift(
        spark.createDataFrame(rows.asJava, es)).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) null else Double.box(x.getDouble(3))))
      .toMap
    assert(r("A") == ((2L, 2L, Double.box(1.0))),
      "disjoint next distributions = TVD 1")
    assert(r("D") == ((1L, 1L, Double.box(0.0))))
    assert(r("E")._3 == null, "TVD against an empty half is undefined")
    assert(!r.contains("B") && !r.contains("C") && !r.contains("F"),
      "types with no outgoing steps don't appear")
  }

  test("topPaths: chained leads count per-user 3-step journeys with " +
      "deterministic head and exact shares") {
    val es = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType)))
    val min = 60L * 1000000000L
    val rows = Seq(
      Row(1L, 1L, 1L * min, "A"), Row(1L, 2L, 2L * min, "B"),
      Row(1L, 3L, 3L * min, "C"), Row(1L, 4L, 4L * min, "D"),
      Row(2L, 5L, 1L * min, "A"), Row(2L, 6L, 2L * min, "B"),
      Row(2L, 7L, 3L * min, "C"))
    val r = EventOps.topPaths(
        spark.createDataFrame(rows.asJava, es), topK = 5).collect()
    assert(r.length == 2)
    assert((r(0).getString(1), r(0).getString(2), r(0).getString(3),
      r(0).getLong(4)) == (("A", "B", "C", 2L)))
    assert((r(1).getString(1), r(1).getString(2), r(1).getString(3),
      r(1).getLong(4)) == (("B", "C", "D", 1L)))
    assert(math.abs(r(0).getAs[Double]("share") - 2.0 / 3.0) < 1e-4)
  }

  test("propsParsed: schema-on-read from_json extraction") {
    val es = StructType(Seq(StructField("props", StringType)))
    val ev = spark.createDataFrame(Seq(
      Row("{\"k\": 42}"), Row("not json")).asJava, es)
    val r = EventOps.propsParsed(ev)
      .selectExpr("props_parsed.k AS k").collect()
      .map(x => if (x.isNullAt(0)) None else Some(x.getLong(0)))
    assert(r.toSeq == Seq(Some(42L), None))
  }

  test("props stats tolerate rows without the extracted key (ANSI)") {
    val es = StructType(Seq(StructField("event_type", StringType),
      StructField("props", StringType)))
    val ev = spark.createDataFrame(Seq(
      Row("a", "{\"k\": 7}"), Row("a", "{}"), Row("a", "{\"j\": 1}")
    ).asJava, es)
    val r = EventOps.propsKStats(ev).collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("n_with_k") == 1L)
    assert(r.getAs[Double]("avg_k") == 7.0)
  }

  test("windowed stats: hour alignment from integer micros") {
    val es = StructType(Seq(StructField("ts", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val hourNs = 3600L * 1000000000L
    val ev = spark.createDataFrame(Seq(
      Row(1L, "a", 1.0), Row(hourNs - 1000L, "a", 3.0),
      Row(hourNs + 1000L, "a", 5.0)
    ).asJava, es)
    val r = EventOps.windowedStats(ev).collect()
    assert(r.length == 2)
    assert(r.head.getAs[Long]("cnt") == 2L)
    assert(r.head.getAs[Double]("avg_value") == 2.0)
  }

  test("slidingWindowStats: one event lands in len/slide overlapping " +
      "windows") {
    val s = spark
    import s.implicits._
    // 00:40 with a 1-hour window sliding by 30 minutes → the windows
    // starting 00:00 and 00:30
    val ev = Seq((new java.sql.Timestamp(40L * 60000L), "a", 2.0))
      .toDF("ts", "event_type", "value")
      .withColumn("event_id", org.apache.spark.sql.functions.lit(1L))
    val starts = EventOps.slidingWindowStats(ev).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(starts == Seq(0L, 1800000000L))
  }
}
