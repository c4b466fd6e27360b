package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.HeavyHitters
import graft.ops.{BloomPrefilter, Dedup, SubstringDedup, TextStats}
import graft.profiler.Stats

/** Round-5 operators: Misra–Gries guarantees, substring-span dedup,
  * Bloom prefilter equivalence, vocabulary stats, grouped profiling. */
class Round5OpsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, docSchema)

  private val itemSchema = StructType(Seq(StructField("it", StringType)))
  private def items(xs: String*) =
    spark.createDataFrame(xs.map(Row(_)).asJava, itemSchema)

  // ---------------------------------------------------------------
  // Misra–Gries
  // ---------------------------------------------------------------

  test("mg: single partition, vocab <= k is exact") {
    val d = items(Seq.fill(5)("a") ++ Seq.fill(3)("b"): _*).coalesce(1)
    val r = d.agg(HeavyHitters.mg(col("it"), 4).as("mg"))
      .select(col("mg.n"), col("mg.items")).collect()(0)
    assert(r.getLong(0) == 8)
    assert(r.getMap[String, Long](1).toMap == Map("a" -> 5L, "b" -> 3L))
  }

  test("mg: classic decrement path on a known stream") {
    // k=1, stream a b a b a: counters trace to {a:1}
    val d = items("a", "b", "a", "b", "a").coalesce(1)
    val r = d.agg(HeavyHitters.mg(col("it"), 1).as("mg"))
      .select(col("mg.items")).collect()(0)
    assert(r.getMap[String, Long](0).toMap == Map("a" -> 1L))
  }

  test("mg: guarantees hold under every partitioning (merge order)") {
    // skewed stream: a×600, b×250, c×100, d..i×10 each → n=1010
    val xs = Seq.fill(600)("a") ++ Seq.fill(250)("b") ++
      Seq.fill(100)("c") ++ "defghi".map(_.toString).flatMap(Seq.fill(10)(_))
    val exact = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = xs.size.toLong
    for (k <- Seq(2, 4, 8); parts <- Seq(1, 3, 7)) {
      val d = items(scala.util.Random.shuffle(xs): _*).repartition(parts)
      val r = d.agg(HeavyHitters.mg(col("it"), k).as("mg"))
        .select(col("mg.n"), col("mg.items")).collect()(0)
      assert(r.getLong(0) == n)
      val est = r.getMap[String, Long](1).toMap
      assert(est.size <= k, s"k=$k parts=$parts size")
      est.foreach { case (it, e) =>
        assert(e <= exact(it), s"overcount $it k=$k parts=$parts")
        assert((exact(it) - e) * (k + 1) <= n,
          s"error bound $it k=$k parts=$parts")
      }
      // coverage: every true heavy item is present
      exact.foreach { case (it, c) =>
        if (c * (k + 1) > n)
          assert(est.contains(it), s"missing heavy $it k=$k parts=$parts")
      }
    }
  }

  test("mg: nulls are not stream elements") {
    val d = spark.createDataFrame(
      Seq(Row("a"), Row(null), Row("a"), Row(null)).asJava, itemSchema)
    val r = d.agg(HeavyHitters.mg(col("it"), 2).as("mg"))
      .select(col("mg.n"), col("mg.items")).collect()(0)
    assert(r.getLong(0) == 2)
    assert(r.getMap[String, Long](1).toMap == Map("a" -> 2L))
  }

  // ---------------------------------------------------------------
  // SubstringDedup
  // ---------------------------------------------------------------

  test("substring: shared span found, coverage union exact") {
    // docs 0/1 share the 7-token run "q w e r t y u" → dup starts
    // 0..2 (gram 5), one span covering 7 tokens in each doc
    val d = docs(
      0L -> "q w e r t y u a1 a2 a3",
      1L -> "b1 q w e r t y u b2 b3",
      2L -> "z1 z2 z3 z4 z5 z6 z7 z8")
    val r = SubstringDedup.duplicatedSpanStats(d, "doc_id", "text",
      gram = 5).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    r.foreach { x =>
      assert(x.getAs[Long]("n_dup_spans") == 1)
      assert(x.getAs[Long]("n_dup_tokens") == 7)
      assert(x.getAs[Long]("n_tokens") == 10)
      assert(math.abs(x.getAs[Double]("dup_frac") - 0.7) < 1e-9)
    }
  }

  test("substring: overlapping runs merge; separated runs do not") {
    // doc 0 and 1 share TWO 5-gram spans separated by >= gram
    // unique tokens in doc 0 → two coverage intervals
    val shared1 = "s1 s2 s3 s4 s5"
    val shared2 = "t1 t2 t3 t4 t5"
    val d = docs(
      0L -> s"$shared1 x1 x2 x3 x4 x5 x6 $shared2",
      1L -> s"$shared1 y1 y2 y3 y4 y5 y6 $shared2")
    val r = SubstringDedup.duplicatedSpanStats(d, "doc_id", "text",
      gram = 5).collect()
    assert(r.length == 2)
    r.foreach { x =>
      assert(x.getAs[Long]("n_dup_spans") == 2)
      assert(x.getAs[Long]("n_dup_tokens") == 10)
    }
  }

  test("substring: within-doc repetition counts as duplication") {
    val d = docs(0L -> "r1 r2 r3 r4 r5 m1 m2 r1 r2 r3 r4 r5",
      1L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")
    val r = SubstringDedup.duplicatedSpanStats(d, "doc_id", "text",
      gram = 5).collect()
    assert(r.length == 1 && r(0).getLong(0) == 0L)
    // starts 0 and 7 duplicated: runs [0,4] and [7,11] → two spans
    assert(r(0).getAs[Long]("n_dup_spans") == 2)
    assert(r(0).getAs[Long]("n_dup_tokens") == 10)
  }

  test("substring: docs shorter than gram never explode") {
    val d = docs(0L -> "a b", 1L -> "a b", 2L -> "")
    assert(SubstringDedup.duplicatedSpanStats(d, "doc_id", "text",
      gram = 5).count() == 0)
  }

  // ---------------------------------------------------------------
  // BloomPrefilter
  // ---------------------------------------------------------------

  test("bloom: prefiltered contamination equals the exact join") {
    val docs0 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs0.where(col("source") =!= "src0")
    val eval = docs0.where(col("source") === "src0")
    val exact = Dedup.contaminationPairs(train, eval, "doc_id", "text",
      n = 3, minShared = 5L, maxDf = Some(1000L)).collect().toSeq
    val pre = BloomPrefilter.bloomDecontaminate(train, eval, "doc_id",
      "text", n = 3, minShared = 5L, maxDf = Some(1000L)).collect().toSeq
    assert(pre == exact)
    assert(exact.nonEmpty) // fixture must exercise the path
  }

  test("bloom: candidates are a superset that actually prunes") {
    val docs0 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs0.where(col("source") =!= "src0")
    val eval = docs0.where(col("source") === "src0")
    val candIds = BloomPrefilter.bloomCandidates(train, eval, "doc_id",
      "text", n = 3).select("doc_id").collect().map(_.getLong(0)).toSet
    val needed = Dedup.contaminationPairs(train, eval, "doc_id", "text",
      n = 3, minShared = 1L).select("train_id").collect()
      .map(_.getLong(0)).toSet
    assert(needed.subsetOf(candIds), "no-false-negative violated")
    assert(candIds.size < train.count(), "prefilter pruned nothing")
  }

  test("bloom: bitset membership has zero false negatives by construction") {
    val keys = spark.range(100).select(xxhash64(col("id")).as("shingle"))
    val bits = BloomPrefilter.buildBits(keys, mBits = 1L << 12,
      nHashes = 4)
    val probed = keys.crossJoin(broadcast(bits))
      .select(BloomPrefilter.mightContain(col("bloom"), col("shingle"),
        1L << 12, 4).as("hit"))
      .agg(sum(when(col("hit"), 0L).otherwise(1L))).collect()(0).getLong(0)
    assert(probed == 0L)
  }

  // ---------------------------------------------------------------
  // vocab + grouped
  // ---------------------------------------------------------------

  test("vocab: ranks by count then token, share sums correctly") {
    val d = docs(0L -> "b b b a a c", 1L -> "a")
    val r = TextStats.vocab(d, "text", topK = 2).collect()
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
      == Seq((1L, "a", 3L), (2L, "b", 3L))) // tie → token order
    assert(r.forall(_.getAs[Long]("n_vocab") == 3L))
    assert(math.abs(r(0).getAs[Double]("share") - 3.0 / 7) < 1e-4)
  }

  // ---------------------------------------------------------------
  // ksDrift + packChunks
  // ---------------------------------------------------------------

  private val drSchema = StructType(Seq(
    StructField("v", DoubleType), StructField("s", IntegerType)))
  private def dr(rows: (java.lang.Double, Int)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, drSchema)

  test("ks: identical slices score 0, disjoint slices approach 1") {
    val same = dr((for (v <- 0 to 3; s <- 0 to 1; _ <- 1 to 5)
      yield java.lang.Double.valueOf(v.toDouble) -> s): _*)
    val r0 = graft.ops.Drift.ksDrift(same, "d", col("v"), col("s"),
      bins = 4).collect()(0)
    assert(r0.getAs[Double]("ks") == 0.0)
    val apart = dr((1 to 40).map(i =>
      if (i % 2 == 0) java.lang.Double.valueOf(0.0) -> 0
      else java.lang.Double.valueOf(9.0) -> 1): _*)
    val r1 = graft.ops.Drift.ksDrift(apart, "d", col("v"), col("s"),
      bins = 4).collect()(0)
    assert(r1.getAs[Double]("ks") == 1.0) // full CDF gap at bin 0
  }

  test("ks: empty input → zero rows; one-sided slice → NULL ks") {
    val empty = dr((1 to 6).map(_ =>
      (null: java.lang.Double) -> 0): _*)
    assert(graft.ops.Drift.ksDrift(empty, "d", col("v"), col("s"))
      .count() == 0)
    val oneSided = dr((1 to 6).map(i =>
      java.lang.Double.valueOf(i.toDouble) -> 0): _*)
    val r = graft.ops.Drift.ksDrift(oneSided, "d", col("v"), col("s"))
      .collect()(0)
    assert(r.getAs[Long]("n_b") == 0)
    assert(r.isNullAt(r.fieldIndex("ks")))
  }

  test("pack: prefix-sum assignment, per-shard independence") {
    val chSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("chunk_idx", LongType),
      StructField("n_tokens", LongType)))
    // shard 0: docs 0,2 (pmod 2); shard 1: doc 1
    val d = spark.createDataFrame(Seq(
      Row(0L, 0L, 6L), Row(0L, 1L, 6L), Row(2L, 0L, 5L),
      Row(1L, 0L, 9L), Row(1L, 1L, 2L)).asJava, chSchema)
    val r = graft.ops.Chunking.packChunks(d, seqLen = 8, shards = 2,
        shardExpr = Some(pmod(col("doc_id"), lit(2L))))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)) ->
        (x.getAs[Long]("pack_id"), x.getAs[Long]("pack_pos"))).toMap
    // shard 0 stream: (0,0)=6, (0,1)=6, (2,0)=5 → cum_before 0,6,12
    assert(r((0L, 0L, 0L)) == (0L, 0L))
    assert(r((0L, 0L, 1L)) == (0L, 6L)) // straddles the cut at 8
    assert(r((0L, 2L, 0L)) == (1L, 4L))
    // shard 1 stream restarts: (1,0)=9, (1,1)=2 → cum_before 0,9
    assert(r((1L, 1L, 0L)) == (0L, 0L))
    assert(r((1L, 1L, 1L)) == (1L, 1L))
  }

  test("pack: packStats utilization accounts the ragged tail") {
    val chSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("chunk_idx", LongType),
      StructField("n_tokens", LongType)))
    val d = spark.createDataFrame(Seq(
      Row(0L, 0L, 6L), Row(0L, 1L, 6L)).asJava, chSchema)
    val packed = graft.ops.Chunking.packChunks(d, seqLen = 8,
      shards = 1, shardExpr = Some(lit(0L)))
    val st = graft.ops.Chunking.packStats(packed, seqLen = 8)
      .collect()(0)
    // 12 tokens → packs 0 and 1 → utilization 12/16
    assert(st.getAs[Long]("n_packs") == 2)
    assert(math.abs(st.getAs[Double]("utilization") - 0.75) < 1e-9)
  }

  test("semantic dedup: pairs only within a cluster, threshold on " +
      "rounded cosine") {
    val d = 4
    def vec(xs: Double*): Seq[Float] = {
      val a = xs.toArray.padTo(d, 0.0)
      a.map(_.toFloat).toSeq
    }
    val vSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = Seq(
      Row(0L, vec(1, 0, 0, 0)),   // seed A
      Row(1L, vec(0, 1, 0, 0)),   // seed B
      Row(10L, vec(5, 0.1, 0, 0)), // cluster A
      Row(11L, vec(5, 0.12, 0, 0)), // cluster A, ~identical to 10
      Row(12L, vec(0.1, 5, 0, 0)), // cluster B — near 10/11 in angle? no
      Row(13L, vec(0.12, 5, 0, 0))) // cluster B, ~identical to 12
    val df = spark.createDataFrame(rows.asJava, vSchema)
    val r = graft.ops.KMeansOp.semanticDupPairs(df, "vec_id",
      "embedding", seedLo = 0L, seedHi = 2L, dim = d,
      minCosine = 0.99).collect()
    val pairs = r.map(x => (x.getLong(1), x.getLong(2))).toSet
    // seeds are corpus rows too: 0 is near-parallel to 10/11, 1 to
    // 12/13 — all legitimate within-cluster pairs. No cross-cluster
    // pair appears (e.g. (10,12)): the join key is the cell.
    assert(pairs == Set((0L, 10L), (0L, 11L), (10L, 11L),
      (1L, 12L), (1L, 13L), (12L, 13L)))
    r.foreach { x =>
      assert(x.getAs[Double]("cosine") >= 0.99)
      val inA = Set(0L, 10L, 11L)
      val a = inA.contains(x.getLong(1))
      assert(a == inA.contains(x.getLong(2)), "cross-cluster pair")
    }
  }

  test("audio: PCM decode round-trips the tone generator, stats exact") {
    import graft.ops.Multimodal
    // 3 frames, 2 channels, seed 4090 → samples (4090+7k)%4096-2048:
    // k=0..5 → 2042, then the mod wraps: -2047, -2040, -2033,
    // -2026, -2019
    val p = Multimodal.synthWavTone(8000L, 2L, 3L, 4090L)
    val s = Multimodal.decodeSamples(p).get.toSeq
    assert(s == Seq(2042, -2047, -2040, -2033, -2026, -2019))
    // sign extension: negative samples survive the LE round-trip
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val df = spark.createDataFrame(Seq(Row(7L, p)).asJava, sch)
    val st = Multimodal.audioStats(df, "doc_id", "payload").collect()(0)
    assert(st.n_samples == 6 && st.peak == 2047)
    assert(st.n_zero_cross == 1) // one sign flip at k=1
    val rms = math.sqrt(s.map(x => x.toDouble * x).sum / 6)
    assert(st.rms == graft.det.Sig.sig5(rms))
    // non-WAV and truncated payloads decode to None, never throw
    assert(Multimodal.decodeSamples("nope".getBytes).isEmpty)
    assert(Multimodal.decodeSamples(p.take(20)).isEmpty)
  }

  test("grouped: per-slice stats match hand computation") {
    val s2 = StructType(Seq(StructField("g", StringType),
      StructField("x", DoubleType)))
    val d = spark.createDataFrame(Seq(
      Row("a", 1.0), Row("a", 3.0), Row("b", 10.0), Row("b", null),
      Row("b", 20.0)).asJava, s2)
    val r = Stats.grouped(d, "g", Seq("x")).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Long]("n") == 2 && r("a").getAs[Long]("n_null") == 0)
    assert(r("a").getAs[Double]("mean") == 2.0)
    assert(r("b").getAs[Long]("n") == 2 && r("b").getAs[Long]("n_null") == 1)
    assert(r("b").getAs[Double]("min_val") == 10.0)
    assert(r("b").getAs[Double]("max_val") == 20.0)
    assert(math.abs(r("b").getAs[Double]("sd") -
      math.sqrt(50.0)) < 1e-3)
  }

  test("referenceDrift: the reference mix scores zero drift, a " +
      "drifted mix does not") {
    val s = spark
    import s.implicits._
    val ref = Seq("a" -> 3L, "b" -> 1L)
    def drift(vals: String*) = graft.ops.Drift.referenceDrift(
      vals.toDF("event_type"), "w", col("event_type"), ref).collect()(0)
    val same = drift("a", "a", "a", "b")
    assert(same.getAs[Double]("psi") == 0.0)
    assert(same.getAs[Double]("ks") == 0.0)
    // c is outside the reference buckets
    assert(drift("a", "b", "c", "a").getAs[Double]("psi") > 0.0)
    assert(drift("b", "b", "c", "b").getAs[Double]("psi") > 0.5)
  }
}
