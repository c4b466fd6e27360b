package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TopKByScore
import graft.ops.{CatStats, Dedup, Sampling, Similarity, VectorQuant}
import graft.profiler.Stats

case class Doc(doc_id: Long, text: String)

/** Round-7 additions: bounded top-k similarity tail, scalar-row PQ
  * output, date histograms, and the harness-compatibility
  * (scalar-only output schema) sweep. */
class Round7Spec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** Scalar = hashable by a pandas-based comparator: no nested types. */
  private def isScalar(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  // ---------------------------------------------------------------
  // TopKByScore aggregate semantics
  // ---------------------------------------------------------------

  test("TopKByScore: keeps the k best (score desc, id asc), " +
      "order-independent") {
    val agg = new TopKByScore(3)
    val items = Seq((0.5, 7L), (0.9, 2L), (0.9, 1L), (0.1, 9L),
      (0.7, 4L), (0.9, 3L))
    val expected = Seq((0.9, 1L), (0.9, 2L), (0.9, 3L))
    // every permutation reduces to the same buffer
    items.permutations.take(50).foreach { perm =>
      val buf = perm.foldLeft(agg.zero)(agg.reduce)
      assert(buf.toSeq == expected, s"order $perm broke determinism")
    }
    // arbitrary splits merge to the same buffer
    (0 to items.length).foreach { cut =>
      val (a, b) = items.splitAt(cut)
      val merged = agg.merge(
        a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce))
      assert(merged.toSeq == expected, s"split at $cut broke merge")
    }
  }

  test("TopKByScore: buffer never exceeds k entries") {
    val agg = new TopKByScore(2)
    val buf = (1L to 100L).map(i => (i.toDouble, i))
      .foldLeft(agg.zero)(agg.reduce)
    assert(buf.toSeq == Seq((100.0, 100L), (99.0, 99L)))
    val buf2 = (101L to 200L).map(i => (i.toDouble, i))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(buf, buf2).toSeq ==
      Seq((200.0, 200L), (199.0, 199L)))
    assert(agg.merge(buf2, buf).toSeq ==
      Seq((200.0, 200L), (199.0, 199L)))
  }

  test("MisraGriesAgg: buffers round-trip under the versioned wire " +
      "format; stale v1 state fails with a clear error") {
    val agg = graft.functions.MisraGriesAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 4)
    val buf = agg.createAggregationBuffer()
    Seq("a", "a", "b").foreach(buf.add)
    val bytes = agg.serialize(buf)
    assert(bytes(0) == graft.functions.MisraGriesAgg.FormatVersion)
    val back = agg.deserialize(bytes)
    assert(back.n == buf.n && back.counts == buf.counts)
    // v1 buffers had no version byte: first byte = high byte of the
    // n Long = 0 for any real stream → must be rejected, not parsed
    val stale = bytes.clone(); stale(0) = 0
    val e = intercept[IllegalStateException](agg.deserialize(stale))
    assert(e.getMessage.contains("checkpoint"))
  }

  // ---------------------------------------------------------------
  // Similarity top-k tail: plan shape + reference equivalence
  // ---------------------------------------------------------------

  private def randVecs(n: Int, dim: Int, seed: Long) = {
    val rng = new scala.util.Random(seed)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    spark.createDataFrame(
      (0L until n).map(i =>
        Row(i, Seq.fill(dim)(rng.nextGaussian()))).asJava, schema)
  }

  test("cosineTopK: no single-partition window over the candidate " +
      "set; matches an independent per-query sort") {
    val vecs = randVecs(80, 8, seed = 7L)
    val q = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      numQueries = 3, k = 5)
    // scale contract: the ranking tail is a bounded-k heap aggregate,
    // never row_number over an unbounded per-qid window partition
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"similarity tail must not rank through a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the typed top-k aggregate in the plan:\n$plan")
    // reference: score everything, sort per query, take 5
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3)))
    val data = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      dp / (na * nb)
    }
    for (qid <- 0L until 3L) {
      val want = data.toSeq.filter(_._1 != qid)
        .map { case (vid, v) =>
          (vid, graft.det.Sig.sig5(cos(data(qid), v)))
        }
        .sortBy { case (vid, c) => (-c, vid) }.take(5)
      val got = rows.filter(_._1 == qid).sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(got == want, s"qid $qid top-5 mismatch")
      assert(rows.filter(_._1 == qid).map(_._2).toSeq ==
        (1L to 5L).toSeq, "ranks must be 1..k after the bound")
    }
  }

  test("annTopK / ivfTopK: window-free ranking tails") {
    val vecs = randVecs(150, 16, seed = 11L)
    val ann = Similarity.annTopK(vecs, "vec_id", "embedding",
      numQueries = 2, k = 4, bits = 4, dim = 16)
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      numQueries = 2, k = 4, centroidLo = 100L, centroidHi = 108L,
      nprobe = 3, dim = 16)
    for ((name, q) <- Seq("annTopK" -> ann, "ivfTopK" -> ivf)) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name ranks through a window")
      val rows = q.collect()
      assert(rows.nonEmpty, s"$name returned nothing")
      // ranks are contiguous from 1 within each query
      rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        assert(rs.map(_.getLong(1)).sorted.toSeq ==
          (1L to rs.length).toSeq, s"$name qid $qid ranks not 1..n")
      }
    }
  }

  // ---------------------------------------------------------------
  // pqCodeRows: scalar rows, consistent with the nested form
  // ---------------------------------------------------------------

  test("pqCodeRows: one scalar row per (vec_id, subspace), values " +
      "match pqCodes") {
    val vecs = randVecs(30, 8, seed = 13L)
    val nested = VectorQuant.pqCodes(vecs, "vec_id", "embedding",
      seedLo = 0L, seedHi = 3L, dim = 8, m = 4).collect()
    val flat = VectorQuant.pqCodeRows(vecs, "vec_id", "embedding",
      seedLo = 0L, seedHi = 3L, dim = 8, m = 4)
    flat.schema.fields.foreach(f =>
      assert(isScalar(f.dataType),
        s"pqCodeRows must emit scalars, got ${f.name}: ${f.dataType}"))
    val rows = flat.collect()
    assert(rows.length == nested.length * 4)
    val byVid = rows.groupBy(_.getLong(0))
    nested.foreach { r =>
      val vid = r.getLong(0)
      val codes = r.getSeq[Long](1)
      val mse = r.getDouble(2)
      val got = byVid(vid).sortBy(_.getLong(1))
      assert(got.map(_.getLong(2)).toSeq == codes,
        s"vid $vid codes mismatch")
      assert(got.map(_.getLong(1)).toSeq == (0L until 4L).toSeq)
      assert(got.forall(_.getDouble(3) == mse))
    }
  }

  // ---------------------------------------------------------------
  // Incremental (catalog) dedup
  // ---------------------------------------------------------------

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2)).asJava, docSchema)

  test("incrementalLshPairs: finds incoming×catalog near-dups, never " +
      "re-pairs the catalog against itself") {
    val base = (1 to 14).map(i => s"tok$i").mkString(" ")
    val catalog = docs(
      (0L, base), (1L, base + " tail1"), // catalog-internal near-dups
      (2L, (30 to 45).map(i => s"other$i").mkString(" ")))
    val incoming = docs(
      (100L, base + " tail2"), // near-dup of catalog 0 and 1
      (101L, (60 to 75).map(i => s"fresh$i").mkString(" ")))
    val pairs = graft.ops.Dedup.incrementalLshPairs(incoming, catalog,
      "doc_id", "text", n = 3, numHashes = 64, bands = 16,
      minEstJaccard = 0.5).collect()
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 0L)) && got.contains((100L, 1L)),
      s"incoming near-dup must hit both catalog copies, got $got")
    assert(pairs.forall(_.getLong(0) >= 100L),
      "no catalog-internal pairs may be emitted")
    assert(!got.exists(_._1 == 101L), "fresh doc must not match")
  }

  test("incrementalLshPairs: maxCatalogPerBucket bounds a viral " +
      "catalog bucket while keeping detection") {
    val base = (1 to 14).map(i => s"tok$i").mkString(" ")
    // 50 near-identical catalog docs (one viral boilerplate cluster)
    val catalog = docs((0L until 50L).map(i =>
      i -> (base + s" tail$i")): _*)
    val incoming = docs((100L, base + " tailX"))
    val uncapped = graft.ops.Dedup.incrementalLshPairs(incoming,
      catalog, "doc_id", "text", n = 3, numHashes = 64, bands = 16,
      minEstJaccard = 0.3).collect()
    assert(uncapped.length == 50,
      s"uncapped must hit every catalog copy, got ${uncapped.length}")
    val capped = graft.ops.Dedup.incrementalLshPairs(incoming, catalog,
      "doc_id", "text", n = 3, numHashes = 64, bands = 16,
      minEstJaccard = 0.3, maxCatalogPerBucket = Some(3L)).collect()
    assert(capped.nonEmpty, "detection must survive the cap")
    // the cap bounds PER-BUCKET fan-out: ≤ cap reps per (band, bh),
    // so the distinct union over 16 bands is ≤ bands·cap — and far
    // below the 50 copies the uncapped join pairs with
    assert(capped.length <= 16 * 3,
      s"per-bucket cap must bound candidates, got ${capped.length}")
    assert(capped.length < uncapped.length,
      "cap must strictly reduce the viral-bucket fan-out")
    assert(capped.forall(_.getLong(0) == 100L))
  }

  test("inclusionStats: coefficient, null exclusion, and the is_fk " +
      "verdict") {
    val kSchema = StructType(Seq(StructField("k", LongType)))
    def tbl(ks: Seq[java.lang.Long]) = spark.createDataFrame(
      ks.map(Row(_)).asJava, kSchema)
    val child = tbl(Seq(1L, 2L, 2L, 3L, null))
    val parentFull = tbl(Seq(1L, 2L, 3L, 4L))
    val parentPart = tbl(Seq(1L, 3L, 9L))
    val r = graft.ops.Inclusion.inclusionStats(Seq(
      ("full", child, "k", parentFull, "k"),
      ("part", child, "k", parentPart, "k"))).collect()
    val full = r.find(_.getString(0) == "full").get
    // 3 distinct non-null child keys, all resolve
    assert(full.getLong(1) == 3L && full.getLong(2) == 3L &&
      full.getDouble(3) == 1.0 && full.getLong(4) == 1L)
    val part = r.find(_.getString(0) == "part").get
    assert(part.getLong(2) == 2L && part.getLong(4) == 0L)
    assert(math.abs(part.getDouble(3) - 2.0 / 3.0) < 1e-4)
  }

  test("rowBanded: per-row stateless banding equals the batch " +
      "signature-index path exactly") {
    val d = docs((0L until 20L).map(i =>
      i -> ((1 to 15).map(t => s"w${(i * 3 + t) % 40}")
        .mkString(" "))): _*)
    val viaIndex = graft.ops.Dedup.bandedFromSignatures(
      graft.ops.Dedup.minhashSignatures(d, "doc_id", "text",
        n = 3, numHashes = 32), 32, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val viaRow = graft.ops.Dedup.rowBanded(d, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(viaRow == viaIndex,
      "per-row banding must produce identical (id, band, bh) keys")
  }

  test("incremental probe plan: equi-joins only — no cartesian or " +
      "nested-loop over the catalog") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.ops.Dedup.incrementalLshPairs(
      d.where(col("source") === "src0"),
      d.where(col("source") =!= "src0"),
      "doc_id", "text", n = 3, numHashes = 64, bands = 16)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"catalog probe must stay equi-join:\n${plan.take(2000)}")
  }

  test("catalog index round-trips through parquet; probing the " +
      "persisted index equals direct computation") {
    val base = (1 to 14).map(i => s"tok$i").mkString(" ")
    val catalog = docs((0L, base), (1L, base + " tailA"),
      (2L, (30 to 45).map(i => s"other$i").mkString(" ")))
    val incoming = docs((100L, base + " tailB"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_catidx").toString
    graft.ops.Dedup.writeCatalogIndex(catalog, "doc_id", "text", dir,
      n = 3, numHashes = 64, bands = 16)
    val (sigs, bands) = graft.ops.Dedup.readCatalogIndex(spark, dir)
    val viaIndex = graft.ops.Dedup.incrementalLshPairsWithIndex(
      incoming, sigs, bands, "doc_id", "text", n = 3,
      numHashes = 64, bands = 16, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.ops.Dedup.incrementalLshPairs(incoming,
      catalog, "doc_id", "text", n = 3, numHashes = 64, bands = 16,
      minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct && viaIndex.nonEmpty,
      s"persisted-index probe must equal direct: $viaIndex vs $direct")
  }

  test("incrementalGuard: stateless Bloom band probe flags catalog " +
      "near-dups at ingest") {
    val sql = spark
    import sql.implicits._
    val base = (1 to 14).map(i => s"tok$i").mkString(" ")
    val catalog = docs((0L, base), (1L, base + " tailA"),
      (2L, (30 to 45).map(i => s"other$i").mkString(" ")))
    val (bits, hot) = graft.ops.Dedup.catalogBandBloom(catalog,
      "doc_id", "text", n = 3, numHashes = 64, bands = 16)
    assert(hot.isEmpty)
    val incoming = Seq(
      Doc(100L, base + " tailB"), // near-dup of the catalog pair
      Doc(101L, (60 to 75).map(i => s"fresh$i").mkString(" ")))
    val flags = graft.ops.Dedup.incrementalGuard(
      incoming.toDF(), "doc_id", "text", bits)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags(100L), "near-dup must be flagged")
    assert(!flags(101L), "fresh doc must pass")
  }

  // ---------------------------------------------------------------
  // Driver-harness compatibility: every declared query emits ONLY
  // scalar columns (the round-6 embed_pq lesson: array columns are
  // unhashable in pandas-based comparators, so a non-scalar output
  // silently drops the query from the driver's verified set)
  // ---------------------------------------------------------------

  test("every SparkEntry query's output schema is scalar-only") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, dir).schema.fields.collect {
          case f if !isScalar(f.dataType) =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(bad.isEmpty,
      s"non-scalar output columns break the driver comparator:\n" +
        bad.mkString("\n"))
  }

  // ---------------------------------------------------------------
  // Date histogram
  // ---------------------------------------------------------------

  test("dateHistogram: 10 epoch-micros bins covering [min, max], " +
      "counts sum to the non-null count") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val h = Stats.dateHistogram(li, Seq("l_shipdate")).collect()
    assert(h.length == 10)
    assert(h.map(_.getLong(1)).toSeq == (0L until 10L).toSeq)
    val total = li.where(col("l_shipdate").isNotNull).count()
    assert(h.map(_.getLong(2)).sum == total)
    val mm = Stats.dateMinMax(li, Seq("l_shipdate")).collect().head
    val mn = mm.getLong(1).toDouble
    val mx = mm.getLong(2).toDouble
    assert(h.head.getDouble(3) == mn, "first bin_lo = min epoch_us")
    assert(math.abs(h.last.getDouble(4) - mx) < 1e-3,
      "last bin_hi = max epoch_us (up to fp assembly of mn + 10w)")
    // every row lands in the bin claiming it
    assert(h.forall(r => r.getDouble(4) > r.getDouble(3)))
  }

  test("dateHistogram: all-null and constant date columns degrade " +
      "like numeric histograms") {
    val schema = StructType(Seq(
      StructField("d1", TimestampType), StructField("d2", TimestampType)))
    val c = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val rows = Seq(Row(null, c), Row(null, c), Row(null, c))
    val df = spark.createDataFrame(rows.asJava, schema)
    val h = Stats.dateHistogram(df, Seq("d1", "d2")).collect()
    // all-null column: no well-formed bounds → zero rows emitted;
    // constant column: single non-empty bin 0 with the full count
    assert(!h.exists(_.getString(0) == "d1"))
    val d2 = h.filter(_.getString(0) == "d2")
    assert(d2.length == 1 && d2.head.getLong(1) == 0L &&
      d2.head.getLong(2) == 3L)
  }

  test("profile carries DATE mini-histograms in both the pass-based " +
      "and fused paths") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = graft.profiler.Profiler.profile(li)
      .columns.find(_.name == "l_shipdate").get
    // pass-based: identical to the declared date_histogram query
    val want = Stats.dateHistogram(li, Seq("l_shipdate")).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(exact.histogram == want,
      "pass-based date histogram must equal the query-level counts")
    // fused: GK-estimated — right shape, full mass
    val fused = graft.profiler.Profiler.profileFused(li)
      .columns.find(_.name == "l_shipdate").get
    assert(fused.histogram.nonEmpty, "fused path must estimate one")
    assert(fused.histogram.map(_._2).sum == exact.count,
      "estimated mass must cover every non-null date")
  }

  // ---------------------------------------------------------------
  // Streaming IVF twin
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // PQ asymmetric-distance (ADC) search
  // ---------------------------------------------------------------

  test("pqAdcTopK: matches an independent LUT-sum reconstruction " +
      "and keeps a window-free tail") {
    val vecs = randVecs(60, 8, seed = 23L)
    val out = VectorQuant.pqAdcTopK(vecs, "vec_id", "embedding",
      seedLo = 10L, seedHi = 14L, numQueries = 3, k = 5,
      dim = 8, m = 2)
    // no per-query ranking window (the TopKByScore contract)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "ADC ranking tail must be window-free")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // independent reconstruction: codes from pqCodes, exact LUT sums
    // in plain Scala, rank by (sig5 dist, vid)
    val data = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = (10L until 14L).map(c => c -> data(c)).toMap
    val codes = VectorQuant.pqCodes(vecs, "vec_id", "embedding",
        10L, 14L, dim = 8, m = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def sub(a: Array[Double], s: Int) = a.slice(s * 4, s * 4 + 4)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = (0L until 3L).flatMap { qid =>
      val ranked = data.keys.filter(_ != qid).toSeq.map { vid =>
        val dist = (0 until 2).map { s =>
          d2(sub(data(qid), s), sub(cents(10L + codes(vid)(s)), s))
        }.sum
        (graft.det.Sig.sig5(dist), vid)
      }.sortBy(identity).take(5)
      ranked.zipWithIndex.map { case ((d, vid), i) =>
        (qid, i + 1L, vid, d)
      }
    }
    assert(got.toSeq == expected,
      s"ADC mismatch:\n got ${got.toSeq}\n exp $expected")
  }

  test("ivfPqTopK: matches an independent cells+LUT reconstruction") {
    val vecs = randVecs(60, 8, seed = 29L)
    val out = VectorQuant.ivfPqTopK(vecs, "vec_id", "embedding",
      ivfLo = 10L, ivfHi = 14L, pqLo = 14L, pqHi = 18L,
      numQueries = 3, k = 5, nprobe = 2, dim = 8, m = 2)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val data = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // coarse cells: rounded |c|²−2·v·c, cid tie-break
    def cellRank(v: Array[Double]) =
      (10L until 14L).map { cid =>
        val c = data(cid)
        (graft.det.Sig.sig5(dot(c, c) - 2.0 * dot(v, c)), cid)
      }.sortBy(identity).map(_._2)
    val assign = data.view.mapValues(v => cellRank(v).head).toMap
    // PQ codes: rounded per-subspace argmin, cid tie-break
    def sub(a: Array[Double], s: Int) = a.slice(s * 4, s * 4 + 4)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def codesOf(v: Array[Double]) = (0 until 2).map { s =>
      (14L until 18L).map { cid =>
        val cs = sub(data(cid), s)
        val xs = sub(v, s)
        (graft.det.Sig.sig5(dot(cs, cs) - 2.0 * dot(xs, cs) +
          dot(xs, xs)), cid)
      }.min._2
    }
    val expected = (0L until 3L).flatMap { qid =>
      val probes = cellRank(data(qid)).take(2).toSet
      val ranked = data.keys
        .filter(vid => vid != qid && probes.contains(assign(vid)))
        .toSeq.map { vid =>
          val dist = (0 until 2).map { s =>
            d2(sub(data(qid), s), sub(data(codesOf(data(vid))(s)), s))
          }.sum
          (graft.det.Sig.sig5(dist), vid)
        }.sortBy(identity).take(5)
      ranked.zipWithIndex.map { case ((d, vid), i) =>
        (qid, i + 1L, vid, d)
      }
    }
    assert(got.toSeq == expected,
      s"IVF-PQ mismatch:\n got ${got.toSeq}\n exp $expected")
  }

  // ---------------------------------------------------------------
  // Categorical association (Cramér's V + Theil's U)
  // ---------------------------------------------------------------

  test("association: perfect, independent, and degenerate pairs") {
    val sql = spark
    import sql.implicits._
    // a fully determines b → V = U(a|b) = U(b|a) = 1
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val p = CatStats.association(perfect, Seq(("a", "b"))).collect()(0)
    assert(p.getLong(2) == 4L && p.getLong(3) == 2L && p.getLong(4) == 2L)
    assert(p.getDouble(5) == 1.0, s"perfect V: ${p.getDouble(5)}")
    assert(p.getDouble(6) == 1.0 && p.getDouble(7) == 1.0)
    // a independent of b → V = 0, U ≈ 0 (ulp-level ln cancellation)
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = CatStats.association(indep, Seq(("a", "b"))).collect()(0)
    assert(i.getDouble(5) == 0.0, s"independent V: ${i.getDouble(5)}")
    assert(math.abs(i.getDouble(6)) < 1e-12 &&
      math.abs(i.getDouble(7)) < 1e-12)
    // constant a: V undefined (min card 1), U(a|b) undefined (H(A)=0),
    // U(b|a) = 0 (knowing a constant explains nothing of b)
    val const = Seq(("k", "p"), ("k", "q")).toDF("a", "b")
    val c = CatStats.association(const, Seq(("a", "b"))).collect()(0)
    assert(c.isNullAt(5) && c.isNullAt(6))
    assert(math.abs(c.getDouble(7)) < 1e-12)
  }

  test("association: past maxCard the scores degrade to NULL, " +
      "counts survive") {
    val sql = spark
    import sql.implicits._
    val wide = (0 until 20).map(i => (s"v$i", s"w${i % 2}"))
      .toDF("a", "b")
    val r = CatStats.association(wide, Seq(("a", "b")), maxCard = 10L)
      .collect()(0)
    assert(r.getLong(3) == 20L && r.getLong(4) == 2L)
    assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7))
  }

  test("eqDepthHistogram: equal occupancy on uniform data, tie " +
      "absorption under skew, count preservation") {
    val sql = spark
    import sql.implicits._
    val uniform = (1L to 1000L).toDF("x")
    val h = Stats.eqDepthHistogram(uniform, "x", bins = 10).collect()
    assert(h.length == 10)
    assert(h.forall(_.getLong(1) == 100L),
      s"uniform data must fill every bucket equally: ${h.toSeq}")
    assert(h.map(_.getLong(0)).toSeq == (0L until 10L),
      "bins must be contiguous and ordered")
    // 900 ties on one value: the duplicated value collapses 8 edges
    // onto itself and lands in ONE bucket; the tail keeps its own
    val skew = (Seq.fill(900)(1L) ++ (2L to 101L)).toDF("x")
    val hs = Stats.eqDepthHistogram(skew, "x", bins = 10).collect()
    assert(hs.map(_.getLong(1)).sum == 1000L, "every row lands once")
    assert(hs.length == 2 && hs.head.getLong(1) == 900L,
      s"ties must collapse into one bucket: ${hs.toSeq}")
  }

  test("association: NULL is a regular category (cat_entropy " +
      "contract) on both paths") {
    val sql = spark
    import sql.implicits._
    // a ∈ {x, NULL} determines b exactly → V = 1 with card 2×2;
    // a plain equi-join would drop the null cells and report card 1
    val rows = Seq(("x", "p"), ("x", "p"), (null, "q"), (null, "q"))
    val df = rows.toDF("a", "b")
    val r = CatStats.association(df, Seq(("a", "b"))).collect()(0)
    assert(r.getLong(2) == 4L, s"n must count null cells: ${r.toSeq}")
    assert(r.getLong(3) == 2L && r.getLong(4) == 2L,
      s"card must include the null category: ${r.toSeq}")
    assert(r.getDouble(5) == 1.0 && r.getDouble(6) == 1.0)
    val all = CatStats.associationAll(df, Seq(("a", "b")))
      .collect()(0)
    assert(r.toSeq == all.toSeq)
  }

  test("associationAll: one-scan all-pairs path equals the per-pair " +
      "association exactly") {
    val sql = spark
    import sql.implicits._
    val rng = new scala.util.Random(31L)
    val df = (1 to 400).map { _ =>
      (s"a${rng.nextInt(4)}", s"b${rng.nextInt(3)}", rng.nextInt(5))
    }.toDF("x", "y", "z")
    val pairs = Seq(("x", "y"), ("x", "z"), ("y", "z"))
    val one = CatStats.association(df, pairs).collect().map(_.toSeq)
    val all = CatStats.associationAll(df, pairs).collect().map(_.toSeq)
    assert(one.toSeq == all.toSeq)
  }

  test("profile with catAssociations: CAT pairs carry Cramér's V, " +
      "report renders the section, default profile unchanged") {
    val sql = spark
    import sql.implicits._
    val df = (0 until 200).map { i =>
      (i.toLong, if (i % 2 == 0) "x" else "y",
        if (i % 2 == 0) "p" else "q", i.toDouble)
    }.toDF("id", "a", "b", "v")
    val cfg = graft.profiler.ProfilerConfig(catAssociations = true)
    val p = graft.profiler.Profiler.profile(df, cfg)
    // a determines b exactly → V = 1 on the one CAT pair
    assert(p.catAssociations == Seq(("a", "b", 1.0)),
      s"got ${p.catAssociations}")
    val html = graft.report.HtmlReport.render(p)
    assert(html.contains("Categorical associations"))
    // opt-out default: no extra pass, no section, same shape as before
    val p0 = graft.profiler.Profiler.profile(df)
    assert(p0.catAssociations.isEmpty)
    assert(!graft.report.HtmlReport.render(p0)
      .contains("Categorical associations"))
  }

  test("associationGrouped: per-group scores equal the table-level " +
      "association on each slice") {
    val sql = spark
    import sql.implicits._
    val rng = new scala.util.Random(37L)
    val df = (0 until 600).map { i =>
      (i % 3L, s"a${rng.nextInt(3)}", s"b${rng.nextInt(4)}")
    }.toDF("g", "x", "y")
    val cont = df.groupBy(col("g"), col("x").as("va"),
        col("y").as("vb"))
      .agg(count(lit(1)).as("nij"))
    val grouped = CatStats.associationGrouped(cont, "g").collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    (0L until 3L).foreach { g =>
      val slice = CatStats.association(df.where(col("g") === g),
        Seq(("x", "y"))).collect()(0)
      val exp = (slice.getDouble(5), slice.getDouble(6),
        slice.getDouble(7))
      assert(grouped(g) == exp,
        s"group $g: grouped ${grouped(g)} != slice $exp")
    }
  }

  test("profile catAssociations: pair explosion is capped with a " +
      "warning") {
    val sql = spark
    import sql.implicits._
    // 7 CAT columns → 21 pairs > the cap of 15
    val df = (0 until 60).map { i =>
      (s"a${i % 2}", s"b${i % 2}", s"c${i % 3}", s"d${i % 2}",
        s"e${i % 3}", s"f${i % 2}", s"g${i % 2}")
    }.toDF("a", "b", "c", "d", "e", "f", "g")
    val p = graft.profiler.Profiler.profile(df,
      graft.profiler.ProfilerConfig(catAssociations = true))
    assert(p.catAssociations.size == 15,
      s"expected the capped 15 pairs, got ${p.catAssociations.size}")
    assert(p.warnings.exists(_.contains("capped")),
      s"cap must warn: ${p.warnings}")
  }

  // ---------------------------------------------------------------
  // Leakage-aware split
  // ---------------------------------------------------------------

  test("splitAssign: near-dup pairs never straddle a split; " +
      "stats add up") {
    val sql = spark
    import sql.implicits._
    // 100 mutually-distinct docs (disjoint shingle sets) + 30 exact
    // near-dups of the first 30 → 30 J=1 pairs, 30 2-doc clusters
    val base = (0L until 100L).map(i =>
      (i, s"t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f"))
    val dups = (0L until 30L).map(i => (1000L + i, base(i.toInt)._2))
    val docs = (base ++ dups).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.5)
    val clusters = Dedup.duplicateClustersStar(pairs)
    val assign = Sampling.splitAssign(docs, clusters, "doc_id")
    val sa = assign.select(col("doc_id"), col("split"))
    val straddle = pairs
      .join(sa.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "split_a"), "id_a")
      .join(sa.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "split_b"), "id_b")
      .where(col("split_a") =!= col("split_b")).count()
    assert(straddle == 0L, "a near-dup pair crossed a split boundary")
    val stats = Sampling.splitStats(docs, clusters, "doc_id", "n_chars")
      .collect()
    assert(stats.map(_.getLong(1)).sum == 130L, "docs partition the corpus")
    assert(stats.map(_.getLong(2)).sum == 100L,
      "each dedup group lands in exactly one split")
    assert(stats.map(_.getString(0)).toSet.subsetOf(
      Set("train", "val", "test")))
  }

}
