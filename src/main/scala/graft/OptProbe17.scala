package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch measurement main for the r17 optimization round (guide
  * §1): A/B the fused k-countDistinct Expand aggregation against the
  * per-column single-distinct jobs and `Stats.exactDistinctPerCol`
  * (the long-form grouped aggregation; `percol` arg), at any SF. Not
  * a declared query. */
object OptProbe17 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.profiler.Stats
    // documents-only tiers (heaps doc corpora) carry no lineitem —
    // load it lazily so the dedup/pipeline sections run there
    lazy val li = {
      val d = spark.read.parquet(s"$sfDir/lineitem.parquet")
      d.count(); d // warm
    }
    lazy val cols = li.columns.toSeq
    val reps = sys.env.getOrElse("GRAFT_PROBE_REPS", "2").toInt
    def timed(label: String)(f: => Unit): Unit =
      for (r <- 1 to reps) {
        spark.sparkContext.setJobDescription(label)
        val t0 = System.nanoTime()
        f
        println(f"$label r$r ${(System.nanoTime() - t0) / 1e9}%.3f")
      }
    val which = args.headOption.getOrElse("all")
    if (which == "all" || which == "fused") timed("dis_fused_expand") {
      // the r16 form: one agg, k countDistinct → Expand (k+1)×
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"cnt__$c"),
          countDistinct(Stats.orderable(li, c)).as(s"dis__$c"))
      }
      Stats.parallelized(li).agg(aggs.head, aggs.tail: _*).first()
      ()
    }
    if (which == "all" || which == "percol") timed("dis_longform") {
      Stats.exactDistinctPerCol(li, cols); ()
    }
    if (which == "all" || which == "percol_norep")
      timed("dis_percol_norep_par8") {
        // per-column WITHOUT the unsplittable-input repartition
        import scala.concurrent.{Await, ExecutionContext, Future}
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.sequence(cols.map { c => Future {
          li.select(col(c)).agg(count(col(c)),
            countDistinct(Stats.orderable(li, c))).first()
        } }), scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
        ()
      }
    if (which == "all" || which == "percol_seq")
      timed("dis_percol_seq") {
        cols.foreach { c =>
          Stats.parallelized(li.select(col(c))).agg(count(col(c)),
            countDistinct(Stats.orderable(li, c))).first()
        }
      }
    // ---- near-dup pair plan: does materializing the shingle index
    // pay? (the index is derived ~3x per action: hot-gram build +
    // shingle-keyed exchange + id-keyed sizes exchange) ----
    if (which == "pairs") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.count()
      import graft.ops.{Dedup, Materialize}
      timed("ngram_pairs_asis") {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
          minJaccard = 0.5, maxDf = Some(1000L)).collect(); ()
      }
      timed("ngram_pairs_sh_mat") {
        // same plan with the post-cap shingle index materialized once
        val sh = Materialize.materialize(
          Dedup.shingleIndex(docs, "doc_id", "text", 3, Some(1000L)))
        val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
        val pairs = sh.as("a").join(sh.as("b"),
            col("a.shingle") === col("b.shingle") &&
              col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
            Seq("id_a"))
          .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
            Seq("id_b"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")))
          .where(col("jaccard") >= 0.5)
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a", "id_b").collect()
        Materialize.release(sh)
      }
    }
    // ---- banded-verified decomposition (VERDICT item 3): stage
    // costs + bucket skew of the shared banded core ----
    if (which == "banded") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.count()
      import graft.ops.Dedup
      val sh = Dedup.shingleIndex(docs, "doc_id", "text", 3,
        Some(1000L))
      timed("b_shingle_index") {
        sh.write.format("noop").mode("overwrite").save()
      }
      val aggs = (0 until 64).map(i =>
        min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i")) ++
        Seq(collect_set(col("shingle")).as("ss"),
          count(lit(1)).as("sz"))
      val docsAgg = sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
      timed("b_docs_agg_full") {
        docsAgg.write.format("noop").mode("overwrite").save()
      }
      val sigsOnly = sh.groupBy("id").agg(
        (0 until 64).map(i =>
          min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i")).head,
        (0 until 64).map(i =>
          min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i")).tail: _*)
      timed("b_docs_agg_sigs_only") {
        sigsOnly.write.format("noop").mode("overwrite").save()
      }
      val banded = Dedup.bandedFromSignatures(docsAgg, 64, 16)
      timed("b_bucket_profile") {
        Dedup.bucketCapProfile(banded, 1024L).collect().foreach(r =>
          println("  bucket profile: " + r))
      }
      timed("b_full_verified") {
        Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 64, 16,
          0.5, Some(1000L), Some(1024L)).collect(); ()
      }
      timed("b_full_verified_candonly") {
        // variant: materialize sh once; signatures WITHOUT
        // collect_set; shingle sets gathered only for candidate ids
        val shM = graft.ops.Materialize.materialize(sh)
        val sAggs = (0 until 64).map(i =>
          min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i")) :+
          count(lit(1)).as("sz")
        val dSigs = shM.groupBy("id").agg(sAggs.head, sAggs.tail: _*)
        val cand = Dedup.bandedCandidates(
          Dedup.bandedFromSignatures(dSigs, 64, 16), Some(1024L))
        val candIds = cand.select(col("id_a").as("id"))
          .union(cand.select(col("id_b").as("id"))).distinct()
        val sets = shM.join(candIds, Seq("id"), "left_semi")
          .groupBy("id").agg(collect_set(col("shingle")).as("ss"))
        val szs = dSigs.select(col("id"), col("sz"))
        val out = cand
          .join(sets.select(col("id").as("id_a"), col("ss").as("ss_a")),
            Seq("id_a"))
          .join(sets.select(col("id").as("id_b"), col("ss").as("ss_b")),
            Seq("id_b"))
          .join(szs.select(col("id").as("id_a"), col("sz").as("sz_a")),
            Seq("id_a"))
          .join(szs.select(col("id").as("id_b"), col("sz").as("sz_b")),
            Seq("id_b"))
          .withColumn("inter",
            size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")))
          .where(col("jaccard") >= 0.5)
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a", "id_b").collect()
        println(s"  candonly pairs = ${out.length}")
        graft.ops.Materialize.release(shM)
      }
    }
    // ---- banded core: does materializing the docs aggregation
    // (signatures + shingle sets + sizes) pay? The agg feeds THREE
    // consumers (banding, id_a join, id_b join) — ReuseExchange
    // dedupes the exchange but each consumer re-runs the FINAL
    // aggregation (merging collect_set buffers) from it. ----
    if (which == "bdocs") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.count()
      import graft.ops.{Dedup, Materialize}
      timed("fuzzy_banded_asis") {
        Dedup.fuzzyPairsBanded(docs, "doc_id", "text",
          maxDf = Some(1000L)).collect(); ()
      }
      timed("verified_asis_030") {
        Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 64, 16,
          0.3, Some(1000L), Some(1024L)).collect(); ()
      }
      timed("verified_matdocs_030") {
        val sh = Dedup.shingleIndex(docs, "doc_id", "text", 3,
          Some(1000L))
        val aggs = (0 until 64).map(i =>
          min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i")) ++
          Seq(collect_set(col("shingle")).as("ss"),
            count(lit(1)).as("sz"))
        val d = Materialize.materialize(
          sh.groupBy("id").agg(aggs.head, aggs.tail: _*))
        val cand = Dedup.bandedCandidates(
          Dedup.bandedFromSignatures(d, 64, 16), Some(1024L))
        val out = cand
          .join(d.select(col("id").as("id_a"), col("ss").as("ss_a"),
            col("sz").as("sz_a")), Seq("id_a"))
          .join(d.select(col("id").as("id_b"), col("ss").as("ss_b"),
            col("sz").as("sz_b")), Seq("id_b"))
          .withColumn("inter",
            size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")))
          .where(col("jaccard") >= 0.3)
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a", "id_b").collect()
        println(s"  matdocs pairs = ${out.length}")
        Materialize.release(d)
      }
    }
    // ---- pipeline funnel stage decomposition: where do the ~4-6 s
    // go at sf0.1? ----
    if (which == "funnel") {
      import graft.pipeline.CorpusPipeline
      import graft.ops.{Dedup, Materialize}
      val docsAll = spark.read.parquet(s"$sfDir/documents.parquet")
      docsAll.count()
      val corpus = docsAll.where(col("source") =!= "src0")
      val evalD = docsAll.where(col("source") === "src0")
      val cfg = CorpusPipeline.ExactConfig
      timed("f_corpus_count") { corpus.count(); () }
      val q = CorpusPipeline.qualityFiltered(corpus, "doc_id", "text", cfg)
      var qm: org.apache.spark.sql.DataFrame = null
      timed("f_q_materialize") { qm = Materialize.materialize(q) }
      timed("f_q_count") { qm.count(); () }
      var dm: org.apache.spark.sql.DataFrame = null
      timed("f_d_materialize") {
        dm = Materialize.materialize(
          CorpusPipeline.dedupKeepOne(qm, "doc_id", "text", cfg))
      }
      timed("f_d_count") { dm.count(); () }
      timed("f_c_count") {
        CorpusPipeline.decontaminated(dm, evalD, "doc_id", "text", cfg)
          .count(); ()
      }
      timed("f_full_funnelCounts") {
        CorpusPipeline.funnelCounts(corpus, evalD, "doc_id", "text",
          cfg).collect(); ()
      }
      timed("f_full_banded") {
        CorpusPipeline.funnelCounts(corpus, evalD, "doc_id", "text",
          CorpusPipeline.BandedConfig).collect(); ()
      }
    }
    // ---- KN ppl bucket err baseline (lg-materialization A/B rides
    // the production code path once changed) ----
    if (which == "ppl") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.count()
      import graft.ops.Search
      timed("ppl_buckets_err_asis") {
        Search.knPplBucketsApproxErr(docs.where(col("source") =!= "src0"),
          docs, "doc_id", "text", "lang").collect(); ()
      }
    }
    spark.stop()
  }
}
