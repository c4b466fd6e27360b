package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: every variant is a distributed shuffle-on-key plan —
  * no driver-side materialization of pair sets. Exact dedup is a
  * hash-groupBy on content; near-dup goes through an inverted
  * shingle index (n-gram Jaccard, exact) or locality-sensitive
  * signatures (MinHash bands, SimHash chunks) so candidate generation
  * is linear in corpus size, never all-pairs. Hot shingles (stop
  * phrases) create join skew at 100 TB: cap them with `maxDf`
  * (CCNet-style document-frequency cutoff) and rely on AQE skew-join
  * splitting for the rest.
  */
object Dedup {

  /** Exact duplicate stats over arbitrary key columns (full-row dedup:
    * pass all columns; content dedup: pass the text/binary column).
    *
    * `hashKeys` groups by the 64-bit xxhash64 of the keys instead of
    * the values themselves — the shuffle then carries 8-byte keys
    * instead of full document bodies, which is the difference between
    * shuffling 100 TB and shuffling 800 GB on a content-dedup pass.
    * A hash collision would merge two distinct documents into one
    * group (~n²/2⁶⁵); the declared oracle query keeps the by-value
    * form, the hashed form is the production default at corpus
    * scale (equivalence unit-tested).
    *
    * Each key is preceded by its is-null flag in the hash input:
    * Spark's HashExpression SKIPS null children (xxhash64(NULL, x) ==
    * xxhash64(x)), so without the flags the distinct tuples
    * ('x', NULL) and (NULL, 'x') would deterministically merge. */
  def exactStats(df: DataFrame, keys: Seq[String],
      hashKeys: Boolean = false): DataFrame = {
    val groupCols =
      if (hashKeys)
        Seq(xxhash64(keys.flatMap(k =>
          Seq(col(k).isNull.cast("int"), col(k))): _*))
      else keys.map(col)
    val g = df.groupBy(groupCols: _*).agg(count(lit(1)).as("c"))
    g.agg(
      sum("c").cast("long").as("n_rows"),
      count(lit(1)).as("n_distinct"),
      coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).cast("long")
        .as("n_dup_rows"),
      coalesce(sum(when(col("c") > 1, 1L)), lit(0L)).cast("long")
        .as("n_dup_groups"))
  }

  /** Distinct word n-grams of a single-space-separated text column. */
  def wordNgrams(c: Column, n: Int): Column = {
    val w = split(c, " ")
    val grams = transform(sequence(lit(0), size(w) - n), i =>
      concat_ws(" ", (0 until n).map(k => element_at(w, i + k + 1)): _*))
    array_distinct(when(size(w) >= n, grams)
      .otherwise(array().cast("array<string>")))
  }

  /** Exploded (id, shingle-hash) inverted index, optionally dropping
    * shingles appearing in more than `maxDf` documents (skew guard —
    * a shingle shared by 1M docs would otherwise emit 10¹² pairs).
    *
    * Shingle keys are 64-bit hashes of token-hash n-tuples —
    * value-equivalent to hashing [[wordNgrams]]'s strings (word
    * splitting makes gram strings ≙ token tuples bijective; only the
    * negligible 64-bit collision class differs) but far cheaper: no
    * per-gram string building, long (not string) distinct/shuffle
    * keys. The token-hash array is materialized as its OWN projection
    * before the gram lambda reads it — higher-order-function lambdas
    * evaluate interpreted with no common-subexpression elimination, so
    * an inlined `transform(split(...))` would be re-evaluated on every
    * `element_at` access: O(tokens²) per document (measured: the
    * dominant cost of the whole dedup family). CollapseProject keeps
    * the boundary because the alias is non-cheap and multiply
    * referenced. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Option[Long] = None): DataFrame = {
    val sh = hashedGramFrame(df, idCol, textCol, n, distinct = true)
    maxDf match {
      case None => sh
      case Some(cap) =>
        // broadcast the HOT side: shingles with df > cap are few by
        // construction (each needs > cap docs), while the sub-cap
        // vocabulary is corpus-sized and could never be broadcast at
        // 100 TB. left_anti drops the hot ones.
        val hot = sh.groupBy("shingle")
          .agg(count(lit(1)).as("df")).where(col("df") > cap)
          .select("shingle")
        sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  /** Exploded (id, 64-bit gram-hash) frame — the single home of the
    * hashed n-gram construction shared by the dedup shingle index
    * (distinct = set semantics) and the repetition stats
    * (multiset). The token-hash array is deliberately its OWN
    * projection: HOF lambdas evaluate interpreted with no CSE, so an
    * inlined transform(split(...)) would re-evaluate per element_at
    * access — O(tokens²) per document (see the shingleIndex note; do
    * not "simplify" the two selects into one). */
  private[ops] def hashedGramFrame(df: DataFrame, idCol: String,
      textCol: String, n: Int, distinct: Boolean,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    // `carry` threads extra per-doc columns (e.g. a blocking key)
    // through both projections so blocked variants share THIS
    // derivation instead of re-implementing it (a change here must
    // reach every gram consumer and its oracle).
    val hw = df.select(col(idCol).as("id") +:
      carry.map { case (nm, c) => c.as(nm) } :+
      transform(split(col(textCol), " "), t => xxhash64(t)).as("hw"): _*)
    val a = col("hw")
    val grams = transform(sequence(lit(0), size(a) - n), i =>
      xxhash64((0 until n).map(k => element_at(a, i + k + 1)): _*))
    val guarded = when(size(a) >= n, grams)
      .otherwise(array().cast("array<bigint>"))
    hw.select(col("id") +: carry.map(c => col(c._1)) :+
      explode(if (distinct) array_distinct(guarded) else guarded)
        .as("shingle"): _*)
  }

  /** EXACT n-gram Jaccard near-duplicate pairs via inverted-index
    * self-join: pairs sharing ≥1 shingle get their true intersection
    * counted by the join, |A∪B| from per-doc set sizes. Pairs with
    * Jaccard 0 never meet — no all-pairs blowup. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.5,
      maxDf: Option[Long] = None): DataFrame = {
    // the index already joins on 64-bit shingle hashes (smaller
    // shuffle keys, long-equality probes). A collision would inflate
    // one intersection count; at D distinct shingles the probability
    // is ~D²/2⁶⁵ (≈4e-8 for D=1e6) — negligible.
    // r17: the index is MATERIALIZED once — the plan otherwise
    // derives it three times per action (the hot-gram broadcast
    // build, the shingle-keyed self-join exchange, the id-keyed
    // sizes exchange), and the gram explode is the measured dominant
    // cost of the family (OPTIMIZATION_r17.md §3, sf0.1/32c: 2.86 →
    // 2.11 s warm). Values unchanged; storage is one copy of the same
    // bytes every exchange already spills.
    val sh = Materialize.materialize(
      shingleIndex(df, idCol, textCol, n, maxDf))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** [[ngramJaccardPairs]] with a BLOCKING key: candidate pairs are
    * generated only within a block (language, registrable domain,
    * source …) — the standard crawl-dedup partition. Not a post-hoc
    * filter: the block rides the shingle-join KEY, so a shingle hot
    * across blocks (boilerplate shared by every language) never
    * generates cross-block candidates, and the df cap applies at the
    * block granularity (a gram can be boilerplate in one language
    * and meaningful in another). At corpus scale this is the
    * difference between one global inverted index and B independent
    * ones that shuffle and skew separately. */
  def ngramJaccardPairsBlocked(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, n: Int = 3,
      minJaccard: Double = 0.5, maxDf: Option[Long] = None)
      : DataFrame = {
    // the shared gram derivation with the block value carried
    // through — the df cap below is block-granular (a gram can be
    // boilerplate in one language and meaningful in another), so it
    // cannot reuse shingleIndex's global cap
    val sh0 = hashedGramFrame(df, idCol, textCol, n, distinct = true,
      carry = Seq("blk" -> col(blockCol).cast("string")))
    // (r17 note: materializing sh here like ngramJaccardPairs was
    // MEASURED SLOWER — 2.10 → 2.39 s at sf0.1 — the wider
    // (id, blk, shingle) checkpoint costs more than the re-derivation
    // it saves; honest negative result, kept as-was)
    val sh = maxDf match {
      case None => sh0
      case Some(cap) =>
        val hot = sh0.groupBy("blk", "shingle")
          .agg(count(lit(1)).as("df")).where(col("df") > cap)
          .select("blk", "shingle")
        sh0.join(broadcast(hot), Seq("blk", "shingle"), "left_anti")
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.shingle") === col("b.shingle") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.blk").as("block"), col("a.id").as("id_a"),
        col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("block", "id_a", "id_b", "jaccard")
      .orderBy("block", "id_a", "id_b")
  }

  /** Per-source exact-duplicate profile — "WHICH source is
    * internally duplicated": per source, rows, distinct texts, rows
    * belonging to a within-source duplicate group and the dup share.
    * One (source, text-hash) aggregation + one per-source rollup,
    * both map-side combined. */
  def exactStatsBySource(df: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val g = df.groupBy(col(srcCol).as("source"),
        xxhash64(col(textCol)).as("h"))
      .agg(count(lit(1)).as("c"))
    g.groupBy("source")
      .agg(sum("c").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
          .as("n_dup_rows"))
      .select(col("source"), col("n_rows"), col("n_distinct"),
        col("n_dup_rows"),
        graft.det.Sig.sig5(col("n_dup_rows").cast("double") /
          col("n_rows")).as("dup_share"))
      .orderBy("source")
  }

  /** Asymmetric containment pairs: C(A→B) = |A∩B| / |A| per
    * direction, kept when either direction reaches `minContain`.
    * Catches exactly what Jaccard structurally misses — a short doc
    * quoted inside a much longer one has J ≈ |A|/|B| ≈ 0 but
    * C(A→B) = 1 (Broder 1997's containment measure; the gram-level
    * form of quote/boilerplate reuse detection). Same capped shingle
    * index, same 8-byte-hash self-join and same df-cap/star-cap
    * scale guards as [[ngramJaccardPairs]] — only the acceptance
    * formula differs, so the two can share one index build. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContain: Double = 0.9,
      maxDf: Option[Long] = None): DataFrame = {
    // r17: one derivation instead of three (see ngramJaccardPairs)
    val sh = Materialize.materialize(
      shingleIndex(df, idCol, textCol, n, maxDf))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("c_a", col("inter").cast("double") / col("sz_a"))
      .withColumn("c_b", col("inter").cast("double") / col("sz_b"))
      .where(greatest(col("c_a"), col("c_b")) >= minContain)
      .select(col("id_a"), col("id_b"),
        graft.det.Sig.sig5(col("c_a")).as("c_a"),
        graft.det.Sig.sig5(col("c_b")).as("c_b"))
      .orderBy("id_a", "id_b")
  }

  /** MinHash signatures: `numHashes` independent hash views via
    * seeded xxhash64; the signature entry is the min over the doc's
    * shingle set. Fully deterministic (seed folded into the hash
    * input), one shuffle (groupBy id). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64,
      maxDf: Option[Long] = None): DataFrame = {
    // the shingle key from the index is already a fixed 8-byte hash;
    // derive the family by re-hashing it with per-view seeds — 64
    // hashes of one long each, never 64 string traversals. (A
    // wrapping a·h+b family would be cheaper still, but long overflow
    // is an error under ANSI mode.)
    val sh = shingleIndex(df, idCol, textCol, n, maxDf)
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatures]] with a STATIC over-cap gram set instead of
    * a computed df cap — the batch-append/streaming shape ([[
    * rowBanded]] contract): a batch cannot see corpus-global document
    * frequencies, so the cap ships as the catalog's hot-shingle set
    * and filtering is a broadcast membership test (Catalyst compiles
    * the literal list to an InSet hash probe). With `hot` empty this
    * is exactly the uncapped [[minhashSignatures]]. */
  def minhashSignaturesStatic(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 64,
      hot: Seq[Long] = Nil): DataFrame = {
    val sh0 = shingleIndex(df, idCol, textCol, n, None)
    val sh = if (hot.isEmpty) sh0
      else sh0.where(!col("shingle").isin(hot: _*))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate pairs from a banded (id, band, bh) frame: docs
    * colliding on any band's hash, deduplicated across bands. With
    * `maxBucket` set, buckets over the cap switch from all-pairs
    * (C(m,2) — quadratic in the bucket) to STAR linking (m−1 edges to
    * the bucket's min id), which preserves the connectivity that
    * clustering consumes while bounding candidate volume — the shared
    * skew guard for every banded LSH family (MinHash and hyperplane).
    */
  private[graft] def bandedCandidates(banded: DataFrame,
      maxBucket: Option[Long]): DataFrame = maxBucket match {
    case None =>
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bh") === col("y.bh") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct()
    case Some(cap) =>
      // one aggregation per bucket gives both the size (cap decision)
      // and the star representative; the all-pairs join then runs
      // ONLY over under-cap buckets
      val sizes = banded.groupBy("band", "bh")
        .agg(count(lit(1)).as("sz"), min("id").as("rep"))
      val withSz = banded.join(sizes, Seq("band", "bh"))
      val small = withSz.where(col("sz") <= cap)
        .select("id", "band", "bh")
      val smallPairs = small.as("x").join(small.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bh") === col("y.bh") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      val starPairs = withSz
        .where(col("sz") > cap && col("id") =!= col("rep"))
        .select(col("rep").as("id_a"), col("id").as("id_b"))
      smallPairs.union(starPairs).distinct()
  }

  /** MinHash-LSH near-dup candidates: signatures are cut into
    * `bands` bands of numHashes/bands rows; docs colliding on any
    * band hash become candidates (one explode + one groupBy join —
    * linear, the standard 100 TB-scale near-dup plan). Candidates are
    * scored by signature agreement (unbiased Jaccard estimate) and
    * filtered at `minEstJaccard`. `maxBucket` is the
    * [[bandedCandidates]] skew guard — m near-identical docs share
    * every band hash, and without the cap one viral boilerplate
    * cluster costs C(m,2) candidate pairs. */
  /** (id, band, bh) banding of a MinHash signature frame — the LSH
    * bucket-key view [[minhashLshPairs]] joins on, exposed so skew
    * diagnostics ([[bucketCapProfile]], the dedup scale smoke) can
    * profile the exact buckets the join would see. */
  def bandedFromSignatures(sigs: DataFrame, numHashes: Int, bands: Int)
      : DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) or trailing " +
        "signature hashes would be silently excluded from banding")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("s"))
      .select(col("id"), col("s.band"), col("s.bh"))
  }

  /** One-row cap profile of a banded frame under `cap`: how many
    * buckets exist, how many exceed the cap (switching to star
    * linking), the all-pairs edges the under-cap buckets emit, the
    * star edges the over-cap ones degrade to, the quadratic edge
    * count the cap AVOIDED, and the largest bucket. This is the
    * measured form of the star-cap degradation contract. */
  def bucketCapProfile(banded: DataFrame, cap: Long): DataFrame = {
    // C(sz,2) via shiftright keeps the arithmetic in LONGs end to end
    // (Column./ is double division — a 2^53 precision hazard at
    // corpus-scale bucket sizes)
    banded.groupBy("band", "bh").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("sz") > cap, 1L).otherwise(0L)), lit(0L))
          .as("n_over_cap"),
        coalesce(sum(when(col("sz") <= cap,
          shiftright(col("sz") * (col("sz") - 1), 1)).otherwise(0L)),
          lit(0L)).as("allpairs_edges"),
        coalesce(sum(when(col("sz") > cap, col("sz") - 1)
          .otherwise(0L)), lit(0L)).as("star_edges"),
        coalesce(sum(when(col("sz") > cap,
          shiftright(col("sz") * (col("sz") - 1), 1)).otherwise(0L)),
          lit(0L)).as("avoided_edges"),
        max("sz").as("max_bucket"))
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minEstJaccard: Double = 0.5, maxDf: Option[Long] = None,
      maxBucket: Option[Long] = None): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, n, numHashes, maxDf)
    val banded = bandedFromSignatures(sigs, numHashes, bands)
    val cand = bandedCandidates(banded, maxBucket)
    val agree = (0 until numHashes)
      .map(i => when(col(s"sa.mh_$i") === col(s"sb.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigs.as("sa"), col("id_a") === col("sa.id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("est_jaccard",
        agree.cast("double") / numHashes.toDouble)
      .where(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Recall-containment view for MinHash-LSH: the exact n-gram
    * Jaccard pairs at `minJaccard` that the banded MinHash candidate
    * set captures. Declaring THIS as the oracle-checked query (oracle
    * = the exact pairs) turns the probabilistic operator into a
    * checked invariant: a hash-match means every exact pair ≥
    * `minJaccard` appeared among the LSH candidates (100% recall at
    * the fixture, deterministic given the seeded hashes) — any
    * banding/signature regression drops rows and fails the compare.
    * Margin note: banding recall is probabilistic over the SEEDED
    * hash choice — for b bands of r rows, a pair at exactly J has
    * capture probability 1−(1−Jʳ)ᵇ (16×4: ≈0.988 at J=0.7, ≈0.99978
    * at J=0.8). Declared gates should set `minJaccard` high enough
    * that this is overwhelming, or a new fixture with an unlucky
    * near-threshold pair turns a probabilistic miss into a gate
    * failure with no code regression.
    * Containment is one-directional: precision (no false candidates
    * surviving the est-Jaccard filter) is covered by unit tests.
    * `maxDf` is applied to BOTH sides so the exact premise and the
    * MinHash signatures see the same (cap-filtered) shingle sets —
    * an asymmetric cap would fail the compare on corpora where the
    * cap binds without any LSH regression. */
  def minhashContainmentPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minEstJaccard: Double = 0.5, minJaccard: Double = 0.7,
      maxDf: Option[Long] = None): DataFrame = {
    val exact = ngramJaccardPairs(df, idCol, textCol, n, minJaccard, maxDf)
    val cand = minhashLshPairs(df, idCol, textCol, n, numHashes, bands,
      minEstJaccard, maxDf)
    exact.join(cand.select("id_a", "id_b"), Seq("id_a", "id_b"),
        "left_semi")
      .orderBy("id_a", "id_b")
  }

  /** The PRODUCTION near-dup pair plan: MinHash-LSH banded candidate
    * generation with the EXACT n-gram Jaccard verified ONLY on the
    * candidates — the standard two-phase web-scale design (candidates
    * from banding, precision from exact verification; Lee et al.,
    * ACL 2022 §4.1 describe the same candidate→verify split). Where
    * [[ngramJaccardPairs]] pays Θ(Σ_g df(g)²) for the inverted-index
    * self-join, this plan is linear: one shingle aggregation
    * producing BOTH the 64-hash signature and the doc's shingle-set
    * array (one shuffle, reused by every downstream consumer via
    * ReuseExchange), a banded bucket join bounded by the `maxBucket`
    * star cap, and an O(candidates) verify computing the exact
    * Jaccard from the two docs' shingle arrays (`array_intersect` —
    * no re-scan of the corpus, no index self-join).
    *
    * Output schema AND values match [[ngramJaccardPairs]] wherever
    * banding recall is 1 (same division arithmetic on the same
    * intersection counts), so the exact-pair oracle replays verbatim;
    * the fixtures' surviving pairs sit at J ≥ 0.8 where 16×4 banding
    * capture is 1 − (1 − J⁴)¹⁶ ≥ 0.9998 per pair and deterministic
    * given the seeded hashes (the dedup_minhash containment gate pins
    * exactly this). A pair suppressed by the star cap (both members
    * of an over-cap bucket, neither the representative) degrades the
    * PAIR LIST but not cluster connectivity — the cap's documented
    * contract. */
  def minhashVerifiedPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5, maxDf: Option[Long] = None,
      maxBucket: Option[Long] = Some(1024L)): DataFrame =
    bandedVerifiedInter(
      shingleIndex(df, idCol, textCol, n, maxDf), numHashes, bands,
      maxBucket)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")

  /** Corpus-size-ROUTED near-dup pairs ([[contaminationPairsRouted]]'s
    * dispatch applied to the pair family): the exact inverted-index
    * join ([[ngramJaccardPairs]] — ground truth, Θ(Σ_g df(g)²)
    * candidates) while the corpus is small enough to afford the
    * audit, [[minhashVerifiedPairs]] (banded candidates, exact
    * Jaccard verified on candidates only — linear) above
    * `bandedAboveRows`. One count() action (scan-only, no shuffle)
    * decides; both branches share one oracle wherever banding recall
    * is 1 — the r14 banded twins pin exactly that at every gate tier
    * plus the open-vocab heaps tiers. */
  def ngramJaccardPairsRouted(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minJaccard: Double = 0.5,
      maxDf: Option[Long] = None, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Option[Long] = Some(1024L),
      bandedAboveRows: Long = 20000L): DataFrame =
    if (df.count() > bandedAboveRows)
      minhashVerifiedPairs(df, idCol, textCol, n, numHashes, bands,
        minJaccard, maxDf, maxBucket)
    else
      ngramJaccardPairs(df, idCol, textCol, n, minJaccard, maxDf)

  /** The shared core of the banded-verified family: candidates from
    * MinHash banding over a (id, shingle) index, exact intersection
    * counts computed ONLY on the candidates. Returns
    * (id_a, id_b, inter, sz_a, sz_b) so each caller applies its own
    * acceptance formula (Jaccard, containment, …). */
  private def bandedVerifiedInter(sh: DataFrame, numHashes: Int,
      bands: Int, maxBucket: Option[Long]): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i")) ++
      Seq(collect_set(col("shingle")).as("ss"),
        count(lit(1)).as("sz"))
    // one aggregation = signatures + shingle sets + sizes; the three
    // consumers below all read this same exchange
    val docs = sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val cand = bandedCandidates(
      bandedFromSignatures(docs, numHashes, bands), maxBucket)
    cand
      .join(docs.select(col("id").as("id_a"), col("ss").as("ss_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("ss").as("ss_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
      .select("id_a", "id_b", "inter", "sz_a", "sz_b")
  }

  /** Containment on the PRODUCTION paths — two arms replacing
    * [[containmentPairs]]'s Σdf² index self-join:
    *
    *  (a) QUOTE PROBE: documents of ≤ `shortMaxTokens` tokens are
    *      probed against the full corpus gram index (the
    *      decontamination shape — the probe side's grams are few, so
    *      the join is Σ df(g) over quote grams, df-capped). Catches
    *      short-in-long quotes at ANY length ratio.
    *  (b) NEAR-DUP ARM: banded MinHash candidates with containment
    *      verified exactly on the candidate set. Catches containment
    *      between similar-length docs: C ≥ 0.9 with sizes within ~2×
    *      implies J ≥ 0.45, where 16×4 banding recall is high and
    *      deterministic for the fixtures' actual (J ≥ 0.8) pairs.
    *
    * Out of scope BY DECLARATION: mid-ratio partial containment
    * (both sides long, J below the banding floor) — that regime
    * belongs to the substring family ([[SubstringDedup]] detects
    * shared spans without pair enumeration). On corpora whose
    * containment pairs fall in the two covered regimes (the
    * fixtures — gated at three SFs plus the open-vocab tier) the
    * output is identical to [[containmentPairs]], and the two arms
    * compute c_a/c_b from the same capped index, so values match
    * bitwise. */
  def containmentPairsRouted(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minContain: Double = 0.9,
      maxDf: Option[Long] = None, shortMaxTokens: Int = 24,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Option[Long] = Some(1024L)): DataFrame = {
    // r17: the index feeds FIVE consumers here (sizes, the short-doc
    // probe side, both probe-join sides, the banded arm) — one
    // derivation instead of ~four (see ngramJaccardPairs)
    val sh = Materialize.materialize(
      shingleIndex(df, idCol, textCol, n, maxDf))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val shortIds = df
      .where(size(split(col(textCol), " ")) <= shortMaxTokens)
      .select(col(idCol).as("id"))
    val shShort = sh.join(shortIds, Seq("id"), "left_semi")
    // arm (a): probe-side join; distinct canonical (ia, ib, shingle)
    // so a short-short pair hit from both directions counts once
    val probePairs = shShort.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        col("a.shingle").as("shingle"))
      .distinct()
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .select("id_a", "id_b", "inter", "sz_a", "sz_b")
    // arm (b): banded near-dup candidates with exact intersections
    val banded = bandedVerifiedInter(sh, numHashes, bands, maxBucket)
    probePairs.unionByName(banded)
      .withColumn("c_a", col("inter").cast("double") / col("sz_a"))
      .withColumn("c_b", col("inter").cast("double") / col("sz_b"))
      .where(greatest(col("c_a"), col("c_b")) >= minContain)
      .select(col("id_a"), col("id_b"),
        graft.det.Sig.sig5(col("c_a")).as("c_a"),
        graft.det.Sig.sig5(col("c_b")).as("c_b"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Exact cross-side n-gram Jaccard pairs (incoming × catalog) —
    * the ground-truth premise for incremental dedup: every
    * (incoming, catalog) pair whose capped-3-gram Jaccard reaches
    * `minJaccard`. Same inverted-index shape as
    * [[ngramJaccardPairs]], but the join is BETWEEN the two frames
    * (the catalog is never self-paired). The df cap applies per side,
    * matching what per-side signature computation sees. */
  def crossJaccardPairs(incoming: DataFrame, catalog: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minJaccard: Double = 0.5, maxDf: Option[Long] = None)
      : DataFrame = {
    // (r17 note: materializing both indexes like ngramJaccardPairs
    // was MEASURED SLOWER on the incremental path — 2.33 → 3.08 s at
    // sf0.1 — the incoming batch is small, so two eager checkpoint
    // jobs cost more than the re-derivations they save; honest
    // negative result, kept as-was)
    val shI = shingleIndex(incoming, idCol, textCol, n, maxDf)
    val shC = shingleIndex(catalog, idCol, textCol, n, maxDf)
    val szI = shI.groupBy("id").agg(count(lit(1)).as("sz_a"))
      .withColumnRenamed("id", "inc_id")
    val szC = shC.groupBy("id").agg(count(lit(1)).as("sz_b"))
      .withColumnRenamed("id", "cat_id")
    shI.as("a").join(shC.as("b"), col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.id").as("inc_id"), col("b.id").as("cat_id"))
      .agg(count(lit(1)).as("inter"))
      .join(szI, Seq("inc_id")).join(szC, Seq("cat_id"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("inc_id", "cat_id", "jaccard")
      .orderBy("inc_id", "cat_id")
  }

  /** Incremental (catalog) MinHash-LSH near-dup candidates: an
    * INCOMING batch banded against an existing CATALOG — the
    * daily-crawl operating shape at 100 TB (the corpus-maintenance
    * regime described for production web-scale dedup in Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 §3, applied incrementally). The catalog side is the
    * persisted signature/band index of everything already kept (in
    * production computed ONCE and stored; recomputed here from text
    * because the harness has no state between queries); each new
    * batch is signed, banded identically, and candidates come from an
    * incoming↔catalog bucket join — the catalog is never re-paired
    * against itself, so daily cost is O(batch) + one index probe, not
    * O(corpus²) or even O(corpus).
    *
    * `maxCatalogPerBucket` is the incremental skew guard: a viral
    * catalog bucket (boilerplate cluster) is represented by its
    * `cap` smallest-id members — an incoming near-dup still collides
    * with the representatives (detection preserved: the incremental
    * question is "is this new doc a dup of ANYTHING", not the full
    * pair list), while the per-bucket join fan-out is bounded by
    * cap·|incoming-bucket|. */
  def incrementalLshPairs(incoming: DataFrame, catalog: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, minEstJaccard: Double = 0.5,
      maxDf: Option[Long] = None,
      maxCatalogPerBucket: Option[Long] = None): DataFrame = {
    val sigsC = minhashSignatures(catalog, idCol, textCol, n,
      numHashes, maxDf)
    incrementalLshPairsWithIndex(incoming, sigsC,
      bandedFromSignatures(sigsC, numHashes, bands), idCol, textCol,
      n, numHashes, bands, minEstJaccard, maxDf, maxCatalogPerBucket)
  }

  /** Persist the catalog's near-dup index — signatures plus banded
    * (id, band, bh) keys — as parquet under `path`: the state a
    * production pipeline builds ONCE per corpus version and probes
    * on every batch. Band keys are written partitioned by `band`
    * so a probe of one band prunes to 1/bands of the index files. */
  def writeCatalogIndex(catalog: DataFrame, idCol: String,
      textCol: String, path: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxDf: Option[Long] = None): Unit = {
    // the hot (over-df-cap) shingle set is corpus-GLOBAL state a later
    // batch cannot re-derive — resolve it ONCE here and persist it
    // with the build params, so append jobs reproduce the rebuild
    // signatures exactly instead of trusting caller discipline. Hot
    // shingles are few by construction (each needs > cap docs).
    val hot: Seq[Long] = maxDf match {
      case None => Nil
      case Some(cap) =>
        shingleIndex(catalog, idCol, textCol, n, None)
          .groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") > cap)
          .collect().map(_.getLong(0)).toSeq.sorted
    }
    val sigs = minhashSignaturesStatic(catalog, idCol, textCol, n,
      numHashes, hot)
    sigs.write.mode("overwrite").parquet(s"$path/signatures")
    bandedFromSignatures(sigs, numHashes, bands)
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$path/bands")
    val spark = catalog.sparkSession
    spark.range(1).select(lit(n).as("n"),
        lit(numHashes).as("num_hashes"), lit(bands).as("bands"),
        lit(maxDf.map(Long.box).orNull).cast("long").as("max_df"),
        array(hot.map(lit(_)): _*).cast("array<bigint>").as("hot"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The persisted build params of a [[writeCatalogIndex]] index:
    * (n, numHashes, bands, maxDf, hot shingle set). */
  def readCatalogMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int, Option[Long], Seq[Long]) = {
    val r = spark.read.parquet(s"$path/meta").collect().head
    (r.getInt(0), r.getInt(1), r.getInt(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)),
      r.getSeq[Long](4))
  }

  /** Load a [[writeCatalogIndex]] index: (signatures, banded keys). */
  def readCatalogIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/signatures"),
      spark.read.parquet(s"$path/bands")
        .select(col("id"), col("band").cast("int"), col("bh")))

  /** Fold an accepted (already-deduped) batch INTO a persisted
    * [[writeCatalogIndex]] index without rebuilding it — the rest of
    * the daily-crawl lifecycle: sign and band ONLY the batch (an
    * O(batch) job, vs the measured 43 s full rebuild at 10M docs),
    * then parquet-append the new rows. Signatures and band keys are
    * per-document pure functions of the text, so append ≡ rebuild
    * exactly (probe-equality is unit-tested); any per-bucket cap is
    * applied at PROBE time (`maxCatalogPerBucket`), so appends never
    * need a re-cap pass.
    *
    * `maxDf` caveat: document frequencies are corpus-global state a
    * batch cannot see — the index's persisted metadata carries the
    * catalog's resolved hot-shingle set, so the append reproduces the
    * full-rebuild signatures exactly with no caller-side state.
    *
    * The caller's (n, numHashes, bands) are VERIFIED against the
    * persisted build params: a mismatched append would silently
    * corrupt probe equality (different shingle width or band keys in
    * one index), so it fails loudly instead. */
  def appendCatalogIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    val (mn, mh, mb, _, hot) =
      readCatalogMeta(batch.sparkSession, path)
    require(mn == n && mh == numHashes && mb == bands,
      s"appendCatalogIndex params (n=$n, numHashes=$numHashes, " +
        s"bands=$bands) do not match the index's persisted build " +
        s"params (n=$mn, numHashes=$mh, bands=$mb) at $path")
    val sigs = minhashSignaturesStatic(batch, idCol, textCol, n,
      numHashes, hot)
    sigs.write.mode("append").parquet(s"$path/signatures")
    bandedFromSignatures(sigs, numHashes, bands)
      .write.mode("append").partitionBy("band")
      .parquet(s"$path/bands")
  }

  /** [[incrementalLshPairs]] against a PREBUILT catalog index (the
    * persisted-signatures production path — the catalog text is
    * never re-read, only its index). */
  def incrementalLshPairsWithIndex(incoming: DataFrame,
      catalogSigs: DataFrame, catalogBands: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, minEstJaccard: Double = 0.5,
      maxDf: Option[Long] = None,
      maxCatalogPerBucket: Option[Long] = None): DataFrame = {
    val sigsI = minhashSignatures(incoming, idCol, textCol, n,
      numHashes, maxDf)
    val sigsC = catalogSigs
    val bI = bandedFromSignatures(sigsI, numHashes, bands)
    val bC0 = catalogBands
    val bC = maxCatalogPerBucket match {
      case None => bC0
      case Some(cap) =>
        // the BottomK buffer encodes ids as Long: any other id type
        // would get an implicit cast (NULL under non-ANSI) feeding a
        // non-nullable encoder — fail loudly instead of corrupting
        // the cap
        require(bC0.schema("id").dataType ==
          org.apache.spark.sql.types.LongType,
          "maxCatalogPerBucket requires a LongType id column; got " +
            s"${bC0.schema("id").dataType.simpleString}")
        // keep the cap smallest ids per catalog bucket via the
        // bounded BottomK aggregate: the former row_number window
        // SORTED each bucket in one task before cutting — a viral
        // bucket (measured max 81k members at 10M docs) serialized
        // through one sort — while the heap keeps O(cap) state
        // map-side with a linear merge; ids are unique per bucket so
        // BottomK's distinctness is a no-op. Same exchange, no sort.
        bC0.groupBy("band", "bh")
          .agg(graft.functions.BottomKSketch.bottom_k(cap.toInt)(
            col("id")).as("__ids"))
          .select(col("band"), col("bh"),
            explode(col("__ids")).as("id"))
    }
    val cand = bI.as("x").join(bC.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("inc_id"), col("y.id").as("cat_id"))
      .distinct()
    val agree = (0 until numHashes)
      .map(i => when(col(s"sa.mh_$i") === col(s"sb.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    // the incoming side is batch-sized by the operator's premise
    // (daily slice vs corpus), so its signature table broadcasts —
    // the scoring join then shuffles only candidates × catalog sigs
    cand
      .join(broadcast(sigsI.as("sa")), col("inc_id") === col("sa.id"))
      .join(sigsC.as("sb"), col("cat_id") === col("sb.id"))
      .withColumn("est_jaccard",
        agree.cast("double") / numHashes.toDouble)
      .where(col("est_jaccard") >= minEstJaccard)
      .select("inc_id", "cat_id", "est_jaccard")
      .orderBy("inc_id", "cat_id")
  }

  /** Per-row banded MinHash — the STATELESS twin of
    * [[minhashSignatures]] → [[bandedFromSignatures]]: each row
    * computes its own signature from its token-hash array (HOF
    * `array_min` over per-view rehashes of the same 64-bit gram
    * hashes — value-identical longs, batch-equality unit-tested), so
    * there is NO explode-groupBy shuffle and the whole thing runs
    * verbatim on a STREAMING DataFrame. Per-row cost is
    * O(numHashes·grams) interpreted lambda evaluations — the right
    * trade for ingest-time guards where each row is seen once; the
    * batch index path stays the bulk-build plan.
    *
    * `hotShingles` is the static over-cap gram set (shipped with the
    * catalog index in production, like the Bloom bits): a stateless
    * row cannot compute corpus document frequencies, so the df cap
    * becomes a membership filter against this literal set. Docs with
    * no grams (shorter than n tokens) are dropped, as in the batch
    * index. Returns (id, band, bh). */
  def rowBanded(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      hotShingles: Seq[Long] = Nil): DataFrame = {
    val withKeys = rowBandKeys(df, idCol, textCol, n, numHashes, bands,
      hotShingles)
    withKeys
      .select(col("id"), posexplode(col("__bands")).as(Seq("band", "bh")))
      .select(col("id"), col("band").cast("int"), col("bh"))
  }

  /** (id, __bands: array<bigint>) — per-row band hashes, plus
    * `__bandkeys` (band index folded into the hash) for set/Bloom
    * membership keyed on (band, bh) pairs. Shared by [[rowBanded]]
    * and the streaming guard. */
  private[ops] def rowBandKeys(df: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, bands: Int,
      hotShingles: Seq[Long]): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    // token-hash array as its OWN projection (HOF-CSE rule — see
    // hashedGramFrame; an inlined transform(split(...)) re-evaluates
    // per element access)
    val hw = df.select(col(idCol).as("id"),
      transform(split(col(textCol), " "), t => xxhash64(t)).as("__hw"))
    val a = col("__hw")
    val grams0 = transform(sequence(lit(0), size(a) - n), i =>
      xxhash64((0 until n).map(k => element_at(a, i + k + 1)): _*))
    val guarded = array_distinct(when(size(a) >= n, grams0)
      .otherwise(array().cast("array<bigint>")))
    val grams =
      if (hotShingles.isEmpty) guarded
      else array_except(guarded, typedLit(hotShingles.toArray))
    // grams array materialized before the signature lambdas read it
    val withG = hw.select(col("id"), grams.as("__g"))
      .where(size(col("__g")) >= 1)
    val sigs = (0 until numHashes).map(i =>
      array_min(transform(col("__g"), s => xxhash64(lit(i), s)))
        .as(s"__mh_$i"))
    val withSig = withG.select(col("id") +: sigs: _*)
    val bandHashes = (0 until bands).map { b =>
      val cs = (b * rows until (b + 1) * rows).map(i => col(s"__mh_$i"))
      xxhash64(cs: _*)
    }
    withSig.select(col("id"), array(bandHashes: _*).as("__bands"),
      array(bandHashes.zipWithIndex.map { case (bh, b) =>
        xxhash64(lit(b.toLong), bh)
      }: _*).as("__bandkeys"))
  }

  /** The catalog's (band, bh) key set folded into a dense Bloom
    * bitset (one `Array[Long]` of mBits/64 words) plus the over-cap
    * hot-gram set — the STATIC state a streaming ingest guard ships:
    * O(mBits + hot) driver/broadcast bytes, independent of catalog
    * row count. Keys are xxhash64(band, bh) so a hash colliding in a
    * DIFFERENT band cannot flag. */
  def catalogBandBloom(catalog: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxDf: Option[Long] = None,
      mBits: Long = 1L << 20, nBloomHashes: Int = 5)
      : (Array[Long], Seq[Long]) = {
    val sigs = minhashSignatures(catalog, idCol, textCol, n,
      numHashes, maxDf)
    val banded = bandedFromSignatures(sigs, numHashes, bands)
    val keys = banded.select(
      xxhash64(col("band").cast("long"), col("bh")).as("shingle"))
    val bits = BloomPrefilter.buildBits(keys, mBits, nBloomHashes)
      .collect()(0).getSeq[Long](0).toArray
    val hot = maxDf match {
      case None => Nil
      case Some(cap) =>
        hashedGramFrame(catalog, idCol, textCol, n, distinct = true)
          .groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") > cap)
          .collect().map(_.getLong(0)).toSeq
    }
    (bits, hot)
  }

  /** Per-row incremental dedup guard: each doc's band keys probed
    * against the catalog's Bloom bitset — ONE output row per doc,
    * `maybe_dup` true iff some band key might be in the catalog
    * (Bloom semantics: no false negatives relative to the banded
    * index; false-positive rate set by mBits/nBloomHashes). The whole
    * plan is Scan→Project — no shuffle, no state — so it runs
    * verbatim on a STREAMING frame,
    * the same guard contract as BloomPrefilter's contamination flag. */
  def incrementalGuard(df: DataFrame, idCol: String, textCol: String,
      bloomBits: Array[Long], hotShingles: Seq[Long] = Nil,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      mBits: Long = 1L << 20, nBloomHashes: Int = 5): DataFrame = {
    val bloom = typedLit(bloomBits.toSeq)
    rowBandKeys(df, idCol, textCol, n, numHashes, bands, hotShingles)
      .select(col("id").as("doc_id"),
        exists(col("__bandkeys"), k =>
          BloomPrefilter.mightContain(bloom, k, mBits, nBloomHashes))
          .as("maybe_dup"))
  }

  /** Recall-containment view for incremental dedup (the declared
    * gate, same pattern as [[minhashContainmentPairs]]): the exact
    * cross-side Jaccard pairs at `minJaccard` that the incremental
    * banded candidates capture. Oracle = the exact pairs; a
    * hash-match proves every catalog near-dup of the incoming batch
    * appeared among the incremental candidates. */
  def incrementalContainmentPairs(incoming: DataFrame,
      catalog: DataFrame, idCol: String, textCol: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      minEstJaccard: Double = 0.5, minJaccard: Double = 0.8,
      maxDf: Option[Long] = None): DataFrame = {
    val exact = crossJaccardPairs(incoming, catalog, idCol, textCol,
      n, minJaccard, maxDf)
    val cand = incrementalLshPairs(incoming, catalog, idCol, textCol,
      n, numHashes, bands, minEstJaccard, maxDf)
    exact.join(cand.select("inc_id", "cat_id"), Seq("inc_id", "cat_id"),
        "left_semi")
      .orderBy("inc_id", "cat_id")
  }

  /** Bounded-distance invariant view for SimHash: the exact n-gram
    * Jaccard pairs at `minJaccard` whose 64-bit SimHash Hamming
    * distance is ≤ `maxHamming`. With the oracle producing the exact
    * pair set, a hash-match asserts the fingerprint property that
    * makes SimHash near-dup detection work: near-identical documents
    * (J ≥ 0.9) stay within a small Hamming radius (observed ≤ 11 on
    * the fixtures; random-doc expectation is 32, so a bit-vote
    * regression spreads the distance and fails the compare). Distance
    * is computed directly on the pair list (no banding) — the banded
    * candidate generator is covered by unit tests.
    *
    * Caveat (fixture-calibrated invariant): the premise is the
    * `maxDf`-capped 3-gram Jaccard while the SimHash votes over ALL
    * unigrams — the two feature spaces diverge on corpora whose
    * near-dup pairs are dominated by capped boilerplate (capped J
    * high, raw Hamming large). The fixtures have no binding cap, and
    * the thresholds here are calibrated against them; re-calibrate
    * `minJaccard`/`maxHamming` when pointing this check at a corpus
    * with heavy shared boilerplate. */
  def simhashBoundedPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.9, maxHamming: Int = 16,
      maxDf: Option[Long] = None): DataFrame = {
    val exact = ngramJaccardPairs(df, idCol, textCol, n, minJaccard, maxDf)
    val fps = simhash(df, idCol, textCol)
    exact
      .join(fps.select(col("id").as("id_a"), col("simhash").as("ha")),
        Seq("id_a"))
      .join(fps.select(col("id").as("id_b"), col("simhash").as("hb")),
        Seq("id_b"))
      .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** The PRODUCTION twin of [[simhashBoundedPairs]]: the high-J
    * premise pairs come from the banded MinHash path (at J ≥ 0.9 the
    * 16×4 per-pair capture is ≥ 1 − 3·10⁻⁸) instead of the Σdf²
    * inverted-index join; the SimHash Hamming bound then verifies as
    * before. Same oracle as the exact form. */
  def simhashBoundedPairsBanded(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minJaccard: Double = 0.9,
      maxHamming: Int = 16, maxDf: Option[Long] = None,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Option[Long] = Some(1024L)): DataFrame = {
    val prem = minhashVerifiedPairs(df, idCol, textCol, n, numHashes,
      bands, minJaccard, maxDf, maxBucket)
    val fps = simhash(df, idCol, textCol)
    prem
      .join(fps.select(col("id").as("id_a"), col("simhash").as("ha")),
        Seq("id_a"))
      .join(fps.select(col("id").as("id_b"), col("simhash").as("hb")),
        Seq("id_b"))
      .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-duplicate pairs: exact all-pairs self-join
    * scored by cosine (the baseline; quadratic — test scale /
    * per-bucket use). At corpus scale, pre-bucket with
    * [[graft.ops.Similarity.lshBucket]] hyperplane signatures and run
    * this within buckets ([[embedCosinePairsLsh]]). */
  def embedCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.5): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.norm(col(vecCol)).as("nrm"))
    scoreCosinePairs(
      base.as("a").join(base.as("b"), col("a.id") < col("b.id")),
      minCosine)
  }

  /** Shared pair-scoring tail for the exact and LSH cosine dedup
    * paths: raw-cosine prefilter BEFORE the sig5 rounding (the
    * rounding expression costs ~7 µs interpreted per pair — it
    * dominated the 2M-pair join at 15 s; sig5 can raise a value by
    * at most ~6e-6 relative, so the 1e-4 margin keeps every pair
    * the rounded filter would keep); zero-norm vectors excluded
    * (their cosine is NULL via Similarity.cosine, never NaN). */
  private def scoreCosinePairs(joined: DataFrame, minCosine: Double)
      : DataFrame =
    joined
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosine(Similarity.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("raw"))
      .where(col("raw") >= minCosine - 1e-4)
      .select(col("id_a"), col("id_b"),
        graft.det.Sig.sig5(col("raw")).as("cosine"))
      .where(col("cosine") >= minCosine)
      .orderBy("id_a", "id_b")

  /** Scale path for embedding near-dup: hyperplane-LSH bucket join —
    * only vectors sharing a bucket are scored (approximate recall,
    * linear candidate generation). Kept as the AND-only (single
    * bucket) construction for comparison; recall at cos 0.5–0.9 is
    * poor — prefer [[embedCosinePairsBanded]]. */
  def embedCosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.5, bits: Int = 8, dim: Int = 64)
      : DataFrame = {
    Similarity.checkDim(df, vecCol, dim)
    val planes = Similarity.hyperplanes(bits, dim)
    val base = df.where(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.norm(col(vecCol)).as("nrm"),
      Similarity.lshBucket(col(vecCol), planes).as("bucket"))
    scoreCosinePairs(
      base.as("a").join(base.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id")),
      minCosine)
  }

  /** Banded (OR-amplified) hyperplane LSH for embedding near-dup —
    * the minhash-banding construction transplanted to cosine space:
    * `bands`×`rowsPerBand` hyperplane sign bits; vectors colliding on
    * ANY band's bit-block become candidates, then candidates are
    * scored exactly and filtered at `minCosine`.
    *
    * Recall for a pair at angle θ is 1−(1−p^r)^b with
    * p = 1−θ/π — e.g. 8×4 bands give ~0.96 at cos 0.9 vs ~0.04 for
    * the 8-bit AND-only bucket. Candidate generation stays linear in
    * corpus size (explode ×bands, one shuffle on the band hash), so
    * the plan is the standard corpus-scale near-dup shape: never
    * all-pairs, skew bounded by the largest single band bucket.
    *
    * That last bound is the adversarial case: m near-identical
    * vectors land in ONE bucket of every band and all-pairs-in-bucket
    * generates C(m,2) candidates — quadratic again, just locally
    * (500 copies → 125k pairs; a viral 100 TB boilerplate cluster →
    * job-killing). `maxBucket` caps it: buckets larger than the cap
    * switch from all-pairs to STAR linking (every member paired with
    * the bucket's minimum id — m−1 edges). For clustering/dedup the
    * star preserves exactly the connectivity the all-pairs edges gave
    * within the bucket (all members reachable through the rep), at
    * the cost of pair-level recall for members whose direct star edge
    * falls below `minCosine` while some non-star edge would not —
    * acceptable for over-cap buckets, which are near-identical blobs
    * by construction. */
  def embedCosinePairsBanded(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.5, bands: Int = 8, rowsPerBand: Int = 4,
      dim: Int = 64, maxBucket: Option[Long] = None): DataFrame = {
    Similarity.checkDim(df, vecCol, dim)
    val planes = Similarity.hyperplanes(bands * rowsPerBand, dim)
    val bandStructs = (0 until bands).map { b =>
      val bandPlanes = planes.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
      struct(lit(b).as("band"),
        Similarity.lshBucket(col("v"), bandPlanes).as("bh"))
    }
    val base = df.where(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.norm(col(vecCol)).as("nrm"))
    val banded = base.select(col("id"),
      explode(array(bandStructs: _*)).as("s"))
      .select(col("id"), col("s.band"), col("s.bh"))
    val cand = bandedCandidates(banded, maxBucket)
    scoreCosinePairs(
      cand
        .join(base.select(col("id").as("id_a"), col("v").as("av"),
          col("nrm").as("anrm")), Seq("id_a"))
        .join(base.select(col("id").as("id_b"), col("v").as("bv"),
          col("nrm").as("bnrm")), Seq("id_b"))
        .select(struct(col("id_a").as("id"), col("av").as("v"),
          col("anrm").as("nrm")).as("a"),
          struct(col("id_b").as("id"), col("bv").as("v"),
            col("bnrm").as("nrm")).as("b")),
      minCosine)
  }

  /** Edit-distance-verified near-dup pairs — the entity-resolution
    * "fuzzy dedup" member of the family: candidate pairs from the
    * exact inverted-shingle Jaccard index at a LOW blocking
    * threshold, then true Levenshtein verification, keeping pairs
    * whose distance normalized by the longer text is ≤ `maxNormDist`.
    * Jaccard blocks on CONTENT overlap (order-insensitive); the edit
    * distance then rejects candidates that share vocabulary but read
    * differently — the classic block-then-verify ER shape.
    *
    * Scale shape: blocking is the shingle-index join (linear in
    * corpus size, df-capped hot shingles), so the O(L²) DP is paid
    * only on candidate pairs; verification is a per-row codegen'd
    * expression (UTF8String levenshtein), no shuffle beyond the
    * candidate join. The filter and the emitted norm use ONE IEEE
    * division on integer-derived operands (cross-engine
    * bit-identical; sig5 only decorates the emitted value). Engine
    * note: Spark's levenshtein counts codepoints, DuckDB's bytes —
    * identical on this ASCII corpus; a non-ASCII deployment should
    * verify parity or normalize first.
    *
    * Eager scan: with `maxDistCap = None` the tight cap comes from
    * [[fuzzyCap]], a `max(length(text))` action that runs over `df`
    * when this method BUILDS the plan — before, and whether or not,
    * the returned DataFrame is executed, and again on every rebuild.
    * Pass `maxDistCap` to keep plan construction lazy. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, blockJaccard: Double = 0.3, maxNormDist: Double = 0.05,
      maxDf: Option[Long] = None, maxDistCap: Option[Int] = None)
      : DataFrame = {
    fuzzyVerify(
      ngramJaccardPairs(df, idCol, textCol, n, blockJaccard, maxDf)
        .select("id_a", "id_b"),
      df, idCol, textCol, maxNormDist, maxDistCap)
  }

  /** The PRODUCTION twin of [[fuzzyPairs]]: blocking candidates from
    * the banded MinHash path ([[minhashVerifiedPairs]] at the block
    * threshold) instead of the Σdf² inverted-index join — identical
    * kept set wherever banding recall is 1 at the block threshold
    * (the declared gate pins it), linear candidate generation. Same
    * eager [[fuzzyCap]] scan at plan-build time when `maxDistCap` is
    * None (see [[fuzzyPairs]]). */
  def fuzzyPairsBanded(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, blockJaccard: Double = 0.3, maxNormDist: Double = 0.05,
      maxDf: Option[Long] = None, maxDistCap: Option[Int] = None,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Option[Long] = Some(1024L)): DataFrame =
    fuzzyVerify(
      minhashVerifiedPairs(df, idCol, textCol, n, numHashes, bands,
        blockJaccard, maxDf, maxBucket).select("id_a", "id_b"),
      df, idCol, textCol, maxNormDist, maxDistCap)

  /** The Levenshtein verify stage both fuzzy forms share. */
  private def fuzzyVerify(cand: DataFrame, df: DataFrame,
      idCol: String, textCol: String, maxNormDist: Double,
      maxDistCap: Option[Int]): DataFrame = {
    val txt = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    val ratio = col("edit_dist").cast("double") /
      greatest(length(col("ta")), length(col("tb"))).cast("double")
    // with a cap, Spark's banded DP abandons early and returns −1 for
    // over-cap pairs: O(L·cap) instead of O(L²) per pair. The kept
    // set is unchanged IFF cap ≥ maxNormDist · longest-text (any pair
    // the band abandons would have failed the ratio filter anyway) —
    // [[fuzzyCap]] computes exactly that bound; the −1 sentinel must
    // be filtered BEFORE the ratio test (−1/len passes any positive
    // threshold).
    // r17: with no explicit cap, derive the TIGHT one ([[fuzzyCap]]):
    // the kept set is provably unchanged (any pair the band abandons
    // would have failed the ratio filter), and the per-pair DP drops
    // from O(L²) to O(L·cap) — at maxNormDist 0.05 a 20× verify-stage
    // cut for one extra max() map-only scan.
    val cap = maxDistCap.getOrElse(fuzzyCap(df, textCol, maxNormDist))
    val dist = levenshtein(col("ta"), col("tb"), cap)
    cand
      .join(txt.select(col("id").as("id_a"), col("txt").as("ta")),
        Seq("id_a"))
      .join(txt.select(col("id").as("id_b"), col("txt").as("tb")),
        Seq("id_b"))
      .withColumn("edit_dist", dist.cast("long"))
      .where(col("edit_dist") >= 0L && ratio <= maxNormDist)
      .select(col("id_a"), col("id_b"), col("edit_dist"),
        graft.det.Sig.sig5(ratio).as("norm_dist"))
      .orderBy("id_a", "id_b")
  }

  /** The tight banded-DP cap for [[fuzzyPairs]]: the largest distance
    * any pair could carry and still pass the `maxNormDist` filter —
    * ⌈maxNormDist · longest-text⌉ (one cheap max() scan, the
    * histogram bounds precedent). Using this cap makes the banded
    * form EXACTLY equivalent to the unbanded one. */
  def fuzzyCap(df: DataFrame, textCol: String, maxNormDist: Double)
      : Int = {
    val mx = df.agg(max(length(col(textCol)))).first()
    if (mx.isNullAt(0)) 0
    else math.ceil(maxNormDist * mx.getInt(0).toDouble).toInt
  }

  /** Incremental semantic dedup — the daily-crawl shape of the
    * SemDeDup family: flag each NEW-batch vector whose best cosine
    * against the already-INDEXED corpus reaches `minCosine`,
    * searching only the `nprobe` index cells nearest each batch
    * vector. The coarse quantizer is derived from the INDEX side
    * alone (seeded or Lloyd-trained like
    * [[graft.ops.Similarity.ivfTopK]]) — a new batch never moves the
    * frozen index geometry, exactly the `AnnIndex`
    * write-once/probe-many contract; this stateless form is the
    * oracle-checkable twin of probing the persisted index
    * (`AnnIndex.probeAnnIndex`, probe ≡ rebuild unit-tested).
    *
    * Scale shape: cell assignment is a MAP-ONLY pass on each side
    * (tiny broadcast codebook, argmin via the sorted cell array);
    * the candidate join shuffles on the cell key, so each batch
    * vector scores ~nprobe/C of the index, never the whole corpus;
    * the per-vector best is a partial-aggregated max. Batch vectors
    * whose probed cells hold no index vector surface with NULL
    * best_match and is_dup = 0 — absent silently would under-count
    * the batch. */
  def incrementalSemanticDups(index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, centroidLo: Long, centroidHi: Long,
      nprobe: Int = 2, dim: Int = 64, minCosine: Double = 0.5,
      iters: Int = 2): DataFrame = {
    val idx = index.where(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("vid"), col(vecCol).as("v"),
        Similarity.norm(col(vecCol)).as("nrm"))
    val cents =
      if (iters <= 1)
        Similarity.seedCodebook(idx, "vid", "v", centroidLo, centroidHi)
      else Similarity.trainedCodebook(idx, "vid", "v", centroidLo,
        centroidHi, dim, iters)
    require(cents.nonEmpty,
      s"no index centroid rows with id in [$centroidLo, $centroidHi)")
    val assigned = idx.select(col("vid"), col("v"), col("nrm"),
      element_at(Similarity.cellArray(col("v"), cents), 1)
        .getField("cid").as("cell"))
    val bat = batch.where(size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"),
        Similarity.norm(col(vecCol)).as("qnrm"),
        Similarity.cellArray(col(vecCol), cents).as("cells"))
    val probes = bat
      .select(col("qid"), col("qv"), col("qnrm"),
        explode(slice(col("cells"), 1, nprobe)).as("p"))
      .select(col("qid"), col("qv"), col("qnrm"),
        col("p").getField("cid").as("pcell"))
    val scored = assigned
      .join(probes, col("cell") === col("pcell") &&
        col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        graft.det.Sig.sig5(Similarity.cosine(
          Similarity.dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
          .as("cosine"))
      .where(col("cosine").isNotNull)
    val best = scored.groupBy("qid").agg(max("cosine").as("best_cosine"))
    // deterministic argmax: equal-best ties resolve to the smallest
    // index id (cosine is sig5-rounded, so ties are real)
    val bestMatch = scored.join(best, Seq("qid"))
      .where(col("cosine") === col("best_cosine"))
      .groupBy("qid", "best_cosine").agg(min("vid").as("best_match"))
    bat.select(col("qid").as("vec_id"))
      .join(bestMatch.select(col("qid").as("vec_id"), col("best_match"),
        col("best_cosine")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("best_match"), col("best_cosine"),
        when(col("best_cosine") >= minCosine, 1L).otherwise(0L)
          .as("is_dup"))
      .orderBy("vec_id")
  }

  /** Benchmark decontamination: for each eval/benchmark document,
    * find training documents sharing ≥ `minShared` distinct n-gram
    * shingles (the GPT-3/PaLM-style n-gram overlap check), with the
    * shared count and the shared fraction of the eval doc's shingle
    * set. Same inverted hashed-shingle index as the dedup family —
    * the join is linear in index size, never |train|×|eval|, and the
    * `maxDf` cap defuses boilerplate shingles on both sides. A
    * training pipeline drops (or flags) every training doc that
    * contaminates an eval doc. */
  /** Corpus-size-ROUTED decontamination (the quantilesByDtype
    * dispatch pattern made explicit for the gram-probe family): the
    * exact inverted-index join is the audit path, affordable while
    * the training side is small; above `bloomAboveRows` the SAME
    * result is computed through the Bloom prefilter
    * ([[BloomPrefilter.bloomDecontaminate]] — provably lossless, no
    * false negatives), whose corpus-side pass is a map-only bitset
    * probe. One count() action (scan-only, no shuffle) decides; both
    * branches share one oracle because both are value-identical. */
  def contaminationPairsRouted(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 3, minShared: Long = 5L,
      maxDf: Option[Long] = None, bloomAboveRows: Long = 20000L)
      : DataFrame =
    if (train.count() > bloomAboveRows)
      BloomPrefilter.bloomDecontaminate(train, eval, idCol, textCol,
        n, minShared, maxDf)
    else
      contaminationPairs(train, eval, idCol, textCol, n, minShared,
        maxDf)

  def contaminationPairs(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 3, minShared: Long = 5L,
      maxDf: Option[Long] = None): DataFrame = {
    val ti = shingleIndex(train, idCol, textCol, n, maxDf)
      .select(col("id").as("train_id"), col("shingle"))
    val ei = shingleIndex(eval, idCol, textCol, n, maxDf)
      .select(col("id").as("eval_id"), col("shingle"))
    val evalSizes = ei.groupBy("eval_id").agg(count(lit(1)).as("esz"))
    ei.join(ti, Seq("shingle"))
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(evalSizes, Seq("eval_id"))
      .select(col("eval_id"), col("train_id"), col("n_shared"),
        graft.det.Sig.sig5(col("n_shared").cast("double") / col("esz"))
          .as("overlap"))
      .orderBy("eval_id", "train_id")
  }

  /** Per-document n-gram novelty vs a training corpus — the
    * memorization-risk screen dual to [[contaminationPairs]]: for
    * each eval document, the fraction of its DISTINCT n-gram shingles
    * never seen anywhere in training. A benchmark whose novelty
    * collapses toward 0 is answerable from memorized spans; a
    * fine-tuning set whose novelty is ~1 genuinely extends the
    * corpus. Emits (doc_id, n_grams, n_seen, novelty); docs shorter
    * than `n` tokens have no shingle set and are absent (same
    * convention as the dedup family).
    *
    * Scale shape: the training side collapses to DISTINCT shingles
    * (one aggregation — one row per vocab gram, so the probe join
    * cannot blow up on hot boilerplate grams), then one left join on
    * the 8-byte shingle key and one per-doc aggregation. */
  def noveltyStats(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val ti = shingleIndex(train, idCol, textCol, n, None)
      .select("shingle").distinct().withColumn("seen", lit(1L))
    val ei = shingleIndex(eval, idCol, textCol, n, None)
    ei.join(ti, Seq("shingle"), "left")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum("seen"), lit(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        graft.det.Sig.sig5(lit(1.0) -
          col("n_seen").cast("double") / col("n_grams")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Connected components over a near-dup pair list: every document
    * that appears in a pair gets a cluster id = the minimum doc id
    * reachable through the pair graph (the canonical representative).
    * This is the step that turns pairwise candidates into an actual
    * dedup decision (keep one doc per cluster), as in CCNet/
    * RefinedWeb-style corpus pipelines.
    *
    * Algorithm: iterative min-label propagation — each round joins
    * the undirected adjacency with current labels and takes the
    * neighborhood minimum, stopping early when no label changes.
    * Rounds needed = cluster diameter, which for near-dup clusters is
    * small (duplicates of one source document form near-cliques; the
    * fixtures converge in ≤ 3 rounds). Each round is one shuffle-join
    * + one aggregation, all distributed; [[Materialize.materialize]]
    * truncates the growing lineage so round N's plan does not replay
    * rounds 1..N−1 (reliable checkpoint when a checkpoint dir is set,
    * executor-local otherwise — see its scaladoc for the
    * fault-tolerance trade-off). For adversarially chained graphs at
    * 100 TB (diameter ≫
    * rounds), swap in the large-star/small-star alternation (Kiveris
    * et al.), which converges in O(log n) rounds on the same
    * join-shape. */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col(idA).as("a"), col(idB).as("b"))
    val adj = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .transform(Materialize.materialize)
    var labels = adj.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .transform(Materialize.materialize)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = adj
        .join(labels.select(col("id").as("b"), col("label").as("bl")),
          Seq("b"))
        .groupBy(col("a").as("id")).agg(min("bl").as("nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          when(col("nbr") < col("label"), col("nbr"))
            .otherwise(col("label")).as("label"),
          (col("nbr") < col("label")).cast("long").as("chg"))
        .transform(Materialize.materialize)
      changed = next.agg(coalesce(sum("chg"), lit(0L))).first().getLong(0)
      labels = next.select("id", "label")
      iter += 1
    }
    // a silent non-converged result would be WRONG labels (a component
    // split in two); fail loudly instead — raise maxIter or switch to
    // the O(log n)-round large-star/small-star variant for graphs with
    // diameter beyond it
    require(changed == 0,
      s"duplicateClusters did not converge within $maxIter rounds " +
        s"($changed labels still changing) — component diameter exceeds " +
        "maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Connected components via the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — converges in O(log n) rounds on ANY graph shape,
    * where [[duplicateClusters]]'s min-label propagation needs
    * diameter rounds. Each round is two groupBy+join phases over the
    * canonical edge list:
    *
    *  - large-star: every node attaches its strictly-larger
    *    neighbors to the minimum of its closed neighborhood;
    *  - small-star: every node attaches its smaller-or-equal
    *    neighborhood (and itself) to that minimum.
    *
    * Fixpoint reached when the edge checksum stops changing — the
    * edges then form stars rooted at each component's minimum id.
    * Output schema matches [[duplicateClusters]].
    *
    * Size-adaptive execution (the same principle as Spark choosing
    * broadcast vs sort-merge by measured size): once the canonical
    * edge list is materialized, its count is known; at or below
    * `driverThreshold` edges the components are solved by
    * DRIVER-SIDE union-find in microseconds — each distributed round
    * costs several whole Spark jobs of fixed overhead, which
    * dominates end-to-end latency for small pair graphs (near-dup
    * pair lists are tiny relative to the corpus whenever dedup rates
    * are sane). Above the threshold — a 100 TB-corpus pair graph —
    * the O(log n)-round distributed algorithm runs unchanged. Both
    * paths produce identical labels (equivalence property-tested). */
  def duplicateClustersStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 30,
      driverThreshold: Long = 100000L): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .where(col("a") =!= col("b")).distinct()
    def bidir(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))
    // (count, order-independent hash) — equality across rounds is the
    // convergence signal; a collision coinciding with an equal count
    // on a still-moving edge set is negligible. Hashes are masked to
    // 32 bits and summed as decimal(38,0): a Long sum is an ANSI
    // ARITHMETIC_OVERFLOW for raw 64-bit hashes immediately, and even
    // masked it would overflow at ~2³² edges — within reach of a
    // corpus-scale pair graph.
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b"))
            .bitwiseAND(lit(0xFFFFFFFFL)).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).first()
      (r.getLong(0), r.getDecimal(1))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val bi = bidir(e)
      val mins = bi.groupBy("a").agg(min("b").as("mn"))
      val withM = bi.join(mins, Seq("a"))
        .select(col("a"), col("b"), least(col("mn"), col("a")).as("m"))
      canon(withM.where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges have a < b: smaller-neighbor lists are keyed
      // by the larger endpoint, whose closed-neighborhood min is mn
      val mins = e.groupBy("b").agg(min("a").as("mn"))
      val withM = e.join(mins, Seq("b"))
      canon(withM.select(col("a"), col("mn").as("b"))
        .union(mins.select(col("b").as("a"), col("mn").as("b"))))
    }
    val e0 = canon(pairs.select(col(idA).as("a"), col(idB).as("b")))
      .transform(Materialize.materialize)
    // (r16 note: a take(threshold+1) here was measured SLOWER than
    // count()+collect() — when rows << limit, take() runs up to 4
    // incremental scaled jobs to prove the limit can't be reached)
    if (e0.count() <= driverThreshold) {
      // driver union-find over the (bounded) edge list
      val edges = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val labels = ids.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toSeq.toDF("doc_id", "cluster_id").orderBy("doc_id")
    }
    val nodes = bidir(e0).select(col("a").as("id")).distinct()
      .transform(Materialize.materialize)
    var e = e0
    var prev = checksum(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).transform(Materialize.materialize)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    require(converged,
      s"duplicateClustersStar did not converge within $maxIter rounds")
    val lbl = bidir(e).groupBy("a").agg(min("b").as("mn"))
      .select(col("a").as("id"), least(col("mn"), col("a")).as("label"))
    nodes.join(lbl, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("label"), col("id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** End-to-end near-dedup decision stats: total docs, docs touched
    * by a near-dup cluster, docs dropped (cluster members that are
    * not the minimum-id representative), docs kept. */
  def keepStats(df: DataFrame, idCol: String, clusters: DataFrame)
      : DataFrame = {
    val n = df.select(count(col(idCol)).as("n_docs"))
    val c = clusters.agg(
      count(lit(1)).as("n_in_clusters"),
      countDistinct(col("cluster_id")).as("n_clusters"))
    n.crossJoin(c).select(
      col("n_docs"),
      col("n_in_clusters"),
      (col("n_in_clusters") - col("n_clusters")).as("n_dropped"),
      (col("n_docs") - col("n_in_clusters") + col("n_clusters"))
        .as("n_kept"))
  }

  /** 64-bit SimHash over word unigrams: each token votes ±1 on every
    * bit of its xxhash64; the fingerprint takes the sign. One
    * explode + one groupBy. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("t"))
      .where(col("t") =!= "")
      .withColumn("h", xxhash64(col("t")))
    val bitAggs = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b_$j")
    }
    val votes = tok.groupBy("id").agg(bitAggs.head, bitAggs.tail: _*)
    val fp = (0 until 64).map { j =>
      when(col(s"b_$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming,
    * banded on 4×16-bit chunks (any pair within distance 3 must agree
    * on ≥1 chunk — pigeonhole), so candidate generation is a bucket
    * join, not all-pairs. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = simhash(df, idCol, textCol)
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFF).as("ch"))
    }
    val banded = fps.select(col("id"), col("simhash"),
      explode(array(chunks: _*)).as("s"))
      .select(col("id"), col("simhash"), col("s.chunk"), col("s.ch"))
    banded.as("a").join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }
}
