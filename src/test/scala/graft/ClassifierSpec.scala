package graft

import org.apache.spark.sql.functions._
import graft.ops.{Classifier, QualityRules}

/** Learned quality filter (round 12): the distillation labels can
  * never drift from the rule gate, one GD step matches the closed
  * form, a separable problem is actually separated, AUC matches the
  * tie-aware closed form, and the featurizer/scorer stay map-only. */
class ClassifierSpec extends SparkSpec {

  private val th = QualityRules.Thresholds(3L, 8L, 1.0, 9.0, 1L, 0.6)

  test("featurize labels equal the rule gate's keep decision") {
    val s = spark
    import s.implicits._
    // spans every rule: too short, too long, word-length band,
    // stopword floor, repetition cap, and clean keeps
    val docs = Seq(
      (1L, "a b"),                              // too few tokens
      (2L, "the a b c d e f g h i j"),          // too many (11 > 8)
      (3L, "the superlative extraordinary bureaucracies"), // nope: mwl
      (4L, "x y z w v u"),                      // no stopwords
      (5L, "the a a a a a"),                    // repetitive (5/6)
      (6L, "the cat sat on a mat"),             // kept
      (7L, "is it a dog or cat"))               // kept
      .toDF("doc_id", "text")
    val lbl = Classifier.featurize(docs, "doc_id", "text", th)
      .select("doc_id", "y").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gate = QualityRules.ruleAssign(docs, "doc_id", "text",
        th.minTokens, th.maxTokens, th.minMeanWordLen,
        th.maxMeanWordLen, th.minStopwords, th.maxTopTokenFrac)
      .collect()
      .map(r => r.getLong(0) -> (if (r.getLong(1) == 5L) 1.0 else 0.0))
      .toMap
    assert(lbl == gate, s"featurize labels $lbl != gate $gate")
    assert(lbl(6L) == 1.0 && lbl(1L) == 0.0)
  }

  test("one GD step from w=0 matches the closed form, training " +
      "separates a separable problem") {
    val s = spark
    import s.implicits._
    // only x1 carries signal: z1 = ±1 after standardization; all
    // other features constant -> sigma guard -> z = 0.
    // From w = 0: p = 0.5 for every row, so grad_bias = 0 and
    // grad_1 = mean((0.5 - y)·z1) = -0.5 -> w1 after step = +0.5.
    val feats = Seq(
      (1L, 0.0, 0.0, 7.0, 7.0, 7.0, 7.0),
      (2L, 0.0, 0.0, 7.0, 7.0, 7.0, 7.0),
      (3L, 1.0, 2.0, 7.0, 7.0, 7.0, 7.0),
      (4L, 1.0, 2.0, 7.0, 7.0, 7.0, 7.0))
      .toDF("doc_id", "y", "x1", "x2", "x3", "x4", "x5")
    val m = Classifier.train(feats, iters = 5)
    val w1 = m.trajectory.head
    assert(w1(0) == 0.0 && w1(1) == 0.5,
      s"first step ${w1.toSeq} != (0, 0.5, ...)")
    assert(w1.drop(2).forall(_ == 0.0))
    // the x1 weight keeps growing toward the separator
    val w1s = m.trajectory.map(_(1))
    assert(w1s.sliding(2).forall(p => p(1) > p(0)),
      s"w1 trajectory not increasing: ${w1s.toSeq}")
    // and the final scores separate the classes perfectly
    val auc = Classifier.auc(Classifier.scored(feats, m))
      .head().getDouble(2)
    assert(auc == 1.0, s"separable AUC $auc != 1.0")
  }

  test("auc matches the tie-aware closed form") {
    val s = spark
    import s.implicits._
    // probs (0.5, 0.5, 0.8), labels (0, 1, 1): the tied pos/neg pair
    // contributes 1/2, the clear pair 1 -> AUC = 0.75
    val scored = Seq((1L, 0L, 0.5), (2L, 1L, 0.5), (3L, 1L, 0.8))
      .toDF("doc_id", "label", "prob")
    val r = Classifier.auc(scored).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 0.75, s"auc ${r.getDouble(2)} != 0.75")
  }

  test("auc is NULL, not a crash, on single-class input") {
    val s = spark
    import s.implicits._
    val allPos = Seq((1L, 1L, 0.9), (2L, 1L, 0.4))
      .toDF("doc_id", "label", "prob")
    val r = Classifier.auc(allPos).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.isNullAt(2))
  }

  test("calibration clamps prob = 1.0 into the top bin and reports " +
      "exact keep rates") {
    val s = spark
    import s.implicits._
    val scored = Seq((1L, 1L, 1.0), (2L, 1L, 0.95), (3L, 0L, 0.31),
        (4L, 1L, 0.35)).toDF("doc_id", "label", "prob")
    val rows = Classifier.calibration(scored).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(rows.keySet == Set(3L, 9L))
    assert(rows(9L) == ((2L, 1.0)))   // 1.0 joins 0.95 in bin 9
    assert(rows(3L) == ((2L, 0.5)))
  }

  test("confusion matrix counts the threshold boundary as predicted " +
      "keep and matches the closed form") {
    val s = spark
    import s.implicits._
    val scored = Seq((1L, 1L, 0.9), (2L, 0L, 0.7), (3L, 0L, 0.2),
        (4L, 1L, 0.4), (5L, 1L, 0.5)) // 0.5 is ON the boundary
      .toDF("doc_id", "label", "prob")
    val r = Classifier.confusion(scored).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((2L, 1L, 1L, 1L)))
    assert(math.abs(r.getDouble(4) - 2.0 / 3.0) < 1e-4) // precision
    assert(math.abs(r.getDouble(5) - 2.0 / 3.0) < 1e-4) // recall
    assert(math.abs(r.getDouble(6) - 2.0 / 3.0) < 1e-4) // f1
    // degenerate: nothing predicted positive -> precision NULL
    val none = Seq((1L, 1L, 0.1), (2L, 0L, 0.2))
      .toDF("doc_id", "label", "prob")
    val r2 = Classifier.confusion(none).head()
    assert(r2.isNullAt(4) && r2.getDouble(5) == 0.0)
  }

  test("filterDocs keeps exactly the above-threshold docs, " +
      "preserves columns, and stays map-only") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "the cat sat on a mat", "web"),
        (2L, "a b", "web"), (3L, "the a dog ate it", "book"))
      .toDF("doc_id", "text", "source")
    val feats = Classifier.featurize(docs, "doc_id", "text", th)
    val m = Classifier.train(feats, iters = 3)
    val kept = Classifier.filterDocs(docs, "doc_id", "text", th, m)
    assert(kept.columns.toSeq == Seq("doc_id", "text", "source"))
    val keptIds = kept.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val expect = Classifier.scored(feats, m)
      .where(col("prob") >= 0.5).collect().map(_.getLong(0)).toSet
    assert(keptIds == expect, s"$keptIds != $expect")
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"filterDocs must be one map-only pass:\n$plan")
  }

  test("featurizer and scorer are map-only; training aggregates " +
      "have no corpus-sized shuffle") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "the cat sat on a mat"), (2L, "a b"))
      .toDF("doc_id", "text")
    val feats = Classifier.featurize(docs, "doc_id", "text", th)
    val fPlan = feats.queryExecution.executedPlan.toString
    assert(!fPlan.contains("Exchange"),
      s"featurize must be map-only, got:\n$fPlan")
    val m = Classifier.train(feats, iters = 2)
    val sPlan = Classifier.scored(feats, m)
      .queryExecution.executedPlan.toString
    assert(!sPlan.contains("Exchange"),
      s"scored must be map-only, got:\n$sPlan")
  }

  test("writeLrModel / loadLrModel round-trip the model bit-exactly") {
    val s = spark
    import s.implicits._
    val train = Seq((1L, "the cat sat on a mat"), (2L, "a b"),
        (3L, "the a a a a a"), (4L, "is it a dog or cat"))
      .toDF("doc_id", "text")
    val m0 = Classifier.train(
      Classifier.featurize(train, "doc_id", "text", th), iters = 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_lr").toString + "/model"
    Classifier.writeLrModel(m0, path, spark)
    val m = Classifier.loadLrModel(spark, path)
    assert(m.mu.toSeq == m0.mu.toSeq &&
      m.sigma.toSeq == m0.sigma.toSeq &&
      m.weights.toSeq == m0.weights.toSeq)
  }
}
