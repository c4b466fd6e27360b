package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class StreamDoc(doc_id: Long, text: String)

/** Batch operators that also run unchanged on a streaming DataFrame
  * (stateless projections and filters), plus the persisted
  * classifier model's layout guard. */
class StreamingSpec extends SparkSpec {

  test("streaming contamination guard flags arriving docs exactly " +
      "like the batch probe") {
    val sql = spark
    import sql.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "a copy of the quick brown fox jumps here"), // shares grams
      (2L, "completely unrelated sentence about trains"),
      (3L, "pack my box with five dozen liquor jugs verbatim"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.BloomPrefilter.flagMaybeContaminated(
        mem.toDF().toDF("doc_id", "text"), evalDocs, "doc_id", "text")
      .writeStream.format("memory").queryName("contamguard")
      .outputMode("append").start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("contamguard").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Boolean]("maybe_contaminated")).toMap
      val batch = graft.ops.BloomPrefilter.flagMaybeContaminated(
          incoming.toDF("doc_id", "text"), evalDocs, "doc_id", "text")
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Boolean]("maybe_contaminated")).toMap
      assert(streamed == batch)
      assert(streamed(1L) && streamed(3L))
      assert(!streamed(2L)) // no false positives on this fixture
    } finally q.stop()
  }

  test("loadLrModel fails loudly on a foreign feature layout") {
    val sql = spark
    import sql.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_lr_bad").toString + "/model"
    Seq((0L, "bias", None: Option[Double], None: Option[Double],
        0.1, 3L),
      (1L, "something_else", Some(1.0), Some(1.0), 0.2, 3L))
      .toDF("j", "feature", "mu", "sigma", "weight", "iters")
      .write.parquet(path)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Classifier.loadLrModel(spark, path)
    }
    assert(e.getMessage.contains("persisted model features"))
  }

  test("Blocklist.filterDocs is streaming-compatible (stateless gate)") {
    val sql = spark
    import sql.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    val q = graft.ops.Blocklist
      .filterDocs(mem.toDF(), "text", Seq("spark", "bad phrase"))
      .writeStream.format("memory").queryName("blgate")
      .outputMode("append").start()
    try {
      mem.addData(StreamDoc(0L, "clean doc"),
        StreamDoc(1L, "has SPARK inside"),
        StreamDoc(2L, "a bad phrase here"),
        StreamDoc(3L, "also fine"))
      q.processAllAvailable()
      val kept = sql.table("blgate").collect().map(_.getLong(0)).toSet
      assert(kept == Set(0L, 3L))
    } finally q.stop()
  }
}
