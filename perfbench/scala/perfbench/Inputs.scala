package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-keyed input generators. Every value is a pure function of
  * (seed, table, row id), so the same seed gives byte-for-byte the same
  * rows on any partitioning. The shapes follow the repo's test fixtures:
  * `lineitem` has the sf0.1 schema and value domains, and the corpus
  * uses an open (Heaps'-law) vocabulary with a planted near-duplicate at
  * every 101st document. The generators live here, not in the program,
  * so that a change to the program cannot change the benchmark's inputs.
  */
object Inputs {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Draw stream for one (seed, table, row id). */
  final class Rng(seed: Long, table: Long, id: Long) {
    private var n = 0L
    private val base = mix(mix(mix(seed) ^ (table * 0x632be59bd9b4e019L)) ^ id)
    def nextLong(): Long = { n += 1; mix(base + n * 0xd1b54a32d192ed03L) }
    def uniform(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def int(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  }

  private def round2(d: Double): Double = math.rint(d * 100.0) / 100.0
  private val DayMicros = 86400000000L
  private val Epoch1995 =
    java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli * 1000L

  /** A third of sf0.1 (600k rows), with sf0.1's four lines per order,
    * so a run fits several reports in its time; 20k parts, 1k suppliers
    * as at sf0.1. */
  val LineitemRows = 200000L
  private val Orders = LineitemRows / 4
  private val Parts = 20000L
  private val Suppliers = 1000L

  def lineitem(spark: SparkSession, seed: Long, rows: Long, parts: Int)
      : DataFrame = {
    import spark.implicits._
    spark.range(0L, rows, 1L, parts).map { id =>
      val r = new Rng(seed, 5, id)
      val orderkey = (r.nextLong() >>> 1) % Orders
      val qty = (1 + r.int(50)).toDouble
      val unit = 900.0 + r.uniform() * 1200.0
      val orderDate = Epoch1995 + new Rng(seed, 90, orderkey).int(2405) * DayMicros
      // ~1% missing discounts so the missing-value paths do work
      val discount: Option[Double] =
        if (r.int(100) == 0) None else Some(r.int(11) * 0.01)
      (orderkey, (r.nextLong() >>> 1) % Parts,
        (r.nextLong() >>> 1) % Suppliers, 1 + r.int(7), qty,
        round2(qty * unit), discount, r.int(9) * 0.01,
        "ANR".charAt(r.int(3)).toString, "FO".charAt(r.int(2)).toString,
        orderDate + (1 + r.int(95)) * DayMicros)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_linenumber", col("l_linenumber").cast("int"))
      .withColumn("l_shipdate", timestamp_micros(col("l_shipdate")))
  }

  /** Tokens "w<rank>" with rank = R^u (u uniform): a truncated 1/r Zipf
    * over R = 1e7 ranks, so distinct grams grow with the corpus. Documents
    * have 20 to 40 tokens: all pass the funnel's 20-token floor, and the
    * funnel stays short enough to run several times per run. */
  private val HeapsRanks = 1e7
  private def heapsText(seed: Long, id: Long): String = {
    val r = new Rng(seed, 17, id)
    val wc = 20 + r.int(21)
    Array.fill(wc)("w" + math.floor(math.pow(HeapsRanks, r.uniform())).toLong)
      .mkString(" ")
  }

  /** True for the planted near-duplicates: document `id` repeats document
    * `id - 1` with its last token replaced. */
  def isPlanted(id: Long): Boolean = id >= 101L && id % 101L == 0L

  def corpus(spark: SparkSession, seed: Long, docs: Long, parts: Int)
      : DataFrame = {
    import spark.implicits._
    spark.range(0L, docs, 1L, parts).map { id =>
      val text =
        if (isPlanted(id)) {
          val w = heapsText(seed, id - 1L).split(" ")
          w(w.length - 1) = s"dup$id"
          w.mkString(" ")
        } else heapsText(seed, id)
      (id, text, s"src${id % 20}")
    }.toDF("doc_id", "text", "source")
  }

  /** Runs `write` on `dir` unless a finished copy is already there. */
  def once(dir: Path)(write: String => Unit): Unit =
    if (!Files.exists(dir.resolve("_SUCCESS"))) write(dir.toString)

  def writeLineitem(spark: SparkSession, seed: Long, parts: Int, dir: Path)
      : Unit = once(dir)(p => lineitem(spark, seed, LineitemRows, parts)
    .write.mode(SaveMode.Overwrite).parquet(p))

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p))
        .mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  /** Order-independent content hash of a frame: row count plus the sum
    * and xor of per-row 64-bit hashes over every column. */
  def contentHash(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col): _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1L << 31))),
      bit_xor(h)).first()
    f"${r.getLong(0)}%d-${r.getLong(1)}%016x-${r.getLong(2)}%016x"
  }

  def path(s: String): Path = Paths.get(s)
}
