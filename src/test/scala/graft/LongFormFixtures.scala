package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Frames covering the value domains the long-form profile passes must
  * treat exactly like the per-column forms: −0.0 beside 0.0, NaN, an
  * all-null column, a map column, decimal, date, timestamp, boolean,
  * string and int columns with nulls, spread over several partitions;
  * and the same schema with no rows. */
object LongFormFixtures {
  /** The sf0.001 lineitem fixture table (FIXTURES.md). */
  val lineitem: String = "/root/testdata/sf0.001/lineitem.parquet"

  val schema: StructType = StructType(Seq(
    StructField("d", DoubleType), StructField("nul", DoubleType),
    StructField("m", MapType(StringType, IntegerType)),
    StructField("dec", DecimalType(12, 2)), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("b", BooleanType),
    StructField("s", StringType), StructField("i", IntegerType)))

  def edge(spark: SparkSession): DataFrame = {
    val rows = (0 until 300).map { i =>
      Row(
        Seq[Any](-0.0, 0.0, Double.NaN, 1.5, null, i.toDouble)(i % 6),
        null,
        if (i % 4 == 0) null else Map(s"k${i % 3}" -> i % 5),
        if (i % 7 == 0) null
        else new java.math.BigDecimal(s"${i % 13}.${i % 10}5"),
        if (i % 9 == 0) null
        else java.sql.Date.valueOf(
          java.time.LocalDate.of(2020, 1 + i % 12, 1 + i % 28)),
        new java.sql.Timestamp(1600000000000L + (i % 17) * 3600000L),
        if (i % 5 == 0) null else Boolean.box(i % 3 == 0),
        if (i % 8 == 0) null else s"v${i % 23}",
        if (i % 10 == 0) null else Int.box(i % 31))
    }
    // three fixed slices, not a round-robin repartition: a round-robin
    // shuffle sorts rows by their bytes before dealing them out, so
    // queries that prune different columns see different partitions
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
}
