package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.profiler.{Profiler, ProfilerConfig}

/** Child-JVM body of ProfilerSpec's codegen-budget test: in a fresh
  * JVM whose codegen cache is large enough never to evict, one loop of
  * exact profile, fused profile and `ProfileReport.html` compiles
  * exactly the classes a loop needs, and an identical second loop
  * shows whether any of that code changes from run to run.
  *
  * Usage: CodegenLoop <parquet path>; prints `codegen <first> <warm>`. */
object CodegenLoop {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet(args(0))
    def loop(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Profiler.profile(li, ProfilerConfig())
      Profiler.profileFused(li, ProfilerConfig())
      ProfileReport(li).html
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = loop()
    val warm = loop()
    println(s"codegen $first $warm")
    spark.stop()
  }
}
