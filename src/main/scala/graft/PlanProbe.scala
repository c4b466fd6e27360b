package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev utility (r16 optimization round): print the formatted physical
  * plan of the heavy INTERNAL frames of queries whose returned
  * DataFrame is a driver-side literal assembly (eager two-pass
  * operators collect their aggregates inside the query function, so
  * `graft.Explain` on the declared query shows only a LocalRelation).
  * Each probe rebuilds the exact internal frame by calling the SAME
  * production builder the operator uses — no drift between the plan
  * artifact and the code.
  *
  * Usage: graft.PlanProbe <sfDir> <probeName>... */
object PlanProbe {

  def probes: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.queries.Core
    def li(s: SparkSession, dir: String) =
      s.read.parquet(s"$dir/lineitem.parquet")
    Map(
      // corr_spearman / _approx_err / _routed (exact arm): the
      // average-rank window chain that corrMatrix's two agg passes
      // consume
      "spearman_ranked" -> ((s, dir) =>
        graft.profiler.Stats.spearmanRanked(li(s, dir), Core.floats)),
      // col_distinct / col_types / quality_suggest / profiler
      // exact-distinct: the grouped single-distinct aggregation over
      // the long form (Stats.exactDistinctPerCol) — one plan for every
      // column, whatever the column count
      "distinct_long" -> ((s, dir) => {
        val df = li(s, dir)
        graft.profiler.Stats.distinctCounts(df, df.columns.toSeq)
      })
    )
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { n =>
      println(s"\n========== $n ==========")
      probes(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
