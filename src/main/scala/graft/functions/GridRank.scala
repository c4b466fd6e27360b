package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst expression: estimated CDF rank of a double against
  * a BROADCAST sorted quantile grid — `binarySearch(grid, x) / n` as
  * one codegen'd call, no per-row array literal, no lambda.
  *
  * The map-only rank transform behind [[graft.profiler.Stats
  * .gridRankCorr]] (spearmanApprox and the profile's Spearman pass)
  * and the profile store's rank co-moments: an exact rank needs a
  * full-column sort (a single-partition window at any scale); a grid
  * rank needs one probe into an O(grid) double[] that rides with the
  * expression.
  * The composed alternative (`size(filter(typedLit(grid), g -> g <
  * x))`) evaluates an interpreted lambda per grid point per row —
  * O(grid) work where a binary search does O(log grid) — and
  * re-materializes the literal array per call site.
  *
  * Semantics: fraction of grid points strictly below x, with ties
  * resolved to the LEFTMOST equal grid point (first-occurrence
  * binary search) — deterministic for any duplicate structure in the
  * grid (GK lattices repeat a value across many quantiles on heavy-
  * tie columns; java.util.Arrays.binarySearch alone returns an
  * unspecified member of the run). Null in → null out.
  */
case class GridRank(child: Expression, grid: Array[Double])
    extends UnaryExpression {

  require(grid != null && grid.length > 0, "empty rank grid")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "grid_rank"

  @transient private lazy val n = grid.length.toDouble

  /** Index of the first grid element >= x (0..len). */
  private def lowerBound(x: Double): Int = {
    var lo = 0
    var hi = grid.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (grid(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[Double]
    java.lang.Double.valueOf(lowerBound(x) / n)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val gridRef = ctx.addReferenceObj("grid", grid, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0;
         |int $hi = $gridRef.length;
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($gridRef[$mid] < $x) $lo = $mid + 1; else $hi = $mid;
         |}
         |${ev.value} = $lo / (double) $gridRef.length;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : GridRank = copy(child = newChild)
}

object GridRank {
  import org.apache.spark.sql.graftbridge.GraftSql

  def grid_rank(c: Column, grid: Array[Double]): Column =
    GraftSql.column(GridRank(GraftSql.expression(c), grid))
}
