package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skyline (Pareto frontier) — multi-criteria data selection: keep the
  * rows not strictly dominated on two maximize-criteria (a row dominates
  * another when it is >= on both dimensions and > on at least one).
  * The corpus-curation use: pick documents that are jointly optimal on
  * e.g. (length, vocabulary diversity) instead of thresholding each
  * signal independently.
  */
object Skyline {

  /** 2-D skyline over non-negative integer criteria, both maximized.
    *
    * Distributed shape — no global sort, no quadratic dominance join:
    * (1) reduce to one (x, ymax) point per distinct x (rows below their
    * x's ymax are dominated by that point); (2) the surviving test is
    * "ymax(x) > max ymax over all x' > x", an ORDERED running max — run
    * it with the same two-shuffle bucketed form as
    * [[OrderedPrefix.sums]] (coarse bucket = x's bit length,
    * within-bucket cummax in parallel, the ≤64 bucket maxima through a
    * tiny single-partition window, broadcast back); (3) equi-join the surviving (x, ymax)
    * points back to the rows. Equal points never strictly dominate each
    * other, so exact duplicates of a frontier point all survive — same
    * answer as the quadratic NOT EXISTS definition, in two narrow
    * shuffles of (x, y) pairs.
    */
  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val g = df.groupBy(xCol).agg(max(col(yCol)).as("_ymax"))
    val withB = g.withColumn("_b", length(conv(col(xCol), 10, 2)))
    val inPrev = Window.partitionBy("_b").orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB.withColumn("_mIn", max(col("_ymax")).over(inPrev))
    // ≤64 bucket maxima: constant-valued non-foldable partition key, the
    // deliberate tiny-window form of OrderedPrefix.sums
    val one = floor(col("_b").cast("long") / lit(Long.MaxValue))
    val offPrev = Window.partitionBy(one).orderBy(col("_b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy("_b").agg(max(col("_ymax")).as("_bymax"))
      .withColumn("_mOff", max(col("_bymax")).over(offPrev))
      .select("_b", "_mOff")
    val floorY = lit(Long.MinValue)
    val frontier = local.join(broadcast(offs), Seq("_b"))
      .filter(col("_ymax") > greatest(
        coalesce(col("_mIn").cast("long"), floorY),
        coalesce(col("_mOff").cast("long"), floorY)))
      // fresh names: frontier descends from df, so the join back would
      // otherwise trip the ambiguous-self-join lineage check
      .select(col(xCol).as("_fx"), col("_ymax").as("_fy"))
    df.join(frontier,
      col(xCol) === col("_fx") && col(yCol) === col("_fy"))
      .select(df.columns.map(col): _*)
  }
}
