package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's distributed ordered prefix sum — every dense global
  * ordinal and running total (sequence packing offsets, FIFO drain
  * ranks, label ordinals, shard ranks, equi-depth ranks, quota ranks)
  * comes from here.
  *
  * A global `sum(w).over(Window.orderBy(...))` funnels the whole frame
  * through one task. Instead rows carry a coarse ORDERED bucket: every
  * row of a lower bucket precedes every row of a higher one. Each bucket
  * cumsums locally in parallel, only the per-bucket totals (thousands of
  * rows at any corpus size) pass through a tiny cumsum, and those bucket
  * offsets are broadcast back. Two narrow shuffles of the projection the
  * caller hands in; nothing else moves.
  */
object OrderedPrefix {

  /** The ordered bucket of a dense numeric id: 8192 consecutive ids. */
  def idBucket(id: Column): Column = floor(id / (1L << 13))

  /** For each `(name, w)` of `weights`, adds `name` — the sum of `w`
    * over every EARLIER row in (`within`, `bucket`, `order`) order, 0 for
    * the first — and `name_total`, the sum of `w` over all rows (of the
    * row's `within` group). With `w = lit(1L)`, `name` is the 0-based
    * dense rank.
    *
    * `bucket` must be a non-negative integer that is monotone in the
    * order: a descending order is a caller's bucket that shrinks as the
    * order key grows (e.g. `64 - bit length`) plus descending `order`
    * columns. `order` must be total within a bucket, or tied rows get
    * an arbitrary relative order. Rows whose bucket is null drop out.
    *
    * Plan: one bucket-local window, one per-bucket aggregate, a window
    * over the bucket rows — keyed by `within`, or by a constant when it
    * is empty — and a broadcast join of those offsets back.
    */
  def sums(
      df: DataFrame, bucket: Column, order: Seq[Column],
      weights: Seq[(String, Column)], within: Seq[String] = Nil): DataFrame = {
    require(weights.nonEmpty, "at least one weight column")
    val keys = (within :+ "_b").map(col)
    val withB = df.withColumn("_b", bucket)
    val inPrev = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB.select(col("*") +: weights.map { case (n, w) =>
      coalesce(sum(w).over(inPrev), lit(0L)).as(s"_in_$n") }: _*)
    // The bucket-totals cumsum runs over bucket rows only. Without a
    // `within` key it is one partition on purpose: the constant-valued
    // (but non-foldable, so Catalyst keeps it) key states that instead of
    // tripping WindowExec's "No Partition Defined" warning for a frame
    // that cannot be large. It is projected once so that the running and
    // the whole-frame windows share one partitioning (one exchange).
    val bucketSums = weights.map { case (n, w) => sum(w).as(s"_s_$n") }
    val totals = withB.groupBy(keys: _*)
      .agg(bucketSums.head, bucketSums.tail: _*)
    val (keyed, part) =
      if (within.nonEmpty) (totals, within)
      else (totals.withColumn("_one",
        floor(col("_b").cast("long") / lit(Long.MaxValue))), Seq("_one"))
    val byBucket = Window.partitionBy(part.map(col): _*).orderBy("_b")
    val prev = byBucket.rowsBetween(Window.unboundedPreceding, -1)
    val whole = byBucket.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = keyed.select(keys ++ weights.flatMap { case (n, _) => Seq(
      coalesce(sum(col(s"_s_$n")).over(prev), lit(0L)).as(s"_off_$n"),
      sum(col(s"_s_$n")).over(whole).as(s"${n}_total")) }: _*)
    local.join(broadcast(offs), within :+ "_b")
      .select(df.columns.map(col) ++ weights.flatMap { case (n, _) => Seq(
        (col(s"_in_$n") + col(s"_off_$n")).as(n), col(s"${n}_total")) }: _*)
  }
}
