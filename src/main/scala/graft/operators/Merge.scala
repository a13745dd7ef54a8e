package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The batch MERGE engine (SURVEY.md §2.7) — replaces the reference's
  * row-at-a-time find-or-create / upsert verbs (id3c etl/__init__.py:33-682,
  * lib/id3c/db/__init__.py:182-326) with one shuffle-partitioned
  * full-outer classification pass.
  *
  * Design for scale: one sort-merge (or AQE-chosen) join on the natural
  * key per merge, map-side change detection, and no per-row driver work.
  * "Skip if unchanged" (reference db/__init__.py:262-269) matters *more*
  * here than in Postgres: unchanged rows cost a parquet rewrite in a
  * copy-on-write table, so they are classified and can be written back
  * untouched / pruned from the delta.
  */
object Merge {

  val ActionCol = "merge_action"
  val Created = "created"
  val Updated = "updated"
  val Unchanged = "unchanged"
  val Existing = "existing" // present in current, absent from updates

  /** Full-outer merge classification.
    *
    * @param current     current snapshot of the dimension/entity table
    * @param updates     incoming rows (same schema for `keys` ++ `compareCols`)
    * @param keys        natural key (equality-matched; citext keys should be
    *                    pre-normalized with functions.citext)
    * @param compareCols change-detection columns (reference compares each
    *                    field + merged details, etl/__init__.py:175-197)
    * @return one row per key with the post-merge values and a
    *         [[ActionCol]] ∈ created/updated/unchanged/existing
    */
  def mergeClassify(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val curS = current.select(
      keys.map(col) :+ struct(compareCols.map(col): _*).as("_cur"): _*)
    val updS = updates.select(
      keys.map(col) :+ struct(compareCols.map(col): _*).as("_upd"): _*)
    val joined = curS.join(updS, keys, "full_outer")
    val action =
      when(col("_cur").isNull, Created)
        .when(col("_upd").isNull, Existing)
        .when(col("_cur") <=> col("_upd"), Unchanged)
        .otherwise(Updated)
    val merged = coalesce(col("_upd"), col("_cur"))
    joined
      .withColumn(ActionCol, action)
      .select(keys.map(col) ++ compareCols.map(c => merged.getField(c).as(c)) :+ col(ActionCol): _*)
  }

  /** Apply a merge: next snapshot = current ⊕ updates. Unchanged/existing
    * rows pass through; updated rows take the new values; created rows are
    * appended. Equivalent to the reference's upsert loop in one pass.
    */
  def merge(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame =
    mergeClassify(current, updates, keys, compareCols).drop(ActionCol)

  /** Stable surrogate-id allocation for `created` rows (SURVEY §1.4):
    * max(existing id) + 1..n over a deterministic order — the OUTPUT ids
    * are dense ranks over the explicit `orderBy`, never raw
    * monotonically_increasing_id values (which are unstable across
    * runs and non-dense).
    *
    * Shape (r10): a two-level prefix sum like [[OrderedPrefix.sums]],
    * over partitions instead of buckets, fully columnar. A range-partitioned
    * within-partition sort imposes the global order (range partition i
    * holds keys ≤ partition i+1's — no global single-task window, the
    * round-1 anti-pattern); monotonically_increasing_id then encodes
    * (partition, local ordinal) of the SORTED, lineage-pinned frame —
    * lazy localCheckpoint, so the encoding cannot replay differently —
    * and one tiny per-partition count job (map-side partial, ≤
    * parallelism rows to the driver, like the maxExisting scalar the
    * caller already reads) turns local ordinals into the dense global
    * sequence via a broadcast-free map-literal offset lookup. The r9
    * form detoured through `rdd.zipWithIndex` — an extra job plus a
    * full Row encode/decode round-trip that dropped the frame out of
    * codegen.
    */
  def allocateIds(
      created: DataFrame,
      idCol: String,
      maxExisting: Long,
      orderBy: Seq[String]): DataFrame = {
    val spark = created.sparkSession
    val sorted = created.drop(idCol)
      .repartitionByRange(
        math.max(1, spark.sparkContext.defaultParallelism),
        orderBy.map(col): _*)
      .sortWithinPartitions(orderBy.map(col): _*)
    withDenseId(sorted, idCol, maxExisting)
  }

  /** Dense sequential ids `start+1 .. start+n` following the frame's
    * CURRENT partition order (partition index, then position within the
    * partition) — the columnar two-level prefix sum shared by
    * [[allocateIds]] (after its range sort) and
    * [[graft.operators.Receiving.fromDocuments]] (input order, the
    * reference's bigserial). monotonically_increasing_id encodes
    * (partition << 33 | ordinal) of the LINEAGE-PINNED frame (lazy
    * localCheckpoint — the encoding must not replay differently between
    * the count job and the consumer); one tiny per-partition count job
    * (map-side partial, ≤ parallelism rows to the driver) then turns
    * local ordinals into the dense sequence via a broadcast-free
    * map-literal offset lookup. Never a global window, never an RDD
    * round-trip.
    */
  private[graft] def withDenseId(
      df: DataFrame, idCol: String, start: Long): DataFrame = {
    val cols = df.columns.toSeq
    val tagged = df
      .withColumn("_mid", monotonically_increasing_id())
      .localCheckpoint(false)
    val pidCol = shiftrightunsigned(col("_mid"), 33)
    val localCol = col("_mid").bitwiseAND(lit((1L << 33) - 1))
    val counts = tagged.groupBy(pidCol.as("_pid"))
      .agg(count(lit(1)).as("_c")).orderBy("_pid").collect()
    var acc = 0L
    val entries = counts.flatMap { r =>
      val e = Seq(lit(r.getLong(0)), lit(acc)); acc += r.getLong(1); e
    }.toSeq
    val offset = if (entries.isEmpty) lit(0L)
      else element_at(map(entries: _*), pidCol)
    tagged.select(cols.map(col) :+
      (lit(start + 1L) + offset + localCol).as(idCol): _*)
  }

  /** Corpus snapshot diff: classify every id across two corpus versions
    * as added / removed / changed / unchanged by content digest — the
    * DeepHash manifest-diff semantics (reference utils/__init__.py
    * DeepHashDict, cli/command/etl docs) lifted from per-file manifests
    * to a distributed table. Payloads never shuffle: each side reduces to
    * (id, md5) before the one full-outer equi-join on the id.
    */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame,
      idCol: String, payloadCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(payloadCol)).as("_oh"))
    val n = newDf.select(col(idCol), md5(col(payloadCol)).as("_nh"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_oh").isNull, "added")
          .when(col("_nh").isNull, "removed")
          .when(col("_oh") === col("_nh"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Incremental aggregate-state maintenance — the 100 TB refresh path
    * for M11-style materialized aggregates (reference refresh-materialized
    * -view re-RUNS the defining query, schema/deploy/shipping; at warehouse
    * scale that rescan is the cost to kill). Both inputs carry DECOMPOSABLE
    * partials (count → sum, sum → sum), so refreshing with a new batch is
    * `state ∪ partialAgg(batch)` re-reduced on the group key: one shuffle
    * of |groups| + |batch-groups| rows, never a rescan of the base table.
    * Exact for count/sum (long + decimal arithmetic); avg derives as s/cnt
    * downstream.
    */
  def mergeAggState(
      state: DataFrame, deltaPartials: DataFrame,
      groupCols: Seq[String], partialCols: Seq[String]): DataFrame =
    state.unionByName(deltaPartials)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col(partialCols.head)).as(partialCols.head),
        partialCols.tail.map(c => sum(col(c)).as(c)): _*)

  /** Golden-record survivorship: one canonical row per entity, each
    * attribute independently resolved to its MODE across the entity's
    * duplicate records — most frequent non-null value, ties to the
    * smallest (string order) so the survivor is deterministic on any
    * engine and partitioning. The standard MDM merge step after entity
    * resolution clusters duplicates. Plan: the attributes MELT to
    * (entity, attr, value) rows, so one map-side-combining count + one
    * per-(entity, attr) max_by pick resolve every attribute in a single
    * pass — no per-attribute query, no window over whole entities; the
    * pivot back is a tiny conditional aggregation per entity.
    *
    * Output: entityCol + one column per attr (null when an entity has
    * only null values for it).
    */
  def goldenRecord(
      df: DataFrame, entityCol: String, attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty)
    val melted = df.select(col(entityCol).as("_e"),
      explode(map(attrCols.flatMap(a =>
        Seq(lit(a), col(a).cast("string"))): _*)).as(Seq("_a", "_v")))
    val counted = melted.filter(col("_v").isNotNull)
      .groupBy("_e", "_a", "_v").agg(count(lit(1)).as("_n"))
    // mode with deterministic ties: max on (count, reversed-order value)
    // ... expressed as max_by over a struct ordered (count desc, value
    // asc) via min_by on (negated count, value)
    val winners = counted.groupBy("_e", "_a")
      .agg(min_by(col("_v"), struct((-col("_n")).as("nc"), col("_v")))
        .as("_win"))
    val aggs = attrCols.map(a => max(when(col("_a") === a, col("_win"))).as(a))
    winners.groupBy(col("_e").as(entityCol)).agg(aggs.head, aggs.tail: _*)
  }
}
