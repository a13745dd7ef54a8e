package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The receiving area (SURVEY.md §1.1): one append-only table per feed,
  * shaped exactly like the reference's receiving tables
  * (id3c schema/deploy/receiving/presence-absence.sql:8-24) —
  * `id, document (raw json text), received, processing_log`.
  *
  * The reference's GIN index on processing_log has no Spark equivalent;
  * instead the unprocessed scan stays cheap because (a) processing_log is
  * a pruned column, and (b) feeds can be compacted into processed/
  * unprocessed partition directories (`compact`), so incremental runs
  * prune partitions instead of filtering 100 TB.
  */
object Receiving {

  /** processing_log element (reference mark_processed,
    * etl/presence_absence.py:455-471): {etl, revision, status, timestamp}.
    */
  val logEntryType: StructType = StructType(Seq(
    StructField("etl", StringType),
    StructField("revision", IntegerType),
    StructField("status", StringType),
    StructField("timestamp", TimestampType)))

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("document", StringType),
    StructField("received", TimestampType),
    StructField("processing_log", ArrayType(logEntryType))))

  /** Wrap raw documents into receiving shape (S1/S2: HTTP receive and
    * NDJSON COPY both reduce to "append lines with received=now").
    *
    * Sequential ids come from [[Merge.withDenseId]] — the columnar
    * partition-offset prefix sum (one tiny count job, then purely local
    * numbering), NOT a global window, which would funnel the whole ingest
    * batch through a single partition (r10: previously an
    * `rdd.zipWithIndex` round-trip — same distribution, but a full Row
    * encode/decode that dropped ingest out of codegen). Ids follow input
    * order, same as the reference's bigserial.
    */
  def fromDocuments(docs: DataFrame, docCol: String, startId: Long = 0L): DataFrame = {
    val src = docs.select(col(docCol).cast("string").as("document"))
    Merge.withDenseId(src, "id", startId)
      .withColumn("received", current_timestamp())
      .withColumn("processing_log", array().cast(ArrayType(logEntryType)))
      .select("id", "document", "received", "processing_log")
  }

  /** F1 — *the* incremental predicate (reference `where not processing_log
    * @> [{"etl": name, "revision": rev}]`, etl/presence_absence.py:72-79):
    * keep records not yet processed by (etl, revision). A higher-order
    * `exists` keeps this inside codegen; no UDF, no shuffle.
    */
  def unprocessed(feed: DataFrame, etl: String, revision: Int): DataFrame =
    feed.filter(!exists(col("processing_log"),
      e => e.getField("etl") === lit(etl) && e.getField("revision") === lit(revision)))

  /** M8 — mark_processed / mark_skipped (reference etl/fhir.py:129-132):
    * append one status entry to processing_log for each id of
    * `statuses` (columns `id`, `status`) in ONE left join that carries
    * the status: a cycle that marks some ids processed and others skipped
    * joins the feed once, not once per status. Copy-on-write: returns the
    * rewritten feed; [[snapshotSwap]] persists it atomically, mirroring
    * the reference's transactional commit (cli/command/__init__.py:120-158).
    */
  def markStatuses(
      feed: DataFrame,
      statuses: DataFrame,
      etl: String,
      revision: Int): DataFrame = {
    val entry = struct(
      lit(etl).as("etl"), lit(revision).as("revision"),
      col("_status").as("status"), current_timestamp().as("timestamp"))
    feed.join(statuses.select(col("id").as("_sid"), col("status").as("_status")),
        col("id") === col("_sid"), "left")
      .withColumn("processing_log",
        when(col("_sid").isNotNull,
          concat(col("processing_log"), array(entry)))
          .otherwise(col("processing_log")))
      .drop("_sid", "_status")
  }

  // ---- status side-table: O(batch) mark_processed --------------------
  // The copy-on-write markStatuses + snapshotSwap path rewrites the
  // ENTIRE feed to append one log element per touched row — at a 100 TB
  // feed with a 1 GB backlog that is a 100 TB rewrite per ETL cycle. The
  // reference appends one jsonb element in place
  // (etl/presence_absence.py:455-471); the batch-storage analogue is an
  // append-only SIDE-TABLE of (id, etl, revision, status, timestamp)
  // rows: each cycle appends O(batch) rows and never touches the feed.
  // The copy-on-write path remains as the compaction story (fold the
  // side-table back into processing_log when the feed is rewritten
  // anyway, e.g. by compactByProcessed).

  /** Status rows for `ids` — the side-table delta of one ETL cycle.
    * Append with `df.write.mode("append").parquet(statusDir)`: appends
    * are new files only, O(batch) bytes written.
    */
  def statusDelta(
      ids: DataFrame, // single column "id"
      etl: String,
      revision: Int,
      status: String = "processed"): DataFrame =
    ids.select(col("id"), lit(etl).as("etl"), lit(revision).as("revision"),
      lit(status).as("status"), current_timestamp().as("timestamp"))

  /** F1 against the side-table: records with no status row for
    * (etl, revision) in either the side-table or the feed's own
    * processing_log. The anti-join shuffles only (id) pairs of the
    * side-table — never the documents (AQE broadcasts a small backlog's
    * worth of status rows).
    */
  def unprocessedVia(
      feed: DataFrame,
      statusTable: DataFrame,
      etl: String,
      revision: Int): DataFrame =
    unprocessed(feed, etl, revision)
      .join(statusTable
          .filter(col("etl") === lit(etl) && col("revision") === lit(revision))
          .select(col("id")),
        Seq("id"), "left_anti")

  /** Fold the side-table back into the reference-shaped processing_log
    * column (compaction read path; entries ordered by timestamp). */
  def withProcessingLog(feed: DataFrame, statusTable: DataFrame): DataFrame = {
    val folded = statusTable
      .groupBy("id")
      .agg(array_sort(collect_list(struct(
        col("timestamp"), col("etl"), col("revision"), col("status"))))
        .as("_entries"))
      .select(col("id"), transform(col("_entries"),
        e => struct(e.getField("etl").as("etl"),
          e.getField("revision").as("revision"),
          e.getField("status").as("status"),
          e.getField("timestamp").as("timestamp"))).as("_log"))
    feed.join(folded, Seq("id"), "left")
      .withColumn("processing_log",
        concat(col("processing_log"),
          coalesce(col("_log"), array().cast(ArrayType(logEntryType)))))
      .drop("_log")
  }

  /** Compact a feed into a directory partitioned by a `processed` flag
    * for (etl, revision). The reference's GIN index on processing_log has
    * no Spark equivalent; this is its replacement at scale — an
    * incremental run reads `processed=false` and PRUNES the processed
    * partitions at the file listing, so a 100 TB feed with a 1 GB backlog
    * scans 1 GB (SURVEY §4 "partition receiving tables on a processed
    * flag").
    */
  def compactByProcessed(feed: DataFrame, etl: String, revision: Int,
      dir: String): Unit =
    feed.withColumn("processed",
        exists(col("processing_log"),
          e => e.getField("etl") === lit(etl) &&
            e.getField("revision") === lit(revision)))
      .write.mode("overwrite").partitionBy("processed").parquet(dir)

  /** Read the unprocessed partition of a compacted feed (partition-pruned
    * scan — check `.explain` for `PartitionFilters: [isnotnull(processed),
    * (processed = false)]`).
    */
  def readUnprocessedPartition(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).filter(!col("processed")).drop("processed")

  /** Atomic snapshot write of one table: the one-output call of the
    * multi-output swap below. */
  def snapshotSwap(df: DataFrame, dir: String, dryRun: Boolean = false): Unit =
    snapshotSwap(Seq(df -> dir), dryRun)

  /** Atomic snapshot writes of several tables, staged together and
    * swapped in last — the batch analogue of the reference's
    * single-transaction commit/rollback (cli/command/__init__.py:89-158).
    *
    *  1. [[recoverSwap]] runs on every target.
    *  1. Every frame is written to its own `<dir>.tmp-<epoch>` at the same
    *     time, one thread per output; the threads end with the call and
    *     inherit the caller's job group and local properties.
    *  1. Only after every write has succeeded are the stagings renamed
    *     into place, in the order given. The last output's rename is the
    *     call's commit point: a caller puts the table that records the
    *     commit (the marked feed) last.
    *
    * A write may read a target's live directory; none is renamed before
    * every write has finished. When a write fails, the sibling writes'
    * jobs are cancelled through a job tag of this call (the caller's job
    * group keeps working), the call waits for them to stop, deletes every
    * staging and rethrows the first error: no target changes. A dry run
    * writes everything, then deletes the stagings.
    *
    * Crash safety (single writer per table): between `rename(dst→bak)`
    * and `rename(tmp→dst)` there is an instant with no live directory.
    * Every entry point ([[openSnapshot]], and snapshotSwap itself before
    * it starts) runs [[recoverSwap]], which rolls a stranded `.bak-*`
    * back into place — the rename-back is one atomic metadata op, so a
    * crashed swap behaves like the reference's rolled-back transaction:
    * the old snapshot stays live, the orphaned `.tmp-*` is swept. A
    * rename that reports failure throws an `IOException` naming both
    * paths, before the backup is deleted; the targets before it in the
    * order are already swapped in, the ones after it are not.
    */
  def snapshotSwap(outputs: Seq[(DataFrame, String)], dryRun: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    require(outputs.map(_._2).distinct.size == outputs.size,
      s"snapshotSwap: a target appears twice in ${outputs.map(_._2)}")
    if (outputs.nonEmpty) {
      val sc = outputs.head._1.sparkSession.sparkContext
      val fs = org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration)
      if (!dryRun) outputs.foreach { case (_, dir) => recoverSwap(fs, dir) }

      val stamp = System.currentTimeMillis()
      val staged = outputs.map { case (df, dir) => (df, dir, s"$dir.tmp-$stamp") }
      val tag = s"graft-snapshot-swap-${java.util.UUID.randomUUID()}"
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writers = staged.map { case (df, _, tmp) =>
        val t = new Thread(() =>
          try {
            sc.addJobTag(tag)
            df.write.mode("overwrite").parquet(tmp)
          } catch {
            case e: Throwable =>
              if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
          }, s"snapshot-write-${new Path(tmp).getName}")
        t.setDaemon(true)
        t.start()
        t
      }
      // a sibling between two of its jobs when the first cancel came
      // submits the next one afterwards: cancel again until all stopped
      writers.foreach { t =>
        while ({ t.join(50); t.isAlive })
          if (failure.get != null) sc.cancelJobsWithTag(tag)
      }

      val error = Option(failure.get)
      if (dryRun || error.isDefined) {
        staged.foreach { case (_, _, tmp) => fs.delete(new Path(tmp), true) }
        error.foreach(e => throw e)
      } else staged.foreach { case (_, dir, tmp) =>
        val dst = new Path(dir)
        val bak = new Path(s"$dir.bak-${System.currentTimeMillis()}")
        if (fs.exists(dst) && !fs.rename(dst, bak))
          throw new java.io.IOException(s"snapshotSwap: could not rename $dst to $bak")
        // the backup stays put when the second rename fails: recoverSwap
        // rolls it back on the next read or swap
        if (!fs.rename(new Path(tmp), dst))
          throw new java.io.IOException(s"snapshotSwap: could not rename $tmp to $dst")
        if (fs.exists(bak)) fs.delete(bak, true)
      }
    }
  }

  /** The snapshot table at `dir` read with `schema` (no footer-inference
    * job), or None when there is none. A swap that crashed between its
    * two renames is rolled back first ([[recoverSwap]]): the table then
    * sits in a `.bak-*` sibling, and reading past it would miss it — a
    * feed would renumber its ids from 0 and swap the backup away.
    */
  def openSnapshot(spark: SparkSession, dir: String,
      schema: StructType): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, dir)
    if (fs.exists(new org.apache.hadoop.fs.Path(dir)))
      Some(spark.read.schema(schema).parquet(dir))
    else None
  }

  /** Recover from a crashed swap. If `dir` is missing but `.bak-*`
    * siblings exist, the swap died between its two renames: the newest
    * backup is renamed back into place (atomic) and the older ones are
    * deleted; when that rename fails it throws an `IOException` and
    * deletes nothing. Orphaned `.tmp-*` staging dirs are swept in every
    * case, live `dir` or not: a swap that died during its parquet write
    * leaves one next to a live table. Assumes a single writer per table
    * and no read concurrent with its swap: the `.tmp-*` of a swap still
    * running in another process would be swept too, and a read inside the
    * rename window would roll that swap back.
    */
  def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    def siblings(suffix: String) = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir.$suffix-*"))).getOrElse(Array.empty)
    val dst = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(dst)) {
      val baks = siblings("bak")
      if (baks.nonEmpty) {
        val newest = baks.maxBy(_.getPath.getName)
        // checked before any backup is deleted: a feed left unrestored
        // would make the next receive number its delivery from id 1
        if (!fs.rename(newest.getPath, dst))
          throw new java.io.IOException(
            s"recoverSwap: could not rename ${newest.getPath} to $dst")
        baks.filterNot(_ eq newest).foreach(b => fs.delete(b.getPath, true))
      }
    }
    siblings("tmp").foreach(t => fs.delete(t.getPath, true))
  }
}
