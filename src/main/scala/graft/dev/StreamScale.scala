package graft.dev

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** sf1-scale measurement of the streaming face (round-10 stretch): the
  * stream==batch specs pin EQUALITY at toy scale; this drains a
  * 6M-document receiving directory through `StreamingEtl.drainToParquet`
  * (Trigger.AvailableNow, multiple micro-batches via maxFilesPerTrigger),
  * KILLS the query mid-drain after a few committed batches, resumes from
  * the same checkpoint, and verifies exactly-once delivery (row count ==
  * feed count, ids distinct) — the EtlStreamingSpec crash-recovery shape
  * at a scale worth timing. Prints one JSON line per phase.
  *
  * Usage: dev/run1.sh graft.dev.StreamScale <sfDir> [scratchDir]
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val base = if (args.length > 1) args(1)
      else Files.createTempDirectory("graft_streamscale").toString
    val spark = graft.Sessions.getOrCreate()

    val feedDir = s"$base/feed"
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"

    // receiving feed from sf lineitem: one JSON document per line item
    // (sf1 = 6M rows), written as 64 files so maxFilesPerTrigger=8
    // yields 8 micro-batches
    val t0 = System.nanoTime()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(to_json(struct(
        col("l_orderkey").as("order"), col("l_partkey").as("part"),
        col("l_quantity").as("qty"), col("l_returnflag").as("flag"),
        col("l_shipdate").cast("string").as("note"))).as("document"))
    graft.operators.Receiving.fromDocuments(li, "document")
      .repartition(64).write.mode("overwrite").parquet(feedDir)
    val nFeed = spark.read.parquet(feedDir).count()
    val synthSec = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe":"feed_synth","sec":$synthSec%.1f,"rows":$nFeed}""")

    // the per-document ETL transform: JSON extract + normalize — the
    // receiving-to-warehouse per-row shape (no shuffle inside a batch)
    def etl(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id"),
      graft.functions.jsonScalarField(col("document"), lit("flag"))
        .as("flag"),
      graft.functions.jsonScalarField(col("document"), lit("qty"))
        .cast("double").as("qty"),
      upper(trim(graft.functions.jsonScalarField(col("document"),
        lit("note")))).as("note"))

    // phase 1: drain, kill after >= 3 committed micro-batches
    val t1 = System.nanoTime()
    val feed = graft.streaming.StreamingEtl.readFeed(spark, feedDir,
      graft.operators.Receiving.schema, maxFilesPerTrigger = Some(8))
    val q1 = graft.streaming.StreamingEtl.drainToParquet(
      feed, etl, outDir, ckDir)
    var killedAt = -1L
    while (q1.isActive) {
      val p = q1.lastProgress
      if (p != null && p.batchId >= 3) { killedAt = p.batchId; q1.stop() }
      else Thread.sleep(100)
    }
    val phase1Sec = (System.nanoTime() - t1) / 1e9
    val afterKill = spark.read.parquet(outDir).count()
    println(f"""{"probe":"drain_killed","sec":$phase1Sec%.1f,""" +
      f""""killed_after_batch":$killedAt,"rows_visible":$afterKill}""")

    // phase 2: resume from the same checkpoint, run to completion
    val t2 = System.nanoTime()
    val q2 = graft.streaming.StreamingEtl.drainToParquet(
      graft.streaming.StreamingEtl.readFeed(spark, feedDir,
        graft.operators.Receiving.schema, maxFilesPerTrigger = Some(8)),
      etl, outDir, ckDir)
    q2.awaitTermination()
    val phase2Sec = (System.nanoTime() - t2) / 1e9
    val out = spark.read.parquet(outDir)
    val nOut = out.count()
    val nIds = out.select("id").distinct().count()
    val ok = nOut == nFeed && nIds == nFeed
    println(f"""{"probe":"drain_resumed","sec":$phase2Sec%.1f,""" +
      f""""rows_out":$nOut,"distinct_ids":$nIds,""" +
      f""""exactly_once":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
