package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.etl.Etl
import graft.operators.Receiving
import graft.streaming.StreamingEtl

class EtlStreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  private val docSchema = StructType(Seq(
    StructField("sample", StringType),
    StructField("n", IntegerType)))

  test("Etl.parseDocuments quarantines unparseable documents") {
    import spark.implicits._
    val docs = Seq("""{"sample":"s1","n":1}""", "not json at all {{{").toDF("document")
    val feed = Receiving.fromDocuments(docs, "document")
    val p = Etl.parseDocuments(feed, docSchema)
    assert(p.ok.count() == 1 && p.skipped.count() == 1)
  }

  test("Etl.runCycle marks ok processed and bad skipped, is idempotent") {
    import spark.implicits._
    val docs = Seq("""{"sample":"s1","n":1}""", """{"sample":"s2","n":2}""", "junk{{")
      .toDF("document")
    var processed = 0L
    val feed = Receiving.fromDocuments(docs, "document")
    val after = Etl.runCycle(feed, "t", 1, docSchema) { ok => processed = ok.count() }
    assert(processed == 2)
    val statuses = after.select(explode(col("processing_log")).as("e"))
      .select(col("e.status")).collect().map(_.getString(0)).sorted.toSeq
    assert(statuses == Seq("processed", "processed", "skipped"))
    // second cycle: nothing pending
    var second = -1L
    Etl.runCycle(after, "t", 1, docSchema) { ok => second = ok.count() }
    assert(second == 0)
  }

  test("Etl.upsertSamples matches on either key, merges details, allocates ids") {
    import spark.implicits._
    val cur = Seq(
      (1L, "A1", "C1", """{"x":1}"""),
      (2L, "A2", "C2", """{"y":2}"""))
      .toDF("sample_id", "identifier", "collection_identifier", "details")
    val upd = Seq(
      ("A1", null, """{"z":9}"""), // match by identifier
      (null, "C2", """{"y":3}"""), // match by collection
      ("A9", "C9", """{"new":1}""")) // created
      .toDF("identifier", "collection_identifier", "details")
    val out = Etl.upsertSamples(cur, upd).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getBoolean(4))).toList
    val byId = out.sortBy(_._1)
    assert(byId.map(_._1) == List(1L, 2L, 3L)) // 3 = maxId 2 + 1
    assert(byId(0)._2 == """{"x":1,"z":9}""")
    assert(byId(1)._2 == """{"y":3}""")
    assert(byId.forall(!_._3)) // nothing ambiguous
  }

  test("Etl.upsertSamples creates rows whose updates carry NO key at all " +
      "(the sentinel-key retention path of the single tagged-key join)") {
    import spark.implicits._
    val cur = Seq((1L, "A1", "C1", """{"x":1}"""))
      .toDF("sample_id", "identifier", "collection_identifier", "details")
    val upd = Seq(
      (null.asInstanceOf[String], null.asInstanceOf[String], """{"n":1}"""),
      ("A1", null.asInstanceOf[String], """{"z":9}"""))
      .toDF("identifier", "collection_identifier", "details")
    val out = Etl.upsertSamples(cur, upd).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getString(3), r.getBoolean(4))).sortBy(_._1).toList
    // the keyless update must survive to creation (id 2 = maxId+1) with
    // its own details and null identifiers; the keyed one updates row 1
    assert(out == List(
      (1L, Some("A1"), """{"x":1,"z":9}""", false),
      (2L, None, """{"n":1}""", false)))
  }

  test("Etl.upsertSamples flags ambiguous two-row matches") {
    import spark.implicits._
    val cur = Seq(
      (1L, "A1", "C1", "{}"),
      (2L, "A2", "C2", "{}"))
      .toDF("sample_id", "identifier", "collection_identifier", "details")
    // identifier hits row 1, collection hits row 2 → ambiguous
    val upd = Seq(("A1", "C2", "{}"))
      .toDF("identifier", "collection_identifier", "details")
    val out = Etl.upsertSamples(cur, upd).collect()
    assert(out.length == 1 && out.head.getAs[Boolean]("ambiguous"))
  }

  test("Etl.routeByContainment routes documents by top-level fields") {
    import spark.implicits._
    val feed = Seq(
      """{"redcap_url":"u1","project_id":"7","v":1}""",
      """{"redcap_url":"u2","project_id":"7","v":2}""",
      """{"other":true}""").toDF("document")
    val routed = Etl.routeByContainment(feed, Seq(
      "proj7" -> Map("redcap_url" -> "u1", "project_id" -> "7"),
      "proj7b" -> Map("redcap_url" -> "u2")))
    assert(routed.select("route").collect().map(r =>
      Option(r.getString(0)).getOrElse("-")).toSeq == Seq("proj7", "proj7b", "-"))
  }

  test("Etl.runCycleDelta writes O(batch) status rows, never the feed") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_delta").toString
    val feedDir = s"$base/feed"
    val statusDir = s"$base/status"
    val docs = Seq("""{"sample":"s1","n":1}""", """{"sample":"s2","n":2}""", "junk{{")
      .toDF("document")
    Receiving.fromDocuments(docs, "document").write.parquet(feedDir)
    val feedFilesBefore = new java.io.File(feedDir).listFiles().map(_.getName).toSet

    val feed = spark.read.parquet(feedDir)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("etl", StringType),
        StructField("revision", IntegerType), StructField("status", StringType),
        StructField("timestamp", TimestampType))))
    var processed = 0L
    val delta = Etl.runCycleDelta(feed, empty, "t", 1, docSchema) { ok =>
      processed = ok.count()
    }
    delta.write.mode("append").parquet(statusDir)
    assert(processed == 2)
    // the cycle's only write is the status delta: 3 rows, feed untouched
    assert(new java.io.File(feedDir).listFiles().map(_.getName).toSet
      == feedFilesBefore)
    val status = spark.read.parquet(statusDir)
    assert(status.count() == 3)
    assert(status.filter(col("status") === "skipped").count() == 1)
    // second cycle against the side-table: nothing pending
    var second = -1L
    val delta2 = Etl.runCycleDelta(feed, status, "t", 1, docSchema) { ok =>
      second = ok.count()
    }
    assert(second == 0 && delta2.count() == 0)
    // the read path can fold the side-table back into processing_log shape
    val folded = Receiving.withProcessingLog(feed, status)
    assert(folded.filter(exists(col("processing_log"),
      e => e.getField("status") === "skipped")).count() == 1)
    assert(Receiving.unprocessed(folded, "t", 1).count() == 0)
  }

  test("snapshotSwap recovers a swap that crashed between its two renames") {
    import spark.implicits._
    val schema = Seq((0L, "")).toDF("id", "v").schema
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val base = Files.createTempDirectory("graft_swap").toString
    val dir = s"$base/table"
    Receiving.snapshotSwap(Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate the crash window: dst renamed away to .bak, a completed
    // .tmp left stranded, then the process dies before rename(tmp→dst)
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir.tmp-999")
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$dir.bak-999"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    // open recovers: the old snapshot is rolled back into place (the
    // crashed transaction aborts), stranded staging dirs are swept
    val recovered = Receiving.openSnapshot(spark, dir, schema).get
    assert(recovered.collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir.tmp-*")).isEmpty)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir.bak-*")).isEmpty)
    // and the next swap proceeds normally after recovery
    Receiving.snapshotSwap(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(Receiving.openSnapshot(spark, dir, schema).get.collect()
      .map(_.getString(1)).toSeq == Seq("c"))
  }

  test("openSnapshot sweeps a staging dir left by a swap that died writing") {
    import spark.implicits._
    val schema = Seq((0L, "")).toDF("id", "v").schema
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_swap").toString + "/table"
    Receiving.snapshotSwap(Seq((1L, "a")).toDF("id", "v"), dir)
    // the crash came before the first rename: dir is live, no backup
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir.tmp-999")
    assert(Receiving.openSnapshot(spark, dir, schema).get.collect()
      .map(_.getString(1)).toSeq == Seq("a"))
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir.tmp-*")).isEmpty)
    assert(Receiving.openSnapshot(spark, s"$dir-missing", schema).isEmpty)
  }

  test("recoverSwap throws and deletes no backup when its roll-back rename fails") {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def rename(src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = false
    }
    fs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_swap").toString + "/table"
    // the crash came between the renames of two swaps: no live dir
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir.bak-1")
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir.bak-2")
    val e = intercept[java.io.IOException](Receiving.recoverSwap(fs, dir))
    assert(e.getMessage.contains(s"$dir.bak-2") && e.getMessage.endsWith(dir),
      e.getMessage)
    assert(Seq("bak-1", "bak-2").forall(b => new java.io.File(s"$dir.$b").isDirectory))
  }

  test("snapshotSwap swaps nothing in when one staged write fails") {
    import spark.implicits._
    val schema = Seq((0L, "")).toDF("id", "v").schema
    val base = Files.createTempDirectory("graft_swap").toString
    val Seq(a, b, c) = Seq("a", "b", "c").map(n => s"$base/$n")
    Seq(a, b, c).foreach(Receiving.snapshotSwap(Seq((1L, "old")).toDF("id", "v"), _))
    // throws while its job runs, not while it is planned
    val failing = spark.range(4).select(
      when(col("id") === 2, raise_error(lit("boom"))).otherwise(col("id")).as("id"),
      lit("new").as("v"))
    // runs for minutes unless its job is cancelled
    val nap = udf((x: Long) => { Thread.sleep(1); x })
    val slow = spark.range(0, 200000, 1, 2).select(nap(col("id")).as("id"),
      lit("new").as("v"))
    val t0 = System.nanoTime()
    val e = intercept[Exception](Receiving.snapshotSwap(
      Seq(Seq((2L, "new")).toDF("id", "v") -> a, failing -> b, slow -> c),
      dryRun = false))
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < 60, "the slow sibling was not cancelled")
    // job-end events reach the status tracker asynchronously; a sibling
    // still running would stay active for minutes
    val settled = System.nanoTime() + 10000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < settled) Thread.sleep(50)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    Seq(a, b, c).foreach { d =>
      assert(Receiving.openSnapshot(spark, d, schema).get.collect()
        .map(_.getString(1)).toSeq == Seq("old"), d)
    }
    val left = new java.io.File(base).list().toSeq
      .filter(n => n.contains(".bak-") || n.contains(".tmp-"))
    assert(left.isEmpty, left)
  }

  test("a dry-run snapshotSwap leaves every target untouched") {
    import spark.implicits._
    val schema = Seq((0L, "")).toDF("id", "v").schema
    val base = Files.createTempDirectory("graft_swap").toString
    val Seq(a, b, fresh) = Seq("a", "b", "fresh").map(n => s"$base/$n")
    Seq(a, b).foreach(Receiving.snapshotSwap(Seq((1L, "old")).toDF("id", "v"), _))
    val df = Seq((2L, "new")).toDF("id", "v")
    Receiving.snapshotSwap(Seq(df -> a, df -> b, df -> fresh), dryRun = true)
    Seq(a, b).foreach { d =>
      assert(Receiving.openSnapshot(spark, d, schema).get.collect()
        .map(_.getString(1)).toSeq == Seq("old"), d)
    }
    assert(Receiving.openSnapshot(spark, fresh, schema).isEmpty)
    assert(new java.io.File(base).list().toSet == Set("a", "b"))
  }

  test("snapshotSwap renames its outputs into place in the order given") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap").toString
    val order = Seq("c", "a", "b").map(n => s"$base/$n")
    Receiving.snapshotSwap(Seq((1L, "old")).toDF("id", "v"), order(1))
    // the first output's write finishes last
    val nap = udf((x: Long) => { Thread.sleep(5); x })
    val slow = spark.range(0, 200, 1, 1).select(nap(col("id")).as("id"))
    val fast = Seq(1L).toDF("id")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[RenameLoggingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    RenameLoggingFs.log.clear()
    try Receiving.snapshotSwap(Seq(slow -> order(0), fast -> order(1),
      fast -> order(2)), dryRun = false)
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    val swapped = RenameLoggingFs.log.toArray.toSeq.filter(order.contains)
    assert(swapped == order, swapped)
    assert(spark.read.parquet(order(0)).count() == 200)
  }

  test("Etl.upsertSamples same-batch same-key updates fold deterministically") {
    import spark.implicits._
    val cur = Seq((1L, "A1", "C1", """{"x":0}"""))
      .toDF("sample_id", "identifier", "collection_identifier", "details")
    // two updates hitting the same (identifier, collection) key in one
    // batch, with an id ordinal: both must apply, in id order (the second
    // merges over the first), under ANY partitioning
    val upd = Seq(
      (10L, "A1", "C1", """{"k":"first","a":1}"""),
      (11L, "A1", "C1", """{"k":"second","b":2}"""))
      .toDF("id", "identifier", "collection_identifier", "details")
    val expected = """{"x":0,"k":"second","a":1,"b":2}"""
    for (parts <- Seq("1", "3", "7")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val out = Etl.upsertSamples(cur, upd).collect()
        assert(out.length == 1, s"parts=$parts")
        assert(out.head.getAs[String]("details") == expected, s"parts=$parts")
      } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("Etl.pagedFetch tiles the id space; last page is unbounded") {
    import spark.implicits._
    val fixture = (1L to 13L).map(i => (i, s"r$i")).toDF("rid", "payload")
    // next = max+1 = 14: pages [1,6) [6,11) [11,∞)
    val pages = Etl.pagedFetch(fixture, "rid", pageSize = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(pages(1L) == 1 && pages(5L) == 1)
    assert(pages(6L) == 2 && pages(10L) == 2)
    assert(pages(11L) == 3 && pages(13L) == 3)
    // explicit mid-drain snapshot next=11: pages [1,6) [6,∞) — ids 11-13
    // were "created after pagination started" and land in the LAST page
    val late = Etl.pagedFetch(fixture, "rid", pageSize = 5,
        nextRecordId = Some(11L))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(late(5L) == 1 && late(6L) == 2 && late(13L) == 2)
    // empty project: pages = range(1, 1) is empty, nothing drained
    assert(Etl.pagedFetch(fixture.limit(0), "rid", 5).count() == 0)
  }

  test("Etl.fetchBatches chunks FIFO by id across bucket boundaries") {
    import spark.implicits._
    // 10 records, batchSize 4 → 2.5 batches; ids 5000 apart spread the
    // rank over six 8192-wide coarse buckets, crossing their offsets
    val loaded = (0L until 10L).map(i => (i * 5000, s"rec-$i"))
      .toDF("id", "record")
    val got = Etl.fetchBatches(loaded.repartition(5), "id", batchSize = 4)
      .collect().map(r => (r.getLong(0),
        r.getAs[Int]("batch"), r.getAs[Int]("batch_pos")))
      .sortBy(_._1)
    val expected = (0L until 10L).map { i =>
      (i * 5000, (i / 4 + 1).toInt, (i % 4 + 1).toInt)
    }
    assert(got.toSeq == expected)
  }

  test("Etl.markRepeats keeps first per record as primary") {
    import spark.implicits._
    val feed = Seq((10L, "r1"), (11L, "r1"), (12L, "r2")).toDF("id", "record")
    val r = Etl.markRepeats(feed, col("record"), col("id"))
      .orderBy("id").collect().map(_.getAs[String]("det_status")).toSeq
    assert(r == Seq("primary", "repeat", "primary"))
  }

  test("compactByProcessed enables partition pruning for incremental scans") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/feed"
    val docs = (1 to 10).map(i => s"""{"n":$i}""").toDF("document")
    val feed = Receiving.fromDocuments(docs, "document")
    val marked = Receiving.markStatuses(feed,
      feed.filter(col("id") <= 7).select(col("id"), lit("processed").as("status")),
      "x", 1)
    Receiving.compactByProcessed(marked, "x", 1, dir)
    val pending = Receiving.readUnprocessedPartition(spark, dir)
    assert(pending.count() == 3)
    // the processed partition must be pruned at planning time
    val plan = pending.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("processed"))
  }

  test("StreamingEtl drains a receiving directory exactly once (AvailableNow)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream").toString
    val feedDir = s"$base/feed"
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"
    val docs = Seq("""{"sample":"s1","n":1}""", """{"sample":"s2","n":2}""")
      .toDF("document")
    Receiving.fromDocuments(docs, "document").write.parquet(feedDir)

    val feed = StreamingEtl.readFeed(spark, feedDir, Receiving.schema)
    val q = StreamingEtl.drainToParquet(
      feed,
      df => df.withColumn("sample",
        get_json_object(col("document"), "$.sample")).select("id", "sample"),
      outDir, ckDir)
    q.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() == 2)

    // re-run with same checkpoint: nothing new to process
    val q2 = StreamingEtl.drainToParquet(
      StreamingEtl.readFeed(spark, feedDir, Receiving.schema),
      df => df.select("id").withColumn("sample", lit("x")),
      outDir, ckDir)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() == 2)
  }

  test("StreamingEtl.windowedCounts aggregates with watermark in a stream") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream2").toString
    val inDir = s"$base/in"
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), "view", 5.0))
      .toDF("ts", "event_type", "value").write.parquet(inDir)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val agg = StreamingEtl.windowedCounts(
      StreamingEtl.readFeed(spark, inDir, schema), "ts")
    val q = agg.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck")
      // complete mode: in a single AvailableNow batch the watermark only
      // advances after the batch, so append would emit nothing yet.
      .outputMode("complete")
      .format("memory").queryName("win_counts")
      .start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from win_counts").collect()
    assert(rows.length == 2)
    assert(rows.exists(r => r.getAs[String]("event_type") == "click"
      && r.getAs[Long]("cnt") == 2L))
  }

  test("StreamingEtl.windowedCounts sliding windows stream == batch") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream3").toString
    val inDir = s"$base/in"
    val data = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:40:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), "view", 5.0))
    data.toDF("ts", "event_type", "value").write.parquet(inDir)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val agg = StreamingEtl.windowedCounts(
      StreamingEtl.readFeed(spark, inDir, schema), "ts",
      slide = Some("15 minutes"))
    val q = agg.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck")
      .outputMode("complete")
      .format("memory").queryName("win_slide")
      .start()
    q.awaitTermination(60000)
    val streamed = spark.sql("select * from win_slide").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .sorted
    // every event lands in exactly 4 sliding windows
    assert(streamed.map(_._3).sum == 12L)
    val batch = StreamingEtl.windowedCounts(
      data.toDF("ts", "event_type", "value"), "ts",
      slide = Some("15 minutes"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("StreamingEtl.ohlcBars selection aggregates stream == batch") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream4").toString
    val inDir = s"$base/in"
    val data = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "u1", 3.0),
      (java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), 2L, "u1", 9.0),
      (java.sql.Timestamp.valueOf("2024-01-01 23:50:00"), 3L, "u1", 5.0),
      // same-timestamp tie: event_id must break it identically in both
      (java.sql.Timestamp.valueOf("2024-01-01 23:50:00"), 4L, "u1", 7.0),
      (java.sql.Timestamp.valueOf("2024-01-02 01:00:00"), 5L, "u1", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 6L, "u2", 4.0))
    data.toDF("ts", "event_id", "user", "value").write.parquet(inDir)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("user", StringType),
      StructField("value", DoubleType)))
    val q = StreamingEtl.ohlcBars(
        StreamingEtl.readFeed(spark, inDir, schema), "ts", "user")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck")
      .outputMode("complete")
      .format("memory").queryName("ohlc_bars")
      .start()
    q.awaitTermination(60000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
    val streamed = spark.sql("select * from ohlc_bars").collect().map(key).sorted
    val batch = StreamingEtl.ohlcBars(
      data.toDF("ts", "event_id", "user", "value"), "ts", "user")
      .collect().map(key).sorted
    assert(streamed.toSeq == batch.toSeq)
    // day 1 for u1: open=3.0 (00:10), close=7.0 (23:50 tie → higher id)
    val d1 = streamed.find(r => r._2 == "u1" && r._3 == 4L).get
    assert(d1._4 == 3.0 && d1._5 == 9.0 && d1._6 == 3.0 && d1._7 == 7.0)
  }

  test("StreamingEtl.rollingFeatures: trailing window stream == batch") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingEtl.Tick
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Tick]
    val q = StreamingEtl.rollingFeatures(mem.toDS(), horizonSec = 3600)
      .writeStream.format("memory").queryName("rolling")
      .outputMode("append").start()
    // binary-exact values so double summation matches decimal exactly;
    // same-second peers (ids 3, 4) must see each other in both engines
    val b1 = Seq(Tick("u1", 1000L, 1L, 1.5), Tick("u1", 2000L, 2L, 2.25),
      Tick("u1", 4000L, 3L, 4.0), Tick("u1", 4000L, 4L, 0.5),
      Tick("u2", 1000L, 5L, 8.0))
    val b2 = Seq(Tick("u1", 5500L, 6L, 1.0), // evicts sec=1000 (1901 floor)
      Tick("u2", 4599L, 7L, 2.0)) // sec-3599 = 1000: u2's first still in
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.sql("select * from rolling").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).sorted
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user").orderBy($"sec").rangeBetween(-3599, 0)
      val batch = (b1 ++ b2).toDF()
        .select($"user", $"sec", $"eventId",
          count(lit(1)).over(w).as("n1h"), sum($"value").over(w).as("sum1h"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).sorted
      assert(streamed.toSeq == batch.toSeq)
      // spot-check eviction: at 5500 the window floor is 1901, so 1000 is
      // out and {2000, 4000, 4000, 5500} remain
      assert(streamed.toSeq.contains(("u1", 5500L, 6L, 4L, 7.75)))
    } finally q.stop()
  }

  test("StreamingEtl.firstPerKey dedups across micro-batches, bounded state") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val events = mem.toDF().toDF("sec", "k", "payload")
      .select(timestamp_seconds($"sec").as("ts"), $"k", $"payload")
    val out = graft.streaming.StreamingEtl.firstPerKey(events, "ts", Seq("k"))
    val q = out.writeStream.format("memory").queryName("first_per_key")
      .outputMode("append").start()
    try {
      // duplicates arrive only ACROSS batches so kept-row identity is
      // deterministic: batch 2's "a" lands within the 2h watermark of
      // batch 1's and must be dropped
      mem.addData((1000L, "a", 1L), (1002L, "b", 3L))
      q.processAllAvailable()
      mem.addData((1100L, "a", 4L), (1200L, "c", 5L))
      q.processAllAvailable()
      val got = spark.sql("select k, payload from first_per_key")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(got == Seq(("a", 1L), ("b", 3L), ("c", 5L)), got)
    } finally q.stop()
  }

  test("streamingHeavyHitterCandidates: superset of exact HH, bounded state") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val k = 10
    val out = graft.streaming.StreamingEtl.streamingHeavyHitterCandidates(
      mem.toDF().toDF("w"), "w", k, numShards = 4)
    val q = out.writeStream.format("memory").queryName("shh")
      .outputMode("update").start()
    val b1 = Seq.fill(150)("hot") ++ Seq.fill(60)("warm") ++
      (1 to 120).map(i => s"t$i")
    val b2 = Seq.fill(200)("hot") ++ Seq.fill(90)("cool") ++
      (121 to 260).map(i => s"t$i")
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val rows = spark.sql("select shard, candidates, shard_n from shh")
        .collect()
      // latest summary per shard = the row with that shard's max n
      val latest = rows.groupBy(_.getInt(0)).map(_._2.maxBy(_.getLong(2)))
      val cands = latest.flatMap(_.getSeq[String](1)).toSet
      val all = b1 ++ b2
      val exact = all.groupBy(identity)
        .collect { case (w, xs) if xs.size.toLong * k > all.size => w }.toSet
      assert(exact.nonEmpty && exact.subsetOf(cands), s"$exact vs $cands")
      // bounded state: each shard's summary holds at most k-1 counters
      assert(latest.forall(_.getSeq[String](1).size <= k - 1))
    } finally q.stop()
  }

  test("StreamingEtl.dedupAgainstIndex: streaming LSH gate == batch pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = Files.createTempDirectory("graft_stream_dedup").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text about spark catalyst planning"),
      (3L, "another unrelated corpus document mentioning parquet files"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
      (11L, "the quick brown fox jumps over the lazy cat today"), // near-dup
      (12L, "nothing like anything in the standing corpus here"))
    arriving.toDF("doc_id", "text").write.parquet(s"$base/in")
    val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val gated = StreamingEtl.dedupAgainstIndex(
      StreamingEtl.readFeed(spark, s"$base/in", schema), index,
      "doc_id", "text", minAgree = 8)
    val q = gated.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck")
      .outputMode("append")
      .format("memory").queryName("dedup_gate")
      .start()
    q.awaitTermination(60000)
    val streamed = spark.sql(
        "select distinct corpus_id, batch_id, agree from dedup_gate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    val batch = Dedup.minhashLshPairsAgainst(corpus,
        arriving.toDF("doc_id", "text"), "doc_id", "text", minAgree = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    assert(streamed == batch)
    // the exact duplicate must be flagged against corpus doc 1; the
    // unrelated doc 12 must not be flagged at all
    assert(streamed.exists(p => p._1 == 1L && p._2 == 10L))
    assert(!streamed.exists(_._2 == 12L))
  }

  test("stream-static enrichment: broadcast dim joins into a stream") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_enrich").toString
    Seq(("u1", 1L), ("u2", 2L), ("u3", 3L))
      .toDF("user", "event_id").write.parquet(s"$base/in")
    val dim = Seq(("u1", "gold"), ("u2", "basic")).toDF("user", "tier")
    val schema = StructType(Seq(StructField("user", StringType),
      StructField("event_id", LongType)))
    // left join keeps unmatched stream rows; the static side broadcasts
    // per micro-batch (no stateful shuffle at all)
    val enriched = StreamingEtl.readFeed(spark, s"$base/in", schema)
      .join(broadcast(dim), Seq("user"), "left")
    val q = enriched.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck")
      .outputMode("append")
      .format("memory").queryName("enrich")
      .start()
    q.awaitTermination(60000)
    val got = spark.sql("select user, event_id, tier from enrich")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
      .sorted.toSeq
    assert(got == Seq(("u1", 1L, Some("gold")), ("u2", 2L, Some("basic")),
      ("u3", 3L, None)))
  }

  test("StreamingEtl.intervalJoin: stream-stream attribution == batch join") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_ssj").toString
    val imps = Seq(
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 2L),
      ("u2", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 3L))
    val clicks = Seq(
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 11L), // imp 1
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 01:20:00"), 12L), // imp 2
      ("u2", java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 13L), // late: no match
      ("u3", java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 14L)) // no imp
    imps.toDF("user", "imp_ts", "imp_id").write.parquet(s"$base/imps")
    clicks.toDF("user", "click_ts", "click_id").write.parquet(s"$base/clicks")
    val impSchema = StructType(Seq(StructField("user", StringType),
      StructField("imp_ts", TimestampType), StructField("imp_id", LongType)))
    val clickSchema = StructType(Seq(StructField("user", StringType),
      StructField("click_ts", TimestampType), StructField("click_id", LongType)))
    val joined = StreamingEtl.intervalJoin(
      StreamingEtl.readFeed(spark, s"$base/imps", impSchema),
      StreamingEtl.readFeed(spark, s"$base/clicks", clickSchema),
      "user", "imp_ts", "click_ts", lowerSec = 0, upperSec = 1800)
    val q = joined.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck")
      .outputMode("append")
      .format("memory").queryName("ssj")
      .start()
    q.awaitTermination(60000)
    val streamed = spark.sql("select user, imp_id, click_id from ssj")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed == Seq(("u1", 1L, 11L), ("u1", 2L, 12L)))
    val batch = StreamingEtl.intervalJoin(
        imps.toDF("user", "imp_ts", "imp_id"),
        clicks.toDF("user", "click_ts", "click_id"),
        "user", "imp_ts", "click_ts", lowerSec = 0, upperSec = 1800)
      .select("user", "imp_id", "click_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed == batch)
  }

  test("drain crash-recovery: a failed micro-batch is rolled back and " +
      "replayed from the checkpoint — no loss, no duplicates") {
    // the reference's savepoint/rollback discipline
    // (lib/id3c/db/session.py:89-131): a failing unit of work must leave
    // no partial effects, and the retry must process it exactly once.
    // Here the unit is a micro-batch; the checkpoint + _spark_metadata
    // commit log are the savepoint.
    import spark.implicits._
    val base = Files.createTempDirectory("graft_crash").toString
    val feedDir = s"$base/feed"
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"
    // six single-row feed files, distinct mod-times so the source orders
    // them deterministically; maxFilesPerTrigger=1 → one batch per file
    for (i <- 1 to 6) {
      Receiving.fromDocuments(
          Seq(s"""{"sample":"s$i","n":$i}""").toDF("document"), "document")
        .coalesce(1).write.mode("append").parquet(feedDir)
      Thread.sleep(30)
    }
    val extract = (df: org.apache.spark.sql.DataFrame) =>
      df.select(CrashFlag.poison(
        get_json_object(col("document"), "$.sample")).as("sample"))

    CrashFlag.armed = true
    val q = StreamingEtl.drainToParquet(
      StreamingEtl.readFeed(spark, feedDir, Receiving.schema,
        maxFilesPerTrigger = Some(1)),
      extract, outDir, ckDir)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    // only batches committed BEFORE the crash are visible (the parquet
    // sink's _spark_metadata log hides any partial files of the failed
    // batch) — s5's batch and everything after it are absent
    val partial = spark.read.parquet(outDir)
      .select("sample").collect().map(_.getString(0)).toSet
    assert(partial == Set("s1", "s2", "s3", "s4"), partial)

    // restart with the SAME checkpoint after the poison clears: the
    // failed batch replays, the committed ones do not
    CrashFlag.armed = false
    val q2 = StreamingEtl.drainToParquet(
      StreamingEtl.readFeed(spark, feedDir, Receiving.schema,
        maxFilesPerTrigger = Some(1)),
      extract, outDir, ckDir)
    q2.awaitTermination(120000)
    val out = spark.read.parquet(outDir)
      .select("sample").collect().map(_.getString(0)).toSeq
    assert(out.sorted == (1 to 6).map(i => s"s$i"), out.sorted) // no loss
    assert(out.distinct.length == out.length) // no duplicates
  }

  test("StreamingEtl.gapSessions: closed sessions stream == batch " +
    "session_window, idle users drain via event-time timeout") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingEtl.SEvent
    def ev(u: String, sec: Long) =
      SEvent(u, sec, new java.sql.Timestamp(sec * 1000))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[SEvent]
    val q = StreamingEtl.gapSessions(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // u1: events at 1000/1500, then 3300 = exactly end+gap -> MERGES
    // (the batch session_window boundary), then 10000 -> new session.
    // u2: one event, then idle forever — only the timeout can close it.
    // (3300 rides in b1: u2@5000 puts the 0-delay watermark past u1's
    // gap, so a later 3300 would be a late event — dropped by contract.)
    val b1 = Seq(ev("u1", 1000L), ev("u1", 1500L), ev("u1", 3300L),
      ev("u2", 5000L))
    val b2 = Seq(ev("u1", 10000L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // advance the watermark far past every end+gap; timeouts fire on
      // the NEXT micro-batch after the watermark update
      mem.addData(ev("zz", 100000L)); q.processAllAvailable()
      mem.addData(ev("zz", 100001L)); q.processAllAvailable()
      val streamed = spark.sql(
          "select * from sessions where user not like 'zz'")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      val batch = (b1 ++ b2).toDF()
        .groupBy($"user",
          session_window(timestamp_seconds($"sec"), "30 minutes").as("w"))
        .agg(min($"sec").as("start_sec"), max($"sec").as("end_sec"),
          count(lit(1)).as("n_events"))
        .select("user", "start_sec", "end_sec", "n_events")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      // the exactly-at-gap event merged rather than splitting
      assert(streamed.contains(("u1", 1000L, 3300L, 3L)))
    } finally q.stop()
  }

  test("StreamingEtl.streamingLog2Histogram: sketch state after the " +
    "stream == batch histogram, register for register") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val q = StreamingEtl.streamingLog2Histogram(
        mem.toDS().toDF("g", "v"), "g", "v")
      .writeStream.format("memory").queryName("hist")
      .outputMode("update").start()
    val b1 = Seq(("g1", 1L), ("g1", 3L), ("g1", 5L), ("g2", 8L))
    val b2 = Seq(("g1", 7L), ("g1", 100L), ("g2", 9L), ("g2", 0L)) // 0 drops
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // memory sink in update mode appends every emission — take the
      // LAST row per group (its current histogram)
      val streamed = spark.sql("select * from hist").collect()
        .map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Long](2)))
        .groupBy(_._1).map { case (g, rows) => g -> rows.last }
      val batch = (b1 ++ b2).toDF("g", "v").filter($"v" > 0)
        .withColumn("bits", length(conv($"v", 10, 2)).cast("long"))
        .groupBy("g", "bits").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (g, rows) =>
          val s = rows.sortBy(_._2)
          g -> (g, s.map(_._2).toSeq, s.map(_._3).toSeq)
        }
      assert(streamed.keySet == batch.keySet)
      for (g <- streamed.keySet) {
        assert(streamed(g)._2 == batch(g)._2, s"$g bits")
        assert(streamed(g)._3 == batch(g)._3, s"$g counts")
      }
    } finally q.stop()
  }

  test("StreamingEtl.streamingTrendSums: OLS sums after the stream == " +
    "batch trendSlopes inputs, and the projected slope matches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val off = 1000L
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long)]
    val q = StreamingEtl.streamingTrendSums(
        mem.toDS().toDF("k", "sec", "y"), "k", "sec", "y", off)
      .writeStream.format("memory").queryName("trend")
      .outputMode("update").start()
    val b1 = Seq(("a", 1001L, 10L), ("a", 1002L, 12L), ("b", 1005L, 7L))
    val b2 = Seq(("a", 1003L, 14L), ("b", 1005L, 9L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.sql("select * from trend").collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5))))
        .groupBy(_._1).map { case (k, rows) => k -> rows.last._2 }
      // y = 2x + 8 exactly for key a -> slope 2; key b has one distinct
      // x -> batch slope is null
      assert(streamed("a") == ((3L, 6L, 36L, 76L, 14L)))
      val batch = graft.operators.EventAnalytics.trendSlopes(
          (b1 ++ b2).toDF("k", "sec", "y"), "k", "sec", "y", off)
        .collect().map(r => r.getString(0) -> r).toMap
      // recompute the slope from the streamed sums with the batch
      // projection and compare value-for-value
      for (k <- Seq("a", "b")) {
        val (n, sx, sy, sxy, sxx) = streamed(k)
        val num = n * sxy - sx * sy
        val den = n * sxx - sx * sx
        val slope =
          if (n >= 2 && den != 0) Some(num.toDouble / den.toDouble) else None
        val b = batch(k)
        assert(b.getLong(1) == n, s"$k n")
        val bSlope = if (b.isNullAt(2)) None else Some(b.getDouble(2))
        assert(bSlope == slope, s"$k slope")
      }
      assert(streamed("a")._1 == 3L)
      assert(batch("a").getDouble(2) == 2.0)
    } finally q.stop()
  }

  test("StreamingEtl.streamingCountMin: sketch state after the stream == " +
    "batch count-min sketch, counter for counter") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = StreamingEtl.streamingCountMin(
        mem.toDS().toDF("k"), "k", depth = 3, width = 8)
      .writeStream.format("memory").queryName("cms")
      .outputMode("update").start()
    val b1 = Seq("a", "b", "a", "c", "a")
    val b2 = Seq("b", "d", "a", "e", "e")
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.sql("select * from cms").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
        .groupBy(_._1).map { case (r, rows) => r -> rows.last }
      val batch = graft.operators.Sketches
        .countMinSketch((b1 ++ b2).toDF("k"), "k", 3, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (r, rows) =>
          val s = rows.sortBy(_._2)
          r -> (r, s.map(_._2).toSeq, s.map(_._3).toSeq)
        }
      assert(streamed.keySet == batch.keySet)
      for (r <- streamed.keySet) {
        assert(streamed(r)._2 == batch(r)._2, s"row $r buckets")
        assert(streamed(r)._3 == batch(r)._3, s"row $r counts")
      }
    } finally q.stop()
  }
}

/** Fault injector for the crash-recovery spec: same-JVM local mode, so a
  * volatile flag reaches the executor threads.
  */
object CrashFlag {
  @volatile var armed = false
  val poison = org.apache.spark.sql.functions.udf { (s: String) =>
    if (armed && s == "s5")
      throw new IllegalStateException("injected mid-stream crash")
    s
  }
}

/** The local filesystem, logging the target path of every rename. */
class RenameLoggingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    RenameLoggingFs.log.add(dst.toUri.getPath)
    super.rename(src, dst)
  }
}

object RenameLoggingFs {
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
