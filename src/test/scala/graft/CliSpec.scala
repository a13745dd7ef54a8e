package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end CLI cycle on temp dirs: receive → FHIR ETL (dry-run, then
  * commit) → idempotent second cycle → view refresh — the reference's
  * operational loop (`id3c receive`, `id3c etl fhir --commit`,
  * `refresh-materialized-view`) against the library.
  */
class CliSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-cli").toString

  private val bundle =
    """{"resourceType":"Bundle","type":"collection","entry":[
      |{"fullUrl":"urn:uuid:p1","resource":{"resourceType":"Patient","gender":"female",
      | "identifier":[{"system":"https://seattleflu.org/individual","value":"ind-1"}]}},
      |{"fullUrl":"urn:uuid:e1","resource":{"resourceType":"Encounter",
      | "identifier":[{"system":"https://seattleflu.org/encounter","value":"enc-1"}],
      | "period":{"start":"2020-01-05T00:00:00Z"},
      | "subject":{"reference":"urn:uuid:p1"},
      | "location":[{"location":{"identifier":{"system":"https://seattleflu.org/site","value":"site-1"}}}]}}
      |]}""".stripMargin.replaceAll("\n", "")

  private val malformed = """{"resourceType":"Bundle","type":"collection","entry":[{"""

  test("receive appends with continuing ids; etl-fhir honors dry-run then commits idempotently") {
    val feedDir = tmp() + "/fhir"
    val outDir = tmp() + "/delta"
    val nd1 = tmp() + "/a.ndjson"
    val nd2 = tmp() + "/b.ndjson"
    Files.writeString(java.nio.file.Path.of(nd1), bundle + "\n")
    Files.writeString(java.nio.file.Path.of(nd2),
      bundle + "\n" + malformed + "\n" + bundle + "\n")

    Cli.receive(spark, feedDir, nd1)
    Cli.receive(spark, feedDir, nd2)
    val feed = spark.read.parquet(feedDir)
    assert(feed.count() == 4)
    assert(feed.agg(max(col("id"))).head().getLong(0) == 4L)

    // dry-run: full pipeline, no writes take effect
    Cli.etlFhir(spark, feedDir, "-", "-", outDir, dryRun = true)
    assert(!new java.io.File(outDir + "/encounters").exists())
    assert(spark.read.parquet(feedDir)
      .filter(size(col("processing_log")) > 0).count() == 0)

    // commit: deltas written, feed marked
    Cli.etlFhir(spark, feedDir, "-", "-", outDir, dryRun = false)
    assert(spark.read.parquet(outDir + "/encounters").count() == 3)
    assert(spark.read.parquet(outDir + "/statuses")
      .filter(col("status") === "processed").count() == 3)
    // every id carries exactly one (fhir, 5) entry: processed for the
    // bundles, skipped for the malformed document (id 3)
    val marks = spark.read.parquet(feedDir)
      .select(col("id"), filter(col("processing_log"), l =>
        l.getField("etl") === "fhir" && l.getField("revision") === 5)
        .getField("status").as("st"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(marks == Map(1L -> Seq("processed"), 2L -> Seq("processed"),
      3L -> Seq("skipped"), 4L -> Seq("processed")), marks)

    // second cycle: nothing unprocessed → empty deltas (idempotence)
    Cli.etlFhir(spark, feedDir, "-", "-", outDir, dryRun = false)
    assert(spark.read.parquet(outDir + "/encounters").count() == 0)
  }

  test("receive recovers a feed stranded by a crashed snapshot swap") {
    val root = tmp()
    val feedDir = root + "/fhir"
    val nd1 = root + "/a.ndjson"
    val nd2 = root + "/b.ndjson"
    Files.writeString(java.nio.file.Path.of(nd1), bundle + "\n" + bundle + "\n")
    Files.writeString(java.nio.file.Path.of(nd2), bundle + "\n")
    Cli.receive(spark, feedDir, nd1)
    // a swap that crashed between its two renames: the live feed sits in
    // its backup, and the staged snapshot is orphaned
    Files.move(java.nio.file.Path.of(feedDir),
      java.nio.file.Path.of(feedDir + ".bak-1"))
    Files.createDirectory(java.nio.file.Path.of(feedDir + ".tmp-2"))

    Cli.receive(spark, feedDir, nd2)
    val ids = spark.read.parquet(feedDir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), ids)
    val left = new java.io.File(root).list().toSeq
      .filter(n => n.contains(".bak-") || n.contains(".tmp-"))
    assert(left.isEmpty, left)
  }

  test("a failed etl-fhir cycle swaps nothing in and leaves the feed " +
      "unmarked; its re-run matches a clean cycle") {
    val root = tmp()
    val nd = root + "/a.ndjson"
    Files.writeString(java.nio.file.Path.of(nd),
      bundle + "\n" + malformed + "\n" + bundle + "\n")
    val Seq(cleanFeed, feed) = Seq("clean", "fhir").map(n => s"$root/$n")
    Cli.receive(spark, cleanFeed, nd)
    // the same documents and ids with `received` stored as text: no delta
    // reads that column, so all seven deltas are written, and the marked
    // feed's write, the last output, fails while its job runs
    spark.read.parquet(cleanFeed)
      .withColumn("received", col("received").cast("string"))
      .write.parquet(feed)
    Cli.etlFhir(spark, cleanFeed, "-", "-", root + "/clean-delta", dryRun = false)

    val outDir = root + "/delta"
    intercept[Exception](
      Cli.etlFhir(spark, feed, "-", "-", outDir, dryRun = false))
    // the stagings' parent directory stays, empty
    val swapped = Option(new java.io.File(outDir).list()).toSeq.flatten
    assert(swapped.isEmpty, swapped)
    assert(spark.read.parquet(feed)
      .filter(size(col("processing_log")) > 0).count() == 0)
    val left = new java.io.File(root).list().toSeq
      .filter(n => n.contains(".bak-") || n.contains(".tmp-"))
    assert(left.isEmpty, left)

    graft.operators.Receiving.snapshotSwap(spark.read.parquet(feed)
      .withColumn("received", col("received").cast("timestamp")), feed)
    Cli.etlFhir(spark, feed, "-", "-", outDir, dryRun = false)
    def rows(dir: String) =
      spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    Seq("sites", "individuals", "encounters", "sample_updates", "targets",
      "presence_absence", "statuses").foreach { t =>
      assert(rows(s"$outDir/$t") == rows(s"$root/clean-delta/$t"), t)
    }
    def marks(f: String) = spark.read.parquet(f)
      .select(col("id"), filter(col("processing_log"), l =>
        l.getField("etl") === "fhir" && l.getField("revision") === 5)
        .getField("status").as("st"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(marks(feed) == Map(1L -> Seq("processed"), 2L -> Seq("skipped"),
      3L -> Seq("processed")), marks(feed))
    assert(marks(feed) == marks(cleanFeed))
  }

  test("one committed etl-fhir cycle runs at most 23 Spark jobs") {
    import spark.implicits._
    val feedDir = tmp() + "/fhir"
    val identDir = tmp() + "/identifiers"
    val samplesDir = tmp() + "/samples"
    val nd = tmp() + "/a.ndjson"
    Files.writeString(java.nio.file.Path.of(nd),
      bundle + "\n" + malformed + "\n" + bundle + "\n")
    Seq(("abcdefgh", "u-1", "samples")).toDF("barcode", "uuid", "set_name")
      .write.parquet(identDir)
    Seq(("u-1", "u-2")).toDF("identifier", "collection_identifier")
      .write.parquet(samplesDir)
    Cli.receive(spark, feedDir, nd)

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      Cli.etlFhir(spark, feedDir, identDir, samplesDir, tmp() + "/delta",
        dryRun = false)
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    // 33 before this bound was set, when the cycle also inferred the
    // feed's, identifiers' and samples' schemas from parquet footers,
    // built a Bloom filter over the broadcast identifier table for each
    // of the three deltas the DiagnosticReport path feeds, and marked the
    // feed with two chained joins. 23 includes the specimen identifier
    // join's second shuffle stage (a shuffled hash join, not a broadcast).
    assert(jobs.get() <= 23, s"${jobs.get()} jobs")
  }

  test("refresh-view materializes pa_v1 from warehouse parquet") {
    import spark.implicits._
    val wh = tmp()
    Seq((1L, "S1"), (2L, "S2")).toDF("sample_id", "identifier")
      .write.parquet(wh + "/sample")
    Seq((1L, 0L, true), (2L, 1L, false))
      .toDF("sample_id", "target_id", "present")
      .write.parquet(wh + "/presence_absence")
    Seq((0L, "T0", false), (1L, "T1", true))
      .toDF("target_id", "identifier", "control")
      .write.parquet(wh + "/target")
    val out = tmp() + "/pa_v1"
    Cli.refreshView(spark, wh, "pa_v1", out, dryRun = false)
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    // control target T1 is filtered; only sample S1 × T0 remains
    assert(got == Set(("S1", "T0", true)))
  }

  test("mint writes n codes distinct from the existing set") {
    import spark.implicits._
    val existingDir = tmp() + "/existing"
    Seq("aaaaaaaa", "bbbbbbbb").toDF("code").write.parquet(existingDir)
    val out = tmp() + "/minted"
    Cli.mint(spark, existingDir, 5, out, seed = Some(42L))
    val minted = spark.read.parquet(out).select("code")
      .collect().map(_.getString(0)).toSeq
    assert(minted.size == 5 && minted.distinct.size == 5)
    assert(!minted.contains("aaaaaaaa"))
  }

  test("get-sample resolves barcode → identifier uuid → sample row") {
    import spark.implicits._
    val identDir = tmp() + "/identifiers"
    val samplesDir = tmp() + "/samples"
    Seq(("abcdefgh", "u-1", "samples"), ("ijklmnop", "u-2", "collections"))
      .toDF("barcode", "uuid", "set_name").write.parquet(identDir)
    Seq((1L, "u-1", "u-2"), (2L, "u-9", "u-8"))
      .toDF("sample_id", "identifier", "collection_identifier")
      .write.parquet(samplesDir)

    val byIdent = Cli.getSample(spark, identDir, samplesDir, "abcdefgh",
      byCollection = false)
    assert(byIdent.size == 1 && byIdent.head.contains("\"sample_id\":1"))
    // collection route: ijklmnop → u-2 → the same sample's collection key
    val byColl = Cli.getSample(spark, identDir, samplesDir, "ijklmnop",
      byCollection = true)
    assert(byColl.size == 1 && byColl.head.contains("\"sample_id\":1"))
    // unknown barcode → empty (the CLI maps this to exit 1 / 404)
    assert(Cli.getSample(spark, identDir, samplesDir, "zzzzzzzz",
      byCollection = false).isEmpty)
  }

  test("manifest-diff emits only records whose content hash is new") {
    val a = tmp() + "/old.ndjson"
    val b = tmp() + "/new.ndjson"
    Files.writeString(java.nio.file.Path.of(a),
      """{"barcode":"b1","v":"x","_provenance":{"row":1}}""" + "\n")
    Files.writeString(java.nio.file.Path.of(b),
      """{"barcode":"b1","v":"x","_provenance":{"row":9}}""" + "\n" +
        """{"barcode":"b2","v":"y","_provenance":{"row":2}}""" + "\n")
    val out = tmp() + "/diff"
    Cli.manifestDiff(spark, a, b, out)
    val got = spark.read.json(out).select("barcode")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("b2")) // b1 unchanged despite different provenance
  }

  test("Users: create / grant / reset-password / ls, wired into sample RLS") {
    import graft.etl.Users
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("description", StringType),
      StructField("password_hash", StringType)))
    val empty = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](), schema)
    import spark.implicits._
    val noGrants = Seq.empty[(String, String)].toDF("name", "role")

    var users = Users.createUser(empty, "alice", Some("epi analyst"))
    users = Users.createUser(users, "bob")
    intercept[IllegalArgumentException] { Users.createUser(users, "alice") }

    var grants = Users.grantRoles(noGrants, "alice",
      Seq("reporter", "hcov19-visibility"))
    grants = Users.grantRoles(grants, "alice", Seq("reporter")) // no-op re-grant
    grants = Users.grantRoles(grants, "bob", Seq("reporter"))
    assert(grants.count() == 3)

    users = Users.resetPassword(users, "alice", "s3cret")
    val hash = users.filter(col("name") === "alice")
      .select("password_hash").head.getString(0)
    assert(hash != null && hash.length == 64 && hash != "s3cret")
    intercept[IllegalArgumentException] {
      Users.resetPassword(users, "mallory", "x")
    }

    val ls = Users.listUsers(users, grants).collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2)))
    assert(ls.toSeq == Seq(
      ("alice", "epi analyst", Seq("hcov19-visibility", "reporter")),
      ("bob", null, Seq("reporter"))), ls.toSeq)

    // RLS integration: alice (has hcov19-visibility) sees the restricted
    // sample; bob does not; access_role-null rows are visible to both
    val samples = Seq(("s1", null: String), ("s2", "hcov19-visibility"))
      .toDF("sample", "access_role")
    def visible(u: String) = graft.shipping.Views
      .sampleVisibleTo(samples, Users.rolesOf(grants, u))
      .select("sample").collect().map(_.getString(0)).toSet
    assert(visible("alice") == Set("s1", "s2"))
    assert(visible("bob") == Set("s1"))
  }

  test("explain prints the formatted physical plan for any gate query") {
    val lines = Cli.explain(spark, "q1_agg", "/root/testdata/sf0.001",
      formatted = true)
    assert(lines.exists(_.contains("== Physical Plan ==")), lines.take(5))
    assert(lines.exists(_.contains("HashAggregate")), lines.take(30))
    // the formatted mode carries the scan detail PlanAuditSpec pins
    assert(lines.exists(l => l.contains("PushedFilters") ||
      l.contains("ReadSchema")), "scan detail missing")
    val bad = Cli.explain(spark, "nope", "/root/testdata/sf0.001",
      formatted = true)
    assert(bad.head.startsWith("unknown query"))
  }
}
