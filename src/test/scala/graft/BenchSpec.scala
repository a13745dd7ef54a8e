package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  test("Bench: a query that throws is failed, never timed") {
    val ok: Bench.QueryFn = (s, _) => s.range(100).toDF("id")
    // throws in its tasks, not while the frame is built
    val boomRuns = new AtomicInteger()
    val boom: Bench.QueryFn = (s, _) => {
      boomRuns.incrementAndGet()
      s.range(100).selectExpr("assert_true(id < 0) AS x")
    }
    val r = Bench.measure(spark, Seq("q_ok" -> ok, "q_boom" -> boom),
      sfDir = "unused", warmDir = "unused", passes = 2, floors = Map.empty)
    assert(r.times.map(_._1) == Seq("q_ok"))
    assert(r.failed == Seq("q_boom"))
    assert(r.total == r.times.head._2)
    assert(boomRuns.get == 1, "a failed query must not be run again")
    assert(Bench.compactLine(r, 4, "unused").contains("\"failed\":1"))
  }

  test("SparkEntry.materializedFeed sees a table rewritten behind the same path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-feed").toFile
    val table = s"$dir/t.parquet"
    def feed(): Set[Long] =
      SparkEntry.materializedFeed(spark, "spec_feed", dir.getPath)(
        spark.read.parquet(table).select(($"x" * 2).as("y")))
        .as[Long].collect().toSet
    try {
      Seq(1L, 2L).toDF("x").write.parquet(table)
      assert(feed() == Set(2L, 4L))
      Seq(5L).toDF("x").write.mode("overwrite").parquet(table)
      assert(feed() == Set(10L), "the feed of the old table was read back")
    } finally {
      import org.apache.commons.io.FileUtils.deleteDirectory
      deleteDirectory(dir)
      new java.io.File(Scratchspace.root, "graft_feeds")
        .listFiles((_: java.io.File, n: String) => n.startsWith("spec_feed_"))
        .foreach(deleteDirectory)
    }
  }

  test("SparkEntry.materializedFeed reads a memoized feed back with no job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-feed").toFile
    val table = s"$dir/t.parquet"
    def feed() =
      SparkEntry.materializedFeed(spark, "spec_pinned", dir.getPath)(
        spark.read.parquet(table).select(($"x" * 2).as("y")))
    try {
      Seq(1L, 2L).toDF("x").write.parquet(table)
      assert(feed().as[Long].collect().toSet == Set(2L, 4L))
      val sc = spark.sparkContext
      val jobs = new AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      val again = try {
        val again = feed()
        org.apache.spark.ListenerBusDrain(sc)
        again
      } finally sc.removeSparkListener(listener)
      // a bare read of the path would infer its schema from the parquet
      // footers in a job of its own
      assert(jobs.get() == 0, s"${jobs.get()} jobs")
      assert(again.as[Long].collect().toSet == Set(2L, 4L))
    } finally {
      import org.apache.commons.io.FileUtils.deleteDirectory
      deleteDirectory(dir)
      new java.io.File(Scratchspace.root, "graft_feeds")
        .listFiles((_: java.io.File, n: String) => n.startsWith("spec_pinned_"))
        .foreach(deleteDirectory)
    }
  }
}
