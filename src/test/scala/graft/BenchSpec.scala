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
}
