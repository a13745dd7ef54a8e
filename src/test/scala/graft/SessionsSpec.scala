package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The session factory's settings, which every main and spec shares. */
class SessionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  test("factory session: UTC, nanos as long, large codegen cache, " +
      "one shuffle partition per core") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
  }

  test("calling the factory again returns the same session") {
    assert(Sessions.getOrCreate("local[4]") eq spark)
  }
}
