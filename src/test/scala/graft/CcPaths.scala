package graft

import org.apache.spark.sql.SparkSession

/** Runs a connected-components spec on both paths of
  * `Dedup.connectedComponents`: under the session's broadcast threshold,
  * where every spec-sized graph takes the driver finish, and under -1,
  * where the distributed star loop runs. The threshold is restored after
  * each run.
  */
object CcPaths {
  private val key = "spark.sql.autoBroadcastJoinThreshold"

  def foreach(spark: SparkSession)(body: String => Unit): Unit = {
    body("driver finish")
    starLoop(spark)(body("star loop"))
  }

  /** `body` with the driver finish switched off. */
  def starLoop[A](spark: SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
