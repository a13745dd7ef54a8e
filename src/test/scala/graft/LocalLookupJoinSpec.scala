package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.LocalLookupJoin

/** [[LocalLookupJoin]]: a join against a table written in the query
  * answers exactly as the same join against that table read from parquet,
  * which the rule never touches, and the rule leaves alone every table it
  * cannot turn into a map lookup.
  */
class LocalLookupJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  private lazy val tmp = Files.createTempDirectory("graft_lookup").toFile

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    spark.stop()
  }

  private val JoinTypes = Seq("inner", "left_outer", "left_semi", "left_anti")

  /** `df` written to parquet and read back: the same rows, not local. */
  private def stored(df: DataFrame): DataFrame = {
    val path = s"$tmp/${java.util.UUID.randomUUID}"
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  /** The optimized output (names, types, nullability) with the rule
    * excluded: the rewrite must not change what the plan above reads. */
  private def outputWithoutRule(df: => DataFrame): Seq[(String, String, Boolean)] = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, LocalLookupJoin.ruleName)
    try {
      val joined = df
      assert(joins(joined) == 1, "the rule was not excluded")
      output(joined)
    } finally spark.conf.unset(key)
  }

  private def output(df: DataFrame): Seq[(String, String, Boolean)] =
    df.queryExecution.optimizedPlan.output
      .map(a => (a.name, a.dataType.sql, a.nullable))

  /** ANSI mode on, where an absent map key could raise an error. */
  private def ansi[T](body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // null keys, a key the table lacks ("xx"), and a second key column;
  // stored, so that the table is the join's only local side
  private lazy val facts = {
    val s = spark
    import s.implicits._
    stored(Seq[(Long, String, Option[Int])]((1L, "en", Some(1)),
      (2L, "de", Some(2)), (3L, null, Some(1)), (4L, "xx", Some(3)),
      (5L, "en", None), (6L, "fr", Some(2)), (7L, "en", Some(2)))
      .toDF("id", "k", "n"))
  }

  private def table = {
    val s = spark
    import s.implicits._
    Seq(("en", 1, 0.5), ("de", 2, 0.25), ("fr", 1, 0.1), ("zh", 3, 1.0))
      .toDF("k", "n", "rate")
  }

  test("one- and two-column keys: every join type equals the stored-table join") {
    ansi {
      for (keys <- Seq(Seq("k"), Seq("k", "n")); jt <- JoinTypes) {
        val clue = s"$jt on $keys"
        val local = facts.join(table, keys, jt)
        assert(joins(local) == 0, clue)
        assert(rows(local) == rows(facts.join(stored(table), keys, jt)), clue)
        assert(output(local) == outputWithoutRule(facts.join(table, keys, jt)), clue)
      }
    }
  }

  test("Inner with the table on the left, a residual condition, or a union of tables") {
    ansi {
      val f = facts
      val left = table.join(f, Seq("k"))
      assert(joins(left) == 0)
      assert(rows(left) == rows(stored(table).join(f, Seq("k"))))
      assert(output(left) == outputWithoutRule(table.join(f, Seq("k"))))

      val t = table
      val residual = f.join(t, f("k") === t("k") && f("id") > t("n") * 2)
      assert(joins(residual) == 0)
      val st = stored(table)
      assert(rows(residual) == rows(f.join(st, f("k") === st("k") && f("id") > st("n") * 2)))

      val union = table.filter("n = 1").union(table.filter("n > 1"))
      val viaUnion = facts.join(union, Seq("k"), "left_outer")
      assert(joins(viaUnion) == 0)
      assert(rows(viaUnion) == rows(facts.join(stored(table), Seq("k"), "left_outer")))
    }
  }

  test("a table it cannot or may not look up keeps its join, with the same answers") {
    val s = spark
    import s.implicits._
    // Catalyst would otherwise infer `isnotnull(k)` on the table from the
    // join condition and drop its null-key row before the rule runs
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
    val nullKey = Seq[(String, Double)](("en", 0.5), (null, 0.1)).toDF("k", "rate")
    val duplicate = Seq(("en", 0.5), ("en", 0.7), ("de", 0.1)).toDF("k", "rate")
    val overBound = (0 to LocalLookupJoin.MaxRows)
      .map(i => (if (i == 0) "en" else s"k$i", i.toDouble)).toDF("k", "rate")
    val doubleKey = Seq((1.0, "a")).toDF("x", "v")
    try ansi {
      val hinted = table.hint("shuffle_hash")
      for (t <- Seq(nullKey, duplicate, overBound, hinted); jt <- JoinTypes) {
        val local = facts.join(t, Seq("k"), jt)
        assert(joins(local) == 1, jt)
        assert(rows(local) == rows(facts.join(stored(t), Seq("k"), jt)), jt)
      }
      // a residual condition keeps an outer join
      val f = facts
      val t = table
      val outer = f.join(t, f("k") === t("k") && f("id") > t("n"), "left_outer")
      assert(joins(outer) == 1)
      // no binary equality on a double key (0.0 = -0.0)
      assert(joins(f.join(doubleKey, f("id").cast("double") === doubleKey("x"))) == 1)
    }
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
