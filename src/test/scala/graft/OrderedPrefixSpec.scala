package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, LogicalPlan, Project, Sort, Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[OrderedPrefix.sums]] against the single-partition global window it
  * replaces, on seeded random frames, plus the shape of its plan.
  */
class OrderedPrefixSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  /** `n` rows (id unique, k with ties, g a group, two weights). k is
    * drawn from 0-9 and 40-49, so with `k / 5` buckets 2-7 are empty.
    */
  private def frame(seed: Int, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((0 until n).toList).map { id =>
      val k = rnd.nextInt(10) + (if (rnd.nextBoolean()) 40 else 0)
      (id.toLong, k.toLong, rnd.nextInt(3), rnd.nextInt(100).toLong,
        rnd.nextInt(7) - 3)
    }.toDF("id", "k", "g", "w1", "w2").repartition(3)
  }

  private val kBucket = floor(col("k") / 5)

  /** Exclusive running sums and totals of w1, w2 under `w` (ordered)
    * and `all` (the whole partition), sorted by id.
    */
  private def reference(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec,
      all: org.apache.spark.sql.expressions.WindowSpec): Seq[Seq[Any]] = {
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    df.select(col("id"),
        coalesce(sum("w1").over(prev), lit(0L)).as("s1"),
        sum("w1").over(all).as("t1"),
        coalesce(sum("w2").over(prev), lit(0L)).as("s2"),
        sum("w2").over(all).as("t2"))
      .orderBy("id").collect().map(_.toSeq).toSeq
  }

  private def got(df: DataFrame, bucket: Column, order: Seq[Column],
      within: Seq[String] = Nil): Seq[Seq[Any]] =
    OrderedPrefix.sums(df, bucket, order,
        Seq("s1" -> col("w1"), "s2" -> col("w2")), within)
      .select("id", "s1", "s1_total", "s2", "s2_total")
      .orderBy("id").collect().map(_.toSeq).toSeq

  test("sums == global window: several buckets, empty buckets, k ties " +
      "broken by id, two weights") {
    for (seed <- Seq(1, 2, 3)) {
      val df = frame(seed, 300)
      assert(got(df, kBucket, Seq(col("k"), col("id"))) ==
        reference(df, Window.orderBy("k", "id"), Window.partitionBy()),
        s"seed $seed")
    }
  }

  test("descending order: a reversed bucket plus descending order columns") {
    val df = frame(4, 300)
    assert(got(df, lit(9L) - kBucket, Seq(col("k").desc, col("id"))) ==
      reference(df, Window.orderBy(col("k").desc, col("id")),
        Window.partitionBy()))
  }

  test("within: sums and totals restart per group") {
    for (seed <- Seq(5, 6)) {
      val df = frame(seed, 300)
      assert(got(df, kBucket, Seq(col("k"), col("id")), within = Seq("g")) ==
        reference(df, Window.partitionBy("g").orderBy("k", "id"),
          Window.partitionBy("g")), s"seed $seed")
    }
  }

  test("one bucket and empty input") {
    val df = frame(7, 50)
    assert(got(df, lit(0L), Seq(col("id"))) ==
      reference(df, Window.orderBy("id"), Window.partitionBy()))
    val empty = OrderedPrefix.sums(df.limit(0), kBucket, Seq(col("id")),
      Seq("s" -> lit(1L)))
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == df.columns.toSeq ++ Seq("s", "s_total"))
  }

  test("idBucket ranks dense ids across 8192-wide buckets") {
    import spark.implicits._
    val ids = (0L until 40L).map(_ * 5000).toDF("id")
    val r = OrderedPrefix.sums(ids, OrderedPrefix.idBucket(col("id")),
        Seq(col("id")), Seq("rk" -> lit(1L)))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(_._1).toSeq
    assert(r == (0L until 40L).map(i => (i * 5000, i, 40L)))
  }

  test("plan: the only constant-key window reads the per-bucket totals") {
    val plan = OrderedPrefix.sums(frame(8, 100), kBucket,
        Seq(col("k"), col("id")), Seq("s" -> col("w1")))
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: WindowNode => w }
    def keyedByBucket(w: WindowNode) =
      w.partitionSpec.flatMap(_.references.map(_.name)) == Seq("_b")
    // the bucket-local window (keyed by _b) and the offsets window
    assert(windows.size == 2, plan.treeString)
    val constant = windows.filterNot(keyedByBucket)
    assert(constant.size == 1, plan.treeString)
    def input(p: LogicalPlan): LogicalPlan = p match {
      case w: WindowNode => input(w.child)
      case pr: Project => input(pr.child)
      case s: Sort => input(s.child)
      case other => other
    }
    input(constant.head.child) match {
      case a: Aggregate =>
        assert(a.groupingExpressions.flatMap(_.references.map(_.name)) ==
          Seq("_b"), plan.treeString)
      case other => fail(s"constant-key window reads ${other.nodeName}:\n" +
        plan.treeString)
    }
  }
}
