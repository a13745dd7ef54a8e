package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Layout

/** Write-side layout specs: Z-order clustering must actually tighten
  * per-file min/max on both dimensions (measured from the written files,
  * not the plan), and co-bucketed tables must join with zero exchange.
  */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val warehouse = Files.createTempDirectory("graft_wh").toString

  lazy val spark: SparkSession =
    Sessions.getOrCreate("local[4]", warehouse = Some(warehouse))

  override def afterAll(): Unit = spark.stop()

  test("writeZClustered keeps per-file min/max tight on BOTH dimensions") {
    import spark.implicits._
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
      .toDF("x", "y")
    val out = Files.createTempDirectory("graft_z").toString + "/t"
    Layout.writeZClustered(grid, "x", "y", bits = 6, numFiles = 16, out)

    def spreads(c: String): Seq[Long] =
      Layout.fileRanges(spark, out, c)
        .select((col("hi").cast("long") - col("lo").cast("long")).as("s"))
        .collect().map(_.getLong(0)).toSeq
    val (sx, sy) = (spreads("x"), spreads("y"))
    assert(sx.size >= 8, s"expected many files, got ${sx.size}")
    // global range is 63; a curve-interval file must stay well under it on
    // both axes (an x-sorted write would leave y spreads at the full 63)
    assert(sx.max <= 31, s"x spreads $sx")
    assert(sy.max <= 31, s"y spreads $sy")
  }

  test("skipEffectiveness: a key-sorted layout prunes most files for a " +
      "narrow range predicate; a hash-scattered one prunes none") {
    import spark.implicits._
    val data = (0 until 4096).map(i => (i, s"row$i")).toDF("k", "v")
    val sortedDir = Files.createTempDirectory("graft_sorted").toString + "/t"
    val scatterDir = Files.createTempDirectory("graft_scat").toString + "/t"
    data.repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .write.parquet(sortedDir)
    data.repartition(16, col("v")).write.parquet(scatterDir)
    def eff(dir: String): (Long, Long) = {
      val r = Layout.skipEffectiveness(
        Layout.fileRanges(spark, dir, "k"), lit(1000), lit(1100))
        .collect().head
      (r.getAs[Long]("n_files"), r.getAs[Long]("n_skipped"))
    }
    val (nfS, skS) = eff(sortedDir)
    val (nfH, skH) = eff(scatterDir)
    // range-sorted: the [1000, 1100] band lives in 1-2 files
    assert(skS >= nfS - 2, s"sorted skipped only $skS of $nfS")
    // hash-scattered: every file spans ~the full key range — zero skips
    assert(skH == 0, s"scattered should skip none, skipped $skH of $nfH")
  }

  test("co-bucketed tables equi-join and aggregate with zero exchange") {
    import spark.implicits._
    val facts = (0L until 1000L).map(i => (i % 97, i)).toDF("k", "v")
    val dims = (0L until 97L).map(i => (i, s"d$i")).toDF("k", "name")
    Layout.writeBucketed(facts, 8, Seq("k"), "graft_bkt_facts")
    Layout.writeBucketed(dims, 8, Seq("k"), "graft_bkt_dims")
    val a = spark.table("graft_bkt_facts")
    val b = spark.table("graft_bkt_dims")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = a.join(b, Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(3000)}")
      assert(joined.count() == 1000L)
      // groupBy on the bucket key also rides the write-time distribution
      val agg = a.groupBy("k").agg(sum("v").as("s"))
      assert(!agg.queryExecution.executedPlan.toString.contains(
        "Exchange hashpartitioning"), "bucketed groupBy must not shuffle")
      assert(agg.count() == 97L)
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned fact + filtered dim join triggers dynamic partition " +
      "pruning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dpp").toString + "/fact"
    (0 until 2000).map(i => (i.toLong, i % 20, i * 3L))
      .toDF("id", "day", "v")
      .write.partitionBy("day").parquet(dir)
    val fact = spark.read.parquet(dir)
    // DPP wants a SELECTIVE predicate that survives optimization on the
    // dim side — a LocalRelation constant-folds its filter away, so the
    // dim must be a file relation; and without table stats the fallback
    // ratio decides, so pin useStats off
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "false")
    val dimDir = Files.createTempDirectory("graft_dpp_dim").toString + "/dim"
    Seq((3, "keep"), (7, "keep"), (5, "drop"))
      .toDF("day", "tag").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"tag" === "keep")
    val joined = fact.join(dim, Seq("day")).agg(sum($"v"))
    val plan = joined.queryExecution.executedPlan.toString
    // the fact scan's partition filter must be the runtime subquery fed
    // by the dim — full-scan-then-join would read all 20 partitions
    assert(plan.contains("dynamicpruning"), plan.take(4000))
    val expected = (0 until 2000).filter(i => i % 20 == 3 || i % 20 == 7)
      .map(_ * 3L).sum
    assert(joined.collect().head.getLong(0) == expected)
  }

  test("ORC round-trips content-equal (portable column layout)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_orc").toString + "/t"
    val df = (1 to 500).map(i => (i.toLong, s"s$i", i / 7.0))
      .toDF("id", "s", "x")
    df.write.orc(dir)
    val back = spark.read.orc(dir)
    // compare names+types (ORC re-infers nullability on read)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("schema evolution: mergeSchema unions old and new columns, " +
      "old rows null-fill") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evo").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(dir)
    Seq((3L, "c", 30L)).toDF("id", "v", "extra")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("extra", "id", "v"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).isNullAt(rows(0).fieldIndex("extra"))) // old row
    assert(rows(2).getLong(rows(2).fieldIndex("extra")) == 30L)
    // without mergeSchema the footer-sampled schema may miss the new
    // column — the reason incremental feeds read with it ON
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_skew").toString
    // one giant key (0) + uniform tail, written to parquet so sizes are
    // real; thresholds lowered so the test data qualifies as skewed
    (1 to 200000).map(i => (if (i % 2 == 0) 0L else i.toLong, s"p$i"))
      .toDF("k", "pay").write.parquet(s"$dir/left")
    (0L to 500L).map(k => (k, s"d$k")).toDF("k", "tag")
      .write.parquet(s"$dir/right")
    val old = Seq(
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // hot partition is ~3x the median here; the default factor-5 gate
      // is tuned for production-size shuffles
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      val j = spark.read.parquet(s"$dir/left")
        .join(spark.read.parquet(s"$dir/right"), "k")
        // keep the payload flowing so column pruning can't shrink the
        // hot partition below the skew threshold
        .agg(count(lit(1)), sum(length($"pay")))
      val n = j.collect().head.getLong(0)
      assert(n == 100250L) // 100k on the hot key + 250 odd keys <= 500
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(300))
      assert(p.contains("skew=true"),
        "AQE did not split the skewed partition\n" + p.take(4000))
    } finally {
      old.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.join.preferSortMergeJoin")
    }
  }

  test("compactToTarget merges small files shuffle-free, content-equal") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_compact").toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    // 40 tiny files (one per partition)
    (0L until 4000L).toDF("id").withColumn("v", col("id") * 3)
      .repartition(40).write.parquet(inDir)
    val target = bytesOf(inDir) / 4
    val (nin, nout, bytes) = Layout.compactToTarget(
      spark, inDir, outDir, targetBytes = target)
    assert(nin == 40 && bytes > 0)
    // packing conf pinned to the target ⇒ the requested count is reached
    // exactly (coalesce can only merge, so this fails if the scan packed
    // more than a target's worth per partition)
    assert(nout == 4, s"expected exactly 4 output files, got $nout")
    // content identical
    val a = spark.read.parquet(inDir)
    val b = spark.read.parquet(outDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // coalesce, not repartition: THE function's own frame must not shuffle
    val plan = Layout.compactionFrame(spark, inDir, target)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  private def bytesOf(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
}
