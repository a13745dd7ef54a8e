package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators._

/** Unit specs per operator (SURVEY.md §5: the reference is doctest-dense;
  * we mirror that with per-operator assertions on tiny inline data).
  */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._

  test("RangeBinJoin matches the v2 intervalrange bins, month precision") {
    import spark.implicits._
    // the reference's age-bin v2 tables (shipping/age-bin-v2.sql:6-66) are
    // month-precision intervalranges — [0,1 mon), [1 mon,6 mons),
    // [6 mons,1 year), … [90 years,∞). Normalized to half-open month
    // bounds; the sub-year lower bounds (1, 6 mons) are the fixture the
    // integer-year bins never exercised.
    val fineV2 = Seq(
      (0, Option(1), "[0,1mo)"), (1, Option(6), "[1mo,6mo)"),
      (6, Option(12), "[6mo,1y)"), (12, Option(60), "[1y,5y)"),
      (60, Option(120), "[5y,10y)"), (1080, Option.empty[Int], "[90y,)"))
      .toDF("lo", "hi", "label")
    val ages = Seq(0, 1, 5, 6, 11, 12, 59, 1500).toDF("age_months")
    val out = RangeBinJoin(ages, "age_months", fineV2)
      .orderBy("age_months")
      .collect().map(r => r.getInt(0) -> r.getAs[String]("label")).toSeq
    assert(out == Seq(
      0 -> "[0,1mo)", 1 -> "[1mo,6mo)", 5 -> "[1mo,6mo)", 6 -> "[6mo,1y)",
      11 -> "[6mo,1y)", 12 -> "[1y,5y)", 59 -> "[1y,5y)", 1500 -> "[90y,)"))
    // exclusion constraint analogue: v2 bins never overlap, so the join
    // is one-to-at-most-one
    assert(RangeBinJoin(ages, "age_months", fineV2).count() == ages.count())
  }

  test("hamming_distance: native expression, interpreted and codegen") {
    import spark.implicits._
    val df = Seq(("abcd", "abcd"), ("abcd", "abxd"), ("abcd", "xbxd"), ("ab", "abcd"))
      .toDF("a", "b")
      .select(graft.functions.hammingDistance(col("a"), col("b")).as("d"))
    assert(df.collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
      == Seq(0, 1, 2, -1))
  }

  test("hamming_distance_lte short-circuits correctly at the boundary") {
    import spark.implicits._
    val df = Seq(("abcdefgh", "abcdefgh", 0), ("abcdefgh", "xxcdefgh", 2),
      ("abcdefgh", "xxxdefgh", 2)).toDF("a", "b", "k")
      .select(graft.functions.hammingDistanceLte(col("a"), col("b"), col("k")).as("ok"))
    assert(df.collect().map(_.getBoolean(0)).toSeq == Seq(true, true, false))
  }

  test("GraftExtensions.registerAll: every native expression is callable " +
      "from plain spark.sql") {
    graft.plans.GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT hamming_distance('abcd', 'abxd') AS hd,
        |  hamming_distance_lte('abcd', 'abxd', 1) AS lte,
        |  nfc_normalize('café') AS nfc,
        |  deflated_length(repeat('ab', 50)) AS dl,
        |  float_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS fd,
        |  int8_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS id,
        |  cdc_boundaries('abc', 1, 2) AS cb""".stripMargin).collect().head
    assert(r.getAs[Int]("hd") == 1)
    assert(r.getAs[Boolean]("lte"))
    assert(r.getAs[String]("nfc") == "café") // composed, not e+U+0301
    assert(r.getAs[Int]("dl") > 0 &&
      r.getAs[Int]("dl") < 100) // repeated text compresses
    assert(r.getAs[Double]("fd") == 4.0)
    assert(r.getAs[Long]("id") == 32L)
    // 'abc' = 97,98,99: only 98 is even (k=1, m=2) → cut at 2, final at 3
    assert(r.getSeq[Int](r.fieldIndex("cb")) == Seq(2, 3))
    // registerAll is idempotent (re-registration must not duplicate rules)
    val before = spark.experimental.extraOptimizations.size
    graft.plans.GraftExtensions.registerAll(spark)
    assert(spark.experimental.extraOptimizations.size == before)
  }

  test("barcode_slices matches the reference slice definition") {
    import spark.implicits._
    val r = Seq("abcd").toDF("c")
      .select(graft.functions.barcodeSlices(col("c")).as("s"))
      .head().getSeq[String](0)
    assert(r == Seq("1__ab", "2__bc", "3__cd"))
  }

  test("slice-prefilter similarity join finds all pairs within distance 2") {
    import spark.implicits._
    val codes = Seq((1L, "aaaaaaaa"), (2L, "aaaaaaab"), (3L, "aaaaabbb"),
      (4L, "zzzzzzzz")).toDF("id", "code")
    val pairs = Barcodes.similarityJoin(codes, maxDist = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // d(1,2)=1, d(1,3)=3 (out), d(2,3)=2, 4 is far from all
    assert(pairs == Set((1L, 2L), (2L, 3L)))
  }

  test("isoWeek handles year boundaries (ISO 8601 week-year)") {
    import spark.implicits._
    // 2024-12-30 is Monday of 2025-W01; 2027-01-01 is in 2026-W53.
    val r = Seq("2024-12-30", "2025-01-01", "2026-12-28", "2027-01-01")
      .toDF("d")
      .select(graft.functions.isoWeek(to_date(col("d"))).as("w"))
      .collect().map(_.getString(0)).toSeq
    assert(r == Seq("2025-W01", "2025-W01", "2026-W53", "2026-W53"))
  }

  test("DistinctOn keeps exactly the first row per key") {
    import spark.implicits._
    val df = Seq((1, 10, "b"), (1, 5, "a"), (2, 7, "c")).toDF("k", "ord", "v")
    val r = DistinctOn(df, Seq("k"), Seq(col("ord").asc))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(r == Seq((1, "a"), (2, "c")))
  }

  test("Merge.mergeClassify labels created/updated/unchanged/existing") {
    import spark.implicits._
    val cur = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val upd = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("id", "v")
    val m = Merge.mergeClassify(cur, upd, Seq("id"), Seq("v"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(m == Seq((1L, "a", "existing"), (2L, "b", "unchanged"),
      (3L, "C", "updated"), (4L, "d", "created")))
  }

  test("Receiving.unprocessed honors (etl, revision) containment") {
    import spark.implicits._
    val docs = Seq("d1", "d2", "d3").toDF("document")
    val feed = Receiving.fromDocuments(docs, "document")
    val once = Receiving.markStatuses(feed,
      feed.filter(col("id") === 1L).select(col("id"), lit("processed").as("status")),
      "x", 1)
    assert(Receiving.unprocessed(once, "x", 1).count() == 2)
    assert(Receiving.unprocessed(once, "x", 2).count() == 3) // revision bump
    assert(Receiving.unprocessed(once, "y", 1).count() == 3)
  }

  test("Dedup.exact keeps one survivor per distinct text") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val r = Dedup.exact(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(r == Seq(1L, 3L))
  }

  test("Dedup.minhashLshPairs finds exact duplicates and skips distinct docs") {
    import spark.implicits._
    val text = "one two three four five six seven eight nine ten"
    val df = Seq((1L, text), (2L, text),
      (3L, "totally different words entirely here with nothing shared at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("Dedup.connectedComponents closes chains transitively") {
    import spark.implicits._
    // chain 1-2-3 (1~2, 2~3 but never 1~3), separate pair 10-11, and a
    // star 20-{21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("Sampling.hashSample is deterministic, rate-accurate, and repartition-stable") {
    import spark.implicits._
    val df = (1L to 4000L).toDF("id")
    val a = Sampling.hashSample(df, "id", 0.25).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(df.repartition(13), "id", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(a == b) // stable under re-partitioning (df.sample is not)
    assert(math.abs(a.size / 4000.0 - 0.25) < 0.03)
    // a larger rate with the same salt is a superset: bands nest
    val wider = Sampling.hashSample(df, "id", 0.5).collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider))
  }

  test("TextAnalysis.packChunks: straddling docs, empty docs, bucket boundaries") {
    import spark.implicits._
    // budget 10; doc 3 (7 tokens) straddles chunk 0→1; doc 4 empty;
    // ids 5000 apart span four 8192-wide buckets (5000 | 10000,15000 |
    // 20000 | 25000), so the offsets cross bucket boundaries
    val df = Seq((1L, 4L), (2L, 5L), (3L, 7L), (4L, 0L), (5L, 10L))
      .map { case (i, n) => (i * 5000, n) }.toDF("doc_id", "n_tokens")
    val r = TextAnalysis.packChunks(df, "doc_id", "n_tokens", budget = 10)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(2),
        Option(x.get(3)).map(_.toString.toLong),
        Option(x.get(4)).map(_.toString.toLong)))
    assert(r.toSeq == Seq(
      (5000L, 0L, Some(0L), Some(0L)), // tokens 0-3
      (10000L, 4L, Some(0L), Some(0L)), // tokens 4-8
      (15000L, 9L, Some(0L), Some(1L)), // tokens 9-15: straddles
      (20000L, 16L, None, None), // empty doc occupies no chunk
      (25000L, 16L, Some(1L), Some(2L)))) // tokens 16-25
  }

  test("TextAnalysis.tokenCount: empty, blank, normal") {
    import spark.implicits._
    val r = Seq("", "   ", "a b  c").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(r == Seq(0, 0, 3))
  }

  test("SimilaritySearch.bruteForceTopK ranks by exact cosine") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)))
      .toDF("id", "vec")
    val queries = Seq((100L, Array(1f, 0f))).toDF("qid", "qvec")
    val r = SimilaritySearch.bruteForceTopK(corpus, queries, k = 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(r == Seq(1L, 2L))
  }

  test("hstoreMerge is right-biased and null-tolerant") {
    import spark.implicits._
    val df = Seq((Map("a" -> "1", "b" -> "2"), Map("b" -> "3", "c" -> "4")))
      .toDF("x", "y")
      .select(graft.functions.hstoreMerge(col("x"), col("y")).as("m"))
    assert(df.head().getMap[String, String](0).toMap
      == Map("a" -> "1", "b" -> "3", "c" -> "4"))
  }

  test("jsonbMergeShallow merges top-level keys right-biased") {
    import spark.implicits._
    val df = Seq(("""{"a":1,"b":{"x":1}}""", """{"b":{"y":2},"c":3}"""))
      .toDF("a", "b")
      .select(graft.functions.jsonbMergeShallow(col("a"), col("b")).as("m"))
    assert(df.head().getString(0) == """{"a":1,"b":{"y":2},"c":3}""")
  }

  test("AsofJoin picks latest at-or-before per key; tolerance voids stale") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (1L, 40L, "x"), (2L, 5L, "c"))
      .toDF("k", "sec", "name")
      .select($"k", timestamp_seconds($"sec").as("t"), $"name")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 50L, 300L))
      .toDF("k", "sec", "v")
      .select($"k", timestamp_seconds($"sec").as("t"), $"v")
    def run(tol: Option[Long]) =
      AsofJoin.asofJoin(left, right, "k", "t", tol)
        .collect()
        .map(r => (r.getString(2), Option(r.get(5)).map(_.asInstanceOf[Long])))
        .toMap
    // equal timestamps match (at-or-before is inclusive); no match → null
    assert(run(None) == Map("a" -> Some(100L), "b" -> Some(200L),
      "x" -> Some(200L), "c" -> None))
    // 5s tolerance: b (25-20=5s) survives inclusively, x (40-20=20s) voids
    assert(run(Some(5000L)) == Map("a" -> Some(100L), "b" -> Some(200L),
      "x" -> None, "c" -> None))
    // forward: earliest right at-or-after; c (t=5) now sees k=2's t=50 row
    val fwd = AsofJoin.asofJoin(left, right, "k", "t",
        direction = "forward")
      .collect()
      .map(r => (r.getString(2), Option(r.get(5)).map(_.asInstanceOf[Long])))
      .toMap
    assert(fwd == Map("a" -> Some(100L), "b" -> None, "x" -> None,
      "c" -> Some(300L)))
  }

  test("IntervalJoin.overlapJoin: brute-force equal, half-open, emit-once") {
    import spark.implicits._
    val a = Seq((1L, "k", 0L, 10L), (2L, "k", 50L, 90L), (3L, "k", 5L, 6L),
      (4L, "z", 0L, 100L)).toDF("id", "key", "s", "e")
    val b = Seq((10L, "k", 9L, 20L), (11L, "k", 10L, 30L), (12L, "k", 60L, 61L),
      (13L, "z", 99L, 200L), (14L, "z", 100L, 101L)).toDF("id", "key", "s", "e")
    val got = IntervalJoin.overlapJoin(a, b, bucketWidth = 4L)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // [1,10): touches [10,30) only at the open end — no match; emit-once
    // must not duplicate (4,13) though they share many tiles
    assert(got.sorted == Seq((1L, 10L), (2L, 12L), (4L, 13L)))
    assert(got.distinct.length == got.length)
    val brute = a.as("a").crossJoin(b.as("b"))
      .filter($"a.key" === $"b.key" && $"a.s" < $"b.e" && $"b.s" < $"a.e")
      .select($"a.id", $"b.id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got.sorted == brute)
  }

  test("int8Dot matches the interpreted HOF form; empty arrays give 0") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, -2L, 3L), Array(4L, 5L, -6L)),
      (Array.empty[Long], Array.empty[Long]),
      (Array(7L), Array(2L, 9L))) // length mismatch: shorter bounds
      .toDF("a", "b")
      .select(graft.functions.int8Dot($"a", $"b").as("d"),
        aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L),
          (acc, v) => acc + v).as("h"))
    val rows = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    assert(rows.map(_._1).toSeq == Seq(-24L, 0L, 14L))
    // HOF zip_with pads the short side with null (nulling the whole sum);
    // our expression defines the shorter-bounded sum instead — compare
    // only where lengths agree
    assert(rows.take(2).forall(t => t._2.contains(t._1)))
  }

  test("quantizedTopK with full coarseK degenerates to exact brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("id", "vec")
    val queries = corpus.filter($"id" < 3)
      .select($"id".as("qid"), $"vec".as("qvec"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .sortBy(t => (t._1, t._2))
    val exact = norm(SimilaritySearch.bruteForceTopK(corpus, queries, 5))
    val quant = norm(SimilaritySearch.quantizedTopK(corpus, queries,
      k = 5, coarseK = 60))
    assert(quant.toSeq == exact.toSeq)
  }

  test("SimilaritySearch.rrfFuse sums reciprocal ranks, absent docs free") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("qid", "id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("qid", "id", "rank")
    val got = SimilaritySearch.rrfFuse(Seq(a, b), k = 3, c = 0)
      .collect().map(r => (r.getLong(3), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // d20: 1e6/2 + 1e6/1 = 1.5e6 wins; d10: 1e6; d30: 5e5
    assert(got.toSeq == Seq((1L, 20L, 1500000L), (2L, 10L, 1000000L),
      (3L, 30L, 500000L)))
  }

  test("Multimodal.resizeStub area-averages; sparse buckets 0; empty -> ''") {
    import spark.implicits._
    // 4 bytes → 2 buckets: mean(10,20)=15, mean(30,41)=35 (integer div)
    assert(Multimodal.resizeStub(Array[Byte](10, 20, 30, 41), 2).toSeq
      == Seq(15, 35))
    // short input: byte i lands in bucket i*K/len; the rest are 0
    assert(Multimodal.resizeStub(Array[Byte](100), 4).toSeq
      == Seq(100, 0, 0, 0))
    val blobs = Seq((1L, "aabb", "t"), (2L, "", "t"))
      .toDF("id", "content", "mime")
      .select($"id", $"content".cast("binary").as("content"), $"mime")
      .as[Multimodal.Blob]
    val got = Multimodal.resize(blobs, 2).collect()
      .map(r => (r.id, r.resized)).toMap
    assert(got(1L) == "97,98" && got(2L) == "")
  }

  test("AsofJoin == brute-force argmax on seeded random data, both directions") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val left = (0 until 200).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong))
      .toDF("lid", "k", "sec")
      .select($"lid", $"k", timestamp_seconds($"sec").as("t"))
    val right = (0 until 150).map(i =>
      (1000L + i, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong))
      .toDF("rid", "k", "sec")
      .select($"rid", $"k", timestamp_seconds($"sec").as("t"))
    for (dir <- Seq("backward", "forward")) {
      // (lid -> matched right timestamp) from the one distributed run
      val got = AsofJoin.asofJoin(left, right, "k", "t", direction = dir)
        .collect()
        .map(r => (r.getLong(0), Option(r.getTimestamp(5))))
        .toMap
      val cmp = if (dir == "backward") "r.t <= l.t" else "r.t >= l.t"
      val pick = if (dir == "backward") "max(r.t)" else "min(r.t)"
      left.createOrReplaceTempView("al")
      right.createOrReplaceTempView("ar")
      val brute = spark.sql(
        s"""SELECT l.lid, (SELECT $pick FROM ar r
           |  WHERE r.k = l.k AND $cmp) AS bt FROM al l""".stripMargin)
        .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1))))
        .toMap
      assert(got.keySet == brute.keySet)
      got.foreach { case (lid, m) =>
        assert(m == brute(lid), s"$dir lid=$lid: got $m vs ${brute(lid)}")
      }
    }
  }

  test("Barcodes.labelLayout triplicate: 4th column blank, reference offsets") {
    import spark.implicits._
    // triplicate on a 4-wide sheet (labelmaker.py:89-97): 3 copies + one
    // blank before every barcode after the first → every idx%4==3 label
    // on the sheet is blank
    val codes = Seq(("AAA", 10L), ("BBB", 20L), ("CCC", 30L))
      .toDF("code", "ord")
    val rows = Barcodes.labelLayout(codes, "code", "ord",
        copies = 3, blankEvery = 1, across = 4, down = 20,
        barcodeType = "KIT", referenceText = "ref")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getBoolean(3), r.getLong(6), r.getLong(7))).sortBy(_._1)
    // barcode m: blank at 4m-1 (m>0), copies at 4m..4m+2
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
    assert(rows.filter(_._3).map(_._1).toSeq == Seq(3L, 7L))
    assert(rows.filter(_._2.contains("BBB")).map(_._1).toSeq == Seq(4L, 5L, 6L))
    // grid: seq 5 → row 1, col 1 on a 4-wide sheet
    val r5 = rows.find(_._1 == 5L).get
    assert(r5._4 == 1L && r5._5 == 1L)
    // bucket-boundary ordinals: ords 5000 apart span 24 buckets
    val many = (0L until 40L).map(i => (f"C$i%03d", i * 5000))
      .toDF("code", "ord")
    val seqs = Barcodes.labelLayout(many, "code", "ord",
        copies = 2, blankEvery = 3, across = 7, down = 15, "S", "r")
      .collect().map(_.getLong(0)).sorted
    // 40 barcodes × 2 copies + floor(39/3)=13 blanks = 93 labels, dense
    assert(seqs.length == 93 && seqs.head == 0L && seqs.last == 92L
      && seqs.distinct.length == 93)
  }

  test("scd2 + PIT lookup == brute-force last-event on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random keyed update log (duplicate states and same-second events
    // included on purpose) + random probes
    val log = (0 until 300).map(i =>
      (rnd.nextInt(10).toLong, rnd.nextInt(50).toLong, i.toLong,
        s"s${rnd.nextInt(3)}"))
      .toDF("k", "sec", "seq", "v")
    val probes = (0 until 120).map(i =>
      (1000L + i, rnd.nextInt(10).toLong, rnd.nextInt(55).toLong))
      .toDF("pid", "k", "t")
    val hist = EventAnalytics.scd2(log, "k", "sec", "seq", "v")
    val got = probes.join(hist, Seq("k"))
      .filter($"valid_from" <= $"t" &&
        ($"valid_to".isNull || $"t" < $"valid_to"))
      .collect()
      .map(r => (r.getLong(r.fieldIndex("pid")),
        r.getString(r.fieldIndex("state")))).toMap
    // brute force: the state at probe time t is the value of the last
    // update with sec <= t (ties broken by seq — change suppression must
    // not alter any lookup)
    log.createOrReplaceTempView("ulog")
    probes.createOrReplaceTempView("uprobes")
    val brute = spark.sql(
      """SELECT p.pid, (SELECT max_by(v, struct(sec, seq)) FROM ulog u
        |  WHERE u.k = p.k AND u.sec <= p.t) AS v
        |FROM uprobes p""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    // every PIT hit must equal brute force; probes before any update
    // appear in neither
    brute.foreach { case (pid, bv) =>
      assert(got.get(pid) == bv, s"pid=$pid: got ${got.get(pid)} vs $bv")
    }
    assert(got.keySet == brute.filter(_._2.isDefined).keySet)
  }

  test("retention matrix == brute cohort counting on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val raw = (0 until 400).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(15).toLong))
    val d = raw.toDF("user_id", "day").distinct()
    val cohort = d.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val got = d.join(cohort, Seq("user_id"))
      .groupBy($"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val dedup = raw.distinct
    val coh = dedup.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val brute = dedup.groupBy(e => (coh(e._1), e._2 - coh(e._1)))
      .view.mapValues(_.size.toLong).toMap
    assert(got == brute)
  }

  test("bpePairCounts == naive pair counting on seeded random text") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val alphabet = "abcde"
    def word() = (0 until (1 + rnd.nextInt(6)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (0 until 60).map(_ =>
      (0 until (1 + rnd.nextInt(10))).map(_ => word()).mkString(" "))
    val got = TextAnalysis.bpePairCounts(docs.toDF("text"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val brute = docs.flatMap(_.toLowerCase.trim.split("\\s+"))
      .filter(_.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == brute)
  }

  test("OHLC bars == brute per-bucket selection on seeded random events") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val raw = (0 until 300).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(500).toLong * 1000L, i.toLong,
        rnd.nextDouble()))
    val bars = streaming.StreamingEtl.ohlcBars(
        raw.toDF("user", "sec", "event_id", "value")
          .select($"user", timestamp_seconds($"sec").as("ts"), $"event_id",
            $"value"),
        "ts", "user", window = "1 hour", watermark = "100 days")
      .collect()
      .map(r => ((r.getLong(1), r.getTimestamp(0).getTime / 1000),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    val brute = raw.groupBy(e => (e._1, e._2 / 3600 * 3600)).map {
      case (k, evs) =>
        val ord = evs.sortBy(e => (e._2, e._3))
        k -> ((evs.size.toLong, ord.head._4, evs.map(_._4).max,
          evs.map(_._4).min, ord.last._4))
    }
    assert(bars.size == brute.size)
    brute.foreach { case (k, exp) =>
      assert(bars(k) == exp, s"$k: got ${bars(k)} vs $exp")
    }
  }

  test("gapFillForward == per-key brute fill on seeded random sparse data") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val raw = (0 until 25).flatMap { k =>
      val days = (0 until (1 + rnd.nextInt(8)))
        .map(_ => rnd.nextInt(30).toLong).distinct
      days.map(d => (k.toLong, d, 1L + rnd.nextInt(9).toLong,
        rnd.nextInt(1000).toLong))
    }
    val daily = raw.toDF("k", "day", "n", "v")
    val got = TimeSeries.gapFillForward(daily, "k", "day", "n", "v")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val brute = raw.groupBy(_._1).flatMap { case (k, rows) =>
      val byDay = rows.map(r => r._2 -> (r._3, r._4)).toMap
      val (d0, d1) = (rows.map(_._2).min, rows.map(_._2).max)
      var carry = 0L
      (d0 to d1).map { d =>
        val (n, v) = byDay.getOrElse(d, (0L, -1L))
        if (v != -1L) carry = v
        (k, d) -> ((n, carry))
      }
    }
    assert(got.size == brute.size)
    brute.foreach { case (kd, exp) =>
      assert(got(kd) == exp, s"$kd: got ${got(kd)} vs $exp")
    }
  }

  test("funnelStages == sequential per-user fold on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val types = Vector("view", "click", "purchase", "other")
    val raw = (0 until 400).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(100).toLong,
        types(rnd.nextInt(4))))
    val e = raw.toDF("user_id", "sec", "event_type")
    val got = EventAnalytics.funnelStages(e, "user_id", "event_type", "sec",
        Seq("view", "click", "purchase"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("stage")))).toMap
    // brute force: per user, walk stages over the time-sorted log; each
    // stage's first-reach is the min sec >= the previous stage's reach
    val brute = raw.groupBy(_._1).map { case (u, evs) =>
      var stage = 0L
      var clock = Long.MinValue
      for (st <- Seq("view", "click", "purchase")) {
        val hit = evs.filter(x => x._3 == st && x._2 >= clock)
          .map(_._2).sorted.headOption
        if (hit.isDefined && stage == Seq("view", "click", "purchase")
              .indexOf(st)) {
          stage += 1; clock = hit.get
        }
      }
      u -> stage
    }
    brute.foreach { case (u, s) =>
      assert(got(u) == s, s"user=$u: got ${got(u)} vs brute $s")
    }
  }

  test("mergeAggState is associative and split-order-independent") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0 until 300).map(_ =>
      (s"g${rnd.nextInt(6)}", rnd.nextInt(100).toLong))
    def partials(xs: Seq[(String, Long)]) =
      xs.toDF("g", "x").groupBy("g")
        .agg(count(lit(1)).as("cnt"), sum($"x").as("s"))
    val full = partials(rows).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    // three random splits, merged two different ways
    val (a, rest) = rows.splitAt(100)
    val (b, c) = rest.splitAt(120)
    def m(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      Merge.mergeAggState(x, y, Seq("g"), Seq("cnt", "s"))
    for (merged <- Seq(m(m(partials(a), partials(b)), partials(c)),
        m(partials(c), m(partials(b), partials(a))))) {
      val got = merged.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      assert(got.toSeq == full.toSeq)
    }
  }

  test("funnelStages: same-second ties advance; out-of-order does not") {
    import spark.implicits._
    val e = Seq(
      // u1: view@10, click@10 (tie advances), purchase@9 (before → no),
      //     purchase@20 (counts)
      (1L, 10L, "view"), (1L, 10L, "click"), (1L, 9L, "purchase"),
      (1L, 20L, "purchase"),
      // u2: click@5 BEFORE first view@8 → stage stops at 1
      (2L, 8L, "view"), (2L, 5L, "click"),
      // u3: no view at all → stage 0 even with later events
      (3L, 4L, "click"), (3L, 6L, "purchase"))
      .toDF("user_id", "sec", "event_type")
    val got = EventAnalytics.funnelStages(e, "user_id", "event_type", "sec",
        Seq("view", "click", "purchase"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("stage")))).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("scd2: consecutive equal states merge; intervals chain exactly") {
    import spark.implicits._
    val e = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), // duplicate state merges
      (1L, 30L, 3L, "B"), (1L, 40L, 4L, "A"),
      (2L, 5L, 5L, "X")) // single event → one open interval
      .toDF("user_id", "sec", "event_id", "event_type")
    val got = EventAnalytics.scd2(e, "user_id", "sec", "event_id",
        "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 10L, 30L, "A"), (1L, 30L, 40L, "B"), (1L, 40L, -1L, "A"),
      (2L, 5L, -1L, "X")))
  }

  test("FuzzyJoin.symspellJoin == brute-force levenshtein, k=1 and k=2") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // short strings over a 3-letter alphabet so near-pairs are dense;
    // includes empty and 1-char strings (deletion-variant edge cases)
    val strs = ("" +: "a" +: (0 until 120).map(_ =>
      (0 until 2 + rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(3)).toChar)
        .mkString)).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("id", "s")
    for (k <- Seq(1, 2)) {
      val got = FuzzyJoin.symspellJoin(df, "id", "s", maxDist = k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
        .toSet
      val brute = (for {
        (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
        d = levDist(sa, sb) if d <= k
      } yield (ia, ib, d.toLong)).toSet
      assert(got == brute, s"k=$k: ${got.diff(brute)} / ${brute.diff(got)}")
    }
  }

  test("Sketches: shard-sketch union == one-pass global sketch, estimate sane") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 5000 rows over ~1200 distinct values, skewed across 8 shards
    val rows = (0 until 5000).map(i =>
      (i % 8L, s"v${rnd.nextInt(1200)}"))
    val df = rows.toDF("src", "v").repartition(8)
    val exact = rows.map(_._2).distinct.size.toLong
    val shards = Sketches.shardSketches(df, "src", "v")
    assert(shards.count() == 8)
    val merged = Sketches.mergedEstimate(shards).collect()(0)
    // HLL union is register-lossless: merging shard sketches must give
    // EXACTLY the estimate of a single sketch over the whole frame
    val direct = df.agg(
      hll_sketch_estimate(hll_sketch_agg($"v", lit(12)))).collect()(0)
      .getLong(0)
    assert(merged.getLong(0) == direct,
      s"merged=${merged.getLong(0)} direct=$direct")
    assert(merged.getLong(1) == 5000L)
    // lgK=12 keeps the estimate within ~5% of exact at this cardinality
    assert(math.abs(merged.getLong(0) - exact) <= exact / 20,
      s"estimate ${merged.getLong(0)} vs exact $exact")
    // per-shard estimates cover every shard and sum >= global distinct
    val per = Sketches.shardEstimates(shards).collect()
    assert(per.length == 8 && per.map(_.getLong(1)).sum >= exact)
  }

  test("Sampling.proportionalAllocation == largest-remainder reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // includes zero-weight groups and heavy skew
    val weights = (0 until 400).map(i =>
      (s"g$i", if (i % 37 == 0) 0L else rnd.nextInt(1 << 20).toLong))
    val rows = weights.flatMap { case (g, w) => // split weights over rows
      if (w == 0) Seq((g, 0L)) else Seq((g, w / 2), (g, w - w / 2)) }
    for (total <- Seq(0L, 1L, 999983L)) {
      val got = Sampling.proportionalAllocation(
          rows.toDF("g", "w"), "g", "w", total)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      // driver-side reference: exact BigInt largest-remainder
      val c = weights.map(_._2).map(BigInt(_)).sum
      val fq = weights.map { case (g, w) =>
        (g, (BigInt(total) * w / c, BigInt(total) * w % c)) }
      val deficit = (BigInt(total) - fq.map(_._2._1).sum).toInt
      val bump = fq.sortBy { case (g, (_, rem)) => (-rem, g) }
        .take(deficit).map(_._1).toSet
      val want = fq.map { case (g, (f, _)) =>
        (g, (f + (if (bump(g)) 1 else 0)).toLong) }.toMap
      assert(got == want, s"total=$total diff=${
        got.collect { case (k, v) if want(k) != v => (k, v, want(k)) }.take(5)}")
      assert(got.values.sum == total)
    }
    // degenerate: all-zero weights -> all-zero quotas, no division error
    val zeros = Sampling.proportionalAllocation(
        Seq(("a", 0L), ("b", 0L)).toDF("g", "w"), "g", "w", 1000L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(zeros == Map("a" -> 0L, "b" -> 0L))
  }

  test("Multimodal.phashPairs == brute-force hamming; aHash conventions") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // random 32-bit hashes plus planted near-dups at distances 0..8
    val base = (0 until 150).map(i => (i.toLong, rnd.nextInt().toLong & 0xffffffffL))
    val planted = (0 until 9).map { d =>
      val (_, h) = base(d)
      (500L + d, (0 until d).foldLeft(h)((x, b) => x ^ (1L << (b * 3))))
    }
    val all = base ++ planted
    val df = all.toDF("id", "phash")
    val got = Multimodal.phashPairs(df, bits = 32, maxDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    val brute = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (ia, ib, d.toLong)).toSet
    assert(got == brute,
      s"missing=${brute.diff(got).take(5)} extra=${got.diff(brute).take(5)}")
    // aHash: empty blob -> 0; constant bytes -> all bits set
    val blobs = Seq((1L, "", "t"), (2L, "aaaaaaaa", "t"))
      .toDF("id", "content", "mime")
      .select($"id", $"content".cast("binary").as("content"), $"mime")
      .as[Multimodal.Blob]
    val h = Multimodal.aHash(blobs, bits = 8).collect()
      .map(p => (p.id, p.phash)).toMap
    assert(h(1L) == 0L && h(2L) == 255L, h)
  }

  test("Profile.topKValues == brute-force per-column top-k; nulls skipped") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // skewed low-cardinality column + high-cardinality column + nulls
    val rows = (0 until 3000).map { i =>
      (if (i % 11 == 0) null else s"s${rnd.nextInt(4)}",
        s"v${rnd.nextInt(800)}")
    }
    val df = rows.toDF("a", "b")
    val got = Profile.topKValues(df, Seq("a", "b"), k = 6)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sorted.toSeq
    def brute(vs: Seq[String], name: String) =
      vs.filter(_ != null).groupBy(identity).map { case (v, g) => (v, g.size.toLong) }
        .toSeq.sortBy { case (v, c) => (-c, v) }.take(6).zipWithIndex
        .map { case ((v, c), i) => (name, v, c, i + 1L) }
    val want = (brute(rows.map(_._1), "a") ++ brute(rows.map(_._2), "b"))
      .sorted
    assert(got == want, s"got=${got.take(4)} want=${want.take(4)}")
  }

  test("TextAnalysis.confusableNormalize maps homoglyphs, drops zero-width") {
    import spark.implicits._
    val got = Seq("pаgе one", "clеаn",
        "a\u200bb\u200cc\u200dd\uFEFFe", "САКЕ", "plain")
      .toDF("s")
      .select(TextAnalysis.confusableNormalize($"s")).as[String]
      .collect().toSeq
    assert(got == Seq("page one", "clean", "abcde", "CAKE", "plain"), got)
  }

  test("TextAnalysis.pmiCollocations ranks a fused pair over frequent fillers") {
    import spark.implicits._
    // "new york" always co-occurs; "the" pairs with everything
    val docs = (0 until 30).map(i =>
      (i.toLong, s"the city of new york has the tall tower $i"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.pmiCollocations(docs, "text", minCount = 5, k = 5)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(5)))
    // top pair must be one of the deterministic always-fused bigrams and
    // every returned score must be >= the last (descending)
    assert(r.nonEmpty && r.map(_._3).toSeq == r.map(_._3).sortBy(-_).toSeq)
    val top = r.head
    assert(Set(("new", "york"), ("tall", "tower"), ("city", "of"))
      .contains((top._1, top._2)), r.toSeq.toString)
    // "the" appears 60 times; any pair with it must score below the top
    assert(!Set(top._1, top._2).contains("the"))
  }

  test("EventAnalytics.trendSlopes == exact least squares; degenerate nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (0 until 400).map { i =>
      val k = (i % 7).toLong
      (k, 1700000000L + rnd.nextInt(100000).toLong,
        math.round(rnd.nextDouble() * 1e6) / 1e6 * 100)
    } ++ Seq((100L, 1700000050L, 5.0), // n = 1 -> null
      (101L, 1700000100L, 1.0), (101L, 1700000100L, 9.0)) // const x -> null
    val got = EventAnalytics.trendSlopes(
        rows.toDF("k", "sec", "v"), "k", "sec", "v", 1700000000L)
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null
        else java.lang.Double.valueOf(r.getDouble(2)))).toMap
    assert(got(100L) == null && got(101L) == null)
    // BigDecimal reference, same rational then one double divide
    for (k <- 0L until 7L) {
      val pts = rows.filter(_._1 == k)
      val n = BigDecimal(pts.size)
      // mirror the engines' double -> decimal(18,6) cast (round half-up)
      def d6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val sx = pts.map(p => BigDecimal(p._2 - 1700000000L)).sum
      val sy = pts.map(p => d6(p._3)).sum
      val sxy = pts.map(p =>
        BigDecimal(p._2 - 1700000000L) * d6(p._3)).sum
      val sxx = pts.map(p => BigDecimal(p._2 - 1700000000L).pow(2)).sum
      val want = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      assert(got(k) == want, s"k=$k ${got(k)} vs $want")
    }
  }

  test("Privacy.anonymityAudit flags small and homogeneous groups") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, "X"), ("a", 1L, "Y"), ("a", 1L, "Z"), // k=3, l=3
      ("b", 2L, "X"), ("b", 2L, "X"), ("b", 2L, "X"), // k=3, l=1
      ("c", 3L, "X")) // k=1
      .toDF("q1", "q2", "s")
    val got = Privacy.anonymityAudit(df, Seq("q1", "q2"), "s", k = 2, l = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).sortBy(_._1).toSeq
    assert(got == Seq(("a", 3L, 3L, true, true), ("b", 3L, 1L, true, false),
      ("c", 1L, 1L, false, false)))
    val viol = Privacy.kAnonymityViolations(df, Seq("q1", "q2"), k = 2)
      .collect().map(_.getString(0)).toSeq
    assert(viol == Seq("c"))
  }

  test("mutualKnnGraph keeps only symmetric edges; hubs pruned") {
    import spark.implicits._
    // a tight pair (1,2), a hub 9 that everyone points at but whose own
    // top-1 is the pair — with k=1 only mutual edges survive
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.2f)),
      (4L, Array(0.0f, 1.0f, 0.21f)),
      (9L, Array(0.5f, 0.5f, 0.1f))) // hub-ish, similar to everything
      .toDF("id", "vec")
    val e1 = SimilaritySearch.mutualKnnGraph(vecs, k = 1, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e1 == Set((1L, 2L), (3L, 4L)), e1)
    // k = corpus size - 1 degenerates to ALL pairs (everything mutual)
    val eAll = SimilaritySearch.mutualKnnGraph(vecs, k = 4, exact = true)
      .count()
    assert(eAll == 10L)
  }

  test("mutualKnnGraph IVF default: high recall vs exact ground truth") {
    import spark.implicits._
    // 60 deterministic pseudo-random vectors in 8 dims (md5-derived, no
    // RNG state) — enough that the 32-cell / 4-probe index is a real
    // subset of the corpus rather than a degenerate all-probe
    def comp(i: Long, d: Int): Float = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v$i|$d".getBytes("UTF-8"))
      ((dig(0) & 0xff) - 127.5f) / 127.5f
    }
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => comp(i, d)))).toDF("id", "vec")
    val exact = SimilaritySearch.mutualKnnGraph(vecs, k = 5, exact = true)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilaritySearch.mutualKnnGraph(vecs, k = 5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // IVF prunes candidates; recall vs the exact ground truth stays
    // high on this pinned deterministic corpus (pruning can also shift
    // ranks, so approx is compared by recall, not subset)
    assert(exact.nonEmpty && approx.nonEmpty)
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall, exact=${exact.size} approx=${approx.size}")
  }

  test("mutualKnnGraph two-level occupancy mode: recall pinned vs exact") {
    import spark.implicits._
    // the constant-occupancy IMI path (targetOccupancy > 0) — the
    // 100 TB mode. 400 deterministic md5-derived vectors; occupancy 16
    // → 32 cells via a 6×6 two-level quantizer, a REAL subset per probe
    def comp(i: Long, d: Int): Float = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v$i|$d".getBytes("UTF-8"))
      ((dig(0) & 0xff) - 127.5f) / 127.5f
    }
    val vecs = (0L until 400L).map(i =>
      (i, Array.tabulate(8)(d => comp(i, d)))).toDF("id", "vec")
    val exact = SimilaritySearch.mutualKnnGraph(vecs, k = 3, exact = true)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = SimilaritySearch.mutualKnnGraph(vecs, k = 3,
        targetOccupancy = 16, nprobeSuper = 3, nprobe = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && probed.nonEmpty)
    // everything is deterministic (md5 vectors, argmax tie-breaks), so
    // the recall is a constant of the implementation: measured 0.963
    // (exact=431, probed=430; was 0.812 before candidate
    // symmetrization). Floor pinned just below to catch any routing/
    // assignment regression without over-fitting the decimals.
    val recall = probed.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95,
      s"two-level recall $recall, exact=${exact.size} probed=${probed.size}")
    // AUTO-ROUTING: all-defaults past autoThreshold = the two-level
    // form at occupancy 8; below it = the flat max(32, √N)-cell IVF
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val autoTwo = edges(SimilaritySearch.mutualKnnGraph(vecs, k = 3,
      autoThreshold = 100L))
    val pinnedTwo = edges(SimilaritySearch.mutualKnnGraph(vecs, k = 3,
      targetOccupancy = 8, nprobeSuper = 4, nprobe = 4))
    assert(autoTwo === pinnedTwo, "past the threshold, auto == two-level")
    val autoFlat = edges(SimilaritySearch.mutualKnnGraph(vecs, k = 3))
    val pinnedFlat = edges(SimilaritySearch.mutualKnnGraph(vecs, k = 3,
      numCells = 32))
    assert(autoFlat === pinnedFlat, "below the threshold, auto == flat")
  }

  test("spanCorruptionPairs: exact masking layout, round-trip token count") {
    import spark.implicits._
    // 24 tokens = 8 spans; spans 0 and 7 masked (s % 7 == 0)
    val text = (0 until 24).map(i => s"t$i").mkString(" ")
    val r = TextAnalysis.spanCorruptionPairs(
        Seq((1L, text), (2L, "")).toDF("doc_id", "text"),
        "doc_id", "text", spanLen = 3, everyNth = 7)
      .collect().map(x => (x.getLong(0),
        (x.getString(1), x.getString(2), x.getLong(3)))).toMap
    val (in1, tgt1, n1) = r(1L)
    assert(n1 == 2L)
    assert(in1 == "<X_0> " + (3 until 21).map(i => s"t$i").mkString(" ")
      + " <X_1>")
    assert(tgt1 == "<X_0> t0 t1 t2 <X_1> t21 t22 t23")
    // input non-sentinel tokens + target span tokens == original tokens
    assert(in1.split(" ").count(!_.startsWith("<X_")) +
      tgt1.split(" ").count(!_.startsWith("<X_")) == 24)
    // blank doc: single empty token, span 0 masked
    val (in2, tgt2, n2) = r(2L)
    assert(n2 == 1L && in2 == "<X_0>" && tgt2 == "<X_0> ")
  }

  test("capPerGroupVar: variable caps enforced in hash order; no-cap drops") {
    import spark.implicits._
    val rows = (0 until 120).map(i => (s"g${i % 4}", i.toLong))
      .toDF("g", "id")
    // g0 capped under its 30 rows, g1 over, g2 zero, g3 absent from caps
    val caps = Seq(("g0", 10L), ("g1", 99L), ("g2", 0L)).toDF("g", "cap")
    val got = Sampling.capPerGroupVar(rows, "g", "id", caps)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.getOrElse("g2", Set()) == Set() && !got.contains("g3"))
    assert(got("g1").size == 30) // cap above count keeps everything
    // g0's kept 10 = the 10 smallest by the md5 hash order
    def h(id: Long) = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$id|graft").take(15), 16)
    val want = (0 until 120).filter(i => i % 4 == 0).map(_.toLong)
      .sortBy(id => (h(id), id)).take(10).toSet
    assert(got("g0") == want)
    // a caller's own "cap" column must not collide with the helper join
    val withCap = rows.withColumn("cap", lit(999L))
    val n = Sampling.capPerGroupVar(withCap, "g", "id", caps).count()
    assert(n == got.values.map(_.size).sum)
  }

  test("Profile.histogram == brute-force bins; empty bins, max clamp, const") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // bimodal so middle bins are empty; max value must clamp to last bin
    val vs = (0 until 500).map(_ => rnd.nextDouble() * 10) ++
      (0 until 500).map(_ => 90 + rnd.nextDouble() * 10)
    val got = Profile.histogram(vs.toDF("v"), "v", nBins = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val lo = vs.min; val hi = vs.max
    val want = (0L until 8L).map(b => b -> vs.count(v =>
      math.min(7L, math.floor((v - lo) * 8 / (hi - lo)).toLong) == b)
      .toLong).toMap
    assert(got == want, s"got=$got want=$want")
    assert(got.values.sum == 1000L && (2L to 5L).forall(got(_) == 0L))
    // degenerate constant column: everything in bin 0
    val const = Profile.histogram(
        Seq(5.0, 5.0, 5.0).toDF("v"), "v", nBins = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(const == Map(0L -> 3L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("Dedup.lshRecallAudit: exact dup found by both paths, invariants hold") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (1L, text), (2L, text), // exact dup: both paths must find it
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "completely different corpus text with nothing shared at all"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecallAudit(df, "doc_id", "text").collect()(0)
    val (nE, nL, nB) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nE == 1 && nB >= 1 && r.getDouble(5) == 1.0, r)
    assert(r.getLong(3) == nE - nB && r.getLong(4) == nL - nB)
    assert(nB <= math.min(nE, nL))
    // all-unique slice: zero counts (not nulls) and NULL recall
    val z = Dedup.lshRecallAudit(
        df.filter($"doc_id" >= 3L), "doc_id", "text").collect()(0)
    assert((0 to 4).forall(i => z.getLong(i) == 0L) && z.isNullAt(5), z)
  }

  test("connectedComponentsIncremental == full recompute on random splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // random sparse graph over 80 nodes, including edges that MERGE two
    // previously separate old components via a new edge
    val edges = (0 until 90).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    for (cut <- Seq(0.0, 0.5, 1.0)) CcPaths.foreach(spark) { path =>
      val n = (edges.size * cut).toInt
      val (oldE, newE) = edges.splitAt(n)
      val full = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val prior =
        if (oldE.isEmpty) Seq.empty[(Long, Long)].toDF("id", "cluster_id")
        else Dedup.connectedComponents(oldE.toDF("id_a", "id_b"))
          .select($"id", $"cluster_id")
      val inc = Dedup.connectedComponentsIncremental(prior,
          if (newE.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
          else newE.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(inc == full, s"$path cut=$cut diff=${
        inc.collect { case (k, v) if full.get(k) != Some(v) => (k, v) }.take(5)}")
    }
  }

  test("Profile.proportionCi == driver Wilson reference; bounds behave") {
    import spark.implicits._
    val rows = Seq.fill(80)(("a", true)) ++ Seq.fill(20)(("a", false)) ++
      Seq.fill(8)(("b", true)) ++ Seq.fill(2)(("b", false)) ++
      Seq.fill(5)(("c", true)) // rate 1.0 edge
    val got = Profile.proportionCi(rows.toDF("g", "ok"), "g", $"ok")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    def wilson(k: Long, n: Long): (Double, Double) = {
      val z = 1.96; val z2 = z * z; val nd = n.toDouble
      val p = k.toDouble / nd
      val denom = 1.0 + z2 / nd
      val center = p + z2 / (2.0 * nd)
      val rad = z * math.sqrt((p * (1.0 - p)) / nd + z2 / (4.0 * (nd * nd)))
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r6((center - rad) / denom), r6((center + rad) / denom))
    }
    for ((g, (n, k, rate, lo, hi)) <- got) {
      val (wl, wh) = wilson(k, n)
      assert(lo == wl && hi == wh, s"$g: ($lo,$hi) vs ($wl,$wh)")
      assert(lo <= rate && rate <= hi && lo >= 0.0 && hi <= 1.0)
    }
    // same rate, larger n -> tighter interval (a: 80/100 vs b: 8/10)
    assert(got("a")._5 - got("a")._4 < got("b")._5 - got("b")._4)
    // rate 1.0: upper bound 1.0 exactly, lower strictly below
    assert(got("c")._5 == 1.0 && got("c")._4 < 1.0)
  }

  test("Dedup.decontaminationCut: surgical spans, full-contamination empty") {
    import spark.implicits._
    val evalSet = Seq("the secret answer is forty two").toDF("text")
    val corpus = Seq(
      (1L, "prefix words the secret answer is forty two suffix words"),
      (2L, "the secret answer is forty two"), // fully contaminated
      (3L, "totally unrelated clean document here"),
      (4L, "")).toDF("doc_id", "text")
    val got = Dedup.decontaminationCut(corpus, evalSet, "doc_id", "text", 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // doc 1: the 6 eval tokens (every trigram of the eval text matches)
    // are cut, the prefix/suffix survive
    assert(got(1L) == (10L, 6L, "prefix words suffix words"), got(1L))
    assert(got(2L) == (6L, 6L, ""), got(2L)) // fully cut -> empty, not null
    assert(got(3L) == (5L, 0L, "totally unrelated clean document here"))
    assert(got(4L) == (0L, 0L, ""))
  }

  test("decontaminationCut autoPrefilter: semi-join prepended on a " +
      "mostly-clean corpus, skipped on a dirty one, results unchanged") {
    import spark.implicits._
    val evalSet = Seq("aa bb cc dd").toDF("text")
    // 200 docs, 4 contaminated (2%) — the production-clean shape
    val clean = (1 to 200).map(i => (i.toLong,
      if (i % 50 == 1) s"x$i aa bb cc dd y$i"
      else s"w${i}a w${i}b w${i}c w${i}d w${i}e")).toDF("doc_id", "text")
    val routed = Dedup.decontaminationCut(clean, evalSet, "doc_id",
      "text", 3, autoPrefilter = true)
    assert(routed.queryExecution.sparkPlan.toString.contains("LeftSemi"),
      "clean corpus must route through the semi-join prefilter")
    val single = Dedup.decontaminationCut(clean, evalSet, "doc_id", "text", 3)
    assert(routed.collect().map(_.toSeq).toSet ===
      single.collect().map(_.toSeq).toSet)
    // every doc contaminated — the prefilter would prune nothing
    val dirty = (1 to 200).map(i => (i.toLong, s"x$i aa bb cc dd y$i"))
      .toDF("doc_id", "text")
    val unrouted = Dedup.decontaminationCut(dirty, evalSet, "doc_id",
      "text", 3, autoPrefilter = true)
    assert(!unrouted.queryExecution.sparkPlan.toString.contains("LeftSemi"),
      "dirty corpus must stay single-stage")
    val dirtySingle = Dedup.decontaminationCut(dirty, evalSet, "doc_id",
      "text", 3)
    assert(unrouted.collect().map(_.toSeq).toSet ===
      dirtySingle.collect().map(_.toSeq).toSet)
  }

  test("Sketches.bloomPrunedNewKeys == plain anti-join; empty corpus edge") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val corpusKeys = (0 until 600).map(_ => s"k${rnd.nextInt(500)}")
      .distinct.toDF("fp")
    val batch = (0 until 300).map(i => (s"k${rnd.nextInt(1000)}", i.toLong))
      .toDF("fp", "row_id")
    val got = Sketches.bloomPrunedNewKeys(corpusKeys, batch, "fp",
        expectedItems = 1000L, numBits = 1L << 14)
      .collect().map(_.getLong(1)).sorted.toSeq
    val want = batch.join(corpusKeys, Seq("fp"), "left_anti")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(got == want, s"got ${got.size} vs ${want.size}")
    // empty corpus: the sketch aggregate yields null -> everything new
    val empty = Seq.empty[String].toDF("fp")
    assert(Sketches.bloomPrunedNewKeys(empty, batch, "fp", 10L, 1024L)
      .count() == 300L)
  }

  test("TextAnalysis.langConfidence agrees with langId; margin arithmetic") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat of the house is in a box"), // clearly en
      (2L, "la la la"), // es/fr tie on 'la' -> lexicographic es, margin 0
      (3L, "xyzzy qwerty plugh")) // no markers anywhere: all zero, margin 0
      .toDF("doc_id", "text")
    val conf = TextAnalysis.langConfidence(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ids = df.select($"doc_id",
        TextAnalysis.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((k, (lang, top, second, margin)) <- conf) {
      assert(lang == ids(k), s"$k: $lang vs ${ids(k)}")
      assert(margin == top - second && second <= top)
    }
    assert(conf(1L)._1 == "en" && conf(1L)._4 > 0)
    assert(conf(2L)._1 == "es" && conf(2L)._4 == 0) // tie -> mixed signal
    assert(conf(3L) == ("de", 0L, 0L, 0L)) // no evidence at all
  }

  test("Profile.tableChecksum: order/partition-invariant, mutation-sensitive") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"v$i")).toDF("k", "v")
    def sum3(d: org.apache.spark.sql.DataFrame) =
      Profile.tableChecksum(d, Seq("k", "v")).collect()(0)
        .toSeq.asInstanceOf[Seq[Any]]
    val base = sum3(df)
    // any partitioning/order gives the identical certificate
    assert(sum3(df.repartition(13)) == base)
    assert(sum3(df.orderBy($"v".desc)) == base)
    // one mutated cell changes both digests but not the count
    val mutated = sum3(df.withColumn("v",
      when($"k" === 250L, "vX").otherwise($"v")))
    assert(mutated.head == base.head)
    assert(mutated(1) != base(1) && mutated(2) != base(2))
  }

  test("Web.canonicalizeUrl: ports, case, slashes, params, fragments") {
    import spark.implicits._
    val cases = Seq(
      // default port + host case + trailing slash + utm + fragment
      "HTTPS://Example.COM:443/a/b/#x" -> "https://example.com/a/b",
      "http://EX.com:80/" -> "http://ex.com/",
      // non-default port is kept; https keeps :80 too
      "http://ex.com:8080/p" -> "http://ex.com:8080/p",
      "https://ex.com:80/p" -> "https://ex.com:80/p",
      // empty path -> root; query params sorted, utm_* dropped
      "https://ex.com" -> "https://ex.com/",
      "https://ex.com/p?z=1&a=2&utm_campaign=c" -> "https://ex.com/p?a=2&z=1",
      // utm-only query drops the '?' entirely; multiple trailing slashes
      "https://ex.com/p///?utm_source=s" -> "https://ex.com/p",
      "https://ex.com/p?b=2&a=1#frag" -> "https://ex.com/p?a=1&b=2")
    val got = cases.map(_._1).toDF("url")
      .select(Web.canonicalizeUrl($"url")).as[String].collect().toSeq
    assert(got == cases.map(_._2), got.zip(cases).mkString("\n"))
  }

  test("longestPrefixJoin: specificity wins, unmatched stay null") {
    import spark.implicits._
    import graft.operators.PrefixJoin
    val keys = Seq("/a/b/c", "/a/x", "/z/1", "/a/bb/c").toDF("k")
    val rules = Seq(
      ("/a/", "broad", 1L),
      ("/a/b/", "mid", 2L),
      ("/a/b/c", "exact", 3L)).toDF("prefix", "tier", "rid")
    val got = PrefixJoin.longestPrefixJoin(keys, "k", rules, "prefix")
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got("/a/b/c") == (Some("/a/b/c"), Some("exact"), Some(3L)))
    assert(got("/a/x") == (Some("/a/"), Some("broad"), Some(1L)))
    // '/a/bb/c': '/a/b/' is NOT a prefix ('/a/bb' differs at the slash)
    assert(got("/a/bb/c") == (Some("/a/"), Some("broad"), Some(1L)))
    assert(got("/z/1") == (None, None, None))
  }

  test("skyline2D equals the brute-force dominance definition") {
    import spark.implicits._
    import graft.operators.Skyline
    val rnd = new scala.util.Random(42)
    val pts = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      Seq((301L, 39L, 39L), (302L, 39L, 39L), // duplicate frontier point
        (303L, 0L, 0L))
    val df = pts.toDF("id", "x", "y").repartition(7)
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, sx, sy) =>
        sx >= x && sy >= y && (sx > x || sy > y) }
    }.toSet
    val got = Skyline.skyline2D(df, "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
  }

  test("radiusJoin equals the brute-force pair set (boundary-inclusive)") {
    import spark.implicits._
    import graft.operators.SpatialJoin
    val rnd = new scala.util.Random(11)
    val pts = (1 to 200).map(i =>
      (i.toLong, rnd.nextDouble() * 40 - 10, rnd.nextDouble() * 40)) ++
      Seq((201L, 0.0, 0.0), (202L, 3.0, 4.0), // dist exactly 5.0 (25.0)
        (203L, -4.999, 0.0))                  // cell -1 vs cell 0 neighbor
    val df = pts.toDF("id", "x", "y").repartition(5)
    val brute = (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts
      if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= 25.0
    } yield (ia, ib)).toSet
    val got = SpatialJoin.radiusJoin(df, "id", "x", "y", 5.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
    assert(brute.contains((201L, 202L))) // the exact-radius pair survives
  }

  test("optimizer rewrites: hamming<=k → lte, regexp_count>0 → RLIKE") {
    import spark.implicits._
    import graft.plans.{HammingThresholdRewrite, RegexpCountExistenceRewrite}
    spark.experimental.extraOptimizations =
      Seq(HammingThresholdRewrite, RegexpCountExistenceRewrite)
    try {
      // spark.range (not a LocalRelation) so ConvertToLocalRelation
      // cannot fold the filters away before the rewrite is visible
      val df = spark.range(2).select(
        lit("abcd").as("a"),
        when($"id" === 0, "abcf").otherwise("axyf").as("b"),
        when($"id" === 0, "x slow y").otherwise("clean").as("t"))
      val q1 = df.filter(
        graft.functions.hammingDistance($"a", $"b") <= 1)
      assert(q1.queryExecution.optimizedPlan.toString
        .contains("hammingdistancelte"), "threshold rewrite lost")
      assert(q1.count() == 1)
      val q2 = df.filter(regexp_count($"t", lit("\\bslow\\b")) > 0)
      val p2 = q2.queryExecution.optimizedPlan.toString.toLowerCase
      assert(p2.contains("rlike"), p2)
      assert(!p2.contains("regexp_count"), p2)
      assert(q2.count() == 1)
    } finally spark.experimental.extraOptimizations = Nil
  }

  private def levDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }
}
