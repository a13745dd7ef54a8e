package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-9 specs: the ADVICE r8 hardening items (fanOutIfNarrow AQE
  * gating, winnow_minima SQL edge cases, sorted_intersect_count
  * precondition surfacing) plus the round's new operators.
  *
  * Lives in graft.operators so it can exercise the private[operators]
  * helpers directly.
  */
class Round9OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  test("fanOutIfNarrow: shuffle-rooted frame returned untouched (no AQE probe)") {
    import spark.implicits._
    val base = (1 to 100).map(i => (i % 7, i)).toDF("k", "v")
    // shuffle-rooted: groupBy → the helper must return the SAME object
    // without ever touching .rdd (which would finalize the AQE plan by
    // running the aggregate just to read a partition count)
    val agg = base.groupBy("k").agg(sum("v").as("s"))
    assert(Dedup.fanOutIfNarrow(agg) eq agg)
    val joined = base.join(base.withColumnRenamed("v", "w"), "k")
    assert(Dedup.fanOutIfNarrow(joined) eq joined)
  }

  test("fanOutIfNarrow: narrow scan-rooted frame still fans out to parallelism") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fanout").toFile
    try {
      // one row group → one scan split < defaultParallelism(4)
      (1 to 50).map(i => (i.toLong, s"doc $i text")).toDF("id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(new java.io.File(dir, "t").getPath)
      val scan = spark.read.parquet(new java.io.File(dir, "t").getPath)
        .filter(col("id") > 0).select("id", "text") // narrow ops keep the gate open
      val fanned = Dedup.fanOutIfNarrow(scan)
      assert(fanned.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
      assert(fanned.count() == 50)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("winnow_minima SQL: empty array yields empty, null element errors") {
    assert(spark.sql("select winnow_minima(array(), 3)")
      .head().getSeq[Long](0).isEmpty)
    assert(spark.sql("select winnow_minima(array(9L, 4L, 7L, 2L), 2)")
      .head().getSeq[Long](0) == Seq(4L, 2L))
    val e = intercept[Exception] {
      spark.sql("select winnow_minima(array(1L, cast(null as long)), 2)")
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("null array elements")))
  }

  test("symspellJoin candidate-mass guard: fires on a saturated corpus, " +
      "passes through transparently on a healthy one") {
    import spark.implicits._
    // degenerate: 60 copies of the same string — every variant posting
    // has df 60, candidate mass == total pairs == 1770
    val saturated = (1 to 60).map(i => (i.toLong, "abcde")).toDF("id", "s")
    for (k <- Seq(1, 2)) {
      val e = intercept[CandidateMassExceededException] {
        FuzzyJoin.symspellJoin(saturated, "id", "s", maxDist = k,
          maxCandidatePairs = Some(100L))
      }
      assert(e.getMessage.contains("vocabFuzzyPairs"), e.getMessage)
    }
    // healthy vocabulary: guarded result == unguarded result, both paths
    val vocab = Seq("alpha", "alpht", "alphx", "beta", "bet", "gamma",
      "gamm", "delta").zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    for (k <- Seq(1, 2)) {
      val unguarded = FuzzyJoin.symspellJoin(vocab, "id", "s", k)
        .collect().map(_.toSeq).toSet
      val guarded = FuzzyJoin.symspellJoin(vocab, "id", "s", k,
        maxCandidatePairs = Some(1000000L)).collect().map(_.toSeq).toSet
      assert(guarded == unguarded, s"maxDist=$k")
      assert(guarded.nonEmpty, s"maxDist=$k produced no pairs")
    }
  }

  test("stratifiedBandPlan: per-delta widths/band-counts from the " +
      "containment-to-Jaccard bound; unreachable budgets throw") {
    // t=0.7, 64 hashes, maxRatio 8, target 0.9 — the q282 gate point.
    // delta 0 (ratio<=2, jmin .3043) affords 2-wide bands; delta 1
    // (ratio<=4, jmin .1628) needs 1-wide; deltas 2-3 share the
    // ratio-capped jmin .0843. THESE CONSTANTS ARE MIRRORED IN THE
    // q282/q283 ORACLE SQL — a change here must change the oracles.
    val plan = Dedup.stratifiedBandPlan(0.7, 64, 8.0, 0.9)
    assert(plan == Map((2, 24) -> Seq(0), (1, 13) -> Seq(1),
      (1, 27) -> Seq(2, 3)), plan.toString)
    // 16 hashes cannot reach 0.9 at ratio 8 — must throw, not under-recall
    val e = intercept[IllegalArgumentException] {
      Dedup.stratifiedBandPlan(0.7, 16, 8.0, 0.9)
    }
    assert(e.getMessage.contains("raise numHashes"), e.getMessage)
  }

  test("stratifiedContainmentPairs: finds planted wide-ratio containments " +
      "that the ratio-2 banded path excludes by contract") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def doc(n: Int) = (0 until n).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")
    val smalls = (1 to 20).map(i => (i.toLong, doc(12)))
    // superset i contains small i's text plus ~4x more — ratio ~5
    val bigs = smalls.map { case (i, t) => (100L + i, t + " " + doc(48)) }
    val fillers = (200 to 260).map(i => (i.toLong, doc(30)))
    val corpus = (smalls ++ bigs ++ fillers).toDF("id", "text")
    val got = Dedup.stratifiedContainmentPairs(corpus, "id", "text",
        n = 3, threshold = 0.7, numHashes = 64, maxRatio = 8.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = smalls.map { case (i, _) => (i, 100L + i) }.toSet
    // recallTarget is 0.9 per pair; 20 planted pairs at c_ab = 1.0 sit
    // far above jmin, so expect every one found (jitter-free: seeds fixed)
    assert(planted.subsetOf(got),
      s"missing: ${(planted -- got).toSeq.sorted}")
    // and the audit agrees: recall vs exact-at-ratio<=8 is 1.0 here
    val audit = Dedup.stratifiedContainmentRecallAudit(corpus, "id", "text",
      n = 3, threshold = 0.7, numHashes = 64, maxRatio = 8.0).head()
    assert(audit.getAs[Double]("recall") == 1.0, audit.toString)
    // the ratio-2 banded path excludes the planted pairs by contract
    val banded = Dedup.lshContainmentPairs(corpus, "id", "text",
        n = 3, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.intersect(banded).isEmpty)
  }

  test("similarityJoinParts: identical result set to the slice-prefilter " +
      "join (both recall-complete), guard fires on saturation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def code(): String = (0 until 8).map(_ => "0123456789abcdef"(
      rnd.nextInt(16))).mkString
    val base = (1 to 300).map(i => (i.toLong, code()))
    // plant distance-1 and distance-2 neighbors
    val near = base.take(30).map { case (i, c) =>
      (1000L + i, "z" + c.substring(1)) } ++
      base.slice(30, 50).map { case (i, c) =>
        (2000L + i, "zz" + c.substring(2)) }
    val codes = (base ++ near).toDF("id", "code")
    val viaSlices = Barcodes.similarityJoin(codes, maxDist = 2)
      .collect().map(_.toSeq).toSet
    val viaParts = Barcodes.similarityJoinParts(codes, maxDist = 2)
      .collect().map(_.toSeq).toSet
    assert(viaParts == viaSlices)
    assert(viaParts.size >= 50, s"planted pairs missing: ${viaParts.size}")
    // saturated corpus (every code identical) → the mass guard fires
    val flat = (1 to 60).map(i => (i.toLong, "aabbccdd")).toDF("id", "code")
    intercept[CandidateMassExceededException] {
      Barcodes.similarityJoinParts(flat, maxDist = 2,
        maxCandidatePairs = Some(100L))
    }
  }

  test("composed curation flow flips to the banded route on a " +
      "boilerplate-header corpus (the mid-pipeline auto-route)") {
    import spark.implicits._
    // TEMPLATE-VOCABULARY corpus — the prefix filter's true degenerate
    // case: each doc is the same 12-token template plus ONE unique tail
    // token, so even the rarest-gram prefix is mostly shared grams and
    // the probe mass goes quadratic. (A shared-header corpus with
    // otherwise-unique bodies does NOT degrade it — the rare body grams
    // fill the prefix; that is exactly what prefix filtering buys.)
    val rnd = new scala.util.Random(3)
    val template = (1 to 12).map(i => s"t$i").mkString(" ")
    val tmplDocs = (1 to 40).map(i => (i.toLong, s"$template tail$i"))
    val distinct = (1 to 5).map(i => (500L + i,
      (0 until 14).map(_ => s"u${rnd.nextInt(100000)}").mkString(" ")))
    val corpus = (tmplDocs ++ distinct).toDF("doc_id", "text")
    // the exact route is guard-stopped on this corpus at this budget …
    intercept[CandidateMassExceededException] {
      Dedup.prefixFilterJaccardPairs(corpus, "doc_id", "text", 4, 0.6,
        maxCandidatePairs = Some(100L))
    }
    // … so the composed flow must flip to the banded route mid-pipeline
    // and still fold the template family (pairwise Jaccard 9/11 ≥ 0.6)
    // to one survivor while the distinct docs all survive
    val pairs = Dedup.jaccardPairsAuto(corpus, "doc_id", "text", n = 4,
      threshold = 0.6, maxCandidatePairs = 100L)
    val cc = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
    val kept = corpus.join(cc.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .count()
    assert(kept == 6, s"kept $kept of 45 (template family should fold to 1)")
  }

  test("mintWithStats codeLen: longer codes keep the uuid-suffix " +
      "invariant and the distance->=3 guarantee") {
    // random uuid-suffix minting saturates near ~16^8/6421 8-hex codes
    // (rejection rate -> 1 as radius-2 balls cover the space), so the
    // 100x (1.5M-code) corpus must mint longer codes — codeLen is that
    // escape hatch. Pin: codes are length-10 uuid suffixes, and the
    // minted set has NO pair within distance 2 (the trigger invariant,
    // barcode-distance-check.sql:33-46).
    val (minted, stats) = Barcodes.mintWithStats(
      spark, spark.range(0).selectExpr("cast(null as string) as code"),
      n = 300, maxDist = 2, seed = Some(7L), codeLen = 10)
    val rows = minted.collect()
    assert(rows.length == 300 && stats.minted == 300)
    assert(rows.forall { r =>
      val (u, c) = (r.getString(0), r.getString(1))
      c.length == 10 && u.endsWith(c)
    })
    val pairs = Barcodes.similarityJoinParts(
      minted.select(monotonically_increasing_id().as("id"), col("code")),
      maxDist = 2).count()
    assert(pairs == 0, s"minted set has $pairs pairs within distance 2")
  }

  test("sorted_intersect_count: DESCRIBE FUNCTION surfaces the precondition") {
    val txt = spark.sql("describe function extended sorted_intersect_count")
      .collect().map(_.getString(0)).mkString("\n")
    assert(txt.contains("PRECONDITION"), s"got:\n$txt")
    assert(txt.toLowerCase.contains("sorted ascending"), s"got:\n$txt")
  }
}
