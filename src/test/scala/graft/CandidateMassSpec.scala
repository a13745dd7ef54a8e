package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{CandidateMassExceededException, Dedup, TextAnalysis}

/** The candidate-mass circuit breaker (round-7 hardening, VERDICT r6
  * item 2): on a template-vocabulary corpus the exact set-similarity
  * family's candidate mass ≈ pair mass (the 100× run measured 83–89 GB
  * doomed shuffles), so a cheap pre-estimate must fail fast AT CALL TIME
  * — before the pair join's shuffle exists — with a diagnostic routing
  * to the LSH-gated form, and `jaccardPairsAuto` must route there
  * silently.
  */
class CandidateMassSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  /** Worst case for every exact prefilter: 40 docs over ONE shared
    * 12-token template (pairwise Jaccard 1.0) — every gram's df is 40,
    * candidate mass == total pairs == 780.
    */
  private def templateCorpus: DataFrame = {
    import spark.implicits._
    val text = (1 to 12).map(i => s"tok$i").mkString(" ")
    (1 to 40).map(i => (i.toLong, text)).toDF("id", "text")
  }

  /** Selective corpus: 30 docs with disjoint vocabularies — zero shared
    * grams, candidate mass 0.
    */
  private def distinctCorpus: DataFrame = {
    import spark.implicits._
    (1 to 30).map(i => (i.toLong,
      (1 to 12).map(j => s"w${i}_$j").mkString(" "))).toDF("id", "text")
  }

  test("candidateMassStats: exact numbers on a hand-computable corpus") {
    import spark.implicits._
    // 3 docs, 1-gram shingles: a={x,y}, b={x,y}, c={x,z}
    // dfs: x=3, y=2, z=1 → postings 6, grams 3, max_df 3,
    // cand = 3·2/2 + 2·1/2 + 0 = 4, total = 3
    val df = Seq((1L, "x y"), (2L, "y x"), (3L, "x z")).toDF("id", "text")
    val r = Dedup.candidateMassStats(df, "id", "text", 1).collect()(0)
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_postings") === 6L)
    assert(r.getAs[Long]("n_grams") === 3L)
    assert(r.getAs[Long]("max_df") === 3L)
    assert(r.getAs[Long]("candidate_pairs") === 4L)
    assert(r.getAs[Long]("total_pairs") === 3L)
  }

  test("candidateMassStats: empty corpus reports zeros, not nulls") {
    import spark.implicits._
    val df = Seq.empty[(Long, String)].toDF("id", "text")
    val r = Dedup.candidateMassStats(df, "id", "text", 2).collect()(0)
    assert(r.getAs[Long]("n_docs") === 0L)
    assert(r.getAs[Long]("candidate_pairs") === 0L)
    assert(r.getAs[Long]("total_pairs") === 0L)
  }

  test("guards fire at call time on the template corpus, before any " +
      "pair join runs") {
    val c = templateCorpus
    val e1 = intercept[CandidateMassExceededException] {
      Dedup.prefixFilterJaccardPairs(c, "id", "text", 2, 0.5,
        maxCandidatePairs = Some(100L))
    }
    assert(e1.getMessage.contains("lshJaccardPairs"))
    assert(e1.budget === 100L)
    // the estimate is the prefix JOIN row mass — each pair counted once
    // per shared prefix gram: 11 2-grams keep an 11 − ceil(0.5·11) + 1
    // = 6-gram prefix, so 6 × C(40,2) = 4680
    assert(e1.estimated.longValueExact() === 4680L)
    val e3 = intercept[CandidateMassExceededException] {
      Dedup.prefixFilterContainmentPairs(c, "id", "text", 2, 0.5,
        maxCandidatePairs = Some(100L))
    }
    // the containment guard must route to the containment-predicate
    // fallback, not the Jaccard one (ADVICE r7: lshJaccardPairs answers
    // the wrong predicate for this class)
    assert(e3.getMessage.contains("lshContainmentPairs"))
  }

  test("lshContainmentPairs: finds short-in-long pairs with true " +
      "containment values; out-of-ratio pairs excluded by contract") {
    import spark.implicits._
    val a = (1 to 13).map(i => s"c$i").mkString(" ")   // 12 2-grams
    val b = a + " " + (1 to 3).map(i => s"x$i").mkString(" ") // ratio 16/12
    val huge = a + " " + (1 to 30).map(i => s"y$i").mkString(" ") // ratio > 2
    val df = Seq((1L, a), (2L, b), (3L, huge)).toDF("id", "text")
    val got = Dedup.lshContainmentPairs(df, "id", "text", 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSeq.sortBy(p => (p._1, p._2))
    // (1,2): A's 12 grams all inside B's 15 → c_ab = 1.0, c_ba = 12/15;
    // found by the 2-wide bands (J = 0.8). (1,3) and (2,3) have
    // containment 1.0 / high but ratio > 2 — outside the documented
    // domain, excluded.
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(got.head._3 === 1.0)
    assert(got.head._4 === math.round(12.0 / 15 * 1e6) / 1e6)
    // the exact operator agrees on the in-domain pair's values
    val exact = Dedup.prefixFilterContainmentPairs(df, "id", "text", 2, 0.5)
      .filter("id_a = 1 and id_b = 2").collect()(0)
    assert(exact.getDouble(2) === got.head._3 &&
      exact.getDouble(3) === got.head._4)
  }

  test("containmentPairsAuto routes: exact when affordable, LSH-gated " +
      "when the estimate blows the budget") {
    assert(Dedup.containmentPairsAuto(distinctCorpus, "id", "text", 2, 0.5,
      maxCandidatePairs = 1000L).count() === 0L)
    // template corpus, tiny budget → LSH route; identical docs share
    // every band bucket and sit at ratio 1 → all 780 pairs survive
    val auto = Dedup.containmentPairsAuto(templateCorpus, "id", "text",
      2, 0.5, maxCandidatePairs = 100L)
    val lsh = Dedup.lshContainmentPairs(templateCorpus, "id", "text", 2, 0.5)
    assert(auto.count() === lsh.count())
    assert(auto.count() === 780L)
  }

  test("guards pass through on a selective corpus and results are " +
      "unchanged vs the unguarded plan") {
    val c = distinctCorpus
    assert(Dedup.prefixFilterJaccardPairs(c, "id", "text", 2, 0.5,
      maxCandidatePairs = Some(1000L)).count() === 0L)
    val unguarded = Dedup.prefixFilterJaccardPairs(
      templateCorpus, "id", "text", 2, 0.5).count()
    // template prefix mass is 6 prefix grams × C(40,2) = 4680 — a
    // budget above it admits the exact plan unchanged
    val guarded = Dedup.prefixFilterJaccardPairs(
      templateCorpus, "id", "text", 2, 0.5,
      maxCandidatePairs = Some(5000L)).count()
    assert(unguarded === 780L && guarded === 780L)
  }

  test("bm25TopK fails fast when pruning is off and every query term " +
      "is a stop term") {
    import spark.implicits._
    val corpus = templateCorpus
    val queries = Seq((1L, "tok1 tok2"), (2L, "tok3")).toDF("qid", "text")
    val e = intercept[CandidateMassExceededException] {
      TextAnalysis.bm25TopK(corpus, queries, "id", "text", "qid", 5,
        pruneStopTerms = false, maxPostings = Some(10L))
    }
    assert(e.getMessage.contains("pruneStopTerms"))
    // 3 live terms × df 40 = 120 postings rows
    assert(e.estimated.longValueExact() === 120L)
    // with pruning on, the same call is guard-clean (live terms empty)
    val pruned = TextAnalysis.bm25TopK(corpus, queries, "id", "text",
      "qid", 5, pruneStopTerms = true, maxPostings = Some(10L))
    assert(pruned.count() === 0L)
  }

  test("pigeonhole-band guards: simhashPairs and phashPairs fail fast " +
      "on degenerate hash distributions") {
    import spark.implicits._
    // identical texts → identical simhash → every band bucket holds all
    // 40 docs: bucket pair mass = 4 bands × C(40,2) = 3120
    val fps = Dedup.simhash(templateCorpus, "id", "text")
    val e = intercept[CandidateMassExceededException] {
      Dedup.simhashPairs(fps, maxCandidatePairs = Some(1000L))
    }
    assert(e.estimated.longValueExact() === 3120L)
    assert(e.getMessage.contains("bits"))
    // distinct corpus passes through unchanged
    val okFps = Dedup.simhash(distinctCorpus, "id", "text")
    assert(Dedup.simhashPairs(okFps,
      maxCandidatePairs = Some(100000L)).count() ===
      Dedup.simhashPairs(okFps).count())
    // phashPairs: same construction over perceptual hashes
    val hashes = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 1024L))
      .toDF("id", "phash")
    val e2 = intercept[CandidateMassExceededException] {
      graft.operators.Multimodal.phashPairs(hashes, bits = 32, maxDist = 3,
        maxCandidatePairs = Some(2L))
    }
    // 4 bands of 8 bits: hash 5 lives in band 0, hash 1024 in band 1,
    // so bands 2–3 bucket all four ids (2·C(4,2)=12) and bands 0–1
    // bucket {1,2,3} vs {4} (2·C(3,2)=6) → 18 candidate pairs
    assert(e2.estimated.longValueExact() === 18L)
    assert(graft.operators.Multimodal.phashPairs(hashes, 32, 3,
      maxCandidatePairs = Some(1000L)).count() ===
      graft.operators.Multimodal.phashPairs(hashes, 32, 3).count())
  }

  test("Barcodes.similarityJoin auto-routes to the parts form past the " +
      "slice budget, fails fast only when BOTH forms blow it") {
    import spark.implicits._
    import graft.operators.Barcodes
    // 40 identical 6-char codes: every slice bucket holds all 40 ids —
    // 5 positioned slices × 40·39 = 7800 (the checker halves to 3900) —
    // AND every parts combo bucket does too (C(4,2)=6 combos → 4680):
    // truly saturated, so the ROUTED call still fails fast, now with
    // the parts form's estimate and message
    val sat = (1 to 40).map(i => (i.toLong, "aaaaaa")).toDF("id", "code")
    val e = intercept[CandidateMassExceededException] {
      Barcodes.similarityJoin(sat, maxDist = 2,
        maxCandidatePairs = Some(100L))
    }
    assert(e.getMessage.contains("mintWithStats"))
    assert(e.getMessage.contains("similarityJoinParts"))
    assert(e.estimated.longValueExact() === 4680L)
    // well-spread codes: guard admits the slice plan unchanged
    val ok = (1 to 40).map(i => (i.toLong, f"$i%02dxy${i % 7}z"))
      .toDF("id", "code")
    assert(Barcodes.similarityJoin(ok, maxDist = 2,
      maxCandidatePairs = Some(10000L)).count() ===
      Barcodes.similarityJoin(ok, maxDist = 2).count())
    // routing case: 8-char codes "00001xyz".."00060xyz" — four slice
    // positions are constant across all 60 codes (pos-1 "00", pos-2
    // "00", "xy", "yz" → ≥ 4·1770 slice mass) while only ONE of the six
    // 4-char part combos is shared (p1p4 = "00yz" → ~1770 + change), so
    // a budget of sliceMass−1 trips the slice guard and admits the
    // parts plan — the routed result must equal the unguarded slice
    // plan's exact pair set
    import org.apache.spark.sql.functions.{col, count, explode, lit, sum}
    val mid = (1 to 60).map(i => (i.toLong, f"$i%05dxyz"))
      .toDF("id", "code")
    val sliceMass = mid
      .select(explode(graft.functions.barcodeSlices(col("code")))
        .as("slice"))
      .groupBy("slice").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1)).cast("long")).head()
      .getLong(0) / 2
    val routed = Barcodes.similarityJoin(mid, maxDist = 2,
      maxCandidatePairs = Some(sliceMass - 1))
    val unguarded = Barcodes.similarityJoin(mid, maxDist = 2)
    assert(routed.select("id_a", "id_b", "dist").collect().toSet ===
      unguarded.select("id_a", "id_b", "dist").collect().toSet)
  }

  test("jaccardPairsAuto routes: exact when affordable, LSH-gated when " +
      "the estimate blows the budget") {
    // affordable: selective corpus, exact path → 0 pairs, no throw
    assert(Dedup.jaccardPairsAuto(distinctCorpus, "id", "text", 2, 0.5,
      maxCandidatePairs = 1000L).count() === 0L)
    // template corpus with a tiny budget → LSH route; identical docs
    // share every band bucket, so all 780 pairs at jaccard 1.0 survive
    val auto = Dedup.jaccardPairsAuto(templateCorpus, "id", "text", 2, 0.5,
      maxCandidatePairs = 100L)
    val lsh = Dedup.lshJaccardPairs(templateCorpus, "id", "text", 2, 0.5)
    assert(auto.count() === lsh.count())
    assert(auto.count() === 780L)
  }
}
