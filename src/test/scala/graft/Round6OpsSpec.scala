package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators._

/** Specs for the round-6 additions: tf·idf keyword extraction, CCNet
  * surprise scoring, k-center coreset selection, scene-cut detection and
  * the Gini dispersion profile — all against hand-computed fixtures.
  */
class Round6OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  test("tfidfTopTerms ranks by rational tf·idf with blank docs in N") {
    import spark.implicits._
    val df = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "  ")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // N = 3 (blank doc counts toward the corpus); q20 = 2^20 = 1048576.
    // doc1: apple tf=2 df=1 → floor(2^20·2·3/1) = 6291456;
    //       banana tf=1 df=2 → floor(2^20·3/2) = 1572864
    // doc2: cherry tf=1 df=1 → 3145728; banana → 1572864
    assert(got == Seq(
      (1L, "apple", 2L, 1L, 6291456L, 1L),
      (1L, "banana", 1L, 2L, 1572864L, 2L),
      (2L, "cherry", 1L, 1L, 3145728L, 1L),
      (2L, "banana", 1L, 2L, 1572864L, 2L)))
  }

  test("surpriseScores: add-one unigram surprisal + equi-depth thirds") {
    import spark.implicits._
    val corpus = Seq((1L, "a b"), (2L, "c c"), (3L, " "))
      .toDF("doc_id", "text")
    val ref = Seq(Tuple1("a a b")).toDF("text")
    val got = TextAnalysis.surpriseScores(corpus, ref, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // model a:2 b:1, T=3 V=2 → T+V=5; s(c)=floor(2^20·5/(c+1)):
    // s(a)=floor(5242880/3)=1747626, s(b)=2621440, OOV c→5242880.
    // doc1 = (1747626+2621440) div 2 = 2184533; doc2 = 5242880.
    // buckets (k=3, 2 docs): rows-before 0 → 0, 1 → (1·3) div 2 = 1.
    assert(got == Seq(
      (1L, 2L, 2184533L, 0L),
      (2L, 2L, 5242880L, 1L)))
  }

  test("kcenterCoreset: greedy max-min selection matches hand-computed " +
    "int8 geometry") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.1f)),
      (4L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val got = Embeddings.kcenterCoreset(df, "vec_id", "embedding", k = 4)
      .orderBy("sel_order")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // codes: 1→(127,0) 2→(0,127) 3→(-127,13) 4→(95,127); seed = min id 1.
    // d²(2)=32258 d²(3)=64685 d²(4)=17153 → pick 3 (64685);
    // then md(2)=min(32258,29125)=29125, md(4)=17153 → pick 2 (29125);
    // then md(4)=min(17153,9025)=9025 → pick 4.
    assert(got == Seq(
      (1L, 1L, -1L), (2L, 3L, 64685L), (3L, 2L, 29125L), (4L, 4L, 9025L)))
  }

  test("sceneCuts flags the frame where the aHash jumps") {
    import spark.implicits._
    val video = "a" * 512 + ("a" * 32 + "z" * 32) * 8 // 1024 ASCII bytes
    val blobs = Multimodal.attachBinary(
      Seq((10L, video)).toDF("doc_id", "text"), "doc_id", "text",
      "video/fake")
    val got = Multimodal.sceneCuts(blobs, frameBytes = 64, stride = 4,
        bits = 16, cutDist = 4)
      .orderBy("frame_no")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSeq
    // 4 frames at byte offsets 0/256/512/768: two uniform 'a' frames
    // hash 0xFFFF; the 'a'*32+'z'*32 frames hash 0xFF00 (high half
    // above the mean) → dist 8 at frame 2 (cut), 0 elsewhere.
    assert(got == Seq(
      (0L, 0xFFFFL, -1L, false),
      (1L, 0xFFFFL, 0L, false),
      (2L, 0xFF00L, 8L, true),
      (3L, 0xFF00L, 0L, false)))
  }

  test("giniDispersion: constant → 0, uniform → (k−1)/k, nulls excluded") {
    import spark.implicits._
    val df = Seq(
      ("k", "a", Some("a")), ("k", "b", Some("a")),
      ("k", "c", Some("b")), ("k", "d", None))
      .toDF("x", "y", "z")
    val got = Profile.giniDispersion(df, Seq("x", "y", "z"))
      .orderBy("col_name")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // x: constant → 0; y: 4 distinct of 4 → floor(2^20·12/16) = 786432;
    // z: counts (2,1) over 3 non-null rows → floor(2^20·(9−5)/9) = 466033.
    assert(got == Seq(
      ("x", 4L, 1L, 0L),
      ("y", 4L, 4L, 786432L),
      ("z", 3L, 2L, 466033L)))
  }

  test("log2HistogramQuantiles: bit-length buckets, integer thresholds, " +
    "non-positive values dropped") {
    import spark.implicits._
    val df = ((1L to 10L).map(("g1", _)) :+ (("g1", 0L)))
      .toDF("g", "v")
    val got = Sketches.log2HistogramQuantiles(df, "g", "v", Seq(50, 90))
      .orderBy("q_pct")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // buckets: bits1 {1}, bits2 {2,3}, bits3 {4..7}, bits4 {8,9,10};
    // cum 1/3/7/10 of N=10 (the 0 is dropped). p50 → cum ≥ 5 → bits3
    // [4,7]; p90 → cum ≥ 9 → bits4 [8,15].
    assert(got == Seq(
      ("g1", 50L, 3L, 4L, 7L, 7L, 10L),
      ("g1", 90L, 4L, 8L, 15L, 10L, 10L)))
  }

  test("booleanSearch: must AND, minShould OR, mustNot excludes; " +
    "repeated tokens count once") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"),        // must + 1 should
      (2L, "alpha alpha delta"),       // must, 1 should (dup token once)
      (3L, "alpha beta delta bad"),    // excluded by mustNot
      (4L, "beta delta"),              // missing must
      (5L, "alpha")                    // must but 0 should
    ).toDF("doc_id", "text")
    def run(minShould: Int) =
      Search.booleanSearch(df, "doc_id", "text",
          must = Seq("alpha"), should = Seq("beta", "delta"),
          mustNot = Seq("bad"), minShould = minShould)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    assert(run(1) == Seq((1L, 1L, 1L), (2L, 1L, 1L)))
    assert(run(2) == Seq.empty) // nobody has both should terms cleanly
    // no should terms → pure conjunction, doc 5 qualifies too
    val conj = Search.booleanSearch(df, "doc_id", "text",
        must = Seq("alpha"), mustNot = Seq("bad"))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(conj == Seq(1L, 2L, 5L))
  }

  test("Contracts.validate: one pass, per-rule violation counts, nulls " +
    "only fail not_null") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some(5.0), Some("A")),
      (Some(1L), Some(-2.0), Some("B")), // dup id, min violation
      (Some(2L), None: Option[Double], Some("C")), // null v, bad enum
      (None: Option[Long], Some(3.0), None: Option[String]))
      .toDF("id", "v", "s")
    val got = Contracts.validate(df, Seq(
        Contracts.Rule("id", "unique", ""),
        Contracts.Rule("v", "not_null", ""),
        Contracts.Rule("v", "min", "0"),
        Contracts.Rule("s", "enum", "A|B"),
        Contracts.Rule("s", "regex", "[A-B]")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(got == Seq(
      ("id", "unique", 4L, 1L, false), // null id is not a duplicate
      ("v", "not_null", 4L, 1L, false),
      ("v", "min", 4L, 1L, false), // the null v does not also fail min
      ("s", "enum", 4L, 1L, false), // null s passes enum
      ("s", "regex", 4L, 1L, false)))
  }

  test("labelNoiseFlags: the planted mislabel is the only flagged row") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; vec 6 sits in cluster A
    // but carries cluster B's label
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(1.0f, 0.1f), 0),
      (6L, Array(0.95f, 0.0f), 1), // mislabeled
      (10L, Array(0.0f, 1.0f), 1),
      (11L, Array(0.1f, 0.9f), 1),
      (12L, Array(0.0f, 0.9f), 1))
      .toDF("id", "vec", "label")
    val got = SimilaritySearch.labelNoiseFlags(df, k = 3, numCells = 7)
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(5)))
      .toSeq
    assert(got.filter(_._4) == Seq((6L, 1, 0, true)), got.mkString(", "))
    assert(got.length == 7) // every row is scored
  }

  test("vadSegments merges voiced islands and splits on silence") {
    import spark.implicits._
    // 4 frames at 256-byte spans: loud / silent / loud / loud
    val audio = "z" * 256 + " " * 256 + "z" * 512
    val blobs = Multimodal.attachBinary(
      Seq((7L, audio)).toDF("doc_id", "text"), "doc_id", "text",
      "audio/fake")
    val got = Multimodal.vadSegments(blobs, frameBytes = 64, stride = 4,
        silenceBelow = 94L)
      .orderBy("seg_no")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // 'z' = 122 (voiced), ' ' = 32 (silence): frame 1 splits the blob
    // into segments [0,0] and [2,3]
    assert(got == Seq((7L, 1L, 0L, 0L, 1L), (7L, 2L, 2L, 3L, 2L)))
  }

  test("cdcBoundaries matches a direct reimplementation and always ends " +
      "at the final code point") {
    import spark.implicits._
    def ref(s: String, k: Int, m: Int): Seq[Int] = {
      val cps = s.codePoints().toArray.toSeq
      val cuts = (k to cps.length).filter(i =>
        cps.slice(i - k, i).map(_.toLong).sum % m == 0)
      if (cps.isEmpty) Seq.empty
      else if (cuts.lastOption.contains(cps.length)) cuts
      else cuts :+ cps.length
    }
    val samples = Seq("", "a", "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaa", "punctuation, too! and? digits 0123456789",
      "café naïve über résumé snippet text here")
    val got = samples.toDF("t")
      .select(graft.functions.cdcBoundaries(col("t"), 8, 64))
      .collect().map(_.getSeq[Int](0).toSeq).toSeq
    assert(got == samples.map(ref(_, 8, 64)))
  }

  test("cdcChunks re-aligns after a prefix edit (the content-defined " +
      "property fixed-size chunking lacks)") {
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog " * 20).trim
    val edited = "INSERTED-PREFIX " + base
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = TextAnalysis.cdcChunks(df, "doc_id", "text", k = 8, m = 64)
      .select(col("doc_id"), md5(col("chunk")).as("h")).collect()
    val h1 = ch.filter(_.getLong(0) == 1L).map(_.getString(1)).toSet
    val h2 = ch.filter(_.getLong(0) == 2L).map(_.getString(1)).toSet
    // boundaries re-synchronize shortly after the edit: the two docs
    // share most chunk hashes despite every byte offset having shifted
    val shared = (h1 & h2).size
    assert(shared * 10 >= h1.size * 6, s"shared=$shared of ${h1.size}")
    // and chunks reconstruct the document exactly (partition property)
    val rows = TextAnalysis.cdcChunks(df, "doc_id", "text", 8, 64)
      .select("doc_id", "chunk_no", "chunk").collect()
    val rebuilt = rows.groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.sortBy(_.getLong(1)).map(_.getString(2)).mkString
    }
    assert(rebuilt == Map(1L -> base, 2L -> edited))
  }

  test("readabilitySignals computes the fixed-point Flesch chain") {
    import spark.implicits._
    // "Go now. Stop!" → words=3, sentences=2, syllables=3 (o, o, o)
    val got = TextAnalysis.readabilitySignals(
        Seq("Go now. Stop!").toDF("text"), "text")
      .select("n_words", "n_sentences", "n_syllables", "flesch_milli",
        "band")
      .collect().head
    // 206835 - floor(1015*3/2) - floor(84600*3/3) = 206835-1522-84600
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getString(4)) == ((3L, 2L, 3L, 120713L, "very_easy")))
  }

  test("truncationWaste partitions every token into kept or lost") {
    import spark.implicits._
    val df = Seq(("a", "w " * 10), ("a", "w " * 40), ("b", " "))
      .toDF("source", "text")
    val got = TextAnalysis.truncationWaste(df, "source", "text", Seq(16))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // a: 10 fits (kept 10), 40 truncates (kept 16, lost 24); b: blank=0
    assert(got == Seq(("a", 16L, 2L, 1L, 26L, 24L),
      ("b", 16L, 1L, 1L, 0L, 0L)))
  }

  test("countMinSketch: estimates are one-sided (>= exact for EVERY key) " +
      "and shard sketches merge by addition to the whole-corpus sketch") {
    import spark.implicits._
    val keys = (Seq.fill(40)("a") ++ Seq.fill(17)("b") ++ Seq.fill(5)("c") ++
      ('d' to 'z').map(_.toString)).toDF("k")
    val sk = Sketches.countMinSketch(keys, "k", depth = 3, width = 8)
    val exact = keys.groupBy("k").agg(count(lit(1)).as("n"))
    val est = Sketches.cmEstimates(sk, exact.select("k"), "k", 3, 8)
    val joined = est.join(exact, Seq("k")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("cm_est") >= r.getAs[Long]("n"),
        s"undercount for ${r.getString(0)}")
    }
    // merge = counter addition: sketch(shard1) + sketch(shard2) == sketch(all)
    val (s1, s2) = (keys.filter(md5($"k").startsWith("a")),
      keys.filter(!md5($"k").startsWith("a")))
    val merged = Sketches.countMinSketch(s1, "k", 3, 8)
      .unionByName(Sketches.countMinSketch(s2, "k", 3, 8))
      .groupBy("r", "bucket").agg(sum($"cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val whole = sk.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(merged.toSeq == whole.toSeq)
  }

  test("hashedLinearScore: additive over tokens, zero for blank docs, " +
      "equal to the manual bucket-weight join") {
    import spark.implicits._
    val w = spark.range(64).select($"id".as("bucket"),
      (($"id" * 37L) % 21 - 10).as("weight"))
    val df = Seq((1L, "alpha beta"), (2L, "alpha"), (3L, "beta"),
      (4L, "   "), (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.hashedLinearScore(df, "doc_id", "text", w, 64)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(4L) == 0L && got(5L) == 0L)
    assert(got(1L) == got(2L) + got(3L)) // linear: score("a b")=score(a)+score(b)
    val manual = Seq("alpha").toDF("t")
      .select((Sampling.keyHash60($"t", "feat") % 64).as("bucket"))
      .join(w, Seq("bucket")).select("weight").collect().head.getLong(0)
    assert(got(2L) == manual)
  }

  test("Ivm: merging per-epoch states equals aggregating raw, and " +
      "appending a delta epoch's state equals full recompute") {
    import spark.implicits._
    val raw = Seq(("a", 1, Some(1.25)), ("a", 1, Some(2.50)),
      ("a", 2, Some(-0.75)), ("b", 1, Some(10.00)), ("b", 2, None))
      .toDF("g", "epoch", "v")
    val direct = raw.filter($"v".isNotNull)
      .select($"g", ($"v".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy("g").agg(count(lit(1)).as("n"), sum($"c").as("sum_cents"),
        min($"c").as("min_cents"), max($"c").as("max_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    def got(states: org.apache.spark.sql.DataFrame) =
      Ivm.mergeStates(states, "g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sorted.toSeq
    assert(got(Ivm.aggState(raw, "g", "epoch", "v")) == direct)
    // incremental: standing epoch-1 states + fresh epoch-2 delta state
    val standing = Ivm.aggState(raw.filter($"epoch" === 1), "g", "epoch", "v")
    val delta = Ivm.aggState(raw.filter($"epoch" === 2), "g", "epoch", "v")
    assert(got(standing.unionByName(delta)) == direct)
    // b's epoch-2 value is null: no state row, totals still correct
    assert(direct.exists(t => t._1 == "b" && t._2 == 1L))
  }

  test("gramMatrixInt8 equals the hand-computed integer Gram and skips " +
      "zero vectors") {
    import spark.implicits._
    // maxabs 2.0 → codes floor(x*127/2+0.5): 1.0→64, 2.0→127,
    // -2.0→floor(-126.5)→-127
    val df = Seq((1L, 10, Seq(1.0f, 2.0f)), (2L, 10, Seq(2.0f, -2.0f)),
      (3L, 20, Seq(0.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    val got = Embeddings.gramMatrixInt8(df, "label", "embedding")
      .collect().map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)),
        r.getLong(3))).toMap
    // label 10: v1=(64,127), v2=(127,-127)
    assert(got((10, 0L, 0L)) == 64L * 64 + 127L * 127)
    assert(got((10, 0L, 1L)) == 64L * 127 + 127L * -127)
    assert(got((10, 1L, 1L)) == 127L * 127 + 127L * 127)
    // zero vector quantizes to an empty code array → contributes nothing
    assert(!got.keySet.exists(_._1 == 20))
    assert(got.size == 3) // d(d+1)/2 upper-triangle entries only
  }

  test("symspellJoin's positioned lev<=1 path finds EVERY pair " +
      "(substitution, insert, delete) — complete vs brute force") {
    import spark.implicits._
    val names = Seq((1L, "kitten"), (2L, "mitten"), // substitution
      (3L, "kitten!"),                              // insertion
      (4L, "kittn"),                                // deletion
      (5L, "sitting"), (6L, "kitten"))              // far; exact dup
    val df = names.toDF("id", "s")
    val got = FuzzyJoin.symspellJoin(df, "id", "s", maxDist = 1)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (ia, sa) <- names; (ib, sb) <- names if ia < ib
      if levenshteinRef(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(got == brute)
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) &&
      got.contains((1L, 4L)) && got.contains((1L, 6L)) &&
      !got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("neymanAllocation: quotas sum to the budget and volatile strata " +
      "out-allocate their proportional share") {
    import spark.implicits._
    // stratum a: 100 near-constant values; stratum b: 100 volatile ones
    val rows = (1 to 100).map(i => ("a", 50.0 + (i % 2) * 0.01)) ++
      (1 to 100).map(i => ("b", if (i % 2 == 0) 0.0 else 100.0))
    val got = Sampling.neymanAllocation(rows.toDF("g", "v"), "g", "v", 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("a") + got("b") == 100L)
    // equal sizes, so proportional would be 50/50; Neyman shifts almost
    // everything to the volatile stratum
    assert(got("b") > 90L, s"b=${got("b")}")
  }

  test("q264 sketch accuracy: every exact quantile lies inside its " +
      "log2 bucket (the bracketing guarantee holds on real data)") {
    val got = SparkEntry.queries("q264_sketch_accuracy")(
      spark, "/root/testdata/sf0.001").collect()
    assert(got.nonEmpty)
    // the sketch picks the first bucket whose cumulative count reaches
    // the threshold; the exact quantile (same integer rule) has that
    // bucket's bit length, so lo <= exact <= hi must hold for every row
    assert(got.forall(_.getAs[Boolean]("within_bound")),
      got.filterNot(_.getAs[Boolean]("within_bound")).mkString(", "))
  }

  test("lshJaccardPairs reports TRUE Jaccard values (equal to the exact " +
      "join's) on a subset of the exact pair set; exact dups always collide") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"), // near-dup of 1
      (3L, "p q r s t u v w"), // unrelated
      (4L, "a b c d e f g h")  // exact dup of 1
    ).toDF("doc_id", "text")
    val lsh = Dedup.lshJaccardPairs(docs, "doc_id", "text", shingleN = 3,
        threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    assert(lsh.keySet.subsetOf(exact.keySet))
    for ((k, v) <- lsh) assert(v == exact(k), s"pair $k")
    // identical shingle sets share every band -> guaranteed candidate
    assert(lsh.get((1L, 4L)).contains(1.0))
  }

  test("blockedScores sums agreement/disagreement weights per blocked " +
      "pair and never pairs across blocks") {
    import spark.implicits._
    import Linkage.FieldWeight
    val a = Seq((1L, 10L, "us", 5L), (2L, 20L, "fr", -3L))
      .toDF("id_a", "_block", "_anat", "_abal")
    val b = Seq((7L, 10L, "us", 4L), (8L, 10L, "de", 900L), (9L, 30L, "us", 5L))
      .toDF("id_b", "_block", "_bnat", "_bbal")
    val got = Linkage.blockedScores(a, b, Seq(
        FieldWeight(col("_anat") === col("_bnat"), 10L, 3L),
        FieldWeight(abs(col("_abal") - col("_bbal")) <= 10L, 5L, 2L)))
      .select("id_a", "id_b", "n_agree", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // block 10: customer 1 vs suppliers 7 and 8 only; 2 (block 20) and
    // 9 (block 30) pair with nothing
    assert(got.keySet == Set((1L, 7L), (1L, 8L)))
    assert(got((1L, 7L)) == ((2L, 15L)))   // both agree: 10 + 5
    assert(got((1L, 8L)) == ((0L, -5L)))   // both disagree: -3 - 2
  }

  test("winsorizedStats clamps at exact PERCENTILE_DISC bounds, keeps " +
      "every row, and skips nulls") {
    import spark.implicits._
    val vals = (1 to 10).map(v => ("g", Some(v.toLong))) :+
      (("g", Option.empty[Long]))
    val got = Profile.winsorizedStats(
      vals.toDF("g", "v"), "g", "v", pct = 25).collect()
    assert(got.length == 1)
    val r = got.head
    // n=10, P25 = first v with cum >= 2.5 -> 3; P75 -> first cum >= 7.5
    // -> 8; clamped sum = 3+3+3+4+5+6+7+8+8+8 = 55
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("lo") == 3L && r.getAs[Long]("hi") == 8L)
    assert(r.getAs[Long]("wins_sum") == 55L)
    assert(r.getAs[Double]("wins_mean") == 5.5)
  }

}
