package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators._

/** Specs for the round-3 training-data operators: PII redaction,
  * repetition signals, per-group caps, temperature resampling, exact
  * mean-pooling and quantized k-means.
  */
class TrainingOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  test("redactPii masks emails, IPs and phones; leaves clean text alone") {
    import spark.implicits._
    val r = Seq(
      "mail bob.smith+x@lists.example.org now",
      "host 192.168.0.1 port",
      "call 206-555-0199 today",
      "nothing to see here 12.5 versions")
      .toDF("t").select(TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(r == Seq(
      "mail <EMAIL> now",
      "host <IP> port",
      "call <PHONE> today",
      "nothing to see here 12.5 versions"))
  }

  test("repetitionSignals computes top/dup gram fractions exactly") {
    import spark.implicits._
    // 2-grams of "a a a b": ["a a", "a a", "a b"] → top 2/3, dup 2/3;
    // "x y z" has no repeats → top 1/2, dup 0
    val df = Seq((1L, "a a a b"), (2L, "x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(df, "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2.0 / 3, 2.0 / 3), (2L, 0.5, 0.0)))
  }

  test("capPerGroup keeps exactly cap rows per group, deterministically") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, s"g${i % 4}")).toDF("id", "g")
    val kept = Sampling.capPerGroup(df, "g", "id", cap = 3)
    assert(kept.groupBy("g").count().collect().forall(_.getLong(1) == 3))
    // deterministic under re-partitioning
    val again = Sampling.capPerGroup(df.repartition(7), "g", "id", cap = 3)
    assert(kept.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("bigramLmScore: integer-exact smoothed conditional probabilities") {
    import spark.implicits._
    val reference = Seq("a b a b", "a c").toDF("text")
    // ref pairs: (a,b)x2, (b,a), (a,c); prefix counts: a->3, b->1
    val corpus = Seq((1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(corpus, reference, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (a,b): 2/(3+1) = 0.5 -> 524288; (b,c): unseen -> 0; "x": no pairs
    assert(got == Seq((1L, 2L, 524288L), (2L, 0L, 0L)))
  }

  test("shardAssign: reproducible permutation, round-robin balance") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"d$i")).toDF("id", "v")
    val a = Sampling.shardAssign(df, "id", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("shard"),
        r.getAs[Long]("shard_pos"))).sortBy(_._1)
    // (shard, pos) pairs are exactly the 100 ordinals, 25 per shard
    assert(a.map(x => (x._2, x._3)).toSet.size == 100)
    assert(a.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25))
    // deterministic under re-partitioning
    val b = Sampling.shardAssign(df.repartition(7), "id", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("shard"),
        r.getAs[Long]("shard_pos"))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("capPerGroup passes under-cap groups through untouched") {
    import spark.implicits._
    // g0 has 2 rows (under cap 3 — the anti-join fast path must keep BOTH
    // regardless of hash order), g1 has 10 (over cap — windowed to 3)
    val df = ((0L until 2L).map(i => (i, "g0")) ++
      (10L until 20L).map(i => (i, "g1"))).toDF("id", "g")
    val kept = Sampling.capPerGroup(df, "g", "id", cap = 3)
      .collect().map(r => (r.getAs[String]("g"), r.getLong(0)))
    assert(kept.count(_._1 == "g0") == 2)
    assert(kept.count(_._1 == "g1") == 3)
    assert(kept.filter(_._1 == "g0").map(_._2).sorted.toSeq == Seq(0L, 1L))
  }

  test("temperatureResample keeps the whole smallest group") {
    import spark.implicits._
    val df = ((0L until 8L).map(i => (i, "rare")) ++
      (100L until 500L).map(i => (i, "common"))).toDF("id", "g")
    val kept = Sampling.temperatureResample(df, "id", "g")
    val byG = kept.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG("rare") == 8L) // rate = sqrt(8/8) = 1
    // sqrt(8/400) ≈ 0.1414 → expect ~57 of 400; allow generous hash noise
    assert(byG("common") > 20 && byG("common") < 120)
  }

  test("meanPool is exact on known vectors") {
    import spark.implicits._
    val df = Seq((0, Seq(1.0f, -2.0f)), (0, Seq(3.0f, 4.0f)),
      (1, Seq(0.5f, 0.25f))).toDF("label", "embedding")
    val got = Embeddings.meanPool(df, "label", "embedding")
      .orderBy("label", "dim")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == Seq((0, 0, 2.0), (0, 1, 1.0), (1, 0, 0.5), (1, 1, 0.25)))
  }

  test("minhashLshPairsAgainst finds batch dups of corpus docs only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark physical planning"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "nothing like anything else in this corpus at all believe me"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAgainst(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 10L)))
  }

  test("ivfTopKAssigned returns the vector itself at rank 1") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0L), (1L, Seq(0.9f, 0.1f), 0L),
      (2L, Seq(0.0f, 1.0f), 1L), (3L, Seq(0.1f, 0.9f), 1L))
      .toDF("id", "vec", "cell_id")
    val cents = Seq((0L, Seq(0.95, 0.05)), (1L, Seq(0.05, 0.95)))
      .toDF("cell_id", "cvec")
    val queries = Seq((0L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("qid", "qvec")
    val top = SimilaritySearch.ivfTopKAssigned(vecs, cents, queries,
      k = 2, nprobe = 1)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top == Map(0L -> 0L, 2L -> 2L))
  }

  test("upsertChanges: created/updated emitted, unchanged skipped, state persists") {
    import spark.implicits._
    import graft.streaming.StreamingEtl
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingEtl.Upsert]
    val q = StreamingEtl.upsertChanges(mem.toDS())
      .writeStream.format("memory").queryName("chg")
      .outputMode("append").start()
    try {
      mem.addData(StreamingEtl.Upsert("a", 1, "v1"),
        StreamingEtl.Upsert("a", 2, "v1"), // same batch, unchanged
        StreamingEtl.Upsert("b", 1, "x"))
      q.processAllAvailable()
      mem.addData(StreamingEtl.Upsert("a", 3, "v2"), // cross-batch update
        StreamingEtl.Upsert("b", 2, "x")) // cross-batch no-op
      q.processAllAvailable()
      val got = spark.table("chg")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3)))
        .toSet
      assert(got == Set(("a", 1L, "created"), ("b", 1L, "created"),
        ("a", 3L, "updated")))
    } finally q.stop()
  }

  /** Exact connected components on the driver: union-find over the
    * collected pairs, each component labelled with its minimum id. */
  private def unionFindCc[T](pairs: Seq[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // union by min keeps every root the minimum of its component
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = ord.min(ra, rb); parent(ra) = lo; parent(rb) = lo }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  test("connectedComponents matches union-find on a long chain") {
    import spark.implicits._
    // a 60-node chain (worst case for propagation) + a 5-ring + a pair
    val chain = (0L until 59L).map(i => (i, i + 1))
    val ring = (100L until 104L).map(i => (i, i + 1)) :+ (104L, 100L)
    val pair = Seq((500L, 501L))
    val pairs = (chain ++ ring ++ pair).toDF("id_a", "id_b")
    val ref = unionFindCc(chain ++ ring ++ pair)
    CcPaths.foreach(spark) { path =>
      val alt = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(alt == ref, path)
      assert(alt(59L) == 0L && alt(104L) == 100L && alt(501L) == 500L, path)
    }
  }

  test("connectedComponents matches union-find on a random-ish dense graph") {
    import spark.implicits._
    // deterministic pseudo-random edges over 80 nodes
    val edges = (1L until 200L)
      .map(i => ((i * 7919) % 80, (i * 104729) % 80))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    CcPaths.foreach(spark) { path =>
      val alt = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(alt == unionFindCc(edges), path)
    }
  }

  test("connectedComponents labels string ids with the least reachable id") {
    import spark.implicits._
    // a 12-node chain, a 4-ring and a pair over name-like string ids
    // (zero-padded so string order matches chain order)
    val chain = (0 until 11).map(i => (f"chain $i%02d", f"chain ${i + 1}%02d"))
    val ring = Seq(("ring d", "ring a"), ("ring a", "ring c"),
      ("ring c", "ring b"), ("ring b", "ring d"))
    val pair = Seq(("old anvil", "old anvils"))
    val edges = chain ++ ring ++ pair
    CcPaths.foreach(spark) { path =>
      val cc = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == unionFindCc(edges), path)
      assert(cc("chain 11") == "chain 00" && cc("ring d") == "ring a" &&
        cc("old anvils") == "old anvil", path)
    }
  }

  test("connectedComponents orders string ids by UTF-8 bytes, not UTF-16") {
    import spark.implicits._
    // U+FF61 is EF BD A1 in UTF-8 and U+1F600 is F0 9F 98 80, so "｡" sorts
    // first by bytes; as UTF-16, U+1F600's high surrogate D83D sorts first
    val edges = Seq(("｡x", "😀x"), ("😀a", "｡b"), ("｡b", "😀c"))
    assert("😀x" < "｡x")
    val utf8 = Ordering.fromLessThan[String]((a, b) => java.util.Arrays
      .compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0)
    val ref = unionFindCc(edges)(utf8)
    assert(ref("😀x") == "｡x" && ref("😀a") == "｡b")
    CcPaths.foreach(spark) { path =>
      val cc = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == ref, path)
    }
  }

  test("connectedComponents finishes a small graph in 4 jobs") {
    import spark.implicits._
    val pairs = ((0L until 59L).map(i => (i, i + 1)) :+ ((500L, 501L)))
      .toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val cc = try {
      val cc = Dedup.connectedComponents(pairs)
      org.apache.spark.ListenerBusDrain(sc)
      cc
    } finally sc.removeSparkListener(listener)
    // three for the signature, which also fills the edge checkpoint (AQE
    // runs the distinct's and the aggregate's shuffle stages as jobs of
    // their own), and one for the collect; no star round
    assert(jobs.get() == 4, s"${jobs.get()} jobs")
    assert(cc.count() == 62)
  }

  test("connectedComponents throws when it has not converged in maxRounds") {
    import spark.implicits._
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // only the star loop can run out of rounds
    val e = intercept[IllegalStateException] {
      CcPaths.starLoop(spark)(Dedup.connectedComponents(chain, maxRounds = 1))
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("saltedJoin matches the plain join on skewed data") {
    import spark.implicits._
    // 90% of fact rows share key 1
    val fact = (0L until 200L)
      .map(i => (i, if (i % 10 == 0) i % 3 + 2 else 1L)).toDF("row_id", "k")
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("k", "name")
    val plain = fact.join(dim, "k").select("row_id", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = Skew.saltedJoin(fact, dim, "k", "row_id", salts = 8)
      .select("row_id", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(plain == salted)
  }

  test("countDistinctByKey matches countDistinct") {
    import spark.implicits._
    val df = (0L until 500L).map(i => ("k" + i % 3, i % 37)).toDF("k", "v")
    val got = Skew.countDistinctByKey(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = df.groupBy("k").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("contaminationScores flags the doc that quotes the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // contains benchmark run
      (2L, "one two three four five six seven eight")) // disjoint
      .toDF("id", "text")
    val bench = Seq("alpha beta gamma delta x y z").toDF("text")
    val got = Dedup.contaminationScores(corpus, bench, "id", "text",
        n = 3, threshold = 0.4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // doc 1: 4 trigrams, 2 shared ("alpha beta gamma", "beta gamma delta")
    assert(got(1L) == ((2L, 4L, true)))
    // doc 2: 6 trigrams, none shared
    assert(got(2L) == ((0L, 6L, false)))
  }

  test("chunkWithOverlap windows tokens with the documented stride + tail") {
    import spark.implicits._
    // 10 tokens, chunk 4, overlap 1 -> stride 3: starts 0,3,6 and a tail
    // start 9 would add only overlap-covered tokens, so it must NOT emit
    val df = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2L, "a b")).toDF("id", "text")
    val got = TextAnalysis.chunkWithOverlap(df, "id", "text", 4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(got((1L, 0L)) == (("t0 t1 t2 t3", 4L)))
    assert(got((1L, 1L)) == (("t3 t4 t5 t6", 4L)))
    assert(got((1L, 2L)) == (("t6 t7 t8 t9", 4L)))
    assert(!got.contains((1L, 3L)))
    // short doc: one chunk, actual token count
    assert(got((2L, 0L)) == (("a b", 2L)))
  }

  test("kmeansAssignQuantized separates two obvious blobs") {
    import spark.implicits._
    // ids 0,1 seed the two cells; the rest sit clearly in one blob each
    val rows = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f)),
      (2L, Seq(0.1f, -0.1f)), (3L, Seq(0.2f, 0.1f)),
      (4L, Seq(9.8f, 10.1f)), (5L, Seq(10.2f, 9.9f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Embeddings.kmeansAssignQuantized(df, "vec_id", "embedding",
      k = 2, iters = 2, scale = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == got(2L) && got(2L) == got(3L))
    assert(got(1L) == got(4L) && got(4L) == got(5L))
    assert(got(0L) != got(1L))
  }

  test("clusterRepresentatives keeps max-weight (tie: min id) + singletons") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (9L, 7L))
      .toDF("doc_id", "w")
    // cluster {1,2,3} rooted at 1; 4 and 9 are singletons
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.clusterRepresentatives(docs, clusters, "doc_id", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 2 and 3 tie on weight 30 → min doc_id 2 wins
    assert(got == Set((1L, 2L, 30L), (4L, 4L, 5L), (9L, 9L, 7L)))
  }

  test("buildVocab ranks by count desc then token asc; oovStats counts misses") {
    import spark.implicits._
    val d = Seq((1L, "a b b c"), (2L, "b c d"), (3L, "   "))
      .toDF("doc_id", "text")
    val v = TextAnalysis.buildVocab(d, "text", size = 2)
    val ranked = v.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // b:3, c:2, a:1, d:1 → top-2 is b then c
    assert(ranked.toSeq == Seq((0L, "b", 3L), (1L, "c", 2L)))
    val m = TextAnalysis.oovStats(d, "doc_id", "text", v)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(m(1L) == ((4L, 1L))) // 'a' is OOV
    assert(m(2L) == ((3L, 1L))) // 'd' is OOV
    assert(m(3L) == ((0L, 0L))) // blank doc: tokenCount convention
  }

  test("tfIdfKeywords ranks by tf/df with lexicographic tie-break") {
    import spark.implicits._
    val d = Seq((1L, "apple banana banana"), (2L, "banana cherry"),
      (3L, "apple cherry cherry date")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfKeywords(d, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(5), r.getString(1), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    // doc 3: cherry 2/2 and date 1/1 tie at 2^20 → cherry wins on token
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      (1L, 1L, "banana"), (1L, 2L, "apple"),
      (2L, 1L, "banana"), (2L, 2L, "cherry"),
      (3L, 1L, "cherry"), (3L, 2L, "date")))
    assert(got.find(t => t._1 == 3L && t._3 == "cherry").get._4 == 1048576L)
  }

  test("quantileThresholdFilter: discrete lower quantile, tie-heavy groups") {
    import spark.implicits._
    val a = (1 to 10).map(i => ("a", i.toLong))
    val b = Seq(("b", 1L), ("b", 1L), ("b", 1L), ("b", 5L))
    val df = (a ++ b).toDF("g", "score")
    // p90 over 1..10 → threshold 9, keeps {9, 10}; over [1,1,1,5] cum at
    // score 1 is 3 < ceil(0.9*4)=4 → threshold 5, keeps the single 5
    val got = Sampling.quantileThresholdFilter(df, "g", "score", qBp = 9000)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.filter(_._1 == "a").map(_._2).sorted.toSeq == Seq(9L, 10L))
    assert(got.filter(_._1 == "a").forall(_._3 == 9L))
    assert(got.filter(_._1 == "b").toSeq == Seq(("b", 5L, 5L)))
    // p50 over the tie-heavy group: cum at score 1 is 3 >= 2 → keeps all
    val p50 = Sampling.quantileThresholdFilter(df, "g", "score", qBp = 5000)
      .filter($"g" === "b").count()
    assert(p50 == 4L)
  }

  test("quantizeInt8: max-abs code 127, half-up rounding, zero vector empty") {
    import spark.implicits._
    val d = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Embeddings.quantizeInt8(d, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getString(2))))
      .toMap
    // scale 1.0: 0.5→floor(64.0)=64, -1.0→floor(-126.5)=-127 (half-up),
    // 0.25→floor(32.25)=32
    assert(got(1L) == ((1.0, "64,-127,32")))
    assert(got(2L) == ((0.0, "")))
  }

  test("splitAssign: exhaustive, leak-free, repartition-stable, ~proportional") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val splits = Seq(("train", 8000), ("val", 1000), ("test", 1000))
    val got = Sampling.splitAssign(ids, "id", splits)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 2000 && got.values.toSet == Set("train", "val", "test"))
    val frac = got.values.count(_ == "train") / 2000.0
    assert(frac > 0.75 && frac < 0.85, s"train fraction $frac")
    // duplicates of a key always co-locate (leak-free) and order/partition
    // layout cannot move a key across bands
    val again = Sampling.splitAssign(ids.repartition(13), "id", splits)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(again == got)
    // different salt redraws
    val redrawn = Sampling.splitAssign(ids, "id", splits, salt = "other")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(redrawn != got)
  }

  test("negativePairs: k per anchor, never self, repartition-stable") {
    import spark.implicits._
    // ids 5000 apart: the dense indices span eighteen 8192-wide buckets
    val ids = (0L until 30L).map(_ * 5000).toDF("id")
    val got = Sampling.negativePairs(ids, "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 90)
    assert(got.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(0L, 1L, 2L)))
    assert(got.forall(t => t._1 != t._3))
    assert(got.forall(t => t._3 >= 0L && t._3 < 30L * 5000 && t._3 % 5000 == 0))
    val again = Sampling.negativePairs(ids.repartition(7), "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq == got.sorted.toSeq)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val old = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val nw = Seq((2L, "y"), (3L, "z2"), (4L, "w")).toDF("doc_id", "text")
    val got = Merge.snapshotDiff(old, nw, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("mergeAggState: empty delta is identity; new groups appear") {
    import spark.implicits._
    val state = Seq(("a", 2L, 10L), ("b", 1L, 5L)).toDF("g", "cnt", "s")
    val empty = state.filter(lit(false))
    val same = Merge.mergeAggState(state, empty, Seq("g"), Seq("cnt", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(same.toSeq == Seq(("a", 2L, 10L), ("b", 1L, 5L)))
    val delta = Seq(("b", 3L, 7L), ("c", 1L, 1L)).toDF("g", "cnt", "s")
    val merged = Merge.mergeAggState(state, delta, Seq("g"), Seq("cnt", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(merged.toSeq == Seq(("a", 2L, 10L), ("b", 4L, 12L), ("c", 1L, 1L)))
  }

  test("pqAssignQuantized with one full-width subspace equals plain k-means") {
    import spark.implicits._
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat / 3f)))
      .toDF("vec_id", "embedding")
    val pq = Embeddings.pqAssignQuantized(vecs, "vec_id", "embedding",
        subDim = 8, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted
    val km = Embeddings.kmeansAssignQuantized(vecs, "vec_id", "embedding",
        k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pq.toSeq == km.toSeq)
    // and with 2 subspaces every vector gets exactly one code per subspace
    val pq2 = Embeddings.pqAssignQuantized(vecs, "vec_id", "embedding",
        subDim = 4, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pq2.length == 80)
    assert(pq2.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(0L, 1L)))
  }

  test("pageRank matches dense power iteration; total mass conserved") {
    import spark.implicits._
    // hub (0), a cycle, and a dangling node (4) with no out-edges
    val edgeSeq = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 4L), (2L, 0L),
      (3L, 0L), (3L, 2L))
    val got = Graph.pageRank(edgeSeq.toDF("src", "dst"), "src", "dst",
        iterations = 8, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val nodes = (edgeSeq.map(_._1) ++ edgeSeq.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = edgeSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until 8) {
      val dang = nodes.filterNot(out.contains).map(r).sum
      val contrib = edgeSeq
        .groupBy(_._2)
        .view.mapValues(_.map { case (s, _) => r(s) / out(s).size }.sum)
        .toMap
      r = nodes.map(id => id ->
        ((1.0 - 0.85) / n +
          0.85 * (contrib.getOrElse(id, 0.0) + dang / n))).toMap
    }
    assert(got.keySet == r.keySet)
    got.foreach { case (id, v) => assert(math.abs(v - r(id)) < 1e-12,
      s"node $id: spark $v vs dense ${r(id)}") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass ${got.values.sum}")
  }

  test("pageRank, triangles, clusteringProfile: empty graph → empty result") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(none, "src", "dst").isEmpty)
    assert(Graph.triangles(none, "src", "dst").isEmpty)
    assert(Graph.clusteringProfile(none, "src", "dst").isEmpty)
  }

  test("pageRank and triangles are repartition-stable") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(80)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("src", "dst")
    val pr1 = Graph.pageRank(edges, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr2 = Graph.pageRank(edges.repartition(7), "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr1.keySet == pr2.keySet)
    // float sums re-associate under a different partitioning; semantics
    // must agree to ~ulp scale
    pr1.foreach { case (k, v) => assert(math.abs(v - pr2(k)) < 1e-12) }
    val t1 = Graph.triangles(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val t2 = Graph.triangles(edges.repartition(5), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(t1.toSeq == t2.toSeq) // integer plan: exactly equal
  }

  test("kCore matches brute-force peeling; empty when no core exists") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val raw = Seq.fill(70)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
      .filter(e => e._1 != e._2)
    val got = Graph.kCore(raw.toDF("src", "dst"), "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    var canon = raw.map(e => (e._1 min e._2, e._1 max e._2)).distinct
    var changed = true
    while (changed) {
      val deg = canon.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val dead = deg.filter(_._2 < 3).keySet
      changed = dead.nonEmpty
      canon = canon.filterNot(e => dead(e._1) || dead(e._2))
    }
    val brute = canon.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == brute, s"got $got vs brute $brute")

    // a tree has no 2-core at all
    val tree = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    assert(Graph.kCore(tree, "src", "dst", k = 2).isEmpty)
  }

  test("kCore throws when maxRounds runs out mid-peel") {
    import spark.implicits._
    // a 12-node path peels only its two ends per round: six rounds to
    // empty it, a seventh to see the empty drop set
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException](
      Graph.kCore(path, "src", "dst", k = 2, maxRounds = 3))
    assert(e.getMessage.contains("maxRounds"))
    assert(Graph.kCore(path, "src", "dst", k = 2, maxRounds = 7).isEmpty)
  }

  test("triangles match brute-force enumeration on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter(e => e._1 != e._2).distinct
    val got = Graph.triangles(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val canon = edges.map(e => (e._1 min e._2, e._1 max e._2)).toSet
    val nodes = canon.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = for {
      a <- nodes; b <- nodes if a < b && canon((a, b))
      c <- nodes if b < c && canon((b, c)) && canon((a, c))
    } yield (a, b, c)
    assert(got == brute.sorted, s"got ${got.size} vs brute ${brute.size}")
    assert(got.nonEmpty, "fixture graph should contain triangles")
  }

  test("zOrder2 equals per-bit interleave for the full 4-bit square") {
    import spark.implicits._
    val df = (for { x <- 0 until 16; y <- 0 until 16 } yield (x, y))
      .toDF("x", "y")
    val got = df.select(col("x"), col("y"),
        graft.functions.zOrder2(col("x"), col("y"), bits = 4).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (x <- 0 until 16; y <- 0 until 16) {
      val expect = (0 until 4).map(i =>
        (((x >> i) & 1).toLong << (2 * i)) |
          (((y >> i) & 1).toLong << (2 * i + 1))).sum
      assert(got((x, y)) == expect, s"($x,$y)")
    }
    // the curve is a bijection on the square
    assert(got.values.toSeq.distinct.size == 256)
  }

  test("clusteringProfile: exact triangle and wedge counts per node") {
    import spark.implicits._
    // K4 on {0,1,2,3} plus pendant 4—0: node 0 has deg 4, 3 triangles
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (4L, 0L)).toDF("src", "dst")
    val got = Graph.clusteringProfile(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(0L) == ((3L, 6L))) // deg 4 → 6 wedges, 3 of K4's 4 triangles
    assert(got(1L) == ((3L, 3L)))
    assert(got(4L) == ((0L, 0L))) // pendant: no wedge, no triangle
  }

  test("Profile.summarize: exact per-column stats from one aggregate") {
    import spark.implicits._
    val df = Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "a"))
      .toDF("x", "s")
    val got = Profile.summarize(df, Seq("x", "s"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getString(5))))
      .toMap
    assert(got("x") == ((2L, 1L, 2L, "1", "2")))
    assert(got("s") == ((3L, 0L, 2L, "a", "b")))
  }

  test("cleanText: NFC composes, controls stripped, whitespace collapsed") {
    import spark.implicits._
    val dirty = "  Café \tx   yz  "
    val got = Seq(dirty).toDF("t")
      .select(graft.functions.cleanText(col("t")).as("c"))
      .head().getString(0)
    // e+U+0301 composes to é; BEL and VT are stripped (VT before the \s
    // collapse, so Java/RE2 \s dialects agree); runs collapse; ends trim
    assert(got == "Café x yz", got.map(_.toInt.toHexString).mkString(","))
    // already-NFC text is untouched (identity fast path)
    val id = Seq("Café ok").toDF("t")
      .select(graft.functions.nfcNormalize(col("t")).as("c"))
      .head().getString(0)
    assert(id == "Café ok")
    // interpreted kernel agrees with the column path
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.NormalizeImpl.nfc(
      UTF8String.fromString("Café")).toString == "Café")
  }

  test("jsonScalarField: get_json_object equivalence on scalar domain") {
    import spark.implicits._
    // every supported shape + the documented divergences, checked
    // AGAINST get_json_object itself so the contract can't drift
    val docs = Seq(
      """{"device":"dev1"}""",
      """{ "device" : "dev1" , "x" : 2 }""",      // whitespace
      """{"x":1,"device":"dev2"}""",              // later member
      """{"device":"a\"b\\c\/d\n\té"}""",    // escapes incl \uXXXX
      """{"device":42}""",                        // integer: both agree
      """{"device":true}""",
      """{"device":null}""",                      // JSON null -> SQL null
      """{"x":{"device":"nested"},"device":"top"}""", // nested decoy
      """{"x":[1,"device",{"device":"in arr"}],"device":"after arr"}""",
      """{"other":"v"}""",                        // absent
      """{"devicex":"v"}""",                      // prefix key
      """not json""",
      """[1,2]""",                                // non-object top
      """""",
      """{"device":"unterminated""",              // malformed
      """{"device":"bad\""" + """x"}""",          // invalid escape → null
      """{"device":"bad\""" + """u12"}""",        // truncated \u → null
      """{"device":"bad\""" + """uZZZZ"}""",      // non-hex \u → null
      "{\"device\":\"a\nb\"}",                    // raw ctrl char: permitted
      """{"x":"bad\""" + """q","device":"later"}""") // strict: poisons doc
      .toDF("j")
    val both = docs.select(
        get_json_object(col("j"), "$.device").as("ref"),
        graft.functions.jsonScalarField(col("j"), lit("device")).as("got"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    both.zipWithIndex.foreach { case ((ref, got), i) =>
      assert(got == ref, s"row $i: get_json_object=$ref jsonScalarField=$got")
    }
    // structured values: raw serialized text, byte-equal to the
    // built-in's Jackson re-serialization on whitespace-free documents
    val s = Seq("""{"device":{"a":1},"z":"after"}""",
        """{"device":[1,2],"z":"after"}""").toDF("j")
      .select(get_json_object(col("j"), "$.device"),
        graft.functions.jsonScalarField(col("j"), lit("device")),
        graft.functions.jsonScalarField(col("j"), lit("z")))
      .collect()
    s.foreach { r =>
      assert(r.getString(1) == r.getString(0)) // agrees with the built-in
      assert(r.getString(2) == "after") // scanner skips structures cleanly
    }
    // documented structured divergence: interior whitespace is kept
    // as-written (get_json_object strips it via Jackson)
    val ws = Seq("""{ "device" : { "a" : 1 } }""").toDF("j").select(
      get_json_object(col("j"), "$.device"),
      graft.functions.jsonScalarField(col("j"), lit("device"))).head()
    assert(ws.getString(0) == """{"a":1}""")
    assert(ws.getString(1) == """{ "a" : 1 }""")
    // second documented divergence: non-canonical numbers come back AS
    // WRITTEN; get_json_object re-serializes through Jackson (4.50→4.5).
    // Integer-valued fields — the gate's domain — agree exactly.
    val num = Seq("""{"device":4.50}""").toDF("j").select(
      get_json_object(col("j"), "$.device"),
      graft.functions.jsonScalarField(col("j"), lit("device"))).head()
    assert(num.getString(0) == "4.5" && num.getString(1) == "4.50")
    // malformed empty values are null for EVERY key, not "" (review r7)
    val mf = Seq("""{"device":}""", """{"device":,"z":1}""").toDF("j")
      .select(graft.functions.jsonScalarField(col("j"), lit("device")),
        graft.functions.jsonScalarField(col("j"), lit("z")))
      .collect()
    mf.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
    // SQL registration works
    val viaSql = spark.sql(
      """select json_scalar_field('{"k":"v"}', 'k')""").head().getString(0)
    assert(viaSql == "v")
    // two instances over non-nullable inputs share one codegen method —
    // fixed local names would janino-collide (freshName regression)
    val two = Seq(("""{"a":"1"}""", """{"b":"2"}""")).toDF("x", "y")
      .select(
        graft.functions.jsonScalarField(coalesce(col("x"), lit("{}")),
          lit("a")).as("a"),
        graft.functions.jsonScalarField(coalesce(col("y"), lit("{}")),
          lit("b")).as("b"))
      .head()
    assert(two.getString(0) == "1" && two.getString(1) == "2")
  }

  test("sortedIntersectCount == size(array_intersect) on sorted arrays") {
    import spark.implicits._
    // randomized equivalence, duplicates included (value range 30 on
    // length <=50 arrays forces both dup runs and empty intersections)
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { _ =>
      def arr() = Array.fill(rnd.nextInt(50))(rnd.nextInt(30).toLong).sorted
      (arr().toSeq, arr().toSeq)
    }
    rows.toDF("a", "b")
      .select(graft.functions.sortedIntersectCount(col("a"), col("b"))
          .as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // empties + null ELEMENTS (sort_array order: nulls first; a shared
    // null counts once, exactly as array_intersect counts it)
    Seq(
      (Seq[Option[Long]](None, Some(1L), Some(2L)),
        Seq[Option[Long]](None, Some(2L))),
      (Seq[Option[Long]](), Seq[Option[Long]](Some(1L))),
      (Seq[Option[Long]](None), Seq[Option[Long]](Some(1L), Some(2L))))
      .toDF("a", "b")
      .select(graft.functions.sortedIntersectCount(col("a"), col("b"))
          .as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // null ARRAY input → null (BinaryExpression null-intolerance)
    val nl = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(graft.functions.sortedIntersectCount(col("a"), col("b")))
      .head()
    assert(nl.isNullAt(0))
    // SQL registration works
    assert(spark.sql(
      "select sorted_intersect_count(array(1L,2L,3L), array(2L,3L,9L))")
      .head().getInt(0) == 2)
  }

  test("native word-ngram kernel == legacy HOF formulation, byte for byte") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // the exact Column trees the native expressions replaced — kept here
    // verbatim so the pin survives any future library change
    def legacyShingles(text: Column, n: Int): Column =
      Dedup.bind(split(trim(text), "\\s+"), toks =>
        array_distinct(
          transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
            i => array_join(slice(toks, i + 1, lit(n)), " "))))
    def legacyNgrams(text: Column, n: Int): Column =
      Dedup.bind(split(trim(text), "\\s+"), toks =>
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
    val rnd = new scala.util.Random(11)
    val vocab = Seq("a", "bb", "ccc", "δδ", "über", "x1", "a b", "字字")
    val seps = Seq(" ", "\t", "\n", "\r", "\f", "", "  ", " \t ", "\r\n")
    def randText(): String = {
      val k = rnd.nextInt(12)
      val core = (0 until k).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(seps(rnd.nextInt(seps.length)))
      val lead = if (rnd.nextBoolean()) seps(rnd.nextInt(seps.length)) else ""
      val tail = if (rnd.nextBoolean()) seps(rnd.nextInt(seps.length)) else ""
      lead + core + tail
    }
    val edge = Seq("", " ", "\t", " \t\n ", "a", " a ", "\ta b\tc\n",
      "a b c", "a  b", "x \r\n y", "a a a a", "b b")
    val texts = (edge ++ (0 until 300).map(_ => randText())).toDF("t")
    for (n <- Seq(1, 2, 3, 4)) {
      val rows = texts.select(
          Dedup.wordShingles(col("t"), n).as("ns"),
          legacyShingles(col("t"), n).as("ls"),
          graft.operators.TextAnalysis.wordNgrams(col("t"), n).as("np"),
          legacyNgrams(col("t"), n).as("lp"),
          Dedup.wordShingleHashes(col("t"), n).as("nh"),
          transform(legacyShingles(col("t"), n),
            g => Dedup.hash60Base(g)).as("lh"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"shingles n=$n")
        assert(r.getSeq[String](2) == r.getSeq[String](3), s"positional n=$n")
        assert(r.getSeq[Long](4) == r.getSeq[Long](5), s"hashes n=$n")
      }
    }
    // null text → null, as split(trim(null)) propagates
    val nr = Seq(Option.empty[String]).toDF("t")
      .select(Dedup.wordShingles(col("t"), 3),
        graft.operators.TextAnalysis.wordNgrams(col("t"), 3),
        Dedup.wordShingleHashes(col("t"), 3)).head()
    assert(nr.isNullAt(0) && nr.isNullAt(1) && nr.isNullAt(2))
    // SQL registration
    assert(spark.sql("select word_ngrams('a b c', 2)").head()
      .getSeq[String](0) == Seq("a b", "b c"))
    assert(spark.sql(
      "select word_ngram_hash60('a b c', 2, false)").head()
      .getSeq[Long](0).length == 2)
  }

  test("native winnowing fingerprints == legacy HOF formulation") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // the exact legacy tree: HOF shingles → seeded hash60 → rolling
    // window minima via slice/array_min → array_distinct
    def legacy(text: Column, k: Int, window: Int): Column =
      Dedup.bind(
        transform(
          Dedup.bind(split(trim(text), "\\s+"), toks =>
            array_distinct(
              transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
                i => array_join(slice(toks, i + 1, lit(k)), " ")))),
          g => Dedup.hash60(g, 7)),
        hashes =>
          array_distinct(
            transform(
              sequence(lit(1), greatest(size(hashes) - (window - 1), lit(1))),
              i => array_min(slice(hashes, i, lit(window))))))
    val rnd = new scala.util.Random(23)
    val vocab = Seq("a", "bb", "ccc", "dd", "e", "ff", "über")
    val texts = (Seq("", " ", "a", "a b c d e f g h",
      "a a a a a a a a a a") ++ (0 until 200).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    }).toDF("t")
    for ((k, w) <- Seq((5, 4), (3, 2), (2, 5))) {
      texts.select(
          graft.operators.TextAnalysis.winnowingFingerprints(col("t"), k, w)
            .as("n"),
          legacy(col("t"), k, w).as("l"))
        .collect()
        .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"k=$k w=$w"))
    }
  }

  test("duplicateWindowStats: cross-doc, intra-doc and blank-doc windows") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),        // "a b c d" shared with doc 2
      (2L, "z a b c d w"),
      (3L, " "),                  // blank: all zeros
      (4L, "p q p q p q p q"))    // every window repeats intra-doc
      .toDF("doc_id", "text")
    val got = Dedup.duplicateWindowStats(df, "doc_id", "text", w = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (1L, 6L, 3L, 1L, 4L, math.round(4.0 / 6 * 1e6) / 1e6),
      (2L, 6L, 3L, 1L, 4L, math.round(4.0 / 6 * 1e6) / 1e6),
      (3L, 0L, 0L, 0L, 0L, 0.0),
      (4L, 8L, 5L, 5L, 8L, 1.0)))
  }

  test("stripBoilerplate cuts cross-doc segments, keeps order, handles edges") {
    import spark.implicits._
    val df = Seq(
      (1L, "hello world foo bar"),
      (2L, "hello world baz qux"),
      (3L, "hello world"),         // entirely boilerplate: empty result
      (4L, ""))                    // blank: untouched
      .toDF("doc_id", "text")
    val got = TextAnalysis.stripBoilerplate(df, "doc_id", "text",
        segTokens = 2, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 1L, "foo bar"),
      (2L, 2L, 1L, "baz qux"),
      (3L, 1L, 1L, ""),
      (4L, 0L, 0L, "")))
  }

  test("bm25TopK ranks matching docs, is repartition-stable") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry date fig"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "apple banana")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(corpus, queries,
        "doc_id", "text", "doc_id", k = 5, pruneStopTerms = false)
      .orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .toSeq
    // doc 1 matches both terms (apple x2) so it ranks first; doc 2 matches
    // banana only; doc 3 matches nothing and must be absent
    assert(got == Seq((10L, 1L, 2L, 1L), (10L, 2L, 1L, 2L)))
    val scores = TextAnalysis.bm25TopK(corpus, queries,
        "doc_id", "text", "doc_id", k = 5, pruneStopTerms = false)
      .orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val again = TextAnalysis.bm25TopK(corpus.repartition(7), queries,
        "doc_id", "text", "doc_id", k = 5, pruneStopTerms = false)
      .orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(again == scores) // quantized scores identical across partitionings
  }

  test("bm25TopK default prunes stop terms (df > N/2) before the postings join") {
    import spark.implicits._
    // "common" sits in all 6 docs (df = 6 > 3 = N/2); "rare" in two
    val corpus = (1L to 6L)
      .map(i => (i, if (i <= 2) "common rare word" + i else "common word" + i))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "common rare")).toDF("doc_id", "text")
    val pruned = TextAnalysis.bm25TopK(corpus, queries,
        "doc_id", "text", "doc_id", k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // only the rare postings list survives: docs 1,2 via one term each
    assert(pruned == Map(1L -> 1L, 2L -> 1L), pruned)
    val full = TextAnalysis.bm25TopK(corpus, queries,
        "doc_id", "text", "doc_id", k = 10, pruneStopTerms = false)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // opt-out matches every doc through the stop list too
    assert(full.keySet == (1L to 6L).toSet && full(1L) == 2L, full)
  }

  test("kHopReachability: min-hop labels, frontier stops at k, undirected") {
    import spark.implicits._
    // path 1-2-3-4-5 plus shortcut 1-3: node 3 is hop 1, not 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = Graph.kHopReachability(edges, "src", "dst", seeds, "id", k = 2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L)))
    // undirected: seeding from the sink walks back up
    val back = Graph.kHopReachability(edges, "src", "dst",
        Seq(5L).toDF("id"), "id", k = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(back == Seq((4L, 1L), (5L, 0L)))
    // k = 0: seeds only
    val zero = Graph.kHopReachability(edges, "src", "dst", seeds, "id", k = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(zero == Seq((1L, 0L)))
  }

  test("semanticDedup drops within-cluster near-dups only") {
    import spark.implicits._
    val v = Array(1.0f, 0.0f)
    val w = Array(0.0f, 1.0f)
    val df = Seq((1L, v), (2L, v), (3L, v), (4L, w)).toDF("id", "vec")
    // ids 1,2 share a cluster (dup pair); 3 is the SAME vector in another
    // cluster and must survive: the search is cluster-bounded
    val clusters = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L))
      .toDF("id", "cell")
    val got = Dedup.semanticDedup(df, "id", "vec", clusters, threshold = 0.9)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 0L), (3L, 1L), (4L, 1L)))
  }

  test("randomWalks: deterministic, edge-following, ends at dangling nodes") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    def run() = Graph.randomWalks(edges, "src", "dst", seeds, "id", steps = 3)
      .orderBy("walk_id", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = run()
    // node 4 has no out-edges, so the walk is 1 -> {2|3} -> 4 and stops
    assert(got.length == 3, got)
    assert(got.head == ((1L, 0L, 1L)))
    assert(got.last._3 == 4L)
    // every consecutive pair is a real edge
    val es = Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(es.contains((a._3, b._3)), s"$a -> $b not an edge") }
    // reproducible: the hash argmin is partition-independent
    assert(run() == got)
  }

  test("dsirWeights = target LM score minus source LM score, exactly") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b a b a b"),   // pure target-domain text
      (2L, "x y x y x y"),   // pure source-domain text
      (3L, "q r"),           // matches neither model
      (4L, "z"))             // no pairs at all
      .toDF("doc_id", "text")
    val target = Seq("a b a b").toDF("text")
    val source = Seq("x y x y").toDF("text")
    val got = TextAnalysis.dsirWeights(corpus, target, source,
        "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(got(0)._5 > 0 && got(1)._5 < 0) // sign separates the domains
    assert(got(2) == ((3L, 1L, 0L, 0L, 0L)))
    assert(got(3) == ((4L, 0L, 0L, 0L, 0L)))
    // agreement with two independent bigramLmScore passes
    val t = TextAnalysis.bigramLmScore(corpus, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val s2 = TextAnalysis.bigramLmScore(corpus, source, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, _, tq, sq, w) =>
      assert(tq == t(id) && sq == s2(id) && w == tq - sq) }
  }

  test("cutDuplicateWindows removes covered spans, keeps unique text") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),        // "a b c d" shared with doc 2
      (2L, "z a b c d w"),
      (3L, " "))                  // blank passes through
      .toDF("doc_id", "text")
    val got = Dedup.cutDuplicateWindows(df, "doc_id", "text", w = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 6L, 4L, "e f"),     // tokens 1-4 covered
      (2L, 6L, 4L, "z w"),     // tokens 2-5 covered
      (3L, 0L, 0L, "")))
  }

  test("epochUpsample: whole copies + hash-gated fractional copy, no-weight drops") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "g")
    val weights = Seq(("a", 2.0), ("b", 0.5)).toDF("g", "weight")
    val got = Sampling.epochUpsample(df, "g", "id", weights)
    val byG = got.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG("a") == 100L) // exactly 2 copies of each of 50 rows
    // fractional 0.5: hash gate keeps roughly half of the 50 "b" rows once
    assert(byG("b") > 10L && byG("b") < 40L, byG("b"))
    // copy indices are dense 0..n-1 per row
    val copies = got.filter(col("g") === "a").groupBy("id")
      .agg(sort_array(collect_list(col("copy"))).as("cs"))
      .collect().map(_.getSeq[Long](1).toSeq).toSet
    assert(copies == Set(Seq(0L, 1L)))
    // group without a weight vanishes
    val none = Sampling.epochUpsample(df, "g", "id",
      Seq(("a", 1.0)).toDF("g", "weight"))
    assert(none.filter(col("g") === "b").count() == 0)
    // deterministic across partitionings
    val again = Sampling.epochUpsample(df.repartition(7), "g", "id", weights)
      .select("id", "copy").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(again == got.select("id", "copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("kHopReachability matches brute-force BFS on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val edges = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).distinct
    val seeds = Seq(0L, 7L)
    val got = Graph.kHopReachability(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("id"), "id", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute BFS over the symmetrized adjacency
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    for (h <- 1 to 4) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .diff(dist.keySet)
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    assert(got == dist, s"got $got vs brute $dist")
  }

  test("bm25TopK scores match a brute-force Scala computation exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val vocab = Vector("red", "blue", "green", "gold", "ash", "elm")
    def doc() = Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    val corpus = (0L until 25L).map(i => i -> doc()).toMap
    val queries = Map(100L -> doc(), 101L -> doc())
    val got = TextAnalysis.bm25TopK(
        corpus.toSeq.map { case (i, t) => (i, t.mkString(" ")) }
          .toDF("doc_id", "text"),
        queries.toSeq.map { case (i, t) => (i, t.mkString(" ")) }
          .toDF("doc_id", "text"),
        "doc_id", "text", "doc_id", k = 1000, pruneStopTerms = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // brute force with the library's exact op order
    val tf = corpus.map { case (i, t) =>
      i -> t.groupBy(identity).view.mapValues(_.size.toLong).toMap }
    val dl = tf.view.mapValues(_.values.sum).toMap
    val n = dl.size.toLong
    val tot = dl.values.sum
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val brute = (for {
      (qid, qt) <- queries.toSeq
      term <- qt.distinct
      (id, tfs) <- tf if tfs.contains(term)
    } yield {
      val idf = ((n - df(term)).toDouble + 0.5) / (df(term).toDouble + 0.5)
      val tfn = (tfs(term).toDouble * 2.2) / (tfs(term).toDouble +
        1.2 * (0.25 + 0.75 * (dl(id).toDouble / (tot.toDouble / n.toDouble))))
      (qid, id) -> math.floor((1048576.0 * idf) * tfn).toLong
    }).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(got == brute)
  }

  test("window-dedup family matches brute force on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val vocab = Vector("a", "b", "c")
    val w = 3
    val corpus = (0L until 30L).map { i =>
      i -> Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    }.toMap
    val df = corpus.toSeq.map { case (i, t) => (i, t.mkString(" ")) }
      .toDF("doc_id", "text")
    // brute: all (doc, pos) windows, dup = text seen at >= 2 sites
    val wins = corpus.toSeq.flatMap { case (i, t) =>
      t.sliding(w).zipWithIndex.collect {
        case (g, p) if g.size == w => (i, p + 1, g.mkString(" ")) } }
    val dupTexts = wins.groupBy(_._3).filter(_._2.size >= 2).keySet
    val dupWins = wins.filter(x => dupTexts(x._3))
    val stats = Dedup.duplicateWindowStats(df, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    corpus.foreach { case (i, t) =>
      val myDup = dupWins.filter(_._1 == i)
      val covered = myDup.flatMap(x => x._2 until (x._2 + w)).toSet
      assert(stats(i) == ((t.size.toLong,
        math.max(t.size - w + 1, 0).toLong,
        myDup.size.toLong, covered.size.toLong)), s"doc $i")
    }
    val cut = Dedup.cutDuplicateWindows(df, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    corpus.foreach { case (i, t) =>
      val covered = dupWins.filter(_._1 == i)
        .flatMap(x => x._2 until (x._2 + w)).toSet
      val expect = t.zipWithIndex.collect {
        case (tok, p) if !covered(p + 1) => tok }.mkString(" ")
      assert(cut(i) == expect, s"doc $i")
    }
  }

  test("skipGramPairs matches brute-force pair enumeration") {
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val vocab = Vector("p", "q", "r", "s")
    val corpus = (0L until 20L).map { i =>
      i -> Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
    }
    val df = corpus.map { case (i, t) => (i, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.skipGramPairs(df, "doc_id", "text", window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val brute = corpus.flatMap { case (_, t) =>
      for {
        i <- t.indices; j <- t.indices
        if i != j && math.abs(i - j) <= 2
      } yield (t(i), t(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == brute)
  }

  test("sourceOverlapMatrix counts distinct shared shingles per pair") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e", "s1"),   // grams: "a b c","b c d","c d e"
      (2L, "a b c x y", "s2"),   // shares "a b c" with s1
      (3L, "a b c d q", "s2"),   // adds "b c d" overlap (distinct per source)
      (4L, "z z z z z", "s3"))   // disjoint
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapMatrix(df, "source", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // s1 x s2 share {"a b c", "b c d"}; s1 has 3 grams, s2 has 5 distinct
    assert(got(("s1", "s2")) == ((2L, 3L, 5L)))
    assert(!got.contains(("s1", "s3")) && !got.contains(("s2", "s3")))
  }

  test("phraseSearch: overlapping occurrences, repeated words, brute force") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a b"),        // "a a" occurs at 1 and 2 (overlapping)
      (2L, "b a a"),          // at end
      (3L, "a b a"),          // no "a a"
      (4L, "x y z"))
      .toDF("doc_id", "text")
    val got = Search.phraseSearch(df, "doc_id", "text", "a a")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L), (2L, 1L, 2L)))
    // random brute-force equivalence
    val rnd = new scala.util.Random(83)
    val vocab = Vector("m", "n", "o")
    val corpus = (0L until 40L).map { i =>
      i -> Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))) }
    val cdf = corpus.map { case (i, t) => (i, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val phrase = Seq("m", "n", "m")
    val got2 = Search.phraseSearch(cdf, "doc_id", "text", phrase.mkString(" "))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val brute = corpus.flatMap { case (i, t) =>
      val starts = t.indices.filter(s =>
        s + phrase.size <= t.size && t.slice(s, s + phrase.size) == phrase)
      if (starts.isEmpty) None
      else Some(i -> ((starts.size.toLong, starts.min.toLong + 1)))
    }.toMap
    assert(got2 == brute)
  }

  test("trigramSearch equals full-scan contains; short needle falls back") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val alpha = "abcde "
    val corpus = (0L until 60L).map { i =>
      i -> Seq.fill(30)(alpha(rnd.nextInt(alpha.size))).mkString }
    val df = corpus.map { case (i, t) => (i, t) }.toDF("doc_id", "text")
    for (needle <- Seq("ab", "abc", "a b", "cde a")) {
      val got = Search.trigramSearch(df, "doc_id", "text", needle)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val brute = corpus.collect { case (i, t) if t.contains(needle) =>
        i -> (t.indexOf(needle) + 1).toLong }.toMap
      assert(got == brute, s"needle '$needle'")
    }
  }

  test("lengthBucketBatches: dense per-bucket packing, repartition-stable") {
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    val df = (0L until 120L)
      .map(i => (i, Seq.fill(1 + rnd.nextInt(40))("w").mkString(" ")))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.lengthBucketBatches(d, "doc_id", "text",
          bucketWidth = 16, batchSize = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val got = run(df)
    // bucket = n_tokens / 16
    got.foreach { case (_, nt, b, _, _) => assert(b == nt / 16) }
    // within each bucket, (batch_no, pos) pairs are exactly the ordinals
    got.groupBy(_._3).foreach { case (_, rows) =>
      val ords = rows.map(r => r._4 * 4 + r._5).sorted
      assert(ords == (0L until rows.size.toLong), s"bucket not dense")
      rows.groupBy(_._4).foreach { case (_, batch) =>
        assert(batch.size <= 4) }
    }
    assert(run(df.repartition(7)) == got)
  }

  test("prefixFilterContainmentPairs flags subset duplication Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta"
    val long = "intro words here " + short + " plus a much longer tail " +
      "of unrelated filler content extending the article body"
    val df = Seq((1L, short), (2L, long), (3L, "nothing shared at all here"))
      .toDF("doc_id", "text")
    val cont = Dedup.prefixFilterContainmentPairs(df, "doc_id", "text",
        n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // every 3-gram of the short doc appears in the long one: c_ab = 1.0
    assert(cont.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(cont.head._3 == 1.0 && cont.head._4 < 0.5)
    // Jaccard at the same bar misses the pair entirely
    assert(Dedup.prefixFilterJaccardPairs(df, "doc_id", "text",
      n = 3, threshold = 0.9).isEmpty)
  }

  test("randomProject: deterministic, linear, norm-preserving on average") {
    import spark.implicits._
    val df = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(64)(0.0f)),
      (3L, Array.tabulate(64)(i => if (i == 0) 2.0f else 0.0f)))
      .toDF("id", "vec")
    val got = Embeddings.randomProject(df, "id", "vec", k = 4)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getDouble).toSeq).toMap
    // zero vector projects to zero
    assert(got(2L) == Seq(0.0, 0.0, 0.0, 0.0))
    // one-hot doubles the plane component: each |p_j| == 2
    assert(got(3L).forall(v => math.abs(v) == 2.0))
    // all-ones vector: each projection is the signed sum of 64 ±1s (even)
    assert(got(1L).forall(v => v.abs <= 64 && v % 2 == 0))
    // deterministic across partitionings
    val again = Embeddings.randomProject(df.repartition(5), "id", "vec", k = 4)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getDouble).toSeq).toMap
    assert(again == got)
  }

  test("heavyHitters equals the exact groupBy form under any partitioning") {
    import spark.implicits._
    import graft.operators.Sketches
    // skewed stream: 'a' 40%, 'b' 15%, long tail of singletons
    val vals = Seq.fill(400)("a") ++ Seq.fill(150)("b") ++
      (1 to 450).map(i => s"t$i")
    val exact = vals.groupBy(identity).collect {
      case (w, xs) if xs.size.toLong * 10 > vals.size => w -> xs.size.toLong
    }.toMap
    for (parts <- Seq(1, 3, 8)) {
      val df = vals.toDF("w").repartition(parts)
      val got = Sketches.heavyHitters(df, "w", 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"parts=$parts")
    }
    // k larger than distinct count: every key is a candidate, filter rules
    val tiny = Seq("x", "x", "y").toDF("w")
    val got = Sketches.heavyHitters(tiny, "w", 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("x" -> 2L)) // 2*2 > 3; y: 1*2 < 3
  }

  /** Driver-side reference for the exact set-similarity joins: every
    * document's distinct word 3-grams as a Scala `Set`, and the pairs
    * (a < b) sharing at least one gram with their intersection size —
    * no Spark operator computes the predicate. */
  private def refOverlaps(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Set[String], Set[String], Int)] = {
    val sets = df.select(col("doc_id"), Dedup.wordShingles(col("text"), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toSeq
    for {
      (a, ga) <- sets; (b, gb) <- sets if a < b
      i = (ga & gb).size if i > 0
    } yield (a, b, ga, gb, i)
  }

  test("prefixFilterJaccardPairs equals a driver-side exact Jaccard reference") {
    import spark.implicits._
    import graft.operators.Dedup
    val docsDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
      (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
      (4L, "a completely different document about spark engines"),
      (5L, "a completely different document about spark clusters"),
      (6L, "one two three four five six seven eight nine ten"),
      (7L, "short text"),
      (8L, "short text")                                     // dup of 7
    ).toDF("doc_id", "text")
    val overlaps = refOverlaps(docsDf)
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val full = overlaps.map { case (a, b, ga, gb, i) =>
        (a, b, i.toDouble / (ga.size + gb.size - i)) }.filter(_._3 >= t).toSet
      val pf = Dedup.prefixFilterJaccardPairs(docsDf, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(full.nonEmpty && pf == full, s"t=$t")
    }
  }

  test("prefixFilterContainmentPairs equals a driver-side reference") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(83)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    // mixed sizes, including short docs quoted inside long ones — the
    // asymmetric case the containment signal exists for
    val base = (1L to 24L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val quoted = base.take(4).map { case (i, t) =>
      (100L + i, t + " " + Seq.fill(12)(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val docsDf = (base ++ quoted).toDF("doc_id", "text")
    // Spark's round(x, 6) on a double is HALF_UP over BigDecimal(x)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val overlaps = refOverlaps(docsDf)
    for (t <- Seq(0.4, 0.5, 0.7)) {
      val full = overlaps.map { case (a, b, ga, gb, i) =>
          (a, b, round6(i.toDouble / ga.size), round6(i.toDouble / gb.size)) }
        .filter(p => math.max(p._3, p._4) >= t).toSet
      val pf = Dedup.prefixFilterContainmentPairs(docsDf, "doc_id", "text", 3, t)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSet
      assert(full.nonEmpty && pf == full,
        s"t=$t missing=${(full -- pf).take(3)} " +
        s"extra=${(pf -- full).take(3)}")
    }
  }

  test("groupMedianMad equals the reference median/MAD, odd and even n") {
    import spark.implicits._
    import graft.operators.Profile
    def refMedian(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val rnd = new scala.util.Random(7)
    val data = (for {
      g <- Seq("a", "b", "c", "odd1", "dup")
      i <- 1 to (if (g == "odd1") 7 else 10)
    } yield (g, if (g == "dup") 5L else rnd.nextInt(1000).toLong)).toSeq
    val got = Profile.groupMedianMad(data.toDF("g", "x").repartition(5),
        "g", "x")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    for ((g, xs) <- data.groupBy(_._1)) {
      val vals = xs.map(_._2)
      val med = refMedian(vals)
      val mad = refMedian(vals.map(v => math.abs(2 * v - (2 * med).toLong)))
      assert(got(g) == ((vals.size.toLong, med, mad / 2)), s"group $g")
    }
  }

  test("compressionSignals: repetitive < prose < noise; deterministic") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(3)
    val noise = (1 to 300).map(_ => rnd.nextPrintableChar()).mkString
    val docs = Seq(
      (1L, "spam " * 60),                       // repetitive boilerplate
      (2L, ("the quick brown fox jumps over a lazy dog and keeps " +
        "running through fields of green grass toward the river ") * 3),
      (3L, noise),                              // high-entropy
      (4L, ""))                                 // empty edge
    val got = TextAnalysis.compressionSignals(docs.toDF("id", "text"), "text")
      .select("id", "raw_len", "deflated_len", "compression_ratio")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1)._3 < got(2)._3 && got(2)._3 < got(3)._3, got.toString)
    assert(got(1)._3 < 0.2, "boilerplate should deflate hard")
    assert(got(3)._3 > 0.8, "noise should barely deflate")
    assert(got(4) == ((0L, 8L, 1.0))) // zlib empty stream = 8 bytes; guard
    // deterministic across partitionings
    val again = TextAnalysis.compressionSignals(
        docs.toDF("id", "text").repartition(3), "text")
      .select("id", "raw_len", "deflated_len", "compression_ratio")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(again == got)
  }

  test("ltreePrefixes emits every ancestor; rollup counts nest") {
    import spark.implicits._
    val got = Seq("virus.influenza.h3", "virus", "", null)
      .toDF("lineage")
      .select(graft.functions.ltreePrefixes(col("lineage")).as("p"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toSeq)).toSeq
    assert(got(0).get == Seq("virus", "virus.influenza", "virus.influenza.h3"))
    assert(got(1).get == Seq("virus"))
    assert(got(2).get == Nil && got(3).get == Nil)
  }
}
