package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan audits: the properties that make these plans survive a
  * 100× scale-up, asserted on the plan text so a refactor that silently
  * loses pushdown, broadcast selection, or partial aggregation fails CI —
  * not just the stopwatch.
  *
  * Runs against the sf0.001 test data (plan shape, not timing).
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q11 row filter is pushed to the parquet scan") {
    val p = plan("q11_filter")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThan(l_quantity"), p.take(2000))
  }

  test("q51 masked select prunes the scan to the projected columns") {
    val p = plan("q51_mask_select")
    // ReadSchema must not include unprojected wide columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("o_comment"), read)
    assert(!read.contains("o_totalprice"), read)
  }

  test("q2 star join broadcasts the dimension side") {
    val p = plan("q2_star_join")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q1 aggregation has a map-side partial phase") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate(keys=[l_returnflag"), p.take(3000))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      p.take(3000))
  }

  test("q1 aggregation runs inside whole-stage codegen") {
    // codegen stages appear only in the FINAL adaptive plan — execute,
    // then look for the `*(n)` codegen-stage markers
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    df.collect() // executes THIS QueryExecution, finalizing the AQE plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(p.contains("*("), p.take(3000))
  }

  test("q69 stratum rates are an in-row lookup: no broadcast, no hash relation") {
    val df = SparkEntry.queries("q69_stratified_sample")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(!p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q22 LSH band self-join is an equi join, never a cartesian product") {
    val p = plan("q22_minhash_pairs")
    assert(!p.contains("CartesianProduct"), "band join degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "band join degenerated")
  }

  test("q8 range-bin join is broadcast nested loop over the tiny bin table") {
    val p = plan("q8_range_bin")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q73 per-domain cap windows by group, not a global single partition") {
    val p = plan("q73_domain_cap")
    assert(!p.contains("Window ") || !p.contains("SinglePartition"),
      "capPerGroup lost its partitioning")
  }

  test("q73 head-group routing: the common path bypasses the window") {
    val p = plan("q73_domain_cap")
    // under-cap groups pass through a pure anti-join filter; only rows of
    // over-cap (head) groups are routed into the one per-group window
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(4000))
    assert(p.contains("LeftAnti"), "common path lost its anti-join route")
    assert(p.contains("LeftSemi"), "window side lost its semi-join route")
  }

  test("q87 chunk-overlap never shuffles the corpus — no window, no exchange") {
    val p = plan("q87_chunk_overlap")
    assert(!p.contains("Window"), "chunking must stay per-row")
    assert(!p.contains("Exchange"), "chunking must inherit input partitioning")
  }

  test("q88 paged fetch: equi joins only, distributed FIFO rank") {
    val p = plan("q88_paged_fetch")
    assert(!p.contains("CartesianProduct"), "fetch join degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "fetch join degenerated")
    // the FIFO rank must be the coarse-bucket form: a window partitioned
    // by the bucket key, never a corpus-wide single-partition row_number
    assert("windowspecdefinition\\(_b#".r.findFirstIn(p).isDefined, p.take(4000))
  }

  test("q89 bigram LM: equi joins only, map-side partial counts") {
    val p = plan("q89_ngram_lm")
    assert(!p.contains("CartesianProduct"), "count join degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "count join degenerated")
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q90 shard assign: rank is bucket-partitioned, not one global window") {
    val p = plan("q90_shard_assign")
    // the corpus-side rank window must partition by the hash bucket; the
    // only unpartitioned-looking window is the 256-row bucket cumsum
    assert("windowspecdefinition\\(_b#".r.findFirstIn(p).isDefined, p.take(3000))
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(4000))
  }

  test("q86 decontamination joins on the gram — equi join, no cartesian") {
    val p = plan("q86_decontaminate")
    assert(!p.contains("CartesianProduct"), "gram join degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "gram join degenerated")
    // overlap aggregation must combine map-side before the shuffle
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q91 cluster representatives: groupBy-argmax, no per-cluster window") {
    val p = plan("q91_cluster_rep")
    // the representative pick must be max(struct) under a hash aggregate
    // (map-side partial) — a hot cluster through a row_number window is
    // the skew funnel this operator exists to avoid. The only windows in
    // the plan belong to the upstream CC label-prop, none over cluster_id.
    assert(p.contains("partial_max") || p.contains("partial_finalmerge"),
      p.take(4000))
    assert(!"Window \\[row_number".r.findFirstIn(p).isDefined,
      "representative pick degenerated to a window")
  }

  test("q92 vocab: top-V via TakeOrdered, never a global sort of the counts") {
    val p = plan("q92_vocab")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // the only Sort allowed is the bounded row_number over the V survivors
    assert(p.contains("partial_count"), "token counting lost map-side combine")
  }

  test("q93 oov coverage probes a broadcast vocab") {
    val p = plan("q93_oov_coverage")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("partial_count"), "per-doc stats lost map-side combine")
  }

  test("q96 label layout: bucketed ordinal, offsets broadcast back") {
    val p = plan("q96_label_layout")
    // dense ordinals come from per-bucket windows + a broadcast of the
    // tiny bucket-offset frame — never a global row_number funnel
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("partial_sum"), "bucket counts lost map-side combine")
    assert(p.contains("Generate"), "label explode missing")
  }

  test("q98 as-of join: one per-key window, no range explode or NL join") {
    val p = plan("q98_asof_join")
    assert("windowspecdefinition\\(_k".r.findFirstIn(p).isDefined, p.take(4000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "as-of join degenerated to a nested-loop plan")
  }

  test("q101 interval overlap: tiled equi-join, never a nested loop") {
    val p = plan("q101_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "inequality join degenerated to a nested loop")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      p.take(3000))
  }

  test("q100 negative pairs: no cartesian beyond the broadcast scalar") {
    val p = plan("q100_negative_pairs")
    // N is one broadcast row; the partner gather is a max over a window
    // partitioned by the target index, with no join on the dense index —
    // a real cartesian/NL join here would be quadratic at scale
    assert(!p.contains("CartesianProduct"), "corpus-sized cartesian")
    assert("windowspecdefinition\\(_b#".r.findFirstIn(p).isDefined,
      "ordinal window lost its bucket partitioning")
  }

  test("q99 quantile threshold: compact counts, thresholds broadcast back") {
    val p = plan("q99_quantile_threshold")
    // the corpus-side filter probes a broadcast of the tiny threshold
    // frame; the cumsum windows only the (group, score) count frame
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("partial_count"), "score counts lost map-side combine")
  }

  test("q97 tf-idf: map-side tf combine, top-k window keyed by doc id") {
    val p = plan("q97_tfidf_keywords")
    assert(p.contains("partial_count"), p.take(3000))
    // the only window must partition by the doc id — never an
    // unpartitioned corpus-wide row_number
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isDefined,
      p.take(4000))
  }

  test("q95 token histogram: one map-side-combining agg, text never shuffles") {
    val p = plan("q95_token_histogram")
    assert(p.contains("partial_count"), p.take(3000))
    // the only exchange is the (lang, bucket) agg shuffle + the docs()
    // fan-out repartition; text must not appear in any exchange schema
    assert(!p.contains("Window"), "histogram must not window")
  }

  test("q112 gap fill: forward-fill window is per-user, never global") {
    val p = plan("q112_gap_fill")
    assert(p.contains("Window"), "forward fill lost its window")
    assert(!p.contains("SinglePartition"),
      "gap fill must never sort the spine globally")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "spine join must stay an equi join")
  }

  test("q114 BPE pair counts combine map-side; alphabet-bounded shuffle") {
    val p = plan("q114_bpe_pairs")
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "pair counting is pure map-reduce")
  }

  test("q115 event sequences sort inside the row, never globally") {
    val p = plan("q115_event_sequence")
    assert(!p.contains("SinglePartition"),
      "sequence build must shuffle per user, not to one partition")
    assert(!p.contains("Sort ") || !p.contains("global=true"),
      "ordering must come from array_sort, not a global sort")
  }

  test("q116 OHLC bars: selection aggregates combine map-side, no window") {
    val p = plan("q116_ohlc_bars")
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("SinglePartition"),
      "bars must reduce per (user, day), never sort globally")
  }

  test("q117 PQ coding broadcasts centroids; facts never re-shuffle to them") {
    val p = plan("q117_pq_codes")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("SinglePartition"),
      "PQ scoring must stay a broadcast equi-join per subspace")
  }

  test("q118 funnel: per-user min chains, equi joins only, no windows") {
    val p = plan("q118_funnel")
    assert(p.contains("partial_min"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("SinglePartition"),
      "funnel stages must chain keyed aggregations, never sort globally")
  }

  test("q119 retention: distinct + cohort agg combine map-side") {
    val p = plan("q119_retention")
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("q120 quality report: FK orphans via anti join, no cartesian") {
    val p = plan("q120_quality_report")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // row-local predicate checks share one fact scan (the anti-join side
    // is the only other lineitem read)
    assert("lineitem\\.parquet".r.findAllIn(p).size <= 2,
      "predicate checks must not scan the fact table per check")
  }

  test("q121 SCD2: both windows partition by the user key, never globally") {
    val p = plan("q121_scd2")
    assert(p.contains("Window"), "SCD2 lost its windows")
    assert(!p.contains("SinglePartition"),
      "history build must stay per-key")
  }

  test("q122 PIT join: keyed equi join with residual interval filter") {
    val p = plan("q122_pit_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "PIT lookup must join on the user key, not range-explode")
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("q123 transitions: per-user lead window, bounded count shuffle") {
    val p = plan("q123_transitions")
    assert(p.contains("Window"), "transition pairing lost its window")
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("SinglePartition"),
      "journey pairing must stay per-user")
  }

  test("q113 incremental agg merges partials map-side") {
    val p = plan("q113_incremental_agg")
    // both the per-batch partials and the merge re-reduce combine before
    // their shuffles — the incremental path never moves raw rows
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(3000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("q126 triangles: oriented pair join stays equi-keyed, no cartesian") {
    // the degree agg sits upstream of the oriented-edge checkpoint; this
    // plan covers the pair build + closure probe — the explosion-prone part
    val p = plan("q126_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q127 z-order block counts combine map-side; no window, no sort") {
    val p = plan("q127_zorder")
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("q128 profile reads the table exactly once for all four columns") {
    val p = plan("q128_profile")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"profiler must be single-scan, saw $scans:\n" +
      p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(3000))
  }

  test("q130/q146 rolling range-frame windows partition by user, never globally") {
    for (q <- Seq("q130_rolling", "q146_rolling_zscore")) {
      val p = plan(q)
      assert(p.contains("Window"), p.take(3000))
      assert(!p.contains("SinglePartition"),
        s"$q rolling frame must stay per-user")
    }
  }

  test("q145 length-batch ordinal windows stay sub-bucketed") {
    // the rank window must partition by (len_bucket, hash sub-bucket _b)
    // — a bucket-only window would funnel a web-scale length class
    // through one task; the only bucket-level window is the 256-row
    // offset cumsum
    val p = plan("q145_length_batches")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.exists(l =>
      "windowspecdefinition\\(len_bucket#\\d+L?, _b#\\d+L?, ".r.findFirstIn(l).isDefined),
      winLines.mkString("\n"))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("q125 text cleanup is a pure per-row map — no exchange at all") {
    val p = plan("q125_clean_text")
    assert(!p.contains("Exchange"), "cleanup must inherit input partitioning")
    assert(!p.contains("Window") && !p.contains("Sort"), p.take(3000))
  }

  test("pageRank iteration: keyed join + partial agg, dangling mass rides " +
      "a 1-row broadcast, no data-sized cartesian") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val weighted = e.withColumn("w", lit(1.0))
    val srcIds = e.select(col("src").as("id")).distinct()
    val ranks = nodes.withColumn("rank", lit(1.0 / 3))
    val p = graft.operators.Graph
      .step(nodes, weighted, srcIds, ranks, 3.0, 0.85)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "the only cross join must be the broadcast 1-row dangling mass")
    assert(p.contains("partial_sum"), p.take(3000))
    // no window anywhere; the only single-partition stage is the 1-row
    // dangling-mass aggregate (which then broadcasts)
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q132 window dedup: hash equi-joins only, map-side partial counts") {
    val p = plan("q132_window_dedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("partial_count"), "hash count must combine map-side")
    // the duplicated-hash count shuffles 60-bit hashes, never a window
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q133/q142 segment and overlap joins are hash equi-joins only") {
    for (q <- Seq("q133_boilerplate", "q142_source_overlap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degenerated")
      assert(p.contains("partial_count"), s"$q must combine map-side")
    }
  }

  test("q141 skip-gram leads window by doc, never a single partition") {
    val p = plan("q141_skip_grams")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .toSeq
    assert(winLines.nonEmpty, p.take(2000))
    assert(winLines.forall(_.contains("id")), winLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q136 SemDeDup pair search is cell-bounded, no cartesian") {
    val p = plan("q136_semdedup")
    assert(!p.contains("CartesianProduct"),
      "within-cluster join must stay an equi-join on the cell key")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q134 BM25: postings equi-join, no cartesian, bounded top-k window") {
    val p = plan("q134_bm25")
    assert(!p.contains("CartesianProduct"),
      "the only cross join must be the broadcast 1-row stats frame")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "postings aggregation must combine map-side")
    // the top-k window partitions by query id, never a single partition
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition"))
    assert(winLines.forall(_.contains("qid")), p.take(3000))
  }

  test("q150/q151 fuzzy joins: variant equi-join, never all-pairs") {
    for (q <- Seq("q150_fuzzy_join", "q151_vocab_fuzzy")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: candidate generation must be the deletion-variant equi-join")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degenerated")
    }
  }

  test("q155 phash pairs: banded equi-join, no all-pairs") {
    val p = plan("q155_phash_dedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q55 fused FHIR report: one pass, no join, no corpus re-read") {
    val p = plan("q55_fhir_encounters")
    // r9's statuses LEFT JOIN encounters re-read the parsed-bundle
    // checkpoint twice and shuffled corpus×corpus (188 s at sf10); the
    // fused posexplode_outer form must contain NO join operator at all
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("ShuffledHashJoin"), p.take(3000))
    assert(p.contains("Generate"), p.take(3000)) // the outer explode
  }

  test("q46 upsert: exactly ONE join of updates against the warehouse side") {
    // the gate query's own executedPlan roots at the match pipeline's
    // localCheckpoint (an ExistingRDD), so the join shape is audited on
    // the pre-checkpoint stage: the r9 shape had three joins (two lookups
    // + a join back on the resolved sample_id); the r10 tagged-key form
    // must keep exactly one equi-join, with the matched row's fields
    // carried by the group aggregate
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val cur = orders.select(col("o_orderkey").as("sample_id"),
      concat(lit("I"), col("o_orderkey")).as("identifier"),
      concat(lit("C"), col("o_orderkey")).as("collection_identifier"),
      lit("""{"a":1}""").as("details"))
    val upd = orders.select(col("o_orderkey").cast("string").as("identifier"),
      lit(null).cast("string").as("collection_identifier"),
      lit("""{"b":2}""").as("details"))
    val p = graft.etl.Etl.matchSamples(cur, upd)
      .queryExecution.executedPlan.toString
    val joins = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
      .map(j => j.r.findAllIn(p).size).sum
    assert(joins == 1, s"expected 1 join, got $joins:\n" + p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q206 trimmed mean: boundary-bucket plan, no corpus-sized window") {
    val p = plan("q206_trimmed_mean")
    // the r9 form ranked every group's full value stream through one
    // row_number sort task; the boundary-bucket port must never rank
    // raw rows — windows run over the bucket histogram and the (≤ 2
    // buckets per group) boundary sliver only
    assert(!p.contains("row_number"), p.take(3000))
    // bucket histogram combines map-side before its shuffle
    assert(p.contains("partial_count"), p.take(3000))
    // the boundary resolve and final clamp scans join via broadcast,
    // never a corpus-vs-corpus shuffle join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q156 top-k values: final rank fed by sub-bucket cut, partial counts") {
    val p = plan("q156_top_values")
    assert(p.contains("partial_count"), "melt counts must combine map-side")
    // both windows key on col_name; the first adds the 256-way sub-bucket
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("col_name")),
      winLines.mkString("\n"))
    // the sub-bucket window keys on (col_name, hash bucket) — 2 keys —
    // and Spark's rank-limit pushdown (WindowGroupLimit, partial before
    // the exchange) bounds both windows map-side
    assert(winLines.exists(l => l.indexOf("_w0") > 0), winLines.mkString("\n"))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q152/q160/q162 per-row pipelines: no joins, partial aggregation") {
    for (q <- Seq("q152_url_canonical", "q160_anonymity_audit")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be scan -> project -> agg")
      assert(p.contains("partial_count"), s"$q must combine map-side")
    }
    // span corruption is pure projection — the operator itself adds no
    // shuffle (the only Exchange is the docs() helper's explicit input
    // repartition, tagged REPARTITION_BY_NUM, not a required one)
    val p = plan("q162_span_corruption")
    val requiredShuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
    assert(requiredShuffles == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q154/q158 composed pipelines: equi-joins only, no all-pairs") {
    for (q <- Seq("q154_entity_resolution", "q158_pmi_collocations")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated")
      // the only nested-loop join allowed is a broadcast 1-row stats
      // frame (q158's N); anything joining two real relations that way
      // is an all-pairs bug
      val bnl = p.linesIterator
        .count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnl <= 1, s"$q: $bnl nested-loop joins")
    }
  }

  test("q161 mutual-kNN: rank per query id; payload arrays out of window") {
    val p = plan("q161_mutual_knn")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("qid")),
      winLines.mkString("\n"))
    // the window sort input must be the (qid, id, cosine) triple, not
    // rows still carrying the two 64-float vectors
    val sortLines = p.linesIterator.filter(l =>
      l.contains("Sort ") && l.contains("cosine")).toSeq
    assert(sortLines.forall(l => !l.contains("vec")), sortLines.mkString("\n"))
  }

  test("q153 quota allocation: windows only on bucket keys, never groups") {
    val p = plan("q153_quota_allocation")
    // the deficit rank must be the two-level bucketed form: local rank
    // partitioned by _b, offsets cumsum over <=256 bucket-count rows
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p.take(2000))
    assert(winLines.forall(_.contains("_b#")), winLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q174 heavy hitters: candidate set broadcast, partial agg on the " +
      "guarded key") {
    val p = plan("q174_heavy_hitters")
    // the counted frame is localCheckpointed (two consumers), so the
    // visible plan is the FINAL stage only: it must read the bounded
    // materialized counts (candidates+1 rows), broadcast the 1-row
    // total, and aggregate it with a map-side partial phase — if a
    // corpus-sized scan or shuffle showed up here, the bound was lost
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    assert(p.contains("IdentityBroadcastMode"), p.take(3000))
    assert(p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("Scan parquet"), "final stage rescans the corpus")
  }

  test("q175 prefix-filter join: gram equi-joins only, never all-pairs") {
    val p = plan("q175_prefix_filter_join")
    assert(!p.contains("CartesianProduct"), "prefix join degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "prefix join degenerated")
    // per-doc prefix ranking windows on id, never a single partition
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("id#")),
      winLines.mkString("\n"))
  }

  test("q177 LPM join is a pure broadcast chain — zero shuffle exchanges") {
    val p = plan("q177_lpm_join")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning")), p.take(4000))
  }

  test("q180 skyline: no dominance self-join, windows only on buckets") {
    val p = plan("q180_skyline")
    assert(!p.contains("CartesianProduct"), "skyline degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "skyline degenerated")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("_b#")),
      winLines.mkString("\n"))
  }

  test("q183/q185 rank machinery: windows only on bucket/group keys, " +
      "never a global partition") {
    for (q <- Seq("q183_equi_depth", "q185_robust_stats")) {
      val p = plan(q)
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(winLines.nonEmpty, q + "\n" + p.take(2000))
      // every window is partitioned by a bucket (_b) or group (_g/lang)
      // key — the tiny offsets cumsum carries its constant FLOOR key
      // _w0# is the projected constant FLOOR key of the tiny offsets
      // cumsum (<= 64k rows by construction)
      assert(winLines.forall(l => l.contains("_b#") || l.contains("_g#") ||
        l.contains("lang#") || l.contains("_w0#")), winLines.mkString("\n"))
    }
  }

  test("q192 golden record: one melt scan, map-side counts, no window") {
    val p = plan("q192_golden_record")
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("windowspecdefinition"),
      "mode pick should be min_by aggregation, not a rank window")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q195 radius join: grid-cell equi-join, never a cross product") {
    val p = plan("q195_radius_join")
    assert(!p.contains("CartesianProduct"), "grid join degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "grid join degenerated")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q197/q202 rank statistics: windows keyed by group, partial aggs") {
    for (q <- Seq("q197_spearman", "q202_ks_drift")) {
      val p = plan(q)
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(winLines.nonEmpty, q)
      assert(winLines.forall(l =>
        l.contains("source#") || l.contains("pair#") ||
          l.contains("event_type#")), q + "\n" + winLines.mkString("\n"))
      assert(p.contains("partial_"), q)
    }
  }

  test("q210/q214/q233/q234 compositions: equi-joins only, no cartesian " +
      "or non-broadcast nested loop") {
    for (q <- Seq("q210_wedge_closure", "q214_item_cf", "q233_rfm",
        "q234_sequence_rules")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q + " degenerated")
      // BNLJ is acceptable only for the broadcast 1-row totals
      val bnlj = p.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(_.contains("BuildRight")), q + "\n" + bnlj.mkString)
      assert(p.contains("partial_count") || p.contains("partial_min") ||
        p.contains("partial_sum"), q)
    }
  }

  test("q181 frequent pairs: basket equi-join after the Apriori prune, " +
      "1-row total is the only nested-loop side") {
    val p = plan("q181_frequent_pairs")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      p.take(3000))
    assert(p.contains("LeftSemi"), "Apriori prune lost") // singleton filter
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q229 top-20 is a TakeOrdered sort-limit, never a rank window") {
    val p = plan("q229_branching")
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(3000))
    assert(!p.contains("windowspecdefinition"),
      "vocabulary-sized rank window crept back in")
  }

  test("q246 percentiles come from bucketed ranks; the only unkeyed window " +
      "sits above the 20-row limit") {
    val p = plan("q246_composite_score")
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(3000))
    // corpus-sized windows (the bucketByRank prefix sums) must all be
    // partitioned by the coarse bucket keys, never by the value order
    val sumWins = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("sum("))
      .toSeq
    assert(sumWins.nonEmpty &&
      sumWins.forall(l => l.contains("_b#") || l.contains("_w0#")),
      sumWins.mkString("\n"))
    // exactly one unkeyed window — the rank over the already-limited rows
    val rankWins = p.linesIterator
      .filter(l => l.contains("row_number() windowspecdefinition")).toSeq
    assert(rankWins.size == 1, rankWins.mkString("\n"))
  }

  test("q161 IVF candidates join by cell — equi-join, no corpus broadcast, " +
      "nested loop only against the 32-row centroid table") {
    val p = plan("q161_mutual_knn")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the candidate join must be a shuffle equi-join on cell_id
    val cellJoin = p.linesIterator.filter(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("cell_id")).toSeq
    assert(cellJoin.nonEmpty, p.take(4000))
    // every nested-loop side is the TakeOrdered(limit=32) centroid table
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    val cents = p.linesIterator.count(_.contains(
      "TakeOrderedAndProject(limit=32"))
    assert(bnl == cents && bnl > 0, s"bnl=$bnl cents=$cents")
    // rank windows stay capped (WindowGroupLimit) and keyed by qid
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q248 tfidf: keyed rank window, broadcast corpus total, map-side " +
      "partial counts") {
    val p = plan("q248_tfidf_terms")
    // the per-doc top-k is a doc_id-keyed window (WindowGroupLimit caps
    // it) — never a global rank; N rides a broadcast 1-row frame
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(p.contains("partial_count"), "tf counting lost map-side combine")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(3000))
  }

  test("q249 surprise: rank buckets keep the broadcast bucket-map join, " +
      "no global-sort window") {
    val p = plan("q249_surprise_filter")
    // bucketByRank's offset frame broadcasts back; the only windows are
    // its bounded per-_b frames, never a corpus-wide constant key
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!"Window.*partitionBy\\(\\)".r.findFirstIn(p).isDefined)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "model counting lost map-side combine")
  }

  test("q255 sketch quantiles: windows are bucket-sized and keyed") {
    val p = plan("q255_sketch_quantiles")
    // the cumulative read runs over <= 64 bucket rows per group — every
    // Window in the plan is keyed by the group column
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("o_orderpriority")),
      winLines.mkString("\n"))
    assert(p.contains("partial_count"), "bucket counts lost map-side combine")
  }

  test("q262 label noise: candidate join shuffles on cell_id — the " +
      "corpus-sized probe table is never broadcast") {
    val p = plan("q262_label_noise")
    // the only broadcasts allowed are the bounded centroid tables (the
    // two crossJoin(broadcast(cents)) argmax stages); the probe ⋈
    // assigned candidate join must be a shuffle join keyed by cell_id
    val joinLine = p.linesIterator.find(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("cell_id"))
    assert(joinLine.isDefined, p.take(4000))
    val badBroadcast = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell_id#"))
    assert(!badBroadcast, "probe table degenerated to a broadcast join")
  }

  test("q266 cdc chunking: boundaries come from the codegen kernel in the " +
      "scan stage — no per-character explode or keyed window") {
    val p = plan("q266_cdc_chunks")
    assert(p.toLowerCase.contains("cdcboundaries"), p.take(3000))
    // the relational CDC formulation would show a Window (per-doc rolling
    // sum over exploded characters); the kernel plan must have none
    assert(!p.contains("Window"), "per-char window leaked into the CDC plan")
  }

  test("q268 count-min: kilobyte sketch joins broadcast, top-20 is " +
      "TakeOrdered — no sort-merge join, no global window") {
    val p = plan("q268_count_min")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "sketch/top join degenerated to SMJ")
    assert(p.contains("TakeOrderedAndProject"), "top-20 should be TakeOrdered")
    assert(!p.contains("Window"), "no window belongs in the sketch plan")
  }

  test("q269 hashed classifier: the weight table joins broadcast (the " +
      "model is kilobytes; text never shuffles with it)") {
    val p = plan("q269_hashed_classifier")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q272 gram matrix: pure explode + one partial aggregation — no " +
      "joins, no windows (the matrix, not the corpus, crosses the wire)") {
    val p = plan("q272_gram_matrix")
    assert(!p.contains("Join"), "the Gram pass must not join")
    assert(!p.contains("Window"))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q278 two-level kNN: the cell candidate join shuffles on cell_id; " +
      "only the bounded centroid tables broadcast") {
    val p = plan("q278_mutual_knn_imi")
    assert(!p.contains("CartesianProduct"), "IMI join degenerated")
    val joinLine = p.linesIterator.find(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("cell_id"))
    assert(joinLine.isDefined, p.take(4000))
    val badBroadcast = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell_id#"))
    assert(!badBroadcast, "corpus-sized probe degenerated to a broadcast")
  }

  test("q279 containment band self-join is an equi join, never a " +
      "cartesian product; text never rides the band shuffle") {
    val p = plan("q279_lsh_containment")
    assert(!p.contains("CartesianProduct"), "band join degenerated")
    assert(!p.contains("BroadcastNestedLoopJoin"), "band join degenerated")
    // the band exchange carries (id, band, bucket) — never the document
    val bandExchange = p.linesIterator.find(l =>
      l.contains("Exchange hashpartitioning(band"))
    bandExchange.foreach(l => assert(!l.contains("text#"), l))
  }

  test("q281 composed curation: equi joins end to end, no cartesian") {
    val p = plan("q281_curation_neardup")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q200 curation rides Dedup.exact: fingerprint semi-join, " +
      "no row_number window keyed by the text digest") {
    val p = plan("q200_curation")
    assert(p.contains("LeftSemi"), "survivor pick lost its semi-join route")
    // the pre-round-9 form shuffled FULL rows through a
    // row_number-over-md5(text) window; the Dedup.exact route shuffles
    // (digest, id) pairs only — a Window node partitioned by the digest
    // reappearing means the route regressed
    val offending = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("md5")).toSeq
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("gate source sweep: no constant-key windows; SparkEntry crossJoins " +
      "are all broadcast scalar frames") {
    import scala.jdk.CollectionConverters._
    val roots = Seq(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala"),
      java.nio.file.Paths.get("src/main/scala/graft/operators"),
      java.nio.file.Paths.get("src/main/scala/graft/shipping"),
      java.nio.file.Paths.get("src/main/scala/graft/etl"))
    val files = roots.flatMap { r =>
      if (java.nio.file.Files.isDirectory(r))
        java.nio.file.Files.list(r).iterator.asScala.toSeq
          .filter(_.toString.endsWith(".scala"))
      else Seq(r)
    }
    val offenders = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("partitionBy(lit(") => s"$f:${i + 1}: $l"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // every crossJoin in the gate surface broadcasts its (scalar or
    // bounded-table) side explicitly — an unhinted crossJoin is how a
    // quadratic plan sneaks back in
    val entry = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")).asScala
    val badCross = entry.zipWithIndex.collect {
      case (l, i) if l.contains("crossJoin") && !l.contains("broadcast(") =>
        s"SparkEntry.scala:${i + 1}: $l"
    }
    assert(badCross.isEmpty, badCross.mkString("\n"))
  }
}
