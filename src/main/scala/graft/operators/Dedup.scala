package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Thrown by the exact set-similarity family's candidate-mass circuit
  * breaker (see [[Dedup.candidateMassStats]]): the cheap pre-estimate of
  * inverted-index pair mass exceeded the caller's budget, so the exact
  * candidate join would have written a pair-mass-sized shuffle (measured
  * 83–89 GB and an OOM at 100× on a template-vocabulary corpus) for a
  * result the sketch family produces safely. Fail fast with a routing
  * diagnostic instead.
  */
final class CandidateMassExceededException(
    val estimated: java.math.BigDecimal, val budget: Long,
    message: String) extends IllegalStateException(message)

/** Deduplication operators for large-scale text corpora — the
  * training-data-pipeline surface layered on the same engine. All
  * implementations are shuffle-conscious: candidate generation is always
  * an equi-join on a derived key (hash, band bucket, shingle), never a
  * cross join, so each scales to 100 TB with bounded fan-out.
  *
  * Hashes are md5-derived (first 15 hex chars → 60-bit positive int) so
  * results are engine-portable and deterministic across runs — a
  * requirement for reproducible corpus construction.
  */
object Dedup {

  /** Fan a scan-rooted corpus out to the session's parallelism when its
    * scan yields fewer splits than cores. A parquet ROW GROUP is the
    * scan's atomic split, so a toy-scale single-row-group file would
    * otherwise run an entire µs-per-row gram pipeline on ONE task. At
    * warehouse scale inputs carry far more splits than cores and this
    * is a no-op; every consumer is partitioning-invariant (hash
    * aggregates, sorted collect_list, equi-joins).
    *
    * Apply ONLY where the pre-shuffle per-row work is genuinely heavy
    * (the decontamination positional explode at high contamination,
    * the table-checksum digest chain): for the inverted-index family
    * the extra exchange costs more than the single cheap scan pass it
    * parallelizes (measured +0.15-0.3 s per query at sf0.1).
    *
    * The probe (`df.rdd.getNumPartitions`) is gated to NARROW
    * scan-rooted plans: with AQE on (Spark 4 default), `Dataset.rdd`
    * on a shuffle-rooted frame finalizes the adaptive plan by EAGERLY
    * RUNNING every upstream query stage — real jobs, recomputed again
    * by the actual query (no exchange reuse across executions). A
    * shuffle-rooted input is already at `spark.sql.shuffle.partitions`
    * width anyway, so the fan-out would be a no-op there; skipping the
    * probe loses nothing and makes the helper safe on the arbitrary
    * DataFrames the public entry points (decontaminationCut,
    * tableChecksum) accept.
    */
  private[operators] def fanOutIfNarrow(df: DataFrame): DataFrame = {
    if (!isScanRooted(df.queryExecution.optimizedPlan)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** True iff the optimized plan is a leaf scan under narrow
    * (partition-preserving, non-shuffling) operators only — the shapes
    * for which materializing the RDD lineage compiles no query stages
    * and runs no jobs under AQE.
    */
  private def isScanRooted(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: LeafNode => true
      case p @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias |
                _: Expand) => isScanRooted(p.children.head)
      case _ => false
    }
  }

  /** 60-bit deterministic hash of a string expression. */
  def hash60(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"s$seed|"), c)), 1, 15), 16, 10).cast("long")

  /** The seed-free 60-bit base hash: ONE md5 per value; the multi-seed
    * family derives from it arithmetically (see [[seededHash60]]). md5 per
    * (value, seed) — 16 digests per shingle for a 16-hash signature — was
    * the dominant CPU cost of the minhash path at corpus scale.
    */
  def hash60Base(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 60-bit xor-mix constant for seed `s` (md5("seed<s>") prefix —
    * high-entropy, reproducible in any engine with md5).
    */
  def seedConst(s: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"seed$s".getBytes("UTF-8"))
    BigInt(d.map(b => f"$b%02x").mkString.take(15), 16).toLong
  }

  /** Per-seed hash from the base hash: h_s = mix(base ^ C_s) with
    * mix(x) = x ^ (x >> 31). Only xor/shift on values < 2^60 — no
    * overflow in any engine, identical signed-64 results everywhere
    * (verified against DuckDB). The xor-with-random-constant family is
    * the standard cheap minhash permutation; the shift round breaks the
    * pure bit-flip structure so ranks decorrelate across seeds.
    */
  def seededHash60(base: Column, s: Int): Column = {
    // plain expression reuse (not the `bind` HOF): the duplicated xor is
    // collapsed by codegen subexpression elimination, and everything stays
    // inside whole-stage codegen — `bind` would drop to interpreted HOFs
    val x = base.bitwiseXOR(lit(seedConst(s)))
    x.bitwiseXOR(shiftright(x, 31))
  }

  /** Exact dedup: keep the smallest id per distinct text (hash-groupBy —
    * one shuffle on the 128-bit digest, never on the text itself).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("_h"))
      .groupBy("_h").agg(min(col(idCol)).as(idCol))
      .drop("_h")

  /** Let-binding idiom: evaluate `v` exactly once per row and pass it to
    * `body` as a lambda variable. Nested HOFs otherwise re-evaluate outer
    * expressions per element (and CollapseProject re-inlines single-use
    * aliases), turning O(n) shingle pipelines into O(n²) — measured 100×
    * slowdowns at sf0.1 before this.
    */
  def bind(v: Column, body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Word n-gram shingles, distinct (first-occurrence order). Tokenizes
    * as [[TextAnalysis.tokens]] (trimmed split), matching the DuckDB
    * oracles' `string_split_regex(trim(text))` — an untrimmed split
    * would emit a phantom empty first token on leading-whitespace text.
    *
    * Native codegen kernel ([[graft.functions.WordNgrams]]): the HOF
    * formulation this replaces (`transform(sequence(...),
    * array_join(slice(...)))`) ran INTERPRETED per gram — Spark's array
    * lambdas have no codegen — on the hottest loop of the whole text
    * family. Byte-equivalence with that formulation (trim/split edge
    * cases, clamped short-doc gram, first-occurrence distinct order) is
    * pinned by spec.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.wordNgramsNative(text, n, distinct = true)

  /** Distinct gram HASHES of a document — the fused form of
    * `hash60Base(explode(wordShingles(text, n)))` for the inverted-index
    * pipelines: the md5 runs straight off the gram bytes (no hex string,
    * no conv), and exploded index rows carry 8-byte longs, never gram
    * text ([[graft.functions.WordNgramHash60]], value-equivalence
    * spec-pinned).
    */
  def wordShingleHashes(text: Column, n: Int): Column =
    graft.functions.wordNgramHash60(text, n, distinct = true)

  /** The pre-shingled frame the whole exact/LSH Jaccard and
    * containment family computes from — (id, _grams sorted gram-hash
    * array, _sz) — built ONCE per operator call and lazily checkpointed
    * (r11): the shingle kernel is the family's dominant CPU cost, and
    * the audits previously re-ran it up to four times per query (exact
    * side, LSH side's sets, LSH side's signatures, the audit's own size
    * frame). Everything
    * downstream (signatures, prefix ranks, verify arrays, size strata)
    * derives from this frame.
    */
  private[operators] def shingleSets(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        sort_array(wordShingleHashes(col(textCol), n)).as("_grams"))
      .withColumn("_sz", size(col("_grams")).cast("long"))
      .localCheckpoint(false)

  /** [[minhashSignatures]] over a [[shingleSets]] frame — the exploded
    * gram-hash multiset is identical (min() is order-insensitive over
    * the same distinct-hash set), so signatures are bit-identical, with
    * zero extra shingle-kernel passes.
    */
  private[operators] def minhashSignaturesFrom(
      sets: DataFrame, numHashes: Int): DataFrame = {
    val sh = sets.select(col("id"), explode(col("_grams")).as("_hb"))
    val aggs = (0 until numHashes).map(s =>
      min(seededHash60(col("_hb"), s)).as(s"_h$s"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(s => col(s"_h$s")): _*).as("sig"))
  }

  /** Candidate-mass estimate for the exact set-similarity family — the
    * circuit-breaker input. One pass over the corpus shingles, one
    * vocabulary-sized aggregate, one row out:
    *
    *   - n_docs, total_pairs = n_docs·(n_docs−1)/2 (the all-pairs mass)
    *   - n_postings (distinct (doc, gram) rows), n_grams (distinct
    *     grams), max_df (hottest inverted-index key — the skew signal)
    *   - candidate_pairs = Σ_g df(g)·(df(g)−1)/2 — the EXACT row count
    *     of a full inverted-index self-join on the gram (before per-pair
    *     grouping), and an upper bound for the prefix-filter joins'
    *     ([[prefixFilterJaccardPairs]], [[prefixFilterContainmentPairs]])
    *     candidate mass.
    *
    * When candidate_pairs ≈ total_pairs the vocabulary is non-selective
    * (every prefilter degenerates: the round-6 100× template corpus put
    * 3.5% of ALL pairs behind a shared gram — an 83 GB doomed shuffle)
    * and the LSH-gated [[lshJaccardPairs]] / minhash sketch family is
    * the only plan that survives. Internal math is decimal(38,0); the
    * reported columns are BIGINT (pair counts < 9.2e18 ≈ 4.3e9 docs —
    * beyond any corpus this engine meets).
    */
  def candidateMassStats(
      df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        explode(wordShingleHashes(col(textCol), n)).as("gram"))
    val dfreq = sh.groupBy("gram").agg(count(lit(1)).as("_df"))
    val d = col("_df").cast("decimal(38,0)")
    val stats = dfreq.agg(
      coalesce(sum(col("_df")), lit(0L)).cast("long").as("n_postings"),
      count(lit(1)).cast("long").as("n_grams"),
      coalesce(max(col("_df")), lit(0L)).cast("long").as("max_df"),
      // df·(df−1) is even, so the decimal /2 is exact and the cast clean
      coalesce((sum(d * (d - lit(1))) / lit(2)).cast("long"), lit(0L))
        .as("candidate_pairs"))
    val nd = count(lit(1)).cast("decimal(38,0)")
    val docs = df.agg(count(lit(1)).cast("long").as("n_docs"),
      ((nd * (nd - lit(1))) / lit(2)).cast("long").as("total_pairs"))
    docs.crossJoin(stats) // 1 row × 1 row
      .select("n_docs", "n_postings", "n_grams", "max_df",
        "candidate_pairs", "total_pairs")
  }

  /** Eager budget check shared by the exact-similarity guards (the
    * prefix-filter joins, the banded and pigeonhole pair joins, the
    * barcode and symspell joins): `massOf2x` is a 1-column frame whose
    * single row holds TWICE the estimated candidate mass (Σ dfp·(dfp−1)
    * over prefix postings, Σ 2·dfp·df for the containment probe —
    * callers avoid the division); collect it (one small job) and fail
    * fast when over budget. The estimate job itself only shuffles the
    * vocabulary-sized gram histogram — linear, never pair mass.
    */
  private[operators] def requireCandidateBudget(
      op: String, massOf2x: DataFrame, budget: Long, hint: String): Unit = {
    val two = massOf2x.collect()(0).getDecimal(0)
    val est = two.divide(java.math.BigDecimal.valueOf(2))
    if (est.compareTo(java.math.BigDecimal.valueOf(budget)) > 0)
      throw new CandidateMassExceededException(est, budget,
        s"$op: estimated candidate mass $est pairs exceeds the " +
          s"budget $budget — candidate mass ~ pair mass on this corpus " +
          s"(non-selective vocabulary), so the exact inverted-index join " +
          s"would write a doomed pair-mass shuffle. $hint")
  }

  private val LshHint = "Use lshJaccardPairs (LSH-gated exact Jaccard, " +
    "the CCNet/C4 production shape), lshContainmentPairs for the " +
    "containment predicate, or the minhash/simhash sketch family " +
    "instead, or raise maxCandidatePairs deliberately."

  private val ContainmentHint = "Use lshContainmentPairs (banded " +
    "minhash candidates, exact containment verified on the sliver — " +
    "answers the same |A∩B|/min predicate approximately) or raise " +
    "maxCandidatePairs deliberately."

  /** Exact set-similarity join via PREFIX FILTERING (the AllPairs /
    * PPJoin family, Bayardo et al. WWW'07; public literature): pairs
    * with n-gram Jaccard >= t, provably NO false negatives, but with
    * the inverted index built over only each doc's prefix — its
    * |X| - ceil(t·|X|) + 1 globally-rarest shingles — instead of every
    * shingle. Why that suffices: under any one total order on grams,
    * the MINIMUM common gram of a qualifying pair must sit within both
    * docs' prefixes (if all of A∩B sat in A's last ceil(t|A|)-1 grams,
    * the overlap would be < t·|A| ≤ |A∩B|, a contradiction — and the
    * pigeonhole picks the same witness gram on both sides because both
    * prefixes are the heads of the SAME order). Ordering grams rarest-
    * first makes the indexed grams precisely the ones with the fewest
    * collisions, so at t=0.7 the gram join touches ~30% of the volume
    * of a full inverted-index self-join and its hottest key is a rare
    * gram, not a stop-gram — the classic skew fix and the scale win.
    * Candidates are then verified EXACTLY on the full sorted gram sets
    * (one allocation-free [[graft.functions.SortedIntersectCount]] merge
    * per candidate pair, candidates << corpus).
    *
    * Output: (id_a < id_b, jaccard double) with jaccard >= threshold.
    */
  def prefixFilterJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxCandidatePairs: Option[Long] = None): DataFrame =
    prefixFilterJaccardPairsFrom(shingleSets(df, idCol, textCol, n),
      threshold, maxCandidatePairs)

  /** [[prefixFilterJaccardPairs]] over a pre-built [[shingleSets]] frame.
    * Grams ride as 60-bit hashes: the verify arrays carry 8-byte longs
    * instead of gram strings (4× less candidate-pair payload — measured
    * dominant at dense-vocabulary corpora), same 2^-60 per-pair
    * collision convention as the minhash family. r11: the verification
    * side reads the checkpointed per-doc gram arrays DIRECTLY — the
    * previous explode → groupBy(id) collect_list round-trip re-shuffled
    * every gram row just to rebuild the array the kernel had already
    * produced.
    */
  private[operators] def prefixFilterJaccardPairsFrom(
      sets: DataFrame, threshold: Double,
      maxCandidatePairs: Option[Long]): DataFrame = {
    val sh = sets.select(col("id"), explode(col("_grams")).as("g"))
    // full sorted gram-hash set + size per doc (the verification side)
    val docSets = sets
    // global rarity order: (document frequency asc, gram asc) is total
    val dfreq = sh.groupBy("g").agg(count(lit(1)).as("_df"))
    val byId = Window.partitionBy("id")
    val prefix0 = sh.join(dfreq, "g")
      .withColumn("_pos", row_number().over(byId.orderBy(col("_df"), col("g"))))
      .withColumn("_n", count(lit(1)).over(byId))
      .filter(col("_pos") <= col("_n") - ceil(lit(threshold) * col("_n")) + 1)
      .select("id", "g", "_pos", "_n")
    // guard on → the ranked-prefix pass feeds both estimate and plan
    val prefix = if (maxCandidatePairs.isDefined)
      prefix0.localCheckpoint(false) else prefix0
    maxCandidatePairs.foreach { budget =>
      // EXACT bound on the prefix-vs-prefix join output (before the
      // length/positional prunes): Σ_g dfp(g)·(dfp(g)−1)/2 over PREFIX
      // document frequencies — tighter than the full-gram bound by
      // construction (prefix grams are the globally rarest)
      val d = col("_pdf").cast("decimal(38,0)")
      requireCandidateBudget("prefixFilterJaccardPairs",
        prefix.groupBy("g").agg(count(lit(1)).as("_pdf"))
          .agg(coalesce(sum(d * (d - lit(1))),
            lit(0).cast("decimal(38,0)")).cast("decimal(38,0)")),
        budget, LshHint)
    }
    // candidate join with the two other PPJoin prunes, both safe because
    // a qualifying pair always joins on its MINIMUM common gram, where
    // both bounds hold: (a) length filter — J >= t forces t·|A| <= |B|
    // <= |A|/t; (b) positional filter — common grams all sit at-or-after
    // the witness gram in both docs, so the reachable overlap
    // min(|A|-posA, |B|-posB)+1 must cover the required
    // ceil(t/(1+t)·(|A|+|B|))
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("a._n") + col("b._n")))
    val cand = prefix.as("a").hint("shuffle_hash").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("b._n") * threshold <= col("a._n") &&
          col("a._n") * threshold <= col("b._n") &&
          least(col("a._n") - col("a._pos"), col("b._n") - col("b._pos")) +
            1 >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(docSets.select(col("id").as("id_a"),
        col("_grams").as("_ga"), col("_sz").as("_sa")), "id_a")
      .join(docSets.select(col("id").as("id_b"),
        col("_grams").as("_gb"), col("_sz").as("_sb")), "id_b")
      .withColumn("_i", graft.functions
        .sortedIntersectCount(col("_ga"), col("_gb")).cast("long"))
      .withColumn("jaccard",
        col("_i").cast("double") / (col("_sa") + col("_sb") - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Continuation pairs — doc A's LAST k tokens equal doc B's FIRST k
    * tokens: the split-document / pagination signal (a crawler that cut
    * one article into consecutive pages produces exactly this overlap,
    * which Jaccard-style whole-doc similarity misses because the pieces
    * share only a seam). Pure equi-join on the seam phrase: each doc
    * contributes ONE head key and ONE tail key (not an n-gram explode),
    * so the index is corpus-sized, the join key is a k-token phrase
    * (self-selecting for rarity), and docs shorter than k never join.
    *
    * Output: (id_a, id_b) — read "a continues into b".
    */
  def continuationPairs(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val heads = df
      .select(col(idCol).as("id_b"), toks.as("_t"))
      .filter(size(col("_t")) >= k)
      .select(col("id_b"), array_join(slice(col("_t"), 1, k), " ").as("_key"))
    val tails = df
      .select(col(idCol).as("id_a"), toks.as("_t"))
      .filter(size(col("_t")) >= k)
      .select(col("id_a"), array_join(slice(col("_t"), -k, k), " ").as("_key"))
    tails.join(heads, Seq("_key"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
  }

  /** Asymmetric n-gram CONTAINMENT pairs: containment(A→B) =
    * |A ∩ B| / |A| — the subset-duplication signal Jaccard misses (a
    * short document quoted whole inside a long one scores near 1.0 on
    * containment but near |A|/|B| ≈ 0 on Jaccard; news-wire reprints,
    * quoted tweets, and template-wrapped articles are the corpus-curation
    * cases). Emits pairs where EITHER direction reaches `threshold`,
    * with both containments rounded to 6 places.
    *
    * EXACT via an asymmetric prefix filter: no false negatives,
    * candidates verified on full gram sets, without a full
    * inverted-index self-join whose Σdf² pair volume grows quadratically
    * (the sf1 scale run measured 1.2s → 34.7s at 10× corpus).
    *
    * Why the prefix suffices here: max(c_ab, c_ba) >= t means
    * inter >= t·min(|A|,|B|). Let S be the smaller doc. If none of S's
    * (|S| - ceil(t·|S|) + 1) globally-RAREST grams occurred in the
    * partner, the whole overlap would sit in S's last ceil(t·|S|) - 1
    * grams — fewer than t·|S| <= inter, a contradiction. So probing
    * every doc's rarity-ordered prefix against the FULL index (not
    * prefix-vs-prefix: unlike Jaccard, the larger side's witness can
    * live anywhere in it, and no length filter applies — containment
    * pairs any sizes) finds every qualifying pair when its smaller side
    * probes. Prefix grams are by construction the rarest ones, so the
    * probe volume Σ df_prefix(g)·df(g) stays far below Σ df(g)².
    */
  def prefixFilterContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxCandidatePairs: Option[Long] = None): DataFrame =
    prefixFilterContainmentPairsFrom(shingleSets(df, idCol, textCol, n),
      threshold, maxCandidatePairs)

  /** [[prefixFilterContainmentPairs]] over a pre-built [[shingleSets]]
    * frame — same r11 reshaping as [[prefixFilterJaccardPairsFrom]]: the
    * verification arrays come straight off the checkpointed frame
    * instead of an explode → groupBy(id) collect_list re-shuffle, and
    * audits share one shingle-kernel pass across both sides.
    */
  private[operators] def prefixFilterContainmentPairsFrom(
      sets: DataFrame, threshold: Double,
      maxCandidatePairs: Option[Long]): DataFrame = {
    val sh = sets.select(col("id"), explode(col("_grams")).as("g"))
    val docSets = sets
    val dfreq = sh.groupBy("g").agg(count(lit(1)).as("_df"))
    val byId = Window.partitionBy("id")
    val ranked0 = sh.join(dfreq, "g")
      .withColumn("_pos", row_number().over(byId.orderBy(col("_df"), col("g"))))
      .withColumn("_n", count(lit(1)).over(byId))
    val ranked = if (maxCandidatePairs.isDefined)
      ranked0.localCheckpoint(false) else ranked0
    val prefix = ranked
      .filter(col("_pos") <= col("_n") - ceil(lit(threshold) * col("_n")) + 1)
      .select(col("id"), col("g"), col("_pos"), col("_n"))
    maxCandidatePairs.foreach { budget =>
      // EXACT bound on the prefix-vs-full probe volume: Σ_g dfp(g)·df(g)
      // (dfp = prefix document frequency, df = full) — doubled so the
      // shared checker's /2 lands back on the true probe count
      requireCandidateBudget("prefixFilterContainmentPairs",
        prefix.groupBy("g").agg(count(lit(1)).as("_pdf"))
          .join(dfreq, "g")
          .agg(coalesce(sum(lit(2) * col("_pdf").cast("decimal(38,0)") *
            col("_df").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).cast("decimal(38,0)")),
        budget, ContainmentHint)
    }
    // smaller side probes its prefix against the larger side's full set;
    // size ties probe both ways, the unordered-pair distinct dedups.
    // Positional prune (safe): every common gram sits at-or-after the
    // MINIMUM common gram in the one global rarity order, so at the
    // witness row the reachable overlap min(remaining_a, remaining_b)+1
    // must cover the required ceil(t·|S|) — rows that fail it are
    // never a pair's only witness.
    val cand = prefix.as("a").hint("shuffle_hash").join(
        ranked.select(col("id"), col("g"), col("_pos"), col("_n")).as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id") &&
          col("a._n") <= col("b._n") &&
          least(col("a._n") - col("a._pos"), col("b._n") - col("b._pos")) +
            1 >= ceil(lit(threshold) * col("a._n")))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    cand
      .join(docSets.select(col("id").as("id_a"),
        col("_grams").as("_ga"), col("_sz").as("_sa")), "id_a")
      .join(docSets.select(col("id").as("id_b"),
        col("_grams").as("_gb"), col("_sz").as("_sb")), "id_b")
      .withColumn("_i", graft.functions
        .sortedIntersectCount(col("_ga"), col("_gb")).cast("long"))
      .withColumn("c_ab", round(col("_i").cast("double") / col("_sa"), 6))
      .withColumn("c_ba", round(col("_i").cast("double") / col("_sb"), 6))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")
  }

  /** Benchmark decontamination: per-corpus-document n-gram overlap with a
    * benchmark/eval shingle set — the standard guard against test-set
    * leakage into a training corpus (flag or drop documents whose shingle
    * overlap ratio exceeds a threshold).
    *
    * Relational plan: distinct word shingles per document (inverted-index
    * rows, never per-row arrays), the benchmark side reduced to its
    * distinct gram set, one equi-join on the gram. The benchmark set is
    * tiny next to the corpus (eval suites are thousands of documents, the
    * corpus is billions) so AQE broadcasts it; corpus text itself never
    * shuffles — only (doc_id, gram) rows, and only for grams that also
    * appear in the benchmark after the join prunes.
    *
    * Output: doc_id, overlap (grams shared with the benchmark), sz
    * (distinct grams in the doc), ratio, contaminated (ratio >= threshold).
    */
  def contaminationScores(
      corpus: DataFrame, // id, text
      benchmark: DataFrame, // text
      idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    // grams ride as 60-bit hashes (the fused kernel; same 2^-60
    // collision convention as the rest of the family) — the join key
    // and shuffle payload are 8-byte longs, never gram text
    val corp = corpus.select(col(idCol).as("doc_id"),
      explode(wordShingleHashes(trim(col(textCol)), n)).as("g"))
    val bench = benchmark
      .select(explode(wordShingleHashes(trim(col(textCol)), n)).as("g"))
      .distinct()
    val sz = corp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val ov = corp.join(bench, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
    sz.join(ov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        col("sz"),
        round(coalesce(col("overlap"), lit(0L)).cast("double") / col("sz"), 6)
          .as("ratio"),
        (coalesce(col("overlap"), lit(0L)).cast("double") / col("sz")
          >= threshold).as("contaminated"))
  }

  /** MinHash signature: for each of `numHashes` seeds, the minimum
    * hash60(shingle, seed) over the doc's shingle set. The shingle array is
    * let-bound so it is built once per row, not once per seed.
    *
    * NOTE: array HOFs are interpreted (no codegen) in Spark — prefer
    * [[minhashSignatures]] for corpus-scale work.
    */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int): Column =
    bind(transform(wordShingles(text, shingleN), g => hash60Base(g)), hs =>
      array((0 until numHashes).map { s =>
        array_min(transform(hs, h => seededHash60(h, s)))
      }: _*))

  /** MinHash signatures, relational formulation: explode shingles to rows,
    * hash per row (md5/conv are codegen'd as row expressions, unlike inside
    * array lambdas, which Spark always interprets), then one map-side-
    * combining groupBy(id) with `numHashes` min() aggregates. One shuffle
    * on id; no giant per-row arrays — the shape that holds at 100 TB.
    *
    * One md5 per shingle: the seed family is derived from the base digest
    * with [[seededHash60]] (xor-mix), not re-digested per seed — 16× less
    * hashing on what is otherwise the dominant CPU cost of corpus dedup.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        explode(wordShingleHashes(col(textCol), shingleN)).as("_hb"))
    val aggs = (0 until numHashes).map(s =>
      min(seededHash60(col("_hb"), s)).as(s"_h$s"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(s => col(s"_h$s")): _*).as("sig"))
  }

  /** MinHash + LSH near-dup candidate pairs: signatures are banded
    * (`numHashes / bandSize` bands); docs sharing any band bucket become
    * candidates (equi-join on the band hash — the LSH trick that turns an
    * all-pairs problem into a bucket join); candidates are kept when >=
    * `minAgree` of the full signature agrees (estimates Jaccard =
    * minAgree/numHashes).
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 4, numHashes: Int = 16, bandSize: Int = 4,
      minAgree: Int = 12): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, shingleN, numHashes)
    val numBands = numHashes / bandSize
    // The signature rides along through the band join: both self-join
    // sides shuffle on (band, bucket), so ReuseExchange materializes the
    // signature pipeline exactly once — no persist (a leaked persist here
    // pinned generated classes across a whole session in round 1), and no
    // by-id rejoin afterwards. The extra shuffle payload is numHashes
    // longs per banded row; candidate pairs << corpus, so the distinct
    // carrying two signatures stays small.
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(bandBuckets(col("sig"), numBands, bandSize))
        .as(Seq("band", "bucket")))
    // shuffle_hash (not broadcast): a broadcast build side would recompute
    // the whole signature pipeline for the broadcast value; identical
    // shuffle exchanges on both sides let ReuseExchange materialize it once
    banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct() // a pair can collide in several bands
      .withColumn("agree",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)))
      .filter(col("agree") >= minAgree)
      .select("id_a", "id_b", "agree")
  }

  /** The per-band bucket keys of a minhash signature: band b's bucket is
    * the md5 of its `bandSize` signature positions joined with "," —
    * THE band-hash definition, shared by the self-join pairs, the
    * standing index and the streaming gate so they can never drift
    * apart (a silently different separator would stop streaming matches
    * against a persisted index).
    */
  def bandBuckets(sig: Column, numBands: Int, bandSize: Int): Column =
    array((0 until numBands).map { b =>
      md5(concat_ws(",", (0 until bandSize).map(i =>
        element_at(sig, b * bandSize + i + 1)): _*))
    }: _*)

  /** The standing LSH band index of a corpus: one (id, sig, band, bucket)
    * row per document per band — what an incremental dedup pipeline
    * persists between batches and what the STREAMING gate
    * ([[graft.streaming.StreamingEtl.dedupAgainstIndex]]) probes as its
    * static side.
    */
  def minhashBandIndex(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 4, numHashes: Int = 16, bandSize: Int = 4): DataFrame = {
    val numBands = numHashes / bandSize
    minhashSignatures(df, idCol, textCol, shingleN, numHashes)
      .select(col("id"), col("sig"),
        posexplode(bandBuckets(col("sig"), numBands, bandSize))
          .as(Seq("band", "bucket")))
  }

  /** Incremental near-dup detection: LSH candidates of a NEW batch
    * against an EXISTING corpus — the daily-increment production shape.
    * The self-join variant ([[minhashLshPairs]]) rescans the whole corpus
    * every run; here the corpus's banded signatures are a standing index
    * (in production: a bucketed table, so the batch's band join is
    * shuffle-free on the corpus side) and only the batch is signed fresh.
    * Output: (corpus_id, batch_id, agree) for pairs agreeing on >=
    * `minAgree` of `numHashes` signature positions.
    */
  def minhashLshPairsAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 4, numHashes: Int = 16, bandSize: Int = 4,
      minAgree: Int = 12): DataFrame = {
    def banded(df: DataFrame) =
      minhashBandIndex(df, idCol, textCol, shingleN, numHashes, bandSize)
    banded(corpus).as("a").hint("shuffle_hash").join(banded(batch).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("corpus_id"), col("b.id").as("batch_id"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("agree",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)))
      .filter(col("agree") >= minAgree)
      .select("corpus_id", "batch_id", "agree")
  }

  /** 60-bit SimHash fingerprint per document: tokens vote ±1 on each bit
    * of their hash; the fingerprint takes the sign. One groupBy(id) with
    * `bits` conditional-sum aggregates (map-side combined) — no per-bit
    * row explosion, so the shuffle moves one row per document instead of
    * 60 per token.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
      .withColumn("h", hash60(col("tok"), 0))
    val aggs = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"_v$b")
    }
    toks.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until bits).map(b => when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: fingerprints within `maxHamming` bits,
    * candidate-generated by banding the fingerprint into `numBands`
    * 15-bit chunks (two fingerprints within k bits must share ≥1 of k+1
    * chunks — pigeonhole, same trick as the barcode slice prefilter).
    */
  def simhashPairs(
      fingerprints: DataFrame, // columns: id, simhash
      maxHamming: Int = 6, numBands: Int = 4, bits: Int = 60,
      maxCandidatePairs: Option[Long] = None): DataFrame = {
    val chunk = bits / numBands
    val banded0 = fingerprints.select(col("id"), col("simhash"),
      posexplode(array((0 until numBands).map { b =>
        shiftright(col("simhash"), b * chunk)
          .bitwiseAND(lit((1L << chunk) - 1))
      }: _*)).as(Seq("band", "bucket")))
    val banded = if (maxCandidatePairs.isDefined)
      banded0.localCheckpoint(false) else banded0
    maxCandidatePairs.foreach { budget =>
      // exact bucket pair mass: Σ over (band, bucket) of c·(c−1)/2 —
      // degenerate hash distributions (template corpora pile most docs
      // into a few buckets) are caught before the self-join is written
      val c = col("_c").cast("decimal(38,0)")
      requireCandidateBudget("simhashPairs",
        banded.groupBy("band", "bucket").agg(count(lit(1)).as("_c"))
          .agg(coalesce(sum(c * (c - lit(1))),
            lit(0).cast("decimal(38,0)")).cast("decimal(38,0)")),
        budget,
        "Raise `bits` (a more discriminative fingerprint), lower " +
          "maxHamming (fewer, smaller bands), or pre-shard the corpus " +
          "— this hash distribution piles documents into few buckets.")
    }
    banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming_bits",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming_bits") <= maxHamming)
      .select("id_a", "id_b", "hamming_bits")
  }

  /** Embedding near-dup: pairs with cosine >= threshold. Banded
    * OR-construction sign-bit LSH: `numBands * bandBits` deterministic
    * hyperplanes (see [[SimilaritySearch.hyperplaneSignature]]); two
    * vectors are candidates when ANY band of `bandBits` sign bits agrees;
    * exact cosine reranks survivors.
    *
    * Recall semantics: with per-plane agreement probability
    * p = 1 − θ/π (θ the pair's angle), a pair becomes a candidate with
    * probability 1 − (1 − p^bandBits)^numBands — raise numBands for
    * recall, raise bandBits to keep buckets selective as the corpus
    * grows (bandBits ≈ log2(N / target bucket size); the round-1 fixed
    * 2^8 buckets went quadratic within buckets at 100× scale).
    *
    * Plan shape: the banded self-join carries only (id, band, bucket) —
    * bare-id candidate pairs dedup cheaply, then vectors re-attach by id
    * (candidates << corpus, so AQE broadcasts the pair list and the
    * vector table is never shuffled).
    */
  def embeddingCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBands: Int = 2, bandBits: Int = 8): DataFrame = {
    val planes = numBands * bandBits
    val banded = df.select(col(idCol).as("id"),
        SimilaritySearch.hyperplaneSignature(col(vecCol), planes).as("sig"))
      .select(col("id"),
        posexplode(array((0 until numBands).map { b =>
          shiftright(col("sig"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
        }: _*)).as(Seq("band", "bucket")))
    val cands = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // norms once per row; the per-candidate cosine is the codegen
    // FloatDot (bit-identical to the HOF fold — same strict summation)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(graft.functions.floatDot(col(vecCol), col(vecCol))).as("_n"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("_n").as("_na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("_n").as("_nb")), "id_b")
      .withColumn("cosine",
        graft.functions.floatDot(col("v_a"), col("v_b")) /
          (col("_na") * col("_nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Collapse near-dup pairs into a keep/drop decision: drop every id that
    * appears as the larger member of any pair (min-id survivor policy —
    * deterministic, single groupBy).
    */
  def survivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over a dup-pair list: each node gets the
    * minimum id reachable through any chain of pairs (`cluster_id`) —
    * the transitive-closure canonicalization that the pair-local
    * [[survivors]] policy approximates (A~B, B~C ⇒ one cluster {A,B,C}
    * even though (A,C) was never a candidate pair). Ids may be of any
    * orderable type (document ids, entity names). A node whose only pair
    * is with itself is a singleton and gets no row: callers treat an
    * absent id as its own cluster, as they must for ids with no pair.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm): each round every node hooks its
    * larger neighbors (large-star) then its smaller-or-equal neighbors
    * (small-star) onto the minimum of its neighborhood. Converges in
    * O(log n) rounds on ANY graph shape, long chains included, where
    * min-label propagation needs O(diameter) rounds. Only bare
    * (id, id) edges enter the loop — document text never does — and
    * each round's edge set is checkpointed (truncates lineage — an
    * uncheckpointed loop re-executes every prior round each iteration).
    *
    * Each star is ONE hash-partitioned window (`min(v) over partition
    * by u`) over the edges — the naive formulation (groupBy-min then
    * join the mins back on u) shuffles the edge set three times per
    * star where the window shuffles it once, and the join back is on
    * the same key with the same skew profile, so the window loses
    * nothing. Mid-round dedup is skipped: large-star duplicates are
    * bounded by the round's input edge count and collapse in the
    * end-of-round canon distinct, and self-loops can't arise (the hook
    * target m ≤ u < v).
    *
    * Convergence detection: an order-independent aggregate signature
    * (count, xor(xxhash64(u,v)), sum(xxhash64(v,u))) over the
    * checkpointed edge set, compared to last round's. One
    * map-side-combining aggregation job per round — the previous 2×
    * `exceptAll` cost two full shuffle-dedup jobs over the edge set per
    * round, which at a 100 TB edge set is the dominant per-round
    * overhead. Both rounds' sets are distinct canonical edge lists, so
    * equal signatures with different sets needs a simultaneous collision
    * of two independent 64-bit edge hashes (xor and sum) on top of equal
    * counts — negligible against maxRounds more contraction rounds being
    * merely wasted, not wrong (a converged star forest is a fixed point
    * of both stars). Hashing, not summing the coordinates, keeps the
    * signature independent of the id type. The hash sum is
    * decimal(38,0): ANSI mode makes a long sum an overflow error, and
    * trillions of 2^63-scale hashes genuinely can overflow at corpus
    * scale.
    *
    * Driver finish: the signature's count is the edge set's size, so
    * before the first round and after each one the loop knows, at no
    * extra job, whether the edges are small. Small means Catalyst's own
    * broadcast test (Armbrust et al., "Spark SQL", SIGMOD 2015): count ×
    * [[EstimationUtils.getSizePerRow]] of the edge columns at most
    * `spark.sql.autoBroadcastJoinThreshold`, a relation small enough to
    * ship to one place. A small edge set is collected (one job) and
    * finished by union-find on the driver (see [[unionFindLabels]]). This
    * is exact from ANY round: every star preserves the components and
    * their vertex sets, and the union-find labels each component with its
    * minimum under Spark's own ordering of the id type — the fixed point
    * the star loop would reach. At corpus scale the edge set never fits
    * and the star loop runs unchanged; a threshold of -1 switches the
    * driver finish off, as it switches off broadcast joins.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    def signature(e: DataFrame): Seq[Any] =
      e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))),
        sum(xxhash64(col("v"), col("u")).cast("decimal(38,0)")))
        .head().toSeq
    // at convergence the edge set is a star forest rooted at each
    // component's minimum: (root, node) pairs + roots labeling themselves
    def starLabels(e: DataFrame): DataFrame =
      e.select(col("v").as("id"), col("u").as("cluster_id"))
        .unionByName(e.select(col("u").as("id"), col("u").as("cluster_id"))
          .distinct())
    var edges = canon(pairs.select(col("id_a").as("u"), col("id_b").as("v")))
      .localCheckpoint(false)
    val qe = edges.queryExecution
    val threshold = qe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val rowBytes = EstimationUtils.getSizePerRow(qe.analyzed.output)
    def fitsDriver(sig: Seq[Any]): Boolean =
      threshold >= 0 && rowBytes * sig.head.asInstanceOf[Long] <= threshold
    var sig: Seq[Any] = signature(edges)
    var round = 0
    var converged = false
    // m = min of the closed neighborhood of u, one window shuffle per star
    def withMin(sym: DataFrame): DataFrame =
      sym.withColumn("m",
        least(min(col("v")).over(Window.partitionBy("u")), col("u")))
    while (!converged && !fitsDriver(sig) && round < maxRounds) {
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      // large-star: strictly larger neighbors hook onto the neighborhood min
      val large = withMin(sym).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // checkpointed: consumed twice by sym2's union — measured 2× faster
      // than recomputing the large-star window per consumer
      val afterLarge = large.localCheckpoint(false)
      val sym2 = afterLarge.unionByName(
        afterLarge.select(col("v").as("u"), col("u").as("v")))
      val s2 = withMin(sym2)
      // small-star: smaller-or-equal neighbors (and u itself) hook onto min
      val small = s2.filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(s2.select(col("u"), col("m").as("v")))
      // eager: one materialization, then the signature is a cache read
      // (measured faster than a lazy checkpoint materialized by the
      // signature job itself)
      val next = canon(small).localCheckpoint()
      val nextSig = signature(next)
      converged = sig == nextSig
      sig = nextSig
      edges = next
      round += 1
    }
    if (converged) starLabels(edges)
    else if (fitsDriver(sig)) unionFindLabels(edges, starLabels(edges).schema)
    // silent divergence is worse than a loud cap: an unconverged edge set
    // is not yet a star forest, so it would return NON-minimal labels
    // that disagree with any recursive-closure oracle (review r8) —
    // every converged caller is unaffected, an unconverged one must say so
    else throw new IllegalStateException(
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "raise maxRounds")
  }

  /** The driver finish of [[connectedComponents]]: collect the canonical
    * (u, v) edges, give each distinct id its rank under Spark's ordering
    * of the id type (`UTF8String` byte order for strings, which is not
    * `String.compareTo`'s UTF-16 order), and run union-find over the
    * ranks. Union by smaller index keeps every root its component's
    * smallest rank, i.e. its minimum id. Returns the star loop's (id,
    * cluster_id) rows under `schema` as a local frame; an id with no edge
    * has no row, as there.
    */
  private def unionFindLabels(edges: DataFrame, schema: StructType): DataFrame = {
    val dt = schema("id").dataType
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    // endpoint 2i is edge i's u, endpoint 2i + 1 its v
    val ends = edges.collect().flatMap(r => Array(r.get(0), r.get(1)))
    val keys = ends.map(toCatalyst)
    val sorted = Array.range(0, ends.length).sorted(Ordering.by(keys(_: Int))(ord))
    val rank = new Array[Int](ends.length)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (j <- sorted.indices) {
      if (j == 0 || ord.compare(keys(sorted(j - 1)), keys(sorted(j))) != 0)
        ids += ends(sorted(j))
      rank(sorted(j)) = ids.length - 1
    }
    val parent = Array.range(0, ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (i <- 0 until ends.length / 2) {
      val (a, b) = (find(rank(2 * i)), find(rank(2 * i + 1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val labels = ids.indices.map(j => Row(ids(j), ids(find(j))))
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(labels: _*), schema)
  }

  /** Dedup finalization: keep ONE representative document per near-dup
    * cluster — the corpus that actually ships to training. `clusters` is
    * a (idCol, cluster_id) frame from [[connectedComponents]];
    * documents absent from it (no near-dup edge) are their own
    * singleton cluster. The winner is the max-`weightCol` member, ties
    * broken toward the smallest id.
    *
    * Scale shape: the attach join is a plain equi-join on the id (AQE
    * broadcasts it when the clustered fraction is small; web-scale near
    * -dup clusters can cover half the corpus, so it must not be forced);
    * the argmax is `max(struct(weight, -id))` under a hash groupBy, which
    * partial-aggregates map-side and never funnels a hot cluster through
    * one task the way a `row_number` window would.
    */
  def clusterRepresentatives(
      docs: DataFrame, clusters: DataFrame,
      idCol: String, weightCol: String): DataFrame = {
    val attached = docs
      .join(clusters, Seq(idCol), "left")
      .select(coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        col(idCol), col(weightCol))
    attached.groupBy("cluster_id")
      .agg(max(struct(col(weightCol).as("w"), (-col(idCol)).as("_negid")))
        .as("best"))
      .select(col("cluster_id"), (-col("best._negid")).as(idCol),
        col("best.w").as(weightCol))
  }

  /** Cross-source contamination matrix — the pairwise generalization of
    * [[contaminationScores]]: distinct word-`n`-gram overlap between
    * every pair of corpus sources (subcorpora, crawl snapshots, vendor
    * deliveries), the standard forensic audit before mixing sources into
    * a training corpus (shared boilerplate, mirrored sites, resold
    * scrapes all surface as off-diagonal mass).
    *
    * Plan: distinct (source, gram) rows (two map-side-combined
    * aggregates), then a gram-keyed self-join whose fan-out per gram is
    * bounded by |sources|² — never corpus-sized — and one count per
    * source pair. Text reduces to grams at the scan.
    *
    * Output: source_a < source_b, shared, sz_a, sz_b, jaccard (round 6).
    */
  def sourceOverlapMatrix(
      df: DataFrame, groupCol: String, textCol: String, n: Int): DataFrame = {
    val sg = df.select(col(groupCol).as("g"),
        explode(wordShingleHashes(col(textCol), n)).as("gram"))
      .distinct()
      .localCheckpoint(false) // sizes + both join sides
    val sizes = sg.groupBy("g").agg(count(lit(1)).as("sz"))
    val inter = sg.as("a").hint("shuffle_hash").join(sg.as("b"),
        col("a.gram") === col("b.gram") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("source_a"), col("b.g").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.select(col("g").as("source_a"), col("sz").as("sz_a")),
        Seq("source_a"))
      .join(sizes.select(col("g").as("source_b"), col("sz").as("sz_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("sz_a"), col("sz_b"),
        round(col("shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("shared")), 6).as("jaccard"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-duplicate removal by clustering embeddings first and
    * comparing cosine similarity only WITHIN a cluster — the step that
    * turns an intractable corpus-wide pairwise search into k independent
    * bounded problems. `clusters` is the (id, cell) assignment from
    * [[Embeddings.kmeansAssignQuantized]] (or any partitioner); of every
    * within-cluster pair with cosine >= `threshold` the larger id drops
    * (the same min-id survivor policy as [[survivors]]).
    *
    * Scale shape: vectors shuffle ONCE on the cell key; the pair join is
    * an equi-join on cell whose quadratic term is bounded by cluster
    * size, which stays roughly constant when k grows with the corpus
    * (SemDeDup's own regime: 50k clusters over 5 B embeddings). No
    * global pairwise stage exists anywhere. Output columns carry no
    * floats, so results hash-compare bit-exactly across engines.
    * `vecCol` must be `array<float>` (the embedding-column convention —
    * the codegen FloatDot kernel reads float slots).
    *
    * Output: (idCol, cell) — the surviving rows.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      clusters: DataFrame, threshold: Double): DataFrame = {
    // per-row norm computed ONCE here: the pair filter below then divides
    // the pair dot by nrm_a * nrm_b — arithmetically identical to
    // cosine(a, b) (same ops, same order). The O(pairs) dot is the
    // codegen FloatDot expression, NOT the interpreted aggregate/zip_with
    // HOF: at 10× corpus (sf1 scale run, round 6) the HOF form spent 27s
    // walking interpreted expression trees inside the within-cell pair
    // loop; FloatDot is the same strict left-to-right double summation
    // (bit-identical results) inside whole-stage codegen.
    val withC = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        SimilaritySearch.norm(col(vecCol)).as("nrm"))
      .join(clusters, Seq("id"))
      .localCheckpoint(false) // consumed by both pair sides + the anti-join
    val drops = withC.as("a").hint("shuffle_hash").join(withC.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(graft.functions.floatDot(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    withC.join(drops, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }

  /** Shared plumbing for the ExactSubstr pair: (base docs with token
    * arrays and counts, the (id, pos) stream of DUPLICATED windows). */
  private def windowDupFrames(
      df: DataFrame, idCol: String, textCol: String, w: Int)
      : (DataFrame, DataFrame) = {
    require(w >= 2, s"window size $w must be >= 2")
    val base = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("_toks"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    // lazy checkpoint: the narrow (id, pos, hash) window stream — never
    // the document text — feeds the duplicate count AND the semi-join
    // back; without it the tokenize + md5 pipeline executes once per
    // consumer (measured 4× at sf0.1)
    // the fused positional kernel emits max(T-w, 0)+1 hashes including
    // the clamped short-doc gram; this operator wants FULL windows only,
    // so short docs are gated to an empty stream (as the HOF form was)
    val wins = df
      .select(col(idCol).as("id"),
        when(TextAnalysis.tokenCount(col(textCol)) >= w,
          graft.functions.wordNgramHash60(col(textCol), w,
            distinct = false))
          .otherwise(array().cast("array<long>")).as("_hs"))
      .select(col("id"), posexplode(col("_hs")).as(Seq("_p0", "h")))
      .select(col("id"), (col("_p0") + 1).as("pos"), col("h"))
      .localCheckpoint(false)
    val dupHashes = wins.groupBy("h").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2).select("h")
    (base, wins.join(dupHashes, Seq("h"), "left_semi")
      .localCheckpoint(false)) // both callers consume it twice
  }

  /** Exact duplicate-substring statistics — the ExactSubstr dedup of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), recast from a suffix array into a relational
    * plan: every sliding `w`-token window of every document is keyed by
    * its 60-bit md5 hash, and a window is DUPLICATED when its text occurs
    * at two or more (doc, pos) sites corpus-wide (repeats inside one
    * document count, exactly as a suffix array sees them). Per document
    * the operator reports the duplicated-window count and how many tokens
    * are covered by at least one duplicated window — the span statistic
    * the suffix-array method cuts from the corpus.
    *
    * Plan shape at 100 TB: tokenize → per-row window hashes → posexplode
    * (narrow; only (id, pos, hash) triples leave the row — document text
    * never shuffles), ONE map-side-combined count per hash (uniform key
    * by construction — a hash, not a word), a semi-join of the window
    * stream against the duplicated-hash set, and a distinct-covered-index
    * count whose ×w fan-out applies to duplicated windows only (rare on a
    * clean corpus). No all-pairs stage anywhere; memory per task is
    * bounded by the window stream, not the documents.
    */
  def duplicateWindowStats(
      df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val (base, dupWins) = windowDupFrames(df, idCol, textCol, w)
    val perDoc = dupWins.groupBy("id")
      .agg(count(lit(1)).as("dup_windows"))
    val covered = dupWins
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("_ti"))
      .groupBy("id").agg(count_distinct(col("_ti")).as("covered_tokens"))
    base.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        when(col("n_tokens") >= w, col("n_tokens") - (w - 1))
          .otherwise(lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(
            coalesce(col("covered_tokens"), lit(0L)).cast("double") /
              col("n_tokens"), 6)).as("dup_fraction"))
  }

  /** Apply the ExactSubstr cut ([[duplicateWindowStats]]'s companion):
    * remove every token covered by a duplicated `w`-token window and
    * re-join the survivors in order — the aggressive both-sides cut
    * (every occurrence of a duplicated span goes, which over-cuts vs the
    * reference suffix-array tool's keep-one policy but needs no global
    * occurrence ordering; Lee et al. report the choice barely matters at
    * corpus scale because duplicated spans are a small minority).
    *
    * Same shuffle discipline as [[TextAnalysis.stripBoilerplate]]: the
    * per-doc cut-index set rides back as a small int array and the cut +
    * re-join happens inside the row — document text never shuffles.
    *
    * Output: id, n_tokens, cut_tokens, clean_text.
    */
  def cutDuplicateWindows(
      df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val (base, dupWins) = windowDupFrames(df, idCol, textCol, w)
    val covered = dupWins
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("_ti"))
      .groupBy("id").agg(collect_set(col("_ti")).as("_cut"))
    base.join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(size(col("_cut")), lit(0)).cast("long").as("cut_tokens"),
        when(col("n_tokens") === 0, lit(""))
          .otherwise(bind(col("_toks"), toks => array_join(
            transform(
              // hash-based set difference: a per-token array_contains
              // scan is O(n_tokens · |cut|) per row — quadratic exactly
              // on the heavily-cut documents this operator exists for
              array_except(
                sequence(lit(1), greatest(col("n_tokens").cast("int"),
                  lit(1))),
                coalesce(col("_cut"), typedLit(Array.empty[Int]))),
              i => element_at(toks, i)),
            " "))).as("clean_text"))
  }

  /** Decontamination ENFORCEMENT: cut every token span that matches an
    * eval-set n-gram out of the training text ([[contaminationScores]]
    * reports the leakage; this removes it — surgical span removal keeps
    * the rest of a mostly-clean document instead of dropping it whole).
    * Positional n-grams explode per row, equi-join the (distinct,
    * typically broadcast-small) eval gram set, covered 1-based token
    * indexes aggregate per doc, and the text is rebuilt inside the row
    * — the corpus text itself never shuffles, same discipline as
    * [[cutDuplicateWindows]]. Short-document clamping matches
    * [[wordShingles]] (a doc shorter than n contributes its clamped
    * prefix gram), and coverage is clipped to the real token count.
    *
    * `autoPrefilter` (the routing VERDICT r7 asked for): on a
    * mostly-CLEAN corpus (the production state) a trigramSearch-style
    * distinct-gram semi-join prefilter wins — only contaminated docs
    * pay the positional explode — but on a mostly-dirty corpus it
    * prunes nothing and adds a full gram pass (measured: this
    * testdata's tiny synthetic vocabulary leaves 94% of docs sharing a
    * trigram with the eval set). The win/lose condition is the
    * contamination RATE, so when `autoPrefilter` is on it is estimated
    * first on a deterministic 1-in-16 id-hash sample (two tiny driver
    * actions — the candidate-mass probe pattern) and the prefilter is
    * prepended only when the sampled share is ≤ `prefilterBelow`.
    * Routing never changes results: docs without any shared gram have
    * empty coverage either way.
    *
    * Output: idCol, n_tokens, cut_tokens, clean_text.
    */
  def decontaminationCut(
      corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int, autoPrefilter: Boolean = false,
      prefilterBelow: Double = 0.5): DataFrame = {
    val corp = fanOutIfNarrow(corpus)
    // hashed grams end to end (fused kernel, 2^-60 convention): the
    // membership joins carry 8-byte longs, never gram text
    val evalGrams0 = evalSet
      .select(explode(wordShingleHashes(col(textCol), n)).as("g")).distinct()
    // with the prefilter probe on, the eval gram set has up to three
    // consumers (probe, prefilter, covered join) — materialize once
    val evalGrams = if (autoPrefilter) evalGrams0.localCheckpoint(false)
      else evalGrams0
    val base = corp.select(col(idCol).as("id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      TextAnalysis.tokens(col(textCol)).as("_toks"))
    val docGrams = corp.select(col(idCol).as("id"),
      explode(wordShingleHashes(col(textCol), n)).as("g")) // already distinct
    val usePrefilter = autoPrefilter && {
      // one driver action for both counts: sampled docs and the subset
      // sharing any eval gram (a left join against the tiny broadcast
      // gram set marks hits; countDistinct splits the two populations)
      val sample = docGrams.filter(pmod(xxhash64(col("id")), lit(16)) === 0)
      val row = sample
        .join(evalGrams.withColumn("_hit", lit(true)), Seq("g"), "left")
        .agg(count_distinct(col("id")).as("n"),
          count_distinct(when(col("_hit"), col("id"))).as("hits"))
        .head()
      row.getLong(0) > 0 &&
        row.getLong(1).toDouble / row.getLong(0) <= prefilterBelow
    }
    val posCorpus = if (usePrefilter)
      corp.join(
        docGrams.join(evalGrams, Seq("g"), "left_semi")
          .select(col("id").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
    else corp
    val pos = posCorpus
      .select(col(idCol).as("id"),
        TextAnalysis.tokenCount(col(textCol)).as("_n"),
        posexplode(graft.functions.wordNgramHash60(col(textCol), n,
          distinct = false)).as(Seq("pos", "g")))
      .filter(col("_n") > 0)
    val covered = pos.join(evalGrams, Seq("g"))
      .select(col("id"), explode(sequence(col("pos") + 1,
        least(col("pos") + n, col("_n")))).as("_ti"))
      .groupBy("id").agg(collect_set(col("_ti")).as("_cut"))
    base.join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(size(col("_cut")), lit(0)).cast("long").as("cut_tokens"),
        when(col("n_tokens") === 0, lit(""))
          .otherwise(bind(col("_toks"), toks => array_join(
            transform(
              // hash-based set difference, not a per-token
              // array_contains scan — see [[cutDuplicateWindows]]
              array_except(
                sequence(lit(1), greatest(col("n_tokens").cast("int"),
                  lit(1))),
                coalesce(col("_cut"), typedLit(Array.empty[Int]))),
              i => element_at(toks, i)),
            " "))).as("clean_text"))
  }

  /** Incremental connected-components maintenance: fold a NEW batch of
    * near-dup edges into a standing labeling without recomputing the
    * whole graph. Prior components collapse to depth-1 stars (member →
    * label edges), so [[connectedComponents]] over (stars ∪ new edges)
    * starts from an already-contracted forest and only the NEW edges
    * need contracting — the old graph's full edge set is never touched
    * again. The result is IDENTICAL to a full recompute over
    * (old ∪ new) edges (star edges preserve the equivalence classes);
    * pair generation for the increment is [[minhashLshPairsAgainst]]
    * (batch vs standing index) + a batch self-join, so the whole
    * standing corpus pays neither a pair search nor a CC pass per
    * increment. `prior` is (id, cluster_id) from a previous CC run,
    * `newPairs` is (id_a, id_b).
    */
  def connectedComponentsIncremental(
      prior: DataFrame, newPairs: DataFrame): DataFrame =
    connectedComponents(
      prior.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
        .unionByName(newPairs.select(col("id_a"), col("id_b"))))

  /** LSH-gated exact Jaccard join — the production near-dup pipeline
    * shape (CCNet / C4 / FineWeb; public literature): MinHash band
    * collisions generate the candidate pairs, and the EXACT n-gram
    * Jaccard is computed only on those candidates, so reported
    * similarities are true Jaccard values while the pair search never
    * exceeds the banding's collision mass. Contrast the exact operator
    * [[prefixFilterJaccardPairs]]: recall-complete, but it pays the
    * corpus's intrinsic prefix-collision mass (measured OOM-scale at the
    * 100× run on the template-vocabulary corpus); this trades the
    * banding miss rate — measured per-corpus by
    * [[lshRecallAudit]] — for candidate mass bounded by band buckets.
    * Same shingle/signature conventions as [[minhashLshPairs]]; the
    * verify side carries 60-bit gram hashes, as
    * [[prefixFilterJaccardPairs]] does.
    *
    * Output: (id_a < id_b, jaccard double >= threshold), jaccard exact
    * over the distinct-shingle sets.
    */
  def lshJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 4, threshold: Double = 0.5,
      numHashes: Int = 16, bandSize: Int = 4): DataFrame =
    lshJaccardPairsFrom(shingleSets(df, idCol, textCol, shingleN),
      threshold, numHashes, bandSize)

  /** [[lshJaccardPairs]] over a pre-built [[shingleSets]] frame — the
    * twin of [[lshContainmentPairsFrom]]: signatures and verification
    * arrays both derive from the one checkpointed shingle frame.
    */
  private[operators] def lshJaccardPairsFrom(
      sets: DataFrame, threshold: Double,
      numHashes: Int, bandSize: Int): DataFrame = {
    bandCandidates(sets, numHashes, bandSize)
      .join(sets.select(col("id").as("id_a"), col("_grams").as("_ga"),
        col("_sz").as("_sa")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("_grams").as("_gb"),
        col("_sz").as("_sb")), Seq("id_b"))
      .withColumn("_i",
        graft.functions.sortedIntersectCount(col("_ga"), col("_gb")))
      .withColumn("jaccard", col("_i").cast("double") /
        (col("_sa") + col("_sb") - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Banded minhash candidate pairs (id_a < id_b) over a [[shingleSets]]
    * frame — the candidate stage the LSH-gated exact joins share.
    */
  private def bandCandidates(
      sets: DataFrame, numHashes: Int, bandSize: Int): DataFrame = {
    require(numHashes % bandSize == 0,
      s"numHashes ($numHashes) must be a multiple of bandSize ($bandSize):" +
        " leftover signature positions would be silently dropped," +
        " quietly lowering recall versus the configured hash budget")
    val numBands = numHashes / bandSize
    val sigs = minhashSignaturesFrom(sets, numHashes)
    val banded = sigs.select(col("id"),
      posexplode(bandBuckets(col("sig"), numBands, bandSize))
        .as(Seq("band", "bucket")))
    // same ReuseExchange-over-broadcast reasoning as minhashLshPairs
    banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** LSH-gated exact CONTAINMENT join — the approximate path for the
    * [[prefixFilterContainmentPairs]] class, whose exact prefix-filter
    * candidate constant is intrinsic (the prefix is (1−t)·|S|+1 grams
    * per doc probing FULL postings; measured over the 900 s sf10 budget
    * on the template-vocabulary corpus). Same MinHash band candidates
    * as [[lshJaccardPairs]] but with NARROWER bands (default 2-wide ×
    * 8, same 16-hash budget): a containment-t pair of size ratio ρ has
    * Jaccard only t/(1+ρ−t), so the 4-wide Jaccard bands would miss it.
    * Exact containment is then verified on the candidate sliver — the
    * reported c_ab/c_ba are TRUE values over distinct-shingle sets.
    *
    * DOMAIN: pairs within `maxRatio` size ratio (default 2). Beyond
    * that, banding's detect probability decays with J ≈ t/ρ and recall
    * would be silently uncontrolled — so out-of-ratio pairs are
    * excluded by contract rather than half-found (the full
    * generalization is size-partitioned per-stratum band widths — LSH
    * Ensemble, Zhu/Nandi/Miller VLDB 2016 — which this corpus's pair
    * profile does not need: every sf0.1 exact pair sits under ratio
    * 1.25, and the measured candidate recall there is 256/256 at these
    * defaults). Audit per corpus with [[containmentRecallAudit]].
    *
    * Output schema matches the exact forms: (id_a < id_b, c_ab, c_ba
    * rounded 6, max ≥ threshold).
    */
  def lshContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      numHashes: Int = 16, bandSize: Int = 2,
      maxRatio: Double = 2.0): DataFrame =
    lshContainmentPairsFrom(shingleSets(df, idCol, textCol, n),
      threshold, numHashes, bandSize, maxRatio)

  /** [[lshContainmentPairs]] over a pre-built [[shingleSets]] frame —
    * r11: signatures AND verification arrays both derive from the one
    * checkpointed shingle frame (previously the minhash side re-ran the
    * shingle kernel over the raw text a second time).
    */
  private[operators] def lshContainmentPairsFrom(
      sets: DataFrame, threshold: Double,
      numHashes: Int, bandSize: Int, maxRatio: Double): DataFrame = {
    bandCandidates(sets, numHashes, bandSize)
      .join(sets.select(col("id").as("id_a"), col("_grams").as("_ga"),
        col("_sz").as("_sa")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("_grams").as("_gb"),
        col("_sz").as("_sb")), Seq("id_b"))
      .filter(greatest(col("_sa"), col("_sb")).cast("double") <=
        lit(maxRatio) * least(col("_sa"), col("_sb")).cast("double"))
      .withColumn("_i", graft.functions
        .sortedIntersectCount(col("_ga"), col("_gb")).cast("long"))
      .withColumn("c_ab", round(col("_i").cast("double") / col("_sa"), 6))
      .withColumn("c_ba", round(col("_i").cast("double") / col("_sb"), 6))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")
  }

  /** Detection probability of an OR-of-ANDs MinHash banding scheme:
    * `bands` bands of `r` rows each catch a pair of Jaccard `j` with
    * probability 1 − (1 − j^r)^bands.
    */
  private def detectProb(j: Double, r: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, r), bands)

  /** Per-stratum-delta banding plan for [[stratifiedContainmentPairs]]:
    * for each stratum delta Δ (geometric base-2 size strata), the worst
    * in-domain Jaccard of a containment-`t` pair is
    * j_min(Δ) = t / (1 + ρ_max(Δ) − t) with ρ_max(Δ) = min(2^(Δ+1),
    * maxRatio), and the chosen (bandWidth r, numBands b) is the WIDEST
    * band (fewest collisions) whose full-budget detect probability
    * clears `recallTarget` at j_min, shrunk to the FEWEST bands that
    * still clear it (less collision mass again). Deltas that share a
    * plan are grouped so the band frame is built once.
    *
    * Returns (r, b) -> deltas. Throws when even 1-wide bands over the
    * whole budget cannot reach the target — the caller must raise
    * numHashes (silent uncontrolled recall is the failure mode this
    * operator exists to remove).
    */
  private[operators] def stratifiedBandPlan(
      threshold: Double, numHashes: Int, maxRatio: Double,
      recallTarget: Double): Map[(Int, Int), Seq[Int]] = {
    require(maxRatio >= 1.0, s"maxRatio $maxRatio must be >= 1")
    val deltaMax = math.ceil(math.log(maxRatio) / math.log(2.0)).toInt
    val widths = (1 to numHashes).filter(numHashes % _ == 0).reverse
    val plans = (0 to deltaMax).map { d =>
      val rhoMax = math.min(math.pow(2.0, d + 1.0), maxRatio)
      val jMin = threshold / (1.0 + rhoMax - threshold)
      val r = widths.find(w =>
        detectProb(jMin, w, numHashes / w) >= recallTarget).getOrElse {
        val need = math.ceil(
          math.log(1.0 - recallTarget) / math.log(1.0 - jMin)).toLong
        throw new IllegalArgumentException(
          s"stratifiedContainmentPairs: $numHashes hashes cannot reach " +
            f"recall $recallTarget%.2f at stratum delta $d (worst " +
            f"in-domain Jaccard $jMin%.4f needs ~$need 1-wide bands) — " +
            "raise numHashes or lower maxRatio")
      }
      val b = (1 to numHashes / r)
        .find(nb => detectProb(jMin, r, nb) >= recallTarget).get
      (d, (r, b))
    }
    plans.groupBy(_._2).map { case (rb, ds) => rb -> ds.map(_._1) }
  }

  /** Size-stratified banded containment join — the LSH Ensemble
    * construction (Zhu, Nandi, Miller: "LSH Ensemble: Internet-Scale
    * Domain Search", VLDB 2016) that removes [[lshContainmentPairs]]'s
    * `maxRatio = 2` domain restriction: documents are stratified by
    * distinct-shingle count into geometric base-2 strata, and every
    * stratum DELTA gets its own banding (width, band-count) sized —
    * from the containment-to-Jaccard bound at the delta's worst
    * in-domain size ratio — so the detect probability of every
    * in-domain pair clears `recallTarget`. Wide-ratio pairs (tiny doc
    * contained in a huge one, Jaccard → t/ρ) ride many 1-wide bands;
    * near-equal pairs ride few wide bands; each candidate is verified
    * EXACTLY, so reported c_ab/c_ba are true values and precision is 1.
    *
    * The hash budget is the recall dial: 64 hashes cover maxRatio 8 at
    * target 0.9 for t ≈ 0.7; an unreachable (budget, ratio) combination
    * throws at PLAN TIME with the required band count, rather than
    * silently under-recalling — audit the realized recall per corpus
    * with [[stratifiedContainmentRecallAudit]].
    *
    * `maxCandidatePairs` guards the band-bucket join mass (Σ df·(df−1)/2
    * over every group's (band, bucket) buckets — the pre-delta-filter
    * join mass actually shuffled), same circuit-breaker family as the
    * exact forms.
    *
    * Output schema matches the exact forms: (id_a < id_b, c_ab, c_ba
    * rounded 6, max ≥ threshold), pairs within `maxRatio` size ratio.
    */
  def stratifiedContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      numHashes: Int = 64, maxRatio: Double = 8.0,
      recallTarget: Double = 0.9,
      maxCandidatePairs: Option[Long] = None): DataFrame =
    stratifiedContainmentPairsFrom(shingleSets(df, idCol, textCol, n),
      threshold, numHashes, maxRatio, recallTarget, maxCandidatePairs)

  /** [[stratifiedContainmentPairs]] over a pre-built [[shingleSets]]
    * frame. r11 reshaping (guide §2.4 — remove repeated scans/shuffles):
    *
    *   - signatures derive from the shingle frame (the previous
    *     `minhashSignatures(df, …)` re-ran the shingle kernel over the
    *     raw text a second time), and the stratum rides the signature
    *     groupBy as a key instead of a per-plan join back to `sets`;
    *   - ONE tagged band frame replaces the per-(width, bands) frames:
    *     each plan group's buckets are concatenated into a single
    *     posexploded array, `pos` globally identifies (group, band), and
    *     the per-group stratum-delta domain becomes a pos-range
    *     predicate after ONE self-join — previously every plan group
    *     re-read the signature checkpoint, built its own exchange and
    *     self-join, and the candidate union de-duplicated across them
    *     (3 Generates / 3 exchanges / 3 joins on this corpus's plan).
    *
    * The candidate set is identical: a pair qualifies iff SOME plan
    * group's band bucket collides with the pair's stratum delta in that
    * group's domain — exactly the union the per-group frames computed.
    */
  private[operators] def stratifiedContainmentPairsFrom(
      sets: DataFrame, threshold: Double,
      numHashes: Int, maxRatio: Double,
      recallTarget: Double,
      maxCandidatePairs: Option[Long]): DataFrame = {
    val plan = stratifiedBandPlan(threshold, numHashes, maxRatio,
      recallTarget)
    val planSeq = plan.toSeq.sortBy(_._1)
    // stratum = floor(log2(sz)) via BIT LENGTH, not floating log2: both
    // engines' bin() is the minimal binary string, so the stratum is
    // integer-exact at power-of-two boundaries where log(x)/log(2)
    // jitters below the integer
    val sh = sets.select(col("id"),
      (length(bin(col("_sz"))) - 1).as("_st"),
      explode(col("_grams")).as("_hb"))
    val aggs = (0 until numHashes).map(s =>
      min(seededHash60(col("_hb"), s)).as(s"_h$s"))
    val sigs = sh.groupBy(col("id"), col("_st"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), col("_st"),
        array((0 until numHashes).map(s => col(s"_h$s")): _*).as("sig"))
      .localCheckpoint(false) // one signature pass: mass probe + band join
    // pos -> (plan group, band) offsets for the one concatenated frame
    val offsets = planSeq.map(_._1._2).scanLeft(0)(_ + _)
    val allBuckets = concat(planSeq.map { case ((r, b), _) =>
      bandBuckets(col("sig"), b, r)
    }: _*)
    val banded = sigs.select(col("id"), col("_st"),
      posexplode(allBuckets).as(Seq("pos", "bucket")))
    maxCandidatePairs.foreach { budget =>
      val d = col("_c").cast("decimal(38,0)")
      val mass = banded.groupBy(col("pos"), col("bucket"))
        .agg(count(lit(1)).as("_c"))
        .agg(coalesce(sum(d * (d - lit(1))), lit(0).cast("decimal(38,0)")))
      requireCandidateBudget("stratifiedContainmentPairs", mass, budget,
        "Raise the hash budget's selectivity (higher recallTarget forces " +
          "narrower bands — more mass; lower maxRatio prunes strata), " +
          "sample the corpus, or raise maxCandidatePairs deliberately.")
    }
    // a colliding pair counts only when its stratum delta is in the
    // colliding pos's plan-group domain (a.pos == b.pos, so one side's
    // pos determines the group)
    val deltaCond = planSeq.zipWithIndex.map { case ((_, deltas), g) =>
      col("a.pos") >= offsets(g) && col("a.pos") < offsets(g + 1) &&
        abs(col("a._st") - col("b._st"))
          .isin(deltas.map(Integer.valueOf): _*)
    }.reduce(_ || _)
    val cand = banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.pos") === col("b.pos") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .filter(deltaCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("_grams").as("_ga"),
        col("_sz").as("_sa")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("_grams").as("_gb"),
        col("_sz").as("_sb")), Seq("id_b"))
      .filter(greatest(col("_sa"), col("_sb")).cast("double") <=
        lit(maxRatio) * least(col("_sa"), col("_sb")).cast("double"))
      .withColumn("_i", graft.functions
        .sortedIntersectCount(col("_ga"), col("_gb")).cast("long"))
      .withColumn("c_ab", round(col("_i").cast("double") / col("_sa"), 6))
      .withColumn("c_ba", round(col("_i").cast("double") / col("_sb"), 6))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")
  }

  /** Confusion counts of [[stratifiedContainmentPairs]] against the
    * recall-complete exact containment set restricted to the same
    * `maxRatio` domain — [[containmentRecallAudit]] extended past the
    * banded path's ratio-2 contract. One row: n_exact, n_lsh, n_both,
    * n_exact_only, n_lsh_only, recall (rounded 6; the spec floor is
    * `recallTarget` by construction, measured per corpus here).
    */
  def stratifiedContainmentRecallAudit(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      numHashes: Int = 64, maxRatio: Double = 8.0,
      recallTarget: Double = 0.9): DataFrame = {
    // ONE shingle-kernel pass threaded through both audit sides AND the
    // ratio-cut size frame (r11 — previously each re-ran the kernel:
    // four passes per audit run)
    val sets = shingleSets(df, idCol, textCol, n)
    val sz = sets.select(col("id"), col("_sz").as("_z"))
    val exact = prefixFilterContainmentPairsFrom(sets, threshold, None)
      .join(sz.select(col("id").as("id_a"), col("_z").as("_za")), Seq("id_a"))
      .join(sz.select(col("id").as("id_b"), col("_z").as("_zb")), Seq("id_b"))
      .filter(greatest(col("_za"), col("_zb")).cast("double") <=
        lit(maxRatio) * least(col("_za"), col("_zb")).cast("double"))
    val lsh = stratifiedContainmentPairsFrom(sets, threshold,
      numHashes, maxRatio, recallTarget, None)
    confusionCounts(exact, lsh)
      .withColumn("recall", round(when(col("n_exact") > 0,
        col("n_both").cast("double") / col("n_exact"))
        .otherwise(lit(1.0)), 6))
  }

  /** `approx=auto` containment pair join — [[jaccardPairsAuto]]'s twin
    * for the containment predicate: run the recall-complete exact plan
    * ([[prefixFilterContainmentPairs]]) when its probe mass fits the
    * budget, fall back to [[lshContainmentPairs]] when it doesn't. Both
    * branches emit (id_a < id_b, c_ab, c_ba) with TRUE containment
    * values; the fallback's trades (banding miss rate, maxRatio domain)
    * are documented there and measured by [[containmentRecallAudit]].
    */
  def containmentPairsAuto(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxCandidatePairs: Long,
      numHashes: Int = 16, bandSize: Int = 2,
      maxRatio: Double = 2.0): DataFrame = {
    // one shingle frame serves whichever route wins — the fallback path
    // previously re-ran the kernel from the raw text
    val sets = shingleSets(df, idCol, textCol, n)
    try prefixFilterContainmentPairsFrom(sets, threshold,
      Some(maxCandidatePairs))
    catch {
      case _: CandidateMassExceededException =>
        lshContainmentPairsFrom(sets, threshold,
          numHashes, bandSize, maxRatio)
    }
  }

  /** Confusion counts of [[lshContainmentPairs]] against the exact
    * containment pair set of [[prefixFilterContainmentPairs]], same
    * shingles both sides — [[lshRecallAudit]]'s twin for the
    * containment predicate. The gap measured is banding miss plus the
    * maxRatio domain cut. One row: n_exact, n_lsh, n_both,
    * n_exact_only, n_lsh_only, recall (rounded 6; 1.0 when there is no
    * exact pair).
    */
  def containmentRecallAudit(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      numHashes: Int = 16, bandSize: Int = 2,
      maxRatio: Double = 2.0): DataFrame = {
    // one shingle-kernel pass threaded through both audit sides (r11 —
    // previously three: the exact side, the LSH side's verify sets, and
    // the LSH side's signature build)
    val sets = shingleSets(df, idCol, textCol, n)
    confusionCounts(
        prefixFilterContainmentPairsFrom(sets, threshold, None),
        lshContainmentPairsFrom(sets, threshold,
          numHashes, bandSize, maxRatio))
      .withColumn("recall", round(when(col("n_exact") > 0,
        col("n_both").cast("double") / col("n_exact"))
        .otherwise(lit(1.0)), 6))
  }

  /** `approx=auto` Jaccard pair join: probe the prefix-filter candidate
    * mass first (the guard's own estimate — one linear job), run the
    * recall-complete exact plan ([[prefixFilterJaccardPairs]]) when it
    * fits the budget, and fall back to the LSH-gated plan
    * ([[lshJaccardPairs]]) when it doesn't. The fallback trades the
    * banding miss rate (audit with [[lshRecallAudit]]) for candidate
    * mass bounded by band collisions — the only plan that survives a
    * non-selective vocabulary, where "exact but OOM" is not a result.
    * Both branches emit the same (id_a < id_b, jaccard >= threshold)
    * schema with TRUE Jaccard values, so the routing is transparent to
    * downstream consumers (connected components, survivor picks).
    */
  def jaccardPairsAuto(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxCandidatePairs: Long,
      numHashes: Int = 16, bandSize: Int = 4): DataFrame = {
    // one shingle frame serves whichever route wins, as in
    // containmentPairsAuto
    val sets = shingleSets(df, idCol, textCol, n)
    try prefixFilterJaccardPairsFrom(sets, threshold,
      Some(maxCandidatePairs))
    catch {
      case _: CandidateMassExceededException =>
        lshJaccardPairsFrom(sets, threshold, numHashes, bandSize)
    }
  }

  /** Self-audit of the approximate dedup path: confusion counts of the
    * banded-LSH pair set against the exact n-gram Jaccard pair set of
    * [[prefixFilterJaccardPairs]] at `threshold`, SAME shingles for both
    * sides, so the gap measured is
    * purely MinHash/banding error (recall = LSH's banding miss rate,
    * precision loss = band collisions below the threshold). Run this on
    * a sampled slice before trusting the approximate path on the full
    * corpus — the knob-tuning loop (numHashes / bandSize / minAgree)
    * every production LSH deployment needs, as a query instead of a
    * notebook. One row out: n_exact, n_lsh, n_both, n_exact_only
    * (missed dups), n_lsh_only (spurious candidates), recall (rounded;
    * NULL when there is no exact pair).
    */
  def lshRecallAudit(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 4, threshold: Double = 0.5,
      numHashes: Int = 16, bandSize: Int = 4,
      minAgree: Int = 8): DataFrame = {
    confusionCounts(
        prefixFilterJaccardPairs(df, idCol, textCol, shingleN, threshold),
        minhashLshPairs(df, idCol, textCol, shingleN, numHashes,
          bandSize, minAgree))
      // recall is undefined with no exact pairs: NULL by convention on
      // both engines (unguarded, Spark gives NULL but DuckDB gives NaN)
      .withColumn("recall", when(col("n_exact") === 0,
          lit(null).cast("double"))
        .otherwise(round(col("n_both").cast("double") / col("n_exact"), 6)))
  }

  /** Confusion counts of an approximate pair set against the exact one
    * (both (id_a, id_b)) — the block every recall audit shares. One row:
    * n_exact, n_lsh, n_both, n_exact_only (missed pairs), n_lsh_only
    * (spurious pairs); each audit appends its own `recall` convention.
    */
  private def confusionCounts(exact: DataFrame, lsh: DataFrame): DataFrame =
    exact.select(col("id_a"), col("id_b"), lit(1).as("_e"))
      .join(lsh.select(col("id_a"), col("id_b"), lit(1).as("_l")),
        Seq("id_a", "id_b"), "full_outer")
      // count(col), not sum(when): a global aggregate over ZERO rows
      // yields 0 for count but NULL for sum — an all-unique sample slice
      // must report zeros, matching the oracle's count(*) FILTER
      .agg(
        count(col("_e")).as("n_exact"),
        count(col("_l")).as("n_lsh"),
        count(when(col("_e").isNotNull && col("_l").isNotNull, 1))
          .as("n_both"))
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        (col("n_exact") - col("n_both")).as("n_exact_only"),
        (col("n_lsh") - col("n_both")).as("n_lsh_only"))
}
