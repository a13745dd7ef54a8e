package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data selection.
  *
  * `df.sample` is nondeterministic under re-partitioning and retries; a
  * hash-gate on a stable key is the standard large-scale alternative:
  * pure per-row filter (no shuffle, no sampling pass, codegen-friendly),
  * reproducible across engines and runs, stable under AQE re-plans, and
  * composable (train/validation splits from disjoint hash ranges never
  * leak rows across the split even when run months apart).
  */
object Sampling {

  /** Uniform 60-bit hash of (key, salt) — first 15 hex chars of md5,
    * always non-negative.
    */
  def keyHash60(key: Column, salt: String): Column =
    conv(substring(md5(concat_ws("|", key.cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long")

  private val Two60 = 1152921504606846976.0 // 2^60

  /** Keep rows whose key-hash falls below rate·2^60. The salt selects an
    * independent sample; disjoint [lo, hi) bands of the same salt give
    * leak-free splits.
    */
  def hashSample(
      df: DataFrame, keyCol: String, rate: Double,
      salt: String = "graft"): DataFrame =
    df.filter(keyHash60(col(keyCol), salt) < lit((rate * Two60).toLong))

  /** Per-stratum sampling rates (e.g. per-language caps for a balanced
    * training mix): `rates` is a tiny (stratum, rate) table, broadcast;
    * rows whose stratum has no rate are dropped. floor() keeps the
    * threshold arithmetic identical across engines (double→int casts
    * round differently between engines; floor does not).
    */
  def stratifiedHashSample(
      df: DataFrame, keyCol: String, stratumCol: String,
      rates: DataFrame, // stratumCol, rate
      salt: String = "graft"): DataFrame =
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(keyHash60(col(keyCol), salt) <
        floor(col("rate") * lit(Two60)).cast("long"))
      .drop("rate")

  /** Weighted epoch upsampling — the corpus-mixture step (The Pile's
    * per-source epoch factors, Gao et al. arXiv:2101.00027; LLaMA's
    * sampling proportions): each group's rows repeat for `weight`
    * effective epochs — floor(weight) whole copies for every row, plus
    * one more copy behind a deterministic hash gate that fires with
    * probability frac(weight). Same md5 gate as [[hashSample]], so the
    * mixture is reproducible across engines, runs, retries and
    * partitionings — `rand()`-based upsampling re-draws per retry and
    * silently changes the training mix.
    *
    * Scale shape: broadcast the tiny weight table, one per-row gate, one
    * in-row `sequence` + explode for the copy fan-out — no shuffle at
    * all; the output inherits the input's partitioning with copy rows
    * adjacent (follow with [[shardAssign]] to spread them). Groups
    * absent from `weights` drop (weight 0), matching
    * [[stratifiedHashSample]].
    *
    * Output: input columns + copy (0-based copy index, long).
    */
  def epochUpsample(
      df: DataFrame, groupCol: String, keyCol: String,
      weights: DataFrame, // groupCol, weight (double >= 0)
      salt: String = "graft"): DataFrame = {
    val n = floor(col("weight")).cast("long") +
      when(keyHash60(col(keyCol), salt) <
          floor((col("weight") - floor(col("weight"))) * lit(Two60))
            .cast("long"), lit(1L))
        .otherwise(lit(0L))
    df.join(broadcast(weights), Seq(groupCol))
      .withColumn("_n", n)
      .filter(col("_n") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("_n") - 1)))
      .drop("weight", "_n")
  }

  /** Per-group quota cap (the Common-Crawl-style per-domain cap): keep at
    * most `cap` rows per group, selected in deterministic hash order so
    * the survivors are a stable uniform choice, not "whatever arrived
    * first".
    *
    * Head-group routing: only groups whose count exceeds the cap need
    * ranking at all. The over-cap set is the head of the distribution —
    * tiny by construction at web scale — so it broadcasts, the long tail
    * of under-cap groups passes through a pure per-row anti-join filter
    * (no shuffle, no window), and the one window shuffle ranks only the
    * head groups' rows. Same exact semantics as a global
    * row_number-per-group; the common path never touches a window.
    */
  def capPerGroup(
      df: DataFrame, groupCol: String, keyCol: String, cap: Int,
      salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val over = df.groupBy(groupCol).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > cap).select(groupCol)
    val pass = df.join(broadcast(over), Seq(groupCol), "left_anti")
    val w = Window.partitionBy(groupCol)
      .orderBy(keyHash60(col(keyCol), salt), col(keyCol))
    val ranked = df.join(broadcast(over), Seq(groupCol), "left_semi")
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap)
      .drop("_rk")
    pass.unionByName(ranked).select(df.columns.map(col): _*)
  }

  /** Deterministic training-order shuffle + shard assignment: every row
    * gets a reproducible pseudo-random global ordinal (rank in
    * md5(key, salt) order) and a round-robin shard, the standard prep for
    * writing training shards whose read order must be a stable uniform
    * shuffle — reproducible across runs, engines, and partitionings,
    * unlike `repartition`/`orderBy(rand())`.
    *
    * The global rank is an [[OrderedPrefix.sums]] whose buckets are the
    * hash's first two hex chars — 256 uniformly filled buckets. The
    * corpus is shuffled once, on the bucket key.
    *
    * Output: input columns + shard (0-based round-robin) + shard_pos
    * (0-based position within the shard).
    */
  def shardAssign(
      df: DataFrame, keyCol: String, nShards: Int,
      salt: String = "graft"): DataFrame = {
    require(nShards > 0, s"nShards $nShards must be positive")
    val h = md5(concat_ws("|", col(keyCol).cast("string"), lit(salt)))
    OrderedPrefix.sums(df.withColumn("_h", h), hexByte(col("_h")),
        Seq(col("_h"), col(keyCol)), Seq("_rk" -> lit(1L)))
      .withColumn("shard", (col("_rk") % nShards).cast("int"))
      .withColumn("shard_pos", floor(col("_rk") / nShards).cast("long"))
      .drop("_h", "_rk", "_rk_total")
  }

  /** The first byte (two hex chars) of a hex digest, 0..255. */
  private def hexByte(hex: Column): Column =
    conv(substring(hex, 1, 2), 16, 10).cast("int")

  /** Length-bucketed batch assignment — "dynamic batching" for training
    * efficiency: sequences of similar token length share a batch so
    * per-batch padding waste stays bounded (the packing-adjacent trick
    * every large-scale trainer applies; [[TextAnalysis.packChunks]] is
    * the concat-and-chunk alternative). Documents bucket by
    * `tokenCount / bucketWidth`, get a deterministic hash-order ordinal
    * WITHIN their bucket, and pack into batches of `batchSize`.
    *
    * The per-bucket ordinal is [[OrderedPrefix.sums]] within each length
    * bucket: the hash's first two hex chars split it into 256 uniform
    * sub-buckets ranked locally, and only the per-(bucket, sub) counts
    * ride the offsets window, keyed by length bucket — never a
    * bucket-sized single task; a web-scale length bucket holds billions
    * of rows. Because the sub-bucket is a prefix of the hash, the ordinal
    * equals a plain per-bucket rank by (hash, id) — which is exactly what
    * the DuckDB oracle computes.
    *
    * Output: id, n_tokens, len_bucket, batch_no, pos_in_batch (the last
    * batch of each bucket may be ragged, as in real loaders).
    */
  def lengthBucketBatches(
      df: DataFrame, idCol: String, textCol: String,
      bucketWidth: Int, batchSize: Int,
      salt: String = "graft"): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0,
      s"bucketWidth $bucketWidth and batchSize $batchSize must be positive")
    val docs = df
      .select(col(idCol).as("id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("len_bucket", floor(col("n_tokens") / bucketWidth))
      .withColumn("_h", md5(concat_ws("|", col("id").cast("string"), lit(salt))))
    OrderedPrefix.sums(docs, hexByte(col("_h")), Seq(col("_h"), col("id")),
        Seq("_rk" -> lit(1L)), within = Seq("len_bucket"))
      .select(col("id").as(idCol), col("n_tokens"), col("len_bucket"),
        floor(col("_rk") / batchSize).as("batch_no"),
        (col("_rk") % batchSize).as("pos_in_batch"))
  }

  /** Temperature-flattening resample at T = 2 (multilingual mixing à la
    * public multilingual-pretraining recipes: group shares are reweighted
    * toward share^(1/T), boosting low-resource groups): every group's keep
    * rate is sqrt(c_min / c_g) — the smallest group keeps everything,
    * a 100× larger group keeps 10%.
    *
    * T = 2 on purpose: sqrt, divide and multiply are IEEE
    * correctly-rounded, so thresholds are bit-identical in every engine —
    * a general pow(share, 1/T) is NOT correctly rounded and an ulp of
    * libm disagreement would flip rows near the hash threshold.
    *
    * Plan: one tiny count aggregate, rates broadcast back, then the pure
    * per-row hash gate — the corpus itself is never shuffled.
    */
  def temperatureResample(
      df: DataFrame, keyCol: String, groupCol: String,
      salt: String = "graft"): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("_c"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("_c")).as("_cmin"))))
      .select(col(groupCol),
        sqrt(col("_cmin").cast("double") / col("_c")).as("_rate"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(keyHash60(col(keyCol), salt) <
        floor(col("_rate") * lit(Two60)).cast("long"))
      .drop("_rate")
  }

  /** Leak-free train/val/test split assignment: each key's 60-bit hash,
    * reduced mod 10000, is bucketed into consecutive basis-point bands —
    * `splits = Seq(("train", 8000), ("val", 1000), ("test", 1000))`
    * assigns ~80/10/10. Integer-exact end-to-end (no float thresholds to
    * disagree across engines), deterministic under repartitioning, and
    * leak-free by construction: a key always lands in the same band, so
    * duplicates of a document can never straddle train and test. The
    * same salt+bands reproduce the split on any engine; a different salt
    * redraws it. Pure per-row map — nothing shuffles, nothing broadcast.
    */
  def splitAssign(
      df: DataFrame, keyCol: String,
      splits: Seq[(String, Int)], // (label, basis points), sums to 10000
      salt: String = "graft"): DataFrame =
    df.withColumn("split", splitLabel(col(keyCol), splits, salt))

  /** The split label as a pure column expression over any key column —
    * the assignment IS a hash of the key, so consumers holding only an
    * id (e.g. a pair list) can recover its split with no join back to
    * the corpus.
    */
  def splitLabel(
      key: Column,
      splits: Seq[(String, Int)], // (label, basis points), sums to 10000
      salt: String = "graft"): Column = {
    require(splits.nonEmpty && splits.map(_._2).forall(_ > 0)
      && splits.map(_._2).sum == 10000, "split basis points must sum to 10000")
    val bucket = keyHash60(key, salt) % 10000
    val bounds = splits.scanLeft(0) { case (acc, (_, bp)) => acc + bp }
    // first band whose upper bound exceeds the bucket wins
    splits.zip(bounds.tail).reverse
      .foldLeft[Column](lit(splits.last._1)) { case (acc, ((label, _), hi)) =>
        when(bucket < hi, label).otherwise(acc)
      }
  }

  /** Cross-split contamination audit: near-duplicate pairs that straddle
    * two different train/val/test splits — the QA step that catches eval
    * leakage AFTER a split was drawn on raw doc ids (near-duplicates have
    * different ids, so hash-band splitting alone cannot keep them
    * together; this audit measures how much leaked). Pairs come from the
    * banded MinHash-LSH join ([[graft.operators.Dedup.minhashLshPairs]],
    * never all-pairs); each side's split is recovered from its id with
    * [[splitLabel]] — a pure expression, so beyond the LSH bucket join
    * this adds zero shuffles and zero joins at any corpus size.
    *
    * Output: (id_a, id_b, split_a, split_b, agree) for candidate pairs
    * with `agree >= minAgree` and `split_a != split_b`.
    */
  def splitLeakage(
      df: DataFrame, idCol: String, textCol: String,
      splits: Seq[(String, Int)], salt: String = "graft",
      shingleN: Int = 4, numHashes: Int = 16, bandSize: Int = 4,
      minAgree: Int = 8): DataFrame =
    Dedup.minhashLshPairs(df, idCol, textCol,
        shingleN, numHashes, bandSize, minAgree)
      .withColumn("split_a", splitLabel(col("id_a"), splits, salt))
      .withColumn("split_b", splitLabel(col("id_b"), splits, salt))
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "split_a", "split_b", "agree")

  /** Percentile normalization within groups — each row's exact empirical
    * percentile of `valueCol` among its group (rank−1)/(n−1) ∈ [0,1]:
    * the calibration transform that makes quality scores comparable
    * ACROSS strata (a "0.9 quality" in one language is not a "0.9" in
    * another; percentiles are). Deterministic total order via
    * (value, key) tie-break; single-member groups pin to 0.5. One
    * window per group — parallel across groups; the division is one
    * correctly-rounded IEEE op on exact integers, engine-bit-identical.
    *
    * Output: input columns + pct (double).
    */
  def percentileNormalize(
      df: DataFrame, groupCol: String, valueCol: String,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(keyCol))
    df.withColumn("_r", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(groupCol)))
      .withColumn("pct",
        when(col("_n") > 1,
          (col("_r") - 1).cast("double") / (col("_n") - 1))
          .otherwise(0.5))
      .drop("_r", "_n")
  }

  /** Contrastive negative sampling: `k` deterministic pseudo-random
    * negative partners per anchor row — the pair generator for
    * contrastive / triplet training data. Negative `j` of anchor `a` is
    * the row at dense index `H(a, j) mod (N-1)`, bumped by one when it
    * lands at-or-past the anchor's own index (the classic skip-self
    * adjustment, keeping the draw uniform over the other N-1 rows).
    * Everything is md5-derived, so resamples are reproducible and
    * engine-portable; changing `salt` redraws the negatives.
    *
    * Scale shape: dense indices and N come from [[OrderedPrefix.sums]]
    * over id buckets (no global row_number), and that frame is read
    * once. Each of its rows becomes the node at its own index plus the
    * anchor of its k draws; one shuffle by index puts every draw next to
    * the one node it hits, and a window over that index gathers the
    * partner. A join of the draws against the index frame would read the
    * frame, and so run its corpus-sized rank window, a second time. No
    * RNG state, no driver involvement.
    *
    * Output: idCol (anchor), j (0-based draw), neg_<idCol> (partner).
    */
  def negativePairs(
      df: DataFrame, idCol: String, k: Int,
      salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0)
    val idx = OrderedPrefix.sums(df.select(col(idCol)),
        OrderedPrefix.idBucket(col(idCol)), Seq(col(idCol)),
        Seq("_i" -> lit(1L)))
    val raw = keyHash60(
      concat(col(idCol).cast("string"), lit(":"), col("j").cast("string")),
      salt) % (col("_i_total") - 1)
    // j = -1 is the row's own node at index _i; j >= 0 are its draws
    idx.select(col(idCol), col("_i"), col("_i_total"),
        explode(sequence(lit(-1), lit(k - 1))).as("j"))
      .withColumn("_t", when(col("j") < 0, col("_i"))
        .when(raw >= col("_i"), raw + 1).otherwise(raw))
      .withColumn("_nid",
        max(when(col("j") < 0, col(idCol))).over(Window.partitionBy("_t")))
      .filter(col("j") >= 0)
      .select(col(idCol), col("j").cast("long").as("j"),
        col("_nid").as("neg_" + idCol))
  }

  /** Per-group exact-quantile threshold filter — the quality-cutoff
    * calibration step of a filtering pipeline ("keep each language's top
    * 10% by model score"). The quantile is the DISCRETE lower quantile at
    * `qBp` basis points (qBp = 9000 → p90): the smallest observed score
    * whose cumulative count reaches `ceil(qBp · n_group / 10000)` =
    * `(qBp·n + 9999) div 10000` — exact integer arithmetic end-to-end
    * (a float `ceil(q·n)` is an engine-dependent coin flip: SQL engines
    * parse 0.9 as decimal, Spark as double, and they round differently).
    * Rows with `score >= threshold(group)` survive.
    *
    * Scale shape: the corpus collapses to a COMPACT (group, score) count
    * frame first (map-side combined — its size is bounded by score
    * cardinality, not corpus rows); the per-group cumulative sum windows
    * over that compact frame only; thresholds broadcast back and the
    * final filter is a broadcast-probe — the corpus itself is never
    * shuffled and never windowed.
    *
    * Output: the input rows that meet their group's threshold, plus the
    * group's `threshold` column.
    */
  def quantileThresholdFilter(
      df: DataFrame, groupCol: String, scoreCol: String,
      qBp: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qBp > 0 && qBp < 10000, "qBp must be in (0, 10000)")
    val compact = df.groupBy(groupCol, scoreCol)
      .agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(groupCol).orderBy(scoreCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thresholds = compact
      .withColumn("_cum", sum(col("_n")).over(w))
      .withColumn("_tot", sum(col("_n")).over(Window.partitionBy(groupCol)))
      .filter(col("_cum") * 10000 >= col("_tot") * qBp)
      .groupBy(groupCol)
      .agg(min(col(scoreCol)).as("threshold"))
    df.join(broadcast(thresholds), Seq(groupCol))
      .filter(col(scoreCol) >= col("threshold"))
  }

  /** Variable-cap version of [[capPerGroup]] — the ENFORCEMENT half of
    * [[proportionalAllocation]]: each group g keeps at most caps(g) rows
    * in deterministic hash order (same md5 order as capPerGroup, so the
    * kept set is reproducible and repartition-stable). Groups absent
    * from `caps` are dropped (quota 0). Same scale shape: under-cap
    * groups pass through a broadcast semi-join with no window; only
    * over-cap groups' rows are ranked. `caps` is dimension-sized
    * ((group, cap) — one row per group) and is broadcast.
    */
  def capPerGroupVar(
      df: DataFrame, groupCol: String, keyCol: String,
      caps: DataFrame, salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // helper columns carry collision-safe names: the inner join lands
    // them ON df, so a caller's own "cap" column must not be shadowed
    // (capPerGroup avoids this with semi/anti joins; the variable-cap
    // form needs the cap value alongside the rows)
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("_graft_c"))
      .join(caps.select(col(groupCol), col("cap").as("_graft_cap")),
        Seq(groupCol))
    val under = counts.filter(col("_graft_c") <= col("_graft_cap"))
      .select(groupCol)
    val over = counts.filter(col("_graft_c") > col("_graft_cap"))
      .select(col(groupCol), col("_graft_cap"))
    val pass = df.join(broadcast(under), Seq(groupCol), "left_semi")
    val w = Window.partitionBy(groupCol)
      .orderBy(keyHash60(col(keyCol), salt), col(keyCol))
    val ranked = df.join(broadcast(over), Seq(groupCol))
      .withColumn("_graft_rk", row_number().over(w))
      .filter(col("_graft_rk") <= col("_graft_cap"))
    pass.unionByName(ranked.select(pass.columns.map(col): _*))
      .select(df.columns.map(col): _*)
  }

  /** Neyman (minimum-variance) sample allocation — the survey-sampling
    * upgrade of proportional quotas: stratum h receives budget
    * ∝ N_h·S_h (size × standard deviation), so volatile strata get the
    * measurements and near-constant strata stop wasting budget. The
    * weight is computed EXACTLY as integers right up to one IEEE sqrt:
    * N_h·S_h = √(N_h·Σc² − (Σc)²) over cent-quantized values — the
    * radicand is a decimal(38,0) integer, the sqrt of the same integer
    * is the same double on every engine, and its floor feeds
    * [[proportionalAllocation]]'s exact largest-remainder apportionment
    * (one stratum-sized frame; the corpus is touched once for the
    * moment sums, map-side partial-aggregated).
    *
    * Output: stratum, w (floored N·S weight), quota; Σquota == total
    * whenever any stratum has variance.
    */
  def neymanAllocation(
      df: DataFrame, stratumCol: String, valueCol: String,
      total: Long): DataFrame = {
    val dec = "decimal(38,0)"
    val st = df.filter(col(valueCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast(dec).as("_c"))
      .groupBy("stratum")
      .agg(count(lit(1)).cast(dec).as("_n"), sum(col("_c")).as("_s"),
        sum((col("_c") * col("_c")).cast(dec)).as("_s2"))
      .select(col("stratum"),
        floor(sqrt((col("_n") * col("_s2") - col("_s") * col("_s"))
          .cast("double"))).cast("long").as("_w"))
    proportionalAllocation(st, "stratum", "_w", total)
      .withColumnRenamed("group", "stratum")
  }

  /** Largest-remainder (Hamilton) quota allocation — the data-mixing
    * step that turns per-source corpus sizes into an EXACT integer token
    * budget per source: quota_g = floor(total·w_g / W) plus one extra
    * for the groups with the largest remainders, so quotas sum to
    * `total` exactly and every quota is within 1 of the ideal real
    * -valued share (no systematic rounding drift toward big or small
    * sources, unlike floor- or round-based mixing).
    *
    * All arithmetic is decimal(38,0)-exact (total·w overflows a long
    * once w is corpus-scale). The deficit ranking is an
    * [[OrderedPrefix.sums]]: the remainder's top byte (monotone double
    * coarsening — rounding may collapse neighbors but never reorders)
    * buckets groups 256 ways, reversed for the descending order, and
    * ranks within a bucket follow the EXACT (remainder desc, group) key
    * — one row per group never funnels through a single-partition window
    * even with millions of groups (domains, not sources).
    *
    * Output: group, w (summed weight), quota; sum(quota) == total —
    * except when the total weight is zero (nothing to apportion), which
    * degenerates to all-zero quotas.
    */
  def proportionalAllocation(
      df: DataFrame, groupCol: String, weightCol: String,
      total: Long): DataFrame = {
    require(total >= 0, s"total $total must be non-negative")
    val g = df.groupBy(col(groupCol).as("group"))
      .agg(sum(col(weightCol)).cast("decimal(38,0)").as("w"))
    val tot = g.agg(sum(col("w")).as("_W"))
    // W == 0 (all weights zero) has no proportional answer: every quota
    // is 0 — documented degenerate case, the only one where sum(quota)
    // != total. The guards keep the decimal division off that branch
    // (ANSI mode would raise DIVIDE_BY_ZERO).
    // a when() guard around the division is NOT enough: hash-aggregate
    // codegen's subexpression elimination can hoist the guarded branch
    // and evaluate it unconditionally (observed: DIVIDE_BY_ZERO raised
    // from inside the deficit aggregate). A safe divisor sidesteps the
    // branch entirely: W == 0 forces _tw == 0, so 0 % 1 and 0 / 1 give
    // the right degenerate zeros with no zero-divide anywhere.
    val wSafe = when(col("_W") === 0, lit(1).cast("decimal(38,0)"))
      .otherwise(col("_W"))
    val q = g.crossJoin(broadcast(tot))
      .withColumn("_tw", col("w") * lit(total))
      .withColumn("_rem", col("_tw") % wSafe)
      .withColumn("_fq",
        ((col("_tw") - col("_rem")) / wSafe).cast("decimal(38,0)"))
    val deficit = q.agg((lit(total) - sum(col("_fq")))
      .cast("long").as("_D"))
    val topByte = least(lit(255), greatest(lit(0),
      floor(col("_rem").cast("double") * 256d / wSafe.cast("double")).cast("int")))
    OrderedPrefix.sums(q, lit(255) - topByte,
        Seq(col("_rem").desc, col("group")), Seq("_rk" -> lit(1L)))
      .crossJoin(broadcast(deficit))
      .select(col("group"), col("w").cast("long").as("w"),
        when(col("_W") === 0, 0L)
          .otherwise(col("_fq").cast("long") +
            when(col("_rk") < col("_D"), 1L).otherwise(0L)).as("quota"))
  }
}
