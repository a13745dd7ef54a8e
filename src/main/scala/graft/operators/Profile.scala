package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-pass table profiling — the stats a pipeline operator consults
  * before pointing a 100 TB job at an unfamiliar table: per-column
  * non-null/null counts, distinct cardinality, min and max.
  *
  * Shape: ONE scan and ONE aggregate produce every column's stats
  * simultaneously (a naive profiler runs one job per column — C full
  * scans); the single stats row then unpivots driver-free via `stack`.
  * The exact `count(DISTINCT ...)` per column makes Catalyst expand each
  * row once per distinct aggregate — still one scan, and the form the
  * DuckDB oracle can mirror; at corpus scale swap
  * `approx_count_distinct`, which drops the expand entirely — the
  * surrounding shape is unchanged.
  */
object Profile {

  /** One row per profiled column:
    * (col_name, n_nonnull, n_nulls, n_distinct, min_s, max_s) — min/max
    * rendered as strings so heterogeneous column types fit one frame.
    */
  def summarize(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val aggs: Seq[Column] = count(lit(1)).as("__total") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__${c}__n"),
        count_distinct(col(c)).as(s"__${c}__d"),
        min(col(c)).cast("string").as(s"__${c}__min"),
        max(col(c)).cast("string").as(s"__${c}__max"))
    }
    // multi-distinct plans via EXPAND: (cols+1)·N rows hash-aggregated
    // INSIDE the scan stage — on a narrow scan (one row group = one
    // split) that whole blow-up runs on one task. The guarded fan-out
    // is a no-op whenever the scan already yields >= parallelism splits
    // (any warehouse scale); aggregation results are partitioning-
    // invariant. Measured: q128 1.74 -> 1.14 s at sf0.1 (the remainder
    // is the o_orderkey near-unique distinct's value shuffle + stack).
    val one = Dedup.fanOutIfNarrow(df.select(cols.map(col): _*))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', __${c}__n, `__total` - __${c}__n, __${c}__d, __${c}__min, __${c}__max"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_nonnull, n_nulls, n_distinct, min_s, max_s)")
  }

  /** Global equi-width histogram of a numeric column — the distribution
    * half of a profile: one tiny min/max aggregate (broadcast back as a
    * 1-row frame), then one map-side-combining bucket count over the
    * corpus; the bin spine explodes from the stats row so EMPTY bins
    * appear with cnt 0. Bin arithmetic is a fixed 3-op IEEE chain
    * ((v − lo)·n / width, floored, clamped), so bin ids are
    * engine-exact; a degenerate column (min == max) lands entirely in
    * bin 0.
    *
    * Output: bin (0..nBins-1), lo_edge, hi_edge (rounded 6), cnt.
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val stats = df.agg(min(col(valueCol)).cast("double").as("_lo"),
      max(col(valueCol)).cast("double").as("_hi"))
    val width = col("_hi") - col("_lo")
    val counts = df.select(col(valueCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .crossJoin(broadcast(stats))
      .select(when(width === 0, 0L).otherwise(
        least(lit(nBins - 1L),
          floor((col("_v") - col("_lo")) * nBins / width))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    stats
      .select(explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"),
        col("_lo"), width.as("_w"))
      .select(col("bin"),
        round(col("_lo") + (col("bin") * col("_w")) / nBins, 6)
          .as("lo_edge"),
        round(col("_lo") + ((col("bin") + 1) * col("_w")) / nBins, 6)
          .as("hi_edge"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"), col("lo_edge"), col("hi_edge"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Equi-DEPTH histogram over a non-negative integer column — quantile
    * buckets of ~N/k rows each (the optimizer/profiler companion to the
    * equi-width [[histogram]]): per bucket, the value range it spans and
    * the exact row count. Values never split across buckets (a value
    * belongs to the bucket its FIRST row-rank lands in — the no-split
    * variant, so duplicate-heavy values make visible depth skew instead
    * of silently splitting).
    *
    * Distributed shape: compact to (value, count) first, then the
    * cumulative-rows-before-each-value is [[OrderedPrefix.sums]] (coarse
    * bucket = value bit length, split 1024 ways). The bucket
    * id is pure integer arithmetic — cumBefore·k div N — so boundaries
    * are engine-exact; no sampled range partitioning, no global sort.
    */
  def equiDepthHistogram(
      df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val c = df.select(col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull && col("_v") >= 0)
      .groupBy("_v").agg(count(lit(1)).as("_n"))
    bucketByRank(c, k)
      .groupBy("bucket")
      .agg(min(col("_v")).as("lo"), max(col("_v")).as("hi"),
        sum(col("_n")).as("n_rows"))
  }

  /** Shared distributed-rank core: given a compacted (_v, _n [, extra
    * columns]) frame of non-negative values, attach the equi-depth
    * `bucket` id (cumBefore·k div total) of each value. Ordered coarse
    * bucket = (bit length << 10) | top-10 bits — each octave splits
    * ~1024 ways, so no single value-range octave funnels into one
    * window task; still ≤ ~64k bucket ids, monotone in _v.
    */
  private def bucketByRank(c: DataFrame, k: Int): DataFrame = {
    // lazy checkpoint: the coarse-bucket id is consumed by BOTH the
    // per-bucket local cumsum and the per-bucket totals, whose plans
    // share no exchange — without it the value compaction + conv-based
    // bit-length run twice
    val withB = c
      .withColumn("_bits", length(conv(col("_v"), 10, 2)).cast("long"))
      .withColumn("_b", expr(
        "shiftleft(_bits, 10) + shiftright(_v, cast(greatest(_bits - 10, 0) as int))"))
      .drop("_bits")
      .localCheckpoint(false)
    OrderedPrefix.sums(withB, col("_b"), Seq(col("_v")), Seq("_cin" -> col("_n")))
      .withColumn("bucket", expr(s"_cin * $k div _cin_total"))
      .drop("_b", "_cin", "_cin_total")
  }

  /** The (value → equi-depth bucket) mapping itself — join it back to
    * rows when a per-row bucket is needed (RFM scoring, decile tags).
    *
    * PRECONDITION: only non-negative values are bucketed (negative and
    * null values are dropped from the map). A caller inner-joining rows
    * back to this map therefore silently loses rows whose value is
    * negative — gate that upstream (e.g. q246 composite scoring joins
    * provably non-negative metrics) or left-join and treat a null
    * bucket as a loud failure.
    */
  def valueRankBuckets(
      df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val c = df.select(col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull && col("_v") >= 0)
      .groupBy("_v").agg(count(lit(1)).as("_n"))
    bucketByRank(c, k).select(col("_v"), col("bucket"))
  }

  /** Rank-bucket mix — CORPUS-WIDE equi-depth buckets of a value,
    * crossed with a grouping column: "which sources contribute the long
    * tail" read directly (each bucket holds ~1/k of all rows, so a
    * group's share per bucket is comparable across buckets without
    * normalization). Buckets come from the [[bucketByRank]] distributed
    * rank over distinct values; rows re-attach by a value-keyed join.
    *
    * Output: (groupCol, bucket, n).
    */
  def rankBucketMix(
      df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val c = df.select(col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull && col("_v") >= 0)
      .groupBy("_v").agg(count(lit(1)).as("_n"))
    val vb = bucketByRank(c, k).select("_v", "bucket")
    df.select(col(groupCol), col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull && col("_v") >= 0)
      .join(vb, Seq("_v"))
      .groupBy(groupCol, "bucket").agg(count(lit(1)).as("n"))
  }

  /** Calibration / reliability table for an integer score against a
    * binary label: equi-depth score deciles (the [[bucketByRank]] core —
    * values never split across buckets), and per bucket the observed
    * positive rate next to the mean score — the "is a higher quality
    * score actually more likely to be good?" diagnostic read alongside
    * [[rankingAuc]]. Integer-exact inputs, two single correctly-rounded
    * divisions per bucket row.
    *
    * Output: bucket, lo, hi, n, n_pos, pos_rate, mean_score.
    */
  def calibrationTable(
      df: DataFrame, scoreCol: String, labelCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    val dec = "decimal(38,0)"
    val c = df
      .select(col(scoreCol).cast("long").as("_v"),
        col(labelCol).cast("boolean").as("_pos"))
      .filter(col("_v").isNotNull && col("_v") >= 0)
      .groupBy("_v").agg(count(lit(1)).as("_n"),
        sum(when(col("_pos"), 1L).otherwise(0L)).as("_p"))
    bucketByRank(c, k)
      .groupBy("bucket")
      .agg(min(col("_v")).as("lo"), max(col("_v")).as("hi"),
        sum(col("_n")).as("n"), sum(col("_p")).as("n_pos"),
        sum((col("_v") * col("_n")).cast(dec)).as("_sv"))
      .select(col("bucket"), col("lo"), col("hi"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"),
        (col("_sv").cast("double") / col("n")).as("mean_score"))
  }

  /** Per-group 2×median of an integer column, computed EXACTLY from the
    * compacted (group, value, count) form: cumulative counts locate the
    * lower/upper middle values (1-based ranks ⌊(n+1)/2⌋ and ⌊n/2⌋+1) and
    * their SUM is 2·median — kept doubled so the even-n interpolation
    * (vlo+vhi)/2 stays an integer and never rounds. The per-group window
    * runs over DISTINCT values, not rows (duplicate-heavy columns
    * compact massively), partitioned by group — parallel across groups.
    */
  private def twoMedian(
      d: DataFrame, groupCol: String, valueCol: String,
      out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = d.groupBy(col(groupCol).as("_g"), col(valueCol).as("_v"))
      .agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy("_g").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = c.withColumn("_cum", sum(col("_n")).over(w))
      .withColumn("_tot", sum(col("_n")).over(Window.partitionBy("_g")))
    // 1-based middles: lo = ⌊(n+1)/2⌋ ⟺ 2cum ≥ n + n%2;
    // hi = ⌊n/2⌋+1 ⟺ 2cum ≥ n − n%2 + 2 (odd n: both pick the middle)
    val par = col("_tot") % 2
    cum.groupBy(col("_g").as(groupCol))
      .agg((min(when(col("_cum") * 2 >= col("_tot") + par, col("_v"))) +
        min(when(col("_cum") * 2 >= col("_tot") - par + 2, col("_v"))))
        .as(out))
  }

  /** Robust per-group location/scale — exact median and MAD (median
    * absolute deviation) of an integer column, the outlier-resistant
    * alternative to mean/stddev for corpus length/quality profiling.
    * Everything stays in integers until the final exact halvings:
    * medians ride as 2·median ([[twoMedian]]), deviations as
    * |2x − 2med| (so half-integer medians never round), and the MAD
    * median as 4·MAD — median = med2/2 and mad = mad4/4 are divisions
    * by powers of two, exact in IEEE doubles, hence engine-bit-identical
    * with no rounding discipline needed. Two medians = two compacted
    * window passes; the deviations join is keyed on the group.
    *
    * Output: (groupCol, n, median double, mad double).
    */
  def groupMedianMad(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // lazy checkpoint: base feeds the median, the deviation join and
    // the count — q212/q225 pass window/join results whose recompute
    // costs more than pinning two narrow columns
    val base = df.select(col(groupCol), col(valueCol).cast("long").as("_x"))
      .filter(col("_x").isNotNull)
      .localCheckpoint(false)
    val med2 = twoMedian(base, groupCol, "_x", "_med2")
    val dev = base.join(med2, Seq(groupCol))
      .select(col(groupCol), abs(col("_x") * 2 - col("_med2")).as("_d2"))
    val mad4 = twoMedian(dev, groupCol, "_d2", "_mad4")
    val n = base.groupBy(groupCol).agg(count(lit(1)).as("n"))
    n.join(med2, Seq(groupCol)).join(mad4, Seq(groupCol))
      .select(col(groupCol), col("n"),
        (col("_med2").cast("double") / 2).as("median"),
        (col("_mad4").cast("double") / 4).as("mad"))
  }

  /** Classifier evaluation against gold labels — per-class confusion
    * stats (tp / fn / fp) with precision and recall, the scorecard for
    * any rule-based pipeline stage (language-ID vs a labeled sample,
    * quality-gate vs human audit). One corpus aggregation down to the
    * classes²-sized confusion matrix; everything after is matrix-sized.
    * Classes that are predicted but never appear as a true label still
    * get a row (tp = fn = 0, their fp count) via the full-outer spine —
    * dropping them would hide a classifier that invents labels.
    * Precision is null when the class is never predicted (tp+fp = 0).
    *
    * Output: class, tp, fn, fp, prec, recall (single exact divisions).
    */
  def confusionStats(
      df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val cm = df.groupBy(col(labelCol).as("_l"), col(predCol).as("_p"))
      .agg(count(lit(1)).as("_n"))
      .localCheckpoint(false) // classes²-sized; consumed twice
    val byLabel = cm.groupBy(col("_l").as("class"))
      .agg(sum(when(col("_l") === col("_p"), col("_n")).otherwise(0L)).as("tp"),
        sum(when(col("_l") =!= col("_p"), col("_n")).otherwise(0L)).as("fn"))
    val byPred = cm.groupBy(col("_p").as("class"))
      .agg(sum(when(col("_l") =!= col("_p"), col("_n")).otherwise(0L)).as("_fp"))
    byLabel.join(byPred, Seq("class"), "full_outer")
      .select(col("class"), coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fn"), lit(0L)).as("fn"),
        coalesce(col("_fp"), lit(0L)).as("fp"))
      .withColumn("prec", when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        col("tp").cast("double") / (col("tp") + col("fn"))))
  }

  /** Leave-one-out outlier scores per group — each row's z-score against
    * the OTHER members' mean/stddev (a gross outlier inflates the plain
    * group stddev enough to mask itself; LOO removes that self-masking
    * without a second pass). One map-side aggregation to (n, Σx, Σx²)
    * per group — decimal(38,0)-exact — broadcast back onto the rows;
    * the per-row score is then a FIXED chain of correctly-rounded IEEE
    * ops (the z-score discipline), so doubles hash-match any engine
    * running the same chain:
    *   a = S−x;  mu = a/(n−1);  var = (S2−x² − a·mu)/(n−2);
    *   score = (x − mu)/sqrt(var).
    * Groups with n < 3 or zero variance yield null scores. Null values
    * are excluded from n as well as the sums (a null row must not
    * deflate its group's LOO mean), mirroring groupMedianMad.
    *
    * Input col must already be an exact integer (scale upstream).
    * Output: input columns + loo_mean, loo_score.
    */
  def looOutlierScores(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = col(valueCol).cast("long")
    val stats = df
      .select(col(groupCol), x.as("_x"))
      .filter(col("_x").isNotNull)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_S"),
        sum((col("_x") * col("_x")).cast(dec)).as("_S2"))
    val a = (col("_S") - x).cast("double")
    val mu = a / (col("_n") - 1).cast("double")
    val b = (col("_S2") - (x * x).cast(dec)).cast("double")
    val varr = (b - a * mu) / (col("_n") - 2).cast("double")
    // left join: a group whose values are all null has no stats row but
    // must keep its rows (with null scores), not vanish
    df.join(broadcast(stats), Seq(groupCol), "left")
      .withColumn("loo_mean", when(col("_n") >= 2, mu))
      .withColumn("loo_score",
        when(col("_n") >= 3 && varr > 0,
          (x.cast("double") - mu) / sqrt(varr)))
      .drop("_n", "_S", "_S2")
  }

  /** Per-group Spearman rank correlation between two integer metrics —
    * the monotone-dependence profile (Pearson on RANKS, robust to
    * nonlinearity and outliers; the profiling question is "does quality
    * rise with length?", not "linearly?"). Tie handling is the exact
    * fractional-average rank, kept integer by DOUBLING: with rank() =
    * min rank of a tie run and c = run length, 2·avgrank = 2·rank+c−1.
    * All sums over doubled ranks are integers (Σ products in
    * decimal(38,0)), and ρ = (n·Sxy − Sx·Sy) / (√(n·Sx2−Sx²)·√(n·Sy2−Sy²))
    * is a fixed chain of correctly-rounded IEEE ops — engine-identical
    * (the doubling cancels between numerator and denominator). Two
    * per-group rank windows over distinct-compacted runs, one map-side
    * aggregation.
    *
    * Output: (groupCol, n, rho double; null when either metric is
    * constant in the group).
    */
  def spearmanCorr(
      df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    def ranked2(c: String, out: String) = {
      val w = Window.partitionBy(groupCol).orderBy(col(c))
      val ties = Window.partitionBy(col(groupCol), col(c))
      (rank().over(w) * 2 + count(lit(1)).over(ties) - 1)
        .cast("long").as(out)
    }
    val r = df
      .select(col(groupCol), col(xCol).cast("long").as("_x"),
        col(yCol).cast("long").as("_y"))
      .select(col(groupCol), ranked2("_x", "_rx"), ranked2("_y", "_ry"))
    val agg = r.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(col("_rx")).as("_sx"), sum(col("_ry")).as("_sy"),
      sum((col("_rx") * col("_ry")).cast(dec)).as("_sxy"),
      sum((col("_rx") * col("_rx")).cast(dec)).as("_sx2"),
      sum((col("_ry") * col("_ry")).cast(dec)).as("_sy2"))
    val num = (col("n") * col("_sxy") - (col("_sx").cast(dec) * col("_sy")))
      .cast(dec).cast("double")
    val dx = (col("n") * col("_sx2") - (col("_sx").cast(dec) * col("_sx")))
      .cast(dec).cast("double")
    val dy = (col("n") * col("_sy2") - (col("_sy").cast(dec) * col("_sy")))
      .cast(dec).cast("double")
    agg.select(col(groupCol), col("n"),
      when(dx > 0 && dy > 0, num / (sqrt(dx) * sqrt(dy))).as("rho"))
  }

  /** Group-wise ranking AUC of an integer score against a binary label —
    * the Mann-Whitney form: AUC = (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻),
    * with tie-averaged ranks. Doubling the ranks (2·rank+c−1, the
    * Spearman trick) keeps everything integer until ONE division:
    * AUC = (Σ 2rank⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) — numerator and
    * denominator exact longs, the quotient a single correctly-rounded
    * IEEE op, engine-bit-identical. This is the threshold-free "does
    * this quality score actually rank good above bad?" check every
    * filter pipeline needs before it picks a cutoff. One rank window
    * per group over the score, one aggregation.
    *
    * Output: (groupCol, n_pos, n_neg, auc double; null if a group has
    * no positives or no negatives).
    */
  def rankingAuc(
      df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col(scoreCol))
    val ties = Window.partitionBy(col(groupCol), col(scoreCol))
    val r2 = (rank().over(w) * 2 + count(lit(1)).over(ties) - 1)
      .cast("long")
    val agg = df
      .select(col(groupCol), col(scoreCol).cast("long").as(scoreCol),
        col(labelCol).cast("boolean").as("_pos"))
      .withColumn("_r2", r2)
      .groupBy(groupCol)
      .agg(sum(when(col("_pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("_pos"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("_pos"), col("_r2")).otherwise(0L)).as("_s2"))
    agg.select(col(groupCol), col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        (col("_s2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
          (col("n_pos") * col("n_neg") * 2))
        .as("auc"))
  }

  /** Concentration metrics per group — Gini coefficient and Herfindahl
    * index of a non-negative integer weight (doc lengths, per-source
    * token masses): the corpus-balance diagnostics behind "is this
    * language's data dominated by a few giant documents?". Both stay
    * integer to one final division: Gini = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx)
    * over ascending-sorted weights (the rank-weight sum is invariant to
    * tie order — equal x contribute x·Σ(2i−n−1) over a fixed position
    * set — so row_number's tie arbitrariness never reaches the output),
    * HHI = Σx² / (Σx)². One rank window per group + one aggregation.
    *
    * Output: (groupCol, n, total, gini, hhi) — null metrics when the
    * group's total weight is zero.
    */
  def concentrationMetrics(
      df: DataFrame, groupCol: String, weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(groupCol).orderBy(col("_x"))
    val base = df
      .select(col(groupCol), col(weightCol).cast("long").as("_x"))
      .filter(col("_x").isNotNull && col("_x") >= 0)
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(groupCol)))
    val gterm = ((col("_i") * 2 - col("_n") - 1).cast(dec) * col("_x"))
      .cast(dec)
    val agg = base.groupBy(groupCol).agg(
      max(col("_n")).as("n"), sum(col("_x")).as("total"),
      sum(gterm).as("_g"),
      sum((col("_x") * col("_x")).cast(dec)).as("_x2"))
    agg.select(col(groupCol), col("n"), col("total"),
      when(col("total") > 0,
        col("_g").cast("double") /
          (col("n").cast(dec) * col("total")).cast(dec).cast("double"))
        .as("gini"),
      when(col("total") > 0,
        col("_x2").cast("double") /
          (col("total").cast(dec) * col("total")).cast(dec).cast("double"))
        .as("hhi"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic per group — the
    * distribution-shift test for CONTINUOUS-ish values (the chi-square
    * drift table needs buckets; KS compares whole empirical CDFs). Kept
    * integer to the end: at every observed value v,
    * |F₁(v) − F₂(v)| = |cum₁·n₂ − cum₂·n₁| / (n₁·n₂), so the max of the
    * integer numerator IS the decision statistic and the one division
    * happens after the max — deterministic on any engine. One compacted
    * (group, value, side-counts) aggregation + one ordered window per
    * group over distinct values.
    *
    * `sideCol`: boolean — true rows form sample 1, false sample 2.
    * Output: (groupCol, n1, n2, ks_num long, ks double; null if either
    * sample is empty).
    */
  def ksStatistic(
      df: DataFrame, groupCol: String, valueCol: String,
      sideCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = df
      .select(col(groupCol), col(valueCol).cast("long").as("_v"),
        col(sideCol).cast("boolean").as("_s"))
      .filter(col("_v").isNotNull)
      .groupBy(groupCol, "_v")
      .agg(sum(when(col("_s"), 1L).otherwise(0L)).as("_c1"),
        sum(when(!col("_s"), 1L).otherwise(0L)).as("_c2"))
    val w = Window.partitionBy(groupCol).orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(groupCol)
    val scored = c
      .withColumn("_cum1", sum(col("_c1")).over(w))
      .withColumn("_cum2", sum(col("_c2")).over(w))
      .withColumn("_n1", sum(col("_c1")).over(all))
      .withColumn("_n2", sum(col("_c2")).over(all))
      .withColumn("_d",
        abs(col("_cum1") * col("_n2") - col("_cum2") * col("_n1")))
    scored.groupBy(groupCol)
      .agg(max(col("_n1")).as("n1"), max(col("_n2")).as("n2"),
        max(col("_d")).as("ks_num"))
      .withColumn("ks",
        when(col("n1") > 0 && col("n2") > 0,
          col("ks_num").cast("double") / (col("n1") * col("n2"))))
  }

  /** Exact trimmed mean per group — the mean of the middle
    * (1 − 2·trimBp/10000) mass, ranks decided exactly (1-based rank r
    * kept when trim·n < 10000·r ≤ (10000−trim)·n, integer arithmetic on
    * both bounds so no float threshold can disagree across engines).
    * The robust location estimate that, unlike the median, still uses
    * most of the data.
    *
    * Shape (r10): the [[winsorizedStats]] boundary-bucket plan — the
    * r9 form put each group's ENTIRE value stream through one
    * row_number sort task (6.2× per 10× at sf1, the worst non-q155
    * scaler). Tie order is arbitrary but every rank-range quantity
    * below is tie-invariant (tied rows carry the same value), so the
    * kept mass per distinct value is the overlap of its global rank
    * interval with (kLo, rHi] — computable from a 4096-wide value-range
    * bucket histogram: (1) per-bucket (count, sum) — map-side
    * combining, ~groups×buckets rows; (2) bucket prefix sums locate
    * the two cut ranks kLo = ⌊n·trim/10⁴⌋ and rHi = ⌊n·(10⁴−trim)/10⁴⌋;
    * buckets strictly inside contribute their whole sum, buckets a cut
    * falls in are resolved exactly among ONLY their rows. No
    * corpus-sized sort or shuffle anywhere, at any scale.
    *
    * Output: (groupCol, n, n_kept, trimmed_mean double).
    */
  def trimmedMean(
      df: DataFrame, groupCol: String, valueCol: String,
      trimBp: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trimBp >= 0 && trimBp * 2 < 10000, "trim must leave mass")
    val dec = "decimal(38,0)"
    val base = df
      .select(col(groupCol).as("_g"), col(valueCol).cast("long").as("_x"))
      .filter(col("_x").isNotNull)
    // bucket histogram: count + value sum per (group, v >> 12); `>>`
    // is arithmetic so buckets stay value-ordered for negative values
    val bh = base.groupBy(col("_g"), shiftright(col("_x"), 12).as("_b"))
      .agg(count(lit(1)).as("_nb"), sum(col("_x").cast(dec)).as("_sb"))
    val boff = bh.withColumn("_off", coalesce(sum(col("_nb")).over(
        Window.partitionBy("_g").orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_tot", sum(col("_nb")).over(Window.partitionBy("_g")))
    // kept global rank interval (kLo, rHi]; DIV keeps the cut
    // arithmetic in exact integer space (Column `/` is IEEE double)
    val kLo = expr(s"(_tot * $trimBp) DIV 10000")
    val rHi = expr(s"(_tot * ${10000 - trimBp}) DIV 10000")
    // a bucket occupies ranks (_off, _off + _nb]
    val fullyKept = col("_off") >= kLo && col("_off") + col("_nb") <= rHi
    val untouched = col("_off") + col("_nb") <= kLo || col("_off") >= rHi
    val fullSums = boff.filter(fullyKept)
      .groupBy(col("_g")).agg(sum(col("_sb")).as("_sFull"))
    // boundary buckets: a cut rank falls strictly inside — ≤ 2 per
    // group, so the resolve join broadcasts
    val bnd = boff.filter(!fullyKept && !untouched)
      .select("_g", "_b", "_off")
    val inBnd = base.join(broadcast(bnd), Seq("_g"))
      .filter(shiftright(col("_x"), 12) === col("_b"))
      .groupBy("_g", "_b", "_off", "_x")
      .agg(count(lit(1)).as("_n"))
    // value v occupies global ranks (_cum − _n, _cum]; kept mass is the
    // overlap with (kLo, rHi] — needs _tot back for the cut columns
    val tots = boff.groupBy(col("_g"))
      .agg(max(col("_tot")).as("_tot"))
    val cum = inBnd.join(broadcast(tots), Seq("_g"))
      .withColumn("_cum", col("_off") +
        sum(col("_n")).over(Window.partitionBy("_g", "_b").orderBy("_x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val overlap = greatest(lit(0L),
      least(col("_cum"), rHi) - greatest(col("_cum") - col("_n"), kLo))
    val bndSums = cum.groupBy(col("_g"))
      .agg(sum(col("_x").cast(dec) * overlap).as("_sBnd"))
    tots
      .join(fullSums, Seq("_g"), "left")
      .join(bndSums, Seq("_g"), "left")
      .select(col("_g").as(groupCol), col("_tot").as("n"),
        (rHi - kLo).as("n_kept"),
        (coalesce(col("_sFull"), lit(0).cast(dec)) +
          coalesce(col("_sBnd"), lit(0).cast(dec))).as("_s"))
      .select(col(groupCol), col("n"), col("n_kept"),
        when(col("n_kept") > 0,
          col("_s").cast("double") / col("n_kept")).as("trimmed_mean"))
  }

  /** Per-group 2×2 association table with odds ratio and risk ratio —
    * the epidemiological exposure/outcome summary (the reference domain
    * reads this as target-positivity by site; corpus QA reads it as
    * flagged-rate by language). One map-side aggregation to the four
    * cells; OR = a·d/(b·c) and RR = a·(c+d)/(c·(a+b)) are single
    * correctly-rounded divisions of exact integer products — null when
    * a zero cell makes them undefined (no continuity fudge; the cells
    * are right there for the reader to judge).
    *
    * Output: group, a (exp∧out), b (exp∧¬out), c (¬exp∧out),
    * d (¬exp∧¬out), odds_ratio, risk_ratio.
    */
  def twoByTwo(
      df: DataFrame, groupCol: String, exposureCol: String,
      outcomeCol: String): DataFrame = {
    val e = col(exposureCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    df.groupBy(groupCol).agg(
        sum(when(e && o, 1L).otherwise(0L)).as("a"),
        sum(when(e && !o, 1L).otherwise(0L)).as("b"),
        sum(when(!e && o, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !o, 1L).otherwise(0L)).as("d"))
      .withColumn("odds_ratio",
        when(col("b") > 0 && col("c") > 0,
          (col("a") * col("d")).cast("double") / (col("b") * col("c"))))
      .withColumn("risk_ratio",
        when(col("c") > 0 && col("a") + col("b") > 0,
          (col("a") * (col("c") + col("d"))).cast("double") /
            (col("c") * (col("a") + col("b")))))
  }

  /** Benford first-digit probabilities log10(1 + 1/d), written once as
    * double literals (log is not in the engine's IEEE-exact op set, so
    * the CONSTANTS are shared verbatim with any SQL oracle rather than
    * computed).
    */
  val BenfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  /** Benford's-law first-digit audit — the classic fabricated-numbers /
    * broken-ETL screen: observed first-significant-digit counts of a
    * positive numeric column vs the Benford expectation, with the
    * per-digit chi-square contribution. All 9 digits always present
    * (the literal digit spine left-joins the counts), so a digit with
    * ZERO observations shows its full expected mass instead of
    * vanishing. Float discipline: expected = N·p and contribution =
    * (n − N·p)²/(N·p) are fixed chains of correctly-rounded IEEE ops on
    * exact inputs — hash-identical across engines (the z-score
    * precedent). One map-side digit count; everything after is 9 rows.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val counts = df
      .select(substring(col(valueCol).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .filter(col("digit") >= 1) // zero / negative values carry no digit
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // 9 rows; consumed by total + result
    val total = counts.agg(sum(col("n")).as("_N"))
    val spine = df.sparkSession.createDataFrame(BenfordP).toDF("digit", "p")
    val expected = col("_N").cast("double") * col("p")
    spine.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("p"))
      .crossJoin(broadcast(total)) // 1-row total
      .withColumn("expected", expected)
      .withColumn("contribution",
        (col("n").cast("double") - expected) *
          (col("n").cast("double") - expected) / expected)
      .select("digit", "n", "expected", "contribution")
  }

  /** Per-group proportion with a Wilson score interval — the defensible
    * form of "source X passes the quality gate 93% ± what?" for sampled
    * audits (the normal approximation misbehaves exactly where corpus
    * QA looks: rates near 0/1 and small strata; Wilson does not). One
    * map-side-combining aggregation; the interval is a fixed chain of
    * IEEE mul/div/add/sqrt on the (k, n) integers, written identically
    * in the SQL oracle so even the bounds hash-match (the q146 z-score
    * discipline). z defaults to 1.96 (95%).
    *
    * Output: group, n, k, rate, ci_lo, ci_hi (rounded 6).
    */
  def proportionCi(
      df: DataFrame, groupCol: String, flag: Column,
      z: Double = 1.96): DataFrame = {
    val g = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(when(flag, 1L).otherwise(0L)).as("k"))
    val n = col("n").cast("double")
    val p = col("k").cast("double") / n
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (lit(2.0) * n)
    val rad = lit(z) * sqrt((p * (lit(1.0) - p)) / n +
      z2 / (lit(4.0) * (n * n)))
    g.select(col("group"), col("n"), col("k"),
      round(p, 6).as("rate"),
      round((center - rad) / denom, 6).as("ci_lo"),
      round((center + rad) / denom, 6).as("ci_hi"))
  }

  /** Order-independent table checksum — replication / backup / migration
    * verification without sorting anything: each row folds to a 60-bit
    * md5 digest of its canonicalized columns, and the table reduces to
    * (row count, XOR of digests, XOR of salted digests) under one
    * map-side-combining aggregate. XOR is commutative/associative, so
    * the digest is identical for ANY partitioning or row order — two
    * copies of a 100 TB table compare by exchanging three numbers. The
    * second, salted XOR guards the one blind spot of a single XOR
    * (a value swapped between two rows in the same column position can
    * cancel); agreeing on both + count is overwhelming evidence of
    * identical content. md5 (not xxhash64) so any engine can recompute
    * the same digest — the oracle does, in plain SQL.
    *
    * Columns are canonicalized via string casts: use integer / string /
    * date columns (float formatting differs across engines).
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "checksum at least one column")
    def digest(salt: String): Column =
      conv(substring(md5(concat_ws("|",
        (lit(salt) +: cols.map(c => col(c).cast("string"))): _*)),
        1, 15), 16, 10).cast("long")
    // the digest chain is µs-per-row CPU and a parquet ROW GROUP is the
    // scan's atomic split — a table written as one row group would run
    // the whole chain on one task. When the scan yields fewer splits
    // than cores, fan out first: XOR is order- and partitioning-
    // invariant by design (the operator's whole point), and at
    // warehouse scale inputs carry >> cores splits so this is a no-op.
    // (Shared helper — scan-root-gated so the probe never finalizes an
    // AQE plan on an arbitrary caller-supplied frame.)
    val fanned = Dedup.fanOutIfNarrow(df)
    fanned.agg(count(lit(1)).as("n_rows"),
      bit_xor(digest("")).as("xor_digest"),
      bit_xor(digest("s2")).as("xor_digest_salted"))
  }

  /** Per-column top-k most frequent values — the categorical half of a
    * profile (what `summarize` can't show): melt the chosen columns to
    * (col_name, value) in the scan projection, count by (column, value),
    * and take the k heaviest per column.
    *
    * The final per-column rank is NOT a window over all of a column's
    * distinct values (a high-cardinality column would funnel through
    * one task): candidates are first cut to the top k within each of
    * 256 hash sub-buckets — a (column, bucket)-keyed window whose
    * partitions the count aggregation already bounded — so the
    * per-column window ranks at most 256·k survivors, a constant,
    * while containing the true top k by construction (a value's global
    * rank is at least its sub-bucket rank). Nulls are skipped (they are
    * `summarize`'s n_nulls, not a "value").
    *
    * Output: col_name, value (string-rendered), cnt, rank (1..k,
    * ties broken by value ascending).
    */
  def topKValues(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty && k > 0, "need columns and k > 0")
    import org.apache.spark.sql.expressions.Window
    val melted = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value")))
        : _*)).as("kv"))
      .select(col("kv.col_name"), col("kv.value"))
      .filter(col("value").isNotNull)
    val counts = melted.groupBy("col_name", "value")
      .agg(count(lit(1)).as("cnt"))
    val sub = Window.partitionBy(col("col_name"),
        pmod(xxhash64(col("value")), lit(256)))
      .orderBy(col("cnt").desc, col("value"))
    val fin = Window.partitionBy(col("col_name"))
      .orderBy(col("cnt").desc, col("value"))
    counts
      .withColumn("_sub_rk", row_number().over(sub))
      .filter(col("_sub_rk") <= k)
      .withColumn("rank", row_number().over(fin))
      .filter(col("rank") <= k)
      .select(col("col_name"), col("value"), col("cnt"),
        col("rank").cast("long").as("rank"))
  }

  /** Distribution drift between two corpus snapshots: the chi-square
    * contribution table per bucket — expected new-snapshot count from
    * the old distribution vs observed, (o−e)²/e, emitted PER BUCKET
    * (not summed: a float sum's order is partition-dependent, and the
    * per-bucket table is what a drift triage actually reads). The
    * division form is integer-exact first: contribution =
    * (new·B − N·old)² / (B·N·old) with B,N the snapshot totals —
    * decimal(38,0) numerator, one correctly-rounded double division, so
    * values are engine-bit-identical. Buckets present only in the new
    * snapshot get a null contribution (no expected value to compare;
    * their new_n row is the signal). Two corpus aggregations + a
    * bucket-sized full-outer join; totals are one broadcast row off the
    * checkpointed bucket table, so each snapshot scans once.
    */
  def driftContributions(
      oldDf: DataFrame, newDf: DataFrame, bucketCol: String): DataFrame = {
    val o = oldDf.groupBy(col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("old_n"))
    val n = newDf.groupBy(col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("new_n"))
    val j = o.join(n, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("old_n"), lit(0L)).as("old_n"),
        coalesce(col("new_n"), lit(0L)).as("new_n"))
      .localCheckpoint(false) // bucket-sized; consumed by totals + result
    val totals = j.agg(sum(col("old_n")).as("_B"), sum(col("new_n")).as("_N"))
    val dec = "decimal(38,0)"
    val diff = col("new_n").cast(dec) * col("_B") - col("_N") * col("old_n")
    j.crossJoin(broadcast(totals)) // 1-row totals
      .withColumn("contribution",
        when(col("old_n") > 0,
          (diff * diff).cast(dec).cast("double") /
            (col("_B").cast(dec) * col("_N") * col("old_n")).cast("double")))
      .select("bucket", "old_n", "new_n", "contribution")
  }

  /** Per-column categorical dispersion: Gini impurity
    * 1 − Σ p_c² — the log-free concentration measure (entropy's
    * monotone cousin: both are 0 for a constant column and maximal for
    * uniform) read next to distinct counts when profiling which
    * columns can stratify, partition, or predict. Exact fixed-point:
    * gini_q20 = floor(2^20 · (N² − Σc²) / N²), all products in
    * decimal(38,0) — at corpus scale Σc² overflows a long the moment
    * one value holds >3B rows.
    *
    * Shape: one melt scan ([[topKValues]]'s explode), one
    * (col, value) partial-aggregated count, one per-column rollup —
    * never a distinct or a window. Nulls are excluded per column (a
    * null is absence, not a category).
    *
    * Output: (col_name, n_rows, n_distinct, gini_q20).
    */
  def giniDispersion(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need columns")
    val dec = "decimal(38,0)"
    val melted = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value")))
        : _*)).as("kv"))
      .select(col("kv.col_name"), col("kv.value"))
      .filter(col("value").isNotNull)
    val counts = melted.groupBy("col_name", "value")
      .agg(count(lit(1)).as("_c"))
    val n2 = (col("n_rows") * col("n_rows")).cast(dec)
    val num = lit(1048576).cast(dec) * (n2 - col("_s2"))
    counts.groupBy("col_name")
      .agg(sum(col("_c")).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum((col("_c") * col("_c")).cast(dec)).as("_s2"))
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        ((num - num % n2) / n2).cast("long").as("gini_q20"))
  }

  /** Winsorized per-group statistics — clamp an integer column at its
    * exact p-th / (100−p)-th percentiles before summing, the standard
    * tail-taming for revenue/length distributions where a handful of
    * extreme rows dominate a plain mean ([[trimmedMean]] DROPS the
    * tails and changes n; winsorizing keeps every row, so downstream
    * per-row joins still reconcile). Percentile semantics are
    * PERCENTILE_DISC
    * (smallest value whose cumulative count reaches p% of the group) —
    * exact, engine-neutral, and integer-only, never an interpolated
    * float quantile.
    *
    * Shape: the [[twoMedian]] compaction — one (group, value) count
    * aggregation (map-side partial), a window over the COMPACTED
    * distinct values per group (vocabulary-sized, not row-sized), then
    * the winsorized sum rides the same compacted frame weighted by
    * count. Never a per-row sort.
    *
    * Output: (groupCol, n, lo, hi, wins_sum, wins_mean) — wins_mean is
    * the single exact IEEE division wins_sum/n.
    */
  def winsorizedStats(
      df: DataFrame, groupCol: String, valueCol: String,
      pct: Int): DataFrame = {
    require(pct >= 1 && pct < 50, s"pct $pct must be in [1, 50)")
    import org.apache.spark.sql.expressions.Window
    // Boundary-bucket percentile plan (r9): the value-level histogram
    // of a near-unique metric is corpus-sized (measured 594k groups at
    // sf0.1 — its zero-reduction hash aggregate WAS the query), but the
    // two PERCENTILE_DISC bounds each live in ONE 4096-wide value-range
    // bucket. So: (1) bucket-level counts — a map-side-combining
    // aggregate onto ~groups×buckets rows; (2) locate each bound's
    // bucket from the bucket prefix sums (broadcast-sized); (3) resolve
    // the exact bound value among ONLY the boundary buckets' rows;
    // (4) one clamp-sum scan with the broadcast bounds. No corpus-sized
    // shuffle anywhere, at any scale. `>>` is arithmetic, so buckets
    // stay value-ordered for negative metrics too.
    // deliberately NOT pinned: the three consumers re-read a 2-column
    // pushdown projection — cheaper than materializing the corpus as
    // checkpoint blocks at any scale (measured a wash at sf0.1)
    val base = df.select(col(groupCol).as("_g"),
        col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull)
    val bh = base.groupBy(col("_g"), shiftright(col("_v"), 12).as("_b"))
      .agg(count(lit(1)).as("_nb"))
    val boff = bh.withColumn("_off", coalesce(sum(col("_nb")).over(
        Window.partitionBy("_g").orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_tot", sum(col("_nb")).over(Window.partitionBy("_g")))
    // PERCENTILE_DISC(f): first value with cum/n >= f (integer form
    // 100·cum >= f·100·n); its bucket is the first whose INCLUSIVE
    // prefix clears the threshold
    def holds(p: Int): Column =
      (col("_off") + col("_nb")) * 100 >= col("_tot") * p &&
        col("_off") * 100 < col("_tot") * p
    val bnd = boff.filter(holds(pct) || holds(100 - pct))
      .select("_g", "_b", "_off", "_tot").distinct()
    val inBnd = base.join(broadcast(bnd), Seq("_g")).filter(
        shiftright(col("_v"), 12) === col("_b"))
      .groupBy("_g", "_b", "_off", "_tot", "_v")
      .agg(count(lit(1)).as("_n"))
    val cum = inBnd.withColumn("_cum", col("_off") +
      sum(col("_n")).over(Window.partitionBy("_g", "_b").orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bounds = cum.groupBy(col("_g"))
      .agg(max(col("_tot")).as("n"),
        min(when(col("_cum") * 100 >= col("_tot") * pct, col("_v")))
          .as("lo"),
        min(when(col("_cum") * 100 >= col("_tot") * (100 - pct), col("_v")))
          .as("hi"))
    base.join(broadcast(bounds), Seq("_g"))
      .groupBy(col("_g").as(groupCol))
      .agg(max(col("n")).as("n"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(greatest(col("lo"), least(col("hi"), col("_v"))))
          .as("wins_sum"))
      .withColumn("wins_mean",
        col("wins_sum").cast("double") / col("n"))
  }
}
