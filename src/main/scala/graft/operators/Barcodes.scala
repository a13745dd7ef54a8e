package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{barcodeSlices, hammingDistance, hammingDistanceLte, barcodeFromUuid}

/** CualID barcode machinery (SURVEY.md §2 J9/C4/C6/M9).
  *
  * The reference enforces pairwise hamming distance ≥ 3 between all
  * barcodes via a trigger (warehouse/identifier/triggers/
  * barcode-distance-check.sql:33-46) and avoids the O(N) pairwise scan
  * with a 2-char slice-array overlap prefilter
  * (dev/doc/01-barcode-slices.md): two 8-char codes within distance < 3
  * must share at least one positioned 2-gram slice (pigeonhole over the 7
  * overlapping slices — ≤2 substitutions can touch at most 4 of them).
  *
  * That prefilter is *exactly* a Spark-friendly similarity-join plan:
  * explode slices → equi-join (shuffle on slice) → hamming only on
  * survivors. At 100 TB of codes this is the difference between a
  * quadratic nested loop and a well-partitioned hash join whose fan-out is
  * bounded by slice selectivity.
  */
object Barcodes {

  /** All pairs (idA < idB) within hamming distance <= maxDist, via the
    * slice-prefilter plan. Sound for 8-char codes with maxDist <= 2.
    *
    * `maxCandidatePairs` is the [[Dedup.candidateMassStats]]-family
    * circuit breaker, and since r10 an AUTO-ROUTER (the
    * [[Dedup.containmentPairsAuto]] pattern): the slice df² mass is
    * pre-estimated with one linear job, and when it blows the budget —
    * the code space saturating its 2-char slices (corpus ≫
    * alphabet^sliceLen, e.g. 1.5M six-hex-char codes — measured: 22G
    * candidate slice pairs, a doomed shuffle at the 100× run) — the
    * call routes to [[similarityJoinParts]], whose 4-char combo keys
    * carry 42× less mass on a random corpus, under the SAME budget.
    * Identical result set either way (Round9OpsSpec pins equality), so
    * routing is transparent to callers. Only when the parts form's
    * mass ALSO exceeds the budget — a truly saturated space where the
    * ANSWER itself is quadratic, which no plan fixes — does the call
    * fail fast (mint longer codes, or check batches against the corpus
    * in [[mintWithStats]]'s shape instead of all-pairs). The slice
    * shape stays the reference-faithful per-insert probe
    * (dev/doc/01-barcode-slices.md's GIN-indexed form).
    */
  def similarityJoin(
      codes: DataFrame, // columns: id (long), code (string)
      maxDist: Int = 2,
      maxCandidatePairs: Option[Long] = None): DataFrame = {
    val sliced0 = codes.select(
      col("id"), col("code"),
      explode(barcodeSlices(col("code"))).as("slice"))
    val sliced = if (maxCandidatePairs.isDefined)
      sliced0.localCheckpoint(false) else sliced0
    val routed: Option[DataFrame] = maxCandidatePairs.flatMap { budget =>
      val d = col("_df").cast("decimal(38,0)")
      try {
        Dedup.requireCandidateBudget("Barcodes.similarityJoin",
          sliced.groupBy("slice").agg(count(lit(1)).as("_df"))
            .agg(coalesce(sum(d * (d - lit(1))),
              lit(0).cast("decimal(38,0)")).cast("decimal(38,0)")),
          budget,
          "Routing to similarityJoinParts (this message surfaces only " +
            "if that probe also failed).")
        None
      } catch {
        case _: CandidateMassExceededException =>
          Some(similarityJoinParts(codes, maxDist, parts = 4,
            maxCandidatePairs = maxCandidatePairs))
      }
    }
    if (routed.isDefined) return routed.get
    val a = sliced.as("a")
    val b = sliced.as("b")
    // shuffle_hash: both sides are the same sliced frame — identical
    // exchanges are reused, so the slice explode runs once (a broadcast
    // build side would recompute it and is unstable for self-joins).
    // hamming BEFORE distinct (r9): the codegen'd short-circuit check is
    // pennies per probe, while a distinct over the full candidate mass
    // is a pair-mass-sized shuffle — on an answer-sparse (minted) corpus
    // filter-first turns that shuffle into survivors-only
    a.hint("shuffle_hash").join(b,
        col("a.slice") === col("b.slice") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.code").as("code_a"),
        col("b.id").as("id_b"), col("b.code").as("code_b"))
      .filter(hammingDistanceLte(col("code_a"), col("code_b"), lit(maxDist)))
      .distinct() // a pair can share several slices
      .withColumn("dist", hammingDistance(col("code_a"), col("code_b")))
  }

  /** Positioned part-combination keys for the pigeonhole similarity
    * join: the code splits into `parts` near-equal substrings; two
    * codes within hamming distance `maxDist` differ in at most
    * `maxDist` parts, so they AGREE on some (parts − maxDist)-subset —
    * one key per subset (combo id ++ the concatenated parts), C(parts,
    * maxDist) keys per code.
    *
    * Versus the reference's 2-char slice array (dev/doc/
    * 01-barcode-slices.md — 7 positioned bigrams, 256 values each):
    * same pigeonhole logic, exponentially more selective buckets. For
    * 8-char codes at maxDist 2 with 4 parts, keys carry 4 chars →
    * 16^4 = 65536 hex values per combo, so a RANDOM (minted) corpus's
    * candidate mass is 6·N²/2^16 instead of 7·N²/2^8 — the 42× that
    * turns the corpus-wide all-pairs check from guard-stopped to
    * measured-tractable at 1.5M codes. The slice scheme stays the
    * per-insert (GIN-indexed probe) shape; this is the all-pairs shape.
    */
  private[operators] def partKeys(
      code: Column, parts: Int, maxDist: Int): Column = {
    require(parts > maxDist,
      s"parts $parts must exceed maxDist $maxDist (pigeonhole)")
    val keep = parts - maxDist
    val combos = (0 until parts).combinations(keep).toSeq
    val l = length(code)
    def part(i: Int): Column = {
      val start = floor(l * i / parts).cast("int")
      val stop = floor(l * (i + 1) / parts).cast("int")
      code.substr(start + 1, stop - start)
    }
    array(combos.zipWithIndex.map { case (combo, ci) =>
      concat((lit(s"${ci}__") +: combo.map(part)): _*)
    }: _*)
  }

  /** All pairs (idA < idB) within hamming distance <= maxDist via the
    * part-combination pigeonhole join — [[similarityJoin]]'s
    * corpus-scale twin for all-pairs checks over large minted sets
    * (recall-complete for any alphabet and fixed code length; pairs of
    * DIFFERENT lengths are never candidates, matching the hamming
    * domain). Same output schema and guard semantics as
    * [[similarityJoin]].
    */
  def similarityJoinParts(
      codes: DataFrame, // columns: id (long), code (string)
      maxDist: Int = 2,
      parts: Int = 4,
      maxCandidatePairs: Option[Long] = None): DataFrame = {
    val keyed0 = codes.select(col("id"), col("code"),
      explode(partKeys(col("code"), parts, maxDist)).as("k"))
    val keyed = if (maxCandidatePairs.isDefined)
      keyed0.localCheckpoint(false) else keyed0
    maxCandidatePairs.foreach { budget =>
      val d = col("_df").cast("decimal(38,0)")
      Dedup.requireCandidateBudget("Barcodes.similarityJoinParts",
        keyed.groupBy("k").agg(count(lit(1)).as("_df"))
          .agg(coalesce(sum(d * (d - lit(1))),
            lit(0).cast("decimal(38,0)")).cast("decimal(38,0)")),
        budget,
        "Raise `parts` selectivity with longer codes, or join a bounded " +
          "batch against the corpus (mintWithStats's shape) instead of " +
          "all-pairs.")
    }
    keyed.as("a").hint("shuffle_hash").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.code").as("code_a"),
        col("b.id").as("id_b"), col("b.code").as("code_b"))
      .filter(hammingDistanceLte(col("code_a"), col("code_b"), lit(maxDist)))
      .distinct() // a pair can agree on several part combos
      .withColumn("dist", hammingDistance(col("code_a"), col("code_b")))
  }

  /** Per-run mint instrumentation, mirroring the reference's only
    * self-reported performance stats (functions/mint_identifiers.sql:40-49
    * raises a notice with count, exec time and retry distribution).
    */
  final case class MintStats(
      requested: Int,
      minted: Int,
      rounds: Int,
      candidatesTried: Long,
      conflictsWithExisting: Long,
      intraBatchRejects: Long,
      execMillis: Long)

  /** M9 — mint n new identifiers for a set (reference
    * functions/mint_identifiers.sql:5-60 loops insert-with-retry under an
    * exclusive table lock; the trigger rejects any candidate within
    * distance < 3 of an existing barcode).
    *
    * Spark shape: generate a candidate batch, drop candidates conflicting
    * with the existing set (slice similarity join), then resolve
    * *intra-batch* conflicts with one distributed anti-join: every
    * conflict edge's higher-seq candidate is rejected (order-free, no
    * driver-side loop). Where the reference's serialized inserts would
    * keep the later member of a conflict CHAIN, this rejects it and the
    * next round re-mints — a bounded amount of extra work on an event
    * that is vanishingly rare among fresh uuids.
    *
    * Candidates derive from UUIDs exactly like the reference
    * (barcode = uuid suffix, barcode-default-from-uuid.sql:7-16). With
    * `seed = Some(s)` candidate uuids are md5-derived from (seed, round,
    * seq) instead of random — bit-for-bit reproducible across engines, so
    * results are oracle-checkable; `None` keeps production `uuid()`.
    *
    * The result stays distributed: an eager localCheckpoint pins the
    * accepted rows on the executors (lineage severed — uuid() candidates
    * must not replay), intermediate caches are dropped before return, and
    * only the MintStats counters ever reach the driver.
    */
  def mint(
      spark: SparkSession,
      existing: DataFrame, // column: code
      n: Int,
      maxDist: Int = 2,
      batchFactor: Int = 2,
      maxRounds: Int = 8,
      seed: Option[Long] = None,
      codeLen: Int = 8): DataFrame =
    mintWithStats(spark, existing, n, maxDist, batchFactor, maxRounds, seed,
      codeLen)._1

  /** `codeLen` generalizes the reference's barcode-is-a-uuid-suffix rule
    * (`check (uuid::citext like '%' || barcode)`,
    * warehouse/identifier.sql:25-44 — length 8 there) to longer
    * suffixes: the escape hatch the similarity-join guard's
    * "lengthen the codes" hint points at. The trigger: RANDOM
    * uuid-suffix minting saturates near 16⁸/6421 ≈ 670k 8-hex codes —
    * each accepted code's radius-2 hamming ball
    * (1 + 8·15 + C(8,2)·15² = 6421 points) rejects later candidates,
    * so past that COVERAGE estimate greedy minting's rejection rate
    * approaches 1 and rounds stall. (It is NOT a cardinality cap on
    * distance-≥3 sets — the Hamming bound is 16⁸/121 ≈ 35.5M, and a
    * designed [8,6,3] Reed–Solomon code over GF(16) packs 16⁶ ≈ 16.7M
    * codewords — but uuid-suffix minting, the reference's contract,
    * cannot reach designed packings.) At 10 hex chars the same
    * saturation estimate is ~7.6e8. codeLen ≤ 12 keeps the suffix
    * inside the uuid's final dash-free segment, preserving the
    * suffix-of-uuid invariant. NOTE: lengths other than 8 intentionally
    * depart from the reference schema's hard length contract
    * (warehouse/identifier.sql has both `check (length(barcode) = 8)`
    * and the length-8 trigger default) and exist only for corpus
    * scales that schema cannot represent; the default stays 8.
    */
  def mintWithStats(
      spark: SparkSession,
      existing: DataFrame,
      n: Int,
      maxDist: Int = 2,
      batchFactor: Int = 2,
      maxRounds: Int = 8,
      seed: Option[Long] = None,
      codeLen: Int = 8): (DataFrame, MintStats) = {
    require(codeLen >= 4 && codeLen <= 12,
      s"codeLen $codeLen must be in [4, 12] (uuid suffix within the " +
        "final segment)")
    val t0 = System.currentTimeMillis()
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df.cache(); df }
    // checkpointed candidate batches are persisted RDD blocks, not
    // cache()s — track their backing RDDs so the cleanup below frees
    // them deterministically instead of waiting on ContextCleaner GC
    val ckptRdds = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[_]]()
    def keepCkpt(df: DataFrame): DataFrame = {
      df.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          ckptRdds += lr.rdd
        case _ =>
      }
      df
    }

    def candidateUuid(round: Int): Column = seed match {
      case Some(s) =>
        // uuid-shaped hex from a deterministic digest: 8-4-4-4-12.
        val h = md5(concat_ws("|", lit("mint"), lit(s), lit(round), col("seq")))
        concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
          substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
      case None => expr("uuid()")
    }

    // The conflict index is the cached POSTING LIST (code, part-key),
    // not the code list (r10): the r9 form re-exploded the whole
    // accepted corpus into part-key postings EVERY round, and the
    // per-round union-of-caches chain compounded — measured at a 1.5M
    // existing corpus (past 8-hex saturation, ~10% yield per round):
    // rounds of 25 s → 44 s → 141 s, 25-min total. Exploding once and
    // appending only each round's ≤`need` new codes' postings keeps
    // every round a flat broadcast-probe scan of the cached postings.
    def postingsOf(codes: DataFrame): DataFrame =
      codes.select(col("code").as("acc_code"),
        explode(partKeys(col("code"), maxDist + 2, maxDist)).as("k"))
    var accPostings = keep(postingsOf(existing.select(col("code"))))
    var out: Option[DataFrame] = None
    var round = 0
    var need = n
    var tried = 0L
    var extConflicts = 0L
    var intraRejects = 0L
    var dryRounds = 0
    // loop-until-dry guard (r10): two consecutive ZERO-yield rounds
    // abort the retry loop — on a space where rejection has reached 1
    // (every radius-maxDist ball is occupied) each further round is a
    // full posting-list probe for nothing; MintStats then reports
    // minted < requested, exactly the reference's exhausted-retries
    // outcome (mint_identifiers.sql raises after its loop runs out).
    while (need > 0 && round < maxRounds && dryRounds < 2) {
      val roundT0 = System.currentTimeMillis()
      // Eager localCheckpoint, not cache: (a) candidates must never
      // replay (uuid() is non-deterministic — same rule as the result
      // checkpoint below), and (b) cache() leaves the LOGICAL lineage in
      // place, and the uuid→code→part-key expression layers compound
      // MULTIPLICATIVELY under projection collapse through the round's
      // self-joins — at a 1.5M mint the analyzed-plan string hit
      // Spark's 2^31-char cap and analysis alone ran for minutes. The
      // checkpoint roots every downstream plan at a LogicalRDD.
      val batch = keepCkpt(spark.range(need.toLong * batchFactor)
        .select(col("id").as("seq"))
        .withColumn("uuid", candidateUuid(round))
        .withColumn("code",
          if (codeLen == 8) barcodeFromUuid(col("uuid"))
          else substring(col("uuid"), 37 - codeLen, codeLen))
        .localCheckpoint(true))
      tried += need.toLong * batchFactor
      // (1) reject vs existing/accepted — pigeonhole-prefiltered
      // anti-join on part-combination keys (r9: the 2-char slice keys'
      // 256-value buckets made THIS join the quadratic wall at a 1.5M
      // mint — part combos carry 16^4 values, same recall)
      val candKeys = batch.select(col("seq"), col("code"),
        explode(partKeys(col("code"), maxDist + 2, maxDist)).as("k"))
      // broadcast the bounded candidate side: the posting list streams
      // out of cache, never shuffles (the batch's LogicalRDD-rooted
      // stats would otherwise block the broadcast choice and plan a
      // sort-merge over the full posting list)
      val conflictsExisting = broadcast(candKeys).join(accPostings, "k")
        .filter(hammingDistanceLte(col("code"), col("acc_code"), lit(maxDist)))
        .select("seq").distinct()
      val clean = batch.join(conflictsExisting, Seq("seq"), "left_anti")
      // (2) intra-batch conflicts, resolved DISTRIBUTIVELY with the
      // order-free conservative rule: a candidate loses when ANY lower-seq
      // candidate conflicts with it (every edge's max side is rejected —
      // one anti-join, no driver-side materialization). This rejects at
      // most one extra candidate vs the reference's sequential greedy when
      // conflicts chain (a<b<c with edges (a,b),(b,c): greedy keeps c);
      // the loop's next round re-mints the difference, and conflict chains
      // among a fresh uuid batch are vanishingly rare. Same rule as the
      // q34 oracle's `intra` CTE.
      val intraRejected = keep(similarityJoinParts(
          clean.select(col("seq").as("id"), col("code")),
          maxDist, parts = maxDist + 2)
        .select(col("id_b").as("seq")).distinct())
      intraRejects += intraRejected.count() // cached: the anti-join below reuses it
      val survivors = clean.join(intraRejected, Seq("seq"), "left_anti")
      // EAGER checkpoint at the round boundary, not cache (r10): take's
      // lineage embeds conflictsExisting → accPostings → the previous
      // round's take — cache() keeps that LOGICAL chain, so round r's
      // plan grew EXPONENTIALLY in r and the driver sank into
      // TreeNode.exists walks before any job ran (measured at sf10:
      // rounds of 25 s → 44 s → 141 s, driver CPU-bound in analysis).
      // The checkpoint roots the round at a LogicalRDD; it also closes
      // the replay hole for unseeded uuid() candidates, which a cache
      // eviction could previously have re-minted differently.
      val take = keepCkpt(survivors.orderBy("seq").limit(need)
        .select(col("uuid"), col("code")).localCheckpoint(true))
      out = Some(out.map(_.unionByName(take)).getOrElse(take))
      val got = take.count().toInt
      extConflicts += need.toLong * batchFactor - got // approx: batch minus accepted
      need -= got
      dryRounds = if (got == 0) dryRounds + 1 else 0
      accPostings = keep(accPostings.unionByName(
        postingsOf(take.select("code"))))
      round += 1
      // run instrumentation to stderr, mirroring the reference's RAISE
      // NOTICE (functions/mint_identifiers.sql:40-49) — per-round yield
      // and wall are how a saturated-space grind is diagnosed
      System.err.println(s"[mint] round=$round got=$got needLeft=$need " +
        s"ms=${System.currentTimeMillis() - roundT0}")
    }
    // Return the result DISTRIBUTED: an eager localCheckpoint materializes
    // the accepted (uuid, code) rows as executor blocks and severs lineage
    // (mandatory — with seed=None the uuid() candidates are
    // non-deterministic, so a lineage replay would re-mint different
    // codes), after which every intermediate cache can be dropped. Only
    // MintStats live on the driver; a 100M-identifier mint never leaves
    // the cluster.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("uuid", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("code", org.apache.spark.sql.types.StringType)))
    val result = out.map(_.localCheckpoint(true)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    cached.foreach(_.unpersist(blocking = false))
    // the result checkpoint no longer depends on any round's batch or
    // take blocks (lineage is severed), so they free immediately
    ckptRdds.foreach(_.unpersist(blocking = false))
    (result, MintStats(n, n - need, round, tried, extConflicts, intraRejects,
      System.currentTimeMillis() - t0))
  }

  /** Label-sheet layout (SURVEY §2 S11, local shape): place each barcode's
    * `copies` labels — plus the cosmetic blank the reference inserts so a
    * sheet's last column stays empty — onto a fixed `across`×`down` grid,
    * emitting one row per physical label with its global sequence index
    * and (page, row, col) position. This is the query-shaped half of the
    * reference's labelmaker (lib/id3c/labelmaker.py:18-135: `label()`,
    * `blanks_before()`, `spec()`); the PDF rendering itself is an external
    * service the SURVEY scopes out.
    *
    * Blank rule, matching the reference's closed forms: one blank before
    * barcode ordinal m (0-based) whenever `m > 0 && m % blankEvery == 0`
    * — `blankEvery = 1` is the triplicate-on-4-wide rule
    * (labelmaker.py:89-97), `blankEvery = 3` the duplicate-on-7-wide rule
    * (labelmaker.py:103-113), `blankEvery = 0` disables blanks (singlet).
    * Cumulative blanks before m are then `floor(m / blankEvery)`, so every
    * label position is closed-form once the ordinal is known:
    * `start(m) = m·copies + m/blankEvery`.
    *
    * Scale shape: the only non-embarrassing step is the dense ordinal.
    * A global `row_number` would funnel the corpus through one task, so
    * the ordinal is an [[OrderedPrefix.sums]] rank over value-range
    * buckets of `orderCol`. The per-barcode explode is `copies + 1`
    * wide at most — no shuffle after the ordinal join.
    *
    * Output: seq, barcode (null on blanks), copy_idx (null on blanks),
    * is_blank, text, page, sheet_row, sheet_col.
    */
  def labelLayout(
      codes: DataFrame, // barcodeCol: string; orderCol: unique numeric
      barcodeCol: String, orderCol: String,
      copies: Int, blankEvery: Int,
      across: Int, down: Int,
      barcodeType: String, referenceText: String): DataFrame = {
    require(copies > 0 && across > 0 && down > 0 && blankEvery >= 0)
    val perPage = across.toLong * down
    val ordinal = OrderedPrefix.sums(
        codes.select(col(barcodeCol).as("_code"), col(orderCol)),
        OrderedPrefix.idBucket(col(orderCol)), Seq(col(orderCol)),
        Seq("_m" -> lit(1L)))
      .withColumn("_blanks",
        if (blankEvery > 0)
          when(col("_m") > 0 && col("_m") % blankEvery === 0, 1).otherwise(0)
        else lit(0))
      .withColumn("_start",
        col("_m") * copies +
          (if (blankEvery > 0) floor(col("_m") / blankEvery) else lit(0L)))
    val seq = col("_start") - col("_blanks") + col("_idx")
    ordinal
      .select(col("_code"), col("_blanks"), col("_start"),
        posexplode(sequence(lit(0), col("_blanks") + copies - 1)))
      .withColumnRenamed("pos", "_idx")
      .select(
        seq.cast("long").as("seq"),
        when(col("_idx") >= col("_blanks"), col("_code")).as("barcode"),
        when(col("_idx") >= col("_blanks"),
          (col("_idx") - col("_blanks")).cast("long")).as("copy_idx"),
        (col("_idx") < col("_blanks")).as("is_blank"),
        when(col("_idx") < col("_blanks"), lit(""))
          .otherwise(concat(lit(barcodeType + " "), col("_code"),
            lit("\n" + referenceText))).as("text"),
        floor(seq / perPage).cast("long").as("page"),
        floor((seq % perPage) / across).cast("long").as("sheet_row"),
        (seq % across).cast("long").as("sheet_col"))
  }
}
