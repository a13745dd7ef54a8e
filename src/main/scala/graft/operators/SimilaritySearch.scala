package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *   - [[bruteForceTopK]]: exact cosine top-k, queries broadcast against
  *     the corpus — correct baseline, O(|corpus|·|queries|) but a single
  *     scan of the corpus with zero shuffle of the big side. Right answer
  *     when |queries| is small, even at 100 TB of corpus.
  *   - [[lshTopK]]: sign-bit LSH (random hyperplanes) bucket join +
  *     rerank — the scale path when both sides are large. Hyperplanes are
  *     derived from md5 so signatures are deterministic and reproducible.
  *
  * All arithmetic is double-precision column math (`zip_with` +
  * `aggregate`), fully inside codegen; no UDFs.
  */
object SimilaritySearch {

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** THE shared nearest-centroid assignment kernel — one implementation
    * behind [[ivfTopK]]'s corpus assignment, [[mutualKnnGraph]]/
    * [[labelNoiseFlags]]'s probed self-join ([[probedSelfScored]]) and
    * [[Embeddings.kmeansAssignQuantized]]'s Lloyd step (the √N-cells
    * lesson was learned three times before this landed in one place).
    *
    * Shape: broadcast the tiny centroid table against the corpus (the
    * cross join preserves corpus partitioning, so each id's candidate
    * rows stay local) and take a MAP-SIDE-COMPLETE argbest per row — no
    * window, no extra shuffle, N·k score evaluations. `score` is any
    * expression over one corpus row's columns and one centroid row's
    * columns (float cosine via the FloatDot kernel, or the exact-integer
    * n²(x·x) − 2n(x·s) + (s·s) distance form — callers keep their
    * oracle-pinned arithmetic verbatim). Ties break to the LOWest cell
    * id in both directions, via each caller's historical aggregate form
    * (`max_by` over (score, −cell) / `min` over (score, cell)) so
    * results stay bit-identical.
    *
    * @param carry corpus columns to keep on the assigned row (via
    *              first(), constant per id)
    * @param joinOn when non-empty, candidate centroids come from an
    *               equi-join on these keys instead of the broadcast
    *               cross join — the two-level (IMI-style) form, where
    *               the centroid table is cells-sized (too big to
    *               broadcast at constant occupancy) but each row only
    *               meets its own partition's centroids
    */
  private[graft] def assignNearest(
      rows: DataFrame, cents: DataFrame, idCol: String, cellCol: String,
      score: Column, minimize: Boolean, carry: Seq[String],
      joinOn: Seq[String] = Nil): DataFrame = {
    val scored = (if (joinOn.isEmpty) rows.crossJoin(broadcast(cents))
      else rows.join(cents, joinOn))
      .withColumn("_score", score)
    val carryAggs = carry.map(c => first(col(c)).as(c))
    if (minimize) {
      val aggs = carryAggs :+
        min(struct(col("_score"), col(cellCol))).as("_m")
      scored.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
        .select(col(idCol) +: carry.map(col) :+
          col(s"_m.$cellCol").as(cellCol): _*)
    } else {
      val aggs = carryAggs :+
        max_by(col(cellCol), struct(col("_score"), -col(cellCol)))
          .as(cellCol)
      scored.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Deterministic ±1 hyperplane component for (plane p, dim i) —
    * computed ON THE DRIVER. The hyperplanes are row-independent
    * constants; an earlier formulation derived them with in-plan md5
    * expressions, which re-hashed planes×dims times PER ROW (a
    * scale-killer hidden inside an interpreted lambda). The parity rule
    * (low bit of the first 15 md5 hex chars of "plane<p>|<i>") is
    * identical, so signatures are unchanged and remain reproducible
    * across engines.
    */
  private[graft] def planeComponent(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p|$i".getBytes("UTF-8"))
    val hex15 = d.take(8).map(b => f"$b%02x").mkString.take(15)
    if ((java.lang.Long.parseLong(hex15, 16) & 1L) == 1L) 1.0 else -1.0
  }

  /** Sign-bit signature over `planes` random ±1 hyperplanes: bit p is set
    * iff `v · h_p > 0`. Cosine-similar vectors agree on most bits, so
    * equal signatures are high-recall candidates for high thresholds.
    * `dims` fixes the hyperplane width (embedding column width);
    * components beyond a shorter vector contribute nothing.
    */
  def hyperplaneSignature(vec: Column, planes: Int, dims: Int = 64): Column = {
    val bits = (0 until planes).map { p =>
      val plane = (0 until dims).map(i => planeComponent(p, i)).toArray
      val proj = aggregate(
        zip_with(vec, lit(plane), (x, hp) => coalesce(x.cast("double") * hp, lit(0.0))),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Exact top-k by cosine for each query vector. `queries` must be small
    * (it is broadcast); the corpus side is never shuffled — the join is a
    * broadcast nested loop and the only wide operation is the per-query
    * top-k window, partitioned by query id.
    */
  def bruteForceTopK(
      corpus: DataFrame, // id, vec
      queries: DataFrame, // qid, qvec
      k: Int): DataFrame = {
    // norms once per ROW; the |corpus|×|queries| pair loop runs only the
    // codegen FloatDot — the interpreted aggregate/zip_with fold here is
    // the classic hot-loop trap (same strict summation, bit-identical)
    val c = corpus.select(col("id"), col("vec"),
      sqrt(graft.functions.floatDot(col("vec"), col("vec"))).as("_n"))
    val q = queries.select(col("qid"), col("qvec"),
      sqrt(graft.functions.floatDot(col("qvec"), col("qvec"))).as("_qn"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine",
        graft.functions.floatDot(col("vec"), col("qvec")) /
          (col("_n") * col("_qn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into `numCells`
    * cells by nearest centroid; a query probes only its `nprobe` nearest
    * cells and reranks exactly within them — the classic coarse-quantizer
    * index expressed relationally.
    *
    * Centroids are chosen deterministically (the `numCells` smallest-id
    * corpus vectors) so results are reproducible and oracle-checkable;
    * production would swap in k-means centroids — the plan shape is
    * identical, any small centroid table broadcast-joins the same way.
    *
    * Scale: cell assignment is one broadcast pass over the corpus (at
    * 100 TB it is computed once at ingest and stored, bucketed by
    * `cell_id`). The probe side is an equi-join on `cell_id`, so each
    * query touches ~`nprobe`/`numCells` of the corpus instead of all of
    * it, and with the assignment table bucketed the probe join never
    * shuffles the corpus. Norms are materialized once per row in their
    * own projection so the fold arithmetic runs once, not once per
    * candidate pair. Tune `numCells` ≈ √N and `nprobe` for recall.
    */
  def ivfTopK(
      corpus: DataFrame, // id, vec
      queries: DataFrame, // qid, qvec
      k: Int, numCells: Int = 32, nprobe: Int = 4): DataFrame = {
    // all vectors here are corpus float embeddings, so every dot in the
    // N×cells assignment and the candidate stage runs as the codegen
    // FloatDot kernel (identical strict summation as the HOF fold)
    val fdot = (a: Column, b: Column) => graft.functions.floatDot(a, b)
    val cents = corpus.orderBy("id").limit(numCells)
      .select(col("id").as("cell_id"), col("vec").as("cvec"),
        sqrt(fdot(col("vec"), col("vec"))).as("cnorm"))
    // nearest centroid per corpus vector: the shared broadcast-scan
    // argmax kernel (see assignNearest)
    val assigned = assignNearest(
      corpus.select(col("id"), col("vec"),
        sqrt(fdot(col("vec"), col("vec"))).as("vnorm")),
      cents, "id", "cell_id",
      fdot(col("vec"), col("cvec")) / (col("vnorm") * col("cnorm")),
      minimize = false, carry = Seq("vec", "vnorm"))
    val probes = queries
      .select(col("qid"), col("qvec"), sqrt(fdot(col("qvec"), col("qvec"))).as("qnorm"))
      .crossJoin(broadcast(cents))
      .withColumn("_cos", fdot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("_pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("_cos").desc, col("cell_id"))))
      .filter(col("_pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("qnorm"), col("cell_id"))
    val scored = assigned.join(broadcast(probes), Seq("cell_id"))
      .withColumn("cosine",
        fdot(col("vec"), col("qvec")) / (col("vnorm") * col("qnorm")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** IVF probe over a TRAINED index: the corpus arrives already assigned
    * to cells (e.g. by [[Embeddings.kmeansAssignQuantized]] at ingest) and
    * the centroid table comes from training (e.g. [[Embeddings.meanPool]]
    * over the assignment) — the production IVF shape, where assignment is
    * a stored, bucketed column and queries only ever pay the probe join.
    * Plan identical to [[ivfTopK]]'s probe half: tiny centroid table
    * broadcast twice (probe selection, none on the corpus side), corpus
    * touched only in the probed cells.
    */
  def ivfTopKAssigned(
      assigned: DataFrame, // id, vec, cell_id
      cents: DataFrame, // cell_id, cvec
      queries: DataFrame, // qid, qvec
      k: Int, nprobe: Int = 4): DataFrame = {
    // trained centroids may be double arrays (mean vectors), so the
    // |queries|×cells probe dots stay on the generic HOF fold; the
    // candidate-stage dot is float-vs-float and runs as codegen FloatDot
    val c = cents.select(col("cell_id"), col("cvec"),
      norm(col("cvec")).as("cnorm"))
    val probes = queries
      .select(col("qid"), col("qvec"),
        sqrt(graft.functions.floatDot(col("qvec"), col("qvec"))).as("qnorm"))
      .crossJoin(broadcast(c))
      .withColumn("_cos", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("_pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("_cos").desc, col("cell_id"))))
      .filter(col("_pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("qnorm"), col("cell_id"))
    val scored = assigned
      .select(col("id"), col("vec"),
        sqrt(graft.functions.floatDot(col("vec"), col("vec"))).as("vnorm"),
        col("cell_id"))
      .join(broadcast(probes), Seq("cell_id"))
      .withColumn("cosine",
        graft.functions.floatDot(col("vec"), col("qvec")) /
          (col("vnorm") * col("qnorm")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** LSH-bucketed ANN, banded OR-construction (multi-probe): corpus and
    * query signatures over `numBands * bandBits` hyperplanes are split
    * into bands; a corpus vector is a candidate for a query when ANY band
    * agrees (equi-join on (band, bucket) — bounded fan-out), then exact
    * cosine reranks and takes top-k per query.
    *
    * Recall: per-plane agreement p = 1 − θ/π ⇒ candidate probability
    * 1 − (1 − p^bandBits)^numBands. Raise numBands for recall; raise
    * bandBits with corpus size (≈ log2(N / target bucket size)) so
    * buckets stay selective — the round-1 fixed 2^8 bucket count grew
    * quadratic within buckets at 100× scale.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      numBands: Int = 2, bandBits: Int = 8): DataFrame = {
    val planes = numBands * bandBits
    def banded(df: DataFrame, idc: String, vc: String, nc: String) =
      // signature + norm materialized in their own project so the
      // interpreted HOF arithmetic runs once per row, not once per band
      // (CollapseProject keeps multi-use non-cheap aliases in place);
      // the per-CANDIDATE cosine below is then pure codegen FloatDot
      df.select(col(idc), col(vc),
          sqrt(graft.functions.floatDot(col(vc), col(vc))).as(nc),
          hyperplaneSignature(col(vc), planes).as("_sig"))
        .select(col(idc), col(vc), col(nc),
          posexplode(array((0 until numBands).map { b =>
            shiftright(col("_sig"), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1))
          }: _*)).as(Seq("band", "bucket")))
    val scored = banded(corpus, "id", "vec", "_n")
      .join(banded(queries, "qid", "qvec", "_qn"), Seq("band", "bucket"))
      .dropDuplicates("qid", "id") // a pair can agree in several bands
      .withColumn("cosine",
        graft.functions.floatDot(col("vec"), col("qvec")) /
          (col("_n") * col("_qn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Two-stage quantized ANN — the compression→search loop a production
    * vector index runs: coarse-rank every (query, doc) by the INTEGER dot
    * product of their [[Embeddings.quantizeInt8Codes]] codes (exact
    * int64 math — order-independent, engine-identical, 4× less memory
    * traffic than float vectors), keep `coarseK` candidates per query,
    * then rerank exactly by float cosine on the true vectors and take
    * top-`k`. Recall loss is bounded by how well max-abs int8 preserves
    * dot-product order — the standard SQ8 trade.
    *
    * Scale shape: queries broadcast (both stages), corpus never
    * shuffles; the rerank join pulls full vectors for only coarseK·|Q|
    * rows. Ties break by id at BOTH cut boundaries, so the candidate set
    * and final ranking are deterministic.
    */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      k: Int, coarseK: Int): DataFrame = {
    val cq = Embeddings.quantizeInt8Codes(corpus, "id", "vec")
    val qq = Embeddings.quantizeInt8Codes(queries, "qid", "qvec")
    // codegen'd primitive loop — a zip_with/aggregate HOF here would run
    // interpreted inside the |corpus|×|queries| coarse stage
    val dot = graft.functions.int8Dot(col("codes"), col("qcodes"))
    val w1 = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("id"))
    val cands = cq
      .crossJoin(broadcast(qq.select(col("qid"), col("codes").as("qcodes"))))
      .withColumn("dot_q", dot)
      .withColumn("_cr", row_number().over(w1))
      .filter(col("_cr") <= coarseK)
      .select("qid", "id")
    val w2 = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    val cn = corpus.select(col("id"), col("vec"),
      sqrt(graft.functions.floatDot(col("vec"), col("vec"))).as("_n"))
    val qn = queries.select(col("qid"), col("qvec"),
      sqrt(graft.functions.floatDot(col("qvec"), col("qvec"))).as("_qn"))
    cands.join(cn, Seq("id")).join(broadcast(qn), Seq("qid"))
      .withColumn("cosine",
        graft.functions.floatDot(col("vec"), col("qvec")) /
          (col("_n") * col("_qn")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Reciprocal-rank fusion — combine several ranked retrieval lists
    * (e.g. a lexical top-k and a vector top-k, or the brute-force and
    * LSH ANN paths) into one ranking:
    * `rrf(d) = Σ_lists floor(10^6 / (c + rank_list(d)))`, the standard
    * RRF with the 10^6 scale making the score integer-exact across
    * engines (float 1/(c+r) sums would be accumulation-order-dependent).
    * Documents missing from a list simply contribute nothing — exactly
    * RRF's semantics, no outer-join gymnastics.
    *
    * Scale shape: a unionAll of (qid, id, contribution) projections, one
    * map-side-combined sum per (qid, id), and a per-QUERY top-k window —
    * partitioned by qid, so fan-in is bounded by k·lists per query and
    * no hot key exists. Input lists need columns (qid, id, rank).
    *
    * Output: qid, id, rrf, rank (1..k by rrf desc, id asc).
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty && k > 0 && c >= 0)
    val contribs = lists.map(_.select(col("qid"), col("id"),
      expr(s"CAST(1000000 AS BIGINT) div (CAST(rank AS BIGINT) + $c)")
        .as("_c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("qid", "id").agg(sum(col("_c")).as("rrf"))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Symmetrize a directed top-k frame (qid, id, cosine, rank) into the
    * mutual edge list: keep (a, b) iff both directions are present. A
    * self-equi-join on the directed edge key — the same plan whatever
    * candidate generator produced `top`.
    *
    * Output: id_a < id_b, cosine (rounded 6), rank_ab, rank_ba.
    */
  def mutualize(top: DataFrame): DataFrame = {
    val fwd = top.select(col("qid").as("id_a"), col("id").as("id_b"),
      round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank_ab"))
    val rev = top.select(col("id").as("id_a"), col("qid").as("id_b"),
      col("rank").cast("long").as("rank_ba"))
    fwd.join(rev, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
  }

  /** Mutual-kNN graph over the corpus: an edge (a, b) exists iff b is in
    * a's top-k cosine neighbors AND a is in b's — the symmetric sparse
    * similarity graph semantic-dedup clusterers and graph-based
    * label-propagation pipelines build first (one-directional kNN keeps
    * hub nodes that attract thousands of asymmetric edges; the mutual
    * filter removes them).
    *
    * The DEFAULT neighbor search is IVF-probed (nearest-centroid cells,
    * each vector queries its `nprobe` closest cells): candidate pairs
    * are generated by a plain equi-join on `cell_id` — deliberately NOT
    * a broadcast, since for the self-join case both sides are
    * corpus-sized — so the pair count is N·nprobe·(N/numCells) instead
    * of N², and nothing is ever broadcast except the tiny centroid
    * table. `numCells = 0` (the default) sizes the index as
    * max(32, √N) — the IVF convention — so the within-cell quadratic
    * term stays ~constant as the corpus grows (one count() job to learn
    * N; at ingest time a real deployment knows it already). `exact =
    * true` opts into the quadratic broadcast form (bounded inputs /
    * recall ground truth only).
    *
    * AUTO-ROUTING (round 8): with every index knob left at default,
    * the flat √N-cell IVF — whose assignment alone is O(N^1.5) score
    * evaluations — is used only up to `autoThreshold` rows; past it
    * the constant-occupancy two-level form takes over at occupancy 8
    * (q278's gate configuration; measured at the 100× run: 31.1 s
    * two-level vs 110.2 s flat on the same 200k-vector corpus, recall
    * floor 0.95 spec-pinned). Explicit `numCells`/`targetOccupancy`
    * (or an `autoThreshold` override — q161 pins the flat form that
    * way, because its oracle mirrors the flat probe) pin a form.
    *
    * Output: id_a < id_b, cosine (rounded 6), rank_ab, rank_ba.
    */
  def mutualKnnGraph(corpus: DataFrame, k: Int, exact: Boolean = false,
      numCells: Int = 0, nprobe: Int = 4,
      targetOccupancy: Int = 0, nprobeSuper: Int = 4,
      autoThreshold: Long = 100000L): DataFrame = {
    // norms once per row OUTSIDE the pair loop; the pair-loop dot is the
    // codegen FloatDot expression — the interpreted HOF fold here ran
    // the 4M-pair sf0.1 scoring in 76s, this form in ~2s, with
    // bit-identical doubles (same left-to-right summation)
    val withNorm = corpus.select(col("id"), col("vec"),
      sqrt(graft.functions.floatDot(col("vec"), col("vec"))).as("_n"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    val scored =
      if (exact) {
        val q = withNorm.select(col("id").as("qid"), col("vec").as("qvec"),
          col("_n").as("_qn"))
        withNorm.crossJoin(broadcast(q))
          .filter(col("id") =!= col("qid"))
          .withColumn("cosine",
            graft.functions.floatDot(col("vec"), col("qvec")) /
              (col("_n") * col("_qn")))
          // only (qid, id, cosine) reaches the rank — the 2x64-float
          // payload arrays stay out of the window exchange
          .select(col("qid"), col("id"), col("cosine"))
      } else if (targetOccupancy > 0)
        twoLevelSelfScored(withNorm, targetOccupancy, nprobeSuper, nprobe)
      else if (numCells > 0) probedSelfScored(withNorm, numCells, nprobe)
      else {
        // one checkpoint+count decides the route AND feeds the chosen
        // plan — the sizing job is never paid twice
        val ck = withNorm.localCheckpoint(false)
        val n = ck.count()
        if (n > autoThreshold)
          twoLevelSelfScored(ck, 8, nprobeSuper, nprobe, knownN = n)
        else probedSelfScored(ck,
          math.max(32, math.sqrt(n.toDouble).toInt), nprobe)
      }
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("cosine"), col("rank"))
    mutualize(top)
  }

  /** IVF-probed self-join candidate scoring shared by [[mutualKnnGraph]]
    * and [[labelNoiseFlags]]: deterministic first-`cells` centroids,
    * broadcast assignment + probe argmax, then a SHUFFLE equi-join on
    * cell_id (the probe table is corpus-sized — never broadcast).
    * Input must carry (id, vec, _n = norm); output (qid, id, cosine)
    * over candidate pairs, self excluded.
    */
  private def probedSelfScored(
      withNorm: DataFrame, numCells: Int, nprobe: Int): DataFrame = {
    val cells =
      if (numCells > 0) numCells
      else math.max(32, math.sqrt(withNorm.count().toDouble).toInt)
    val cents = withNorm.orderBy("id").limit(cells)
      .select(col("id").as("cell_id"), col("vec").as("cvec"),
        col("_n").as("cnorm"))
    def cellCos(v: Column, n: Column) =
      graft.functions.floatDot(v, col("cvec")) / (n * col("cnorm"))
    // nearest centroid per vector: the shared broadcast-scan argmax
    // kernel (same call as ivfTopK's assignment)
    val assigned = assignNearest(withNorm, cents, "id", "cell_id",
      cellCos(col("vec"), col("_n")),
      minimize = false, carry = Seq("vec", "_n"))
    val probes = withNorm
      .select(col("id").as("qid"), col("vec").as("qvec"),
        col("_n").as("_qn"))
      .crossJoin(broadcast(cents))
      .withColumn("_cos", cellCos(col("qvec"), col("_qn")))
      .withColumn("_pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("_cos").desc, col("cell_id"))))
      .filter(col("_pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("_qn"), col("cell_id"))
    assigned.join(probes, Seq("cell_id")) // shuffle equi-join, no broadcast
      .filter(col("id") =!= col("qid"))
      .withColumn("cosine",
        graft.functions.floatDot(col("vec"), col("qvec")) /
          (col("_n") * col("_qn")))
      .select(col("qid"), col("id"), col("cosine"))
  }

  /** Two-level (IMI-style) recall-traded candidate scoring — the
    * TRUE-100-TB mutual-kNN path (`mutualKnnGraph(targetOccupancy=...)`).
    * The flat √N-cell IVF of [[probedSelfScored]] is O(N^1.5): its
    * assignment scans N·√N centroid pairs and each probe touches
    * √N-sized cells. Holding cell OCCUPANCY constant instead
    * (cells = N / targetOccupancy) makes the probe join linear —
    * N·nprobe·occupancy candidate rows — but a flat centroid table that
    * size can neither broadcast nor be scanned per row, so the coarse
    * quantizer goes hierarchical, exactly the FAISS IMI convention
    * (public literature: Babenko & Lempitsky, inverted multi-index):
    *
    *   - level 1: k1 ≈ √cells super-centroids, broadcast argmax
    *     (N·√cells scores);
    *   - level 2: k2 ≈ √cells sub-centroids PER super cell (the k2
    *     smallest ids in it), assigned via an equi-join on the super
    *     key (N·√cells scores again — never N·cells);
    *   - probes walk the same two levels (nprobeSuper supers, then
    *     nprobe cells among their sub-centroids), so probe selection is
    *     N·(√cells + nprobeSuper·√cells) scores.
    *
    * Total cost 3·N·√(N/occ) assignment + O(N·nprobe·occ) candidates —
    * the √occ-discounted N^1.5 every IMI deployment pays, with the
    * probe side (the flat form's killer) now linear. Recall is the
    * traded quantity: the candidate set is SYMMETRIZED (each directed
    * find also serves the reverse direction), so a pair is lost only
    * if neither doc probes into the cell holding the other — measured
    * 0.963 on the pinned spec corpus (0.812 pre-symmetrization at the
    * same probe budget), floor 0.95 pinned against the exact graph so
    * the trade is audited, not assumed (the q238 harness shape).
    */
  private def twoLevelSelfScored(
      withNormIn: DataFrame, targetOccupancy: Int, nprobeSuper: Int,
      nprobe: Int, knownN: Long = -1L): DataFrame = {
    // consumed four times (count, cents1, assignment, probes1) on the
    // path built for the largest corpora — checkpoint once; the count()
    // below is the action that materializes it (ADVICE r7). A caller
    // that already checkpointed+counted (the auto route) passes knownN.
    val withNorm = if (knownN >= 0) withNormIn
      else withNormIn.localCheckpoint(false)
    val n = if (knownN >= 0) knownN else withNorm.count()
    val cells = math.max(32L, n / math.max(1, targetOccupancy))
    val k1 = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(cells.toDouble / k1).toInt)
    def sc(v: Column, nn: Column) =
      graft.functions.floatDot(v, col("cvec")) / (nn * col("cnorm"))
    val cents1 = withNorm.orderBy("id").limit(k1)
      .select(col("id").as("super"), col("vec").as("cvec"),
        col("_n").as("cnorm"))
    val a1 = assignNearest(withNorm, cents1, "id", "super",
      sc(col("vec"), col("_n")), minimize = false, carry = Seq("vec", "_n"))
    // level-2 centroids: the k2 smallest ids within each super cell,
    // cell_id = that doc's own (globally unique) id. Consumed by both
    // the assignment and the probe side → one lazy checkpoint.
    val cents2 = a1.withColumn("_rk", row_number().over(
        Window.partitionBy("super").orderBy("id")))
      .filter(col("_rk") <= k2)
      .select(col("super"), col("id").as("cell_id"),
        col("vec").as("cvec"), col("_n").as("cnorm"))
      .localCheckpoint(false)
    val a2 = assignNearest(a1, cents2, "id", "cell_id",
      sc(col("vec"), col("_n")), minimize = false,
      carry = Seq("vec", "_n"), joinOn = Seq("super"))
    val probes1 = withNorm
      .select(col("id").as("qid"), col("vec").as("qvec"),
        col("_n").as("_qn"))
      .crossJoin(broadcast(cents1))
      .withColumn("_cos", sc(col("qvec"), col("_qn")))
      .withColumn("_pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("_cos").desc, col("super"))))
      .filter(col("_pr") <= nprobeSuper)
      .select(col("qid"), col("qvec"), col("_qn"), col("super"))
    val probes2 = probes1.join(cents2, Seq("super"))
      .withColumn("_cos", sc(col("qvec"), col("_qn")))
      .withColumn("_pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("_cos").desc, col("cell_id"))))
      .filter(col("_pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("_qn"), col("cell_id"))
    val raw = a2.join(probes2, Seq("cell_id")) // shuffle equi-join, no broadcast
      .filter(col("id") =!= col("qid"))
      .withColumn("cosine",
        graft.functions.floatDot(col("vec"), col("qvec")) /
          (col("_n") * col("_qn")))
      .select(col("qid"), col("id"), col("cosine"))
    // symmetrize: a directed candidate (q found x) also serves as
    // (x found q) — a pair is then LOST only if neither side probes
    // into the cell holding the other, squaring down the per-pair miss
    // probability (measured: recall 0.812 → 0.963 on the pinned spec
    // corpus at identical probe budgets). cosine is bit-symmetric
    // (FloatDot accumulates in index order; double mul commutes), so
    // max() over the ≤2 copies is exact dedup, one linear shuffle.
    raw.union(raw.select(col("id").as("qid"), col("qid").as("id"),
        col("cosine")))
      .groupBy("qid", "id").agg(max("cosine").as("cosine"))
  }

  /** Label-noise detection (confident-learning-lite): flag rows whose
    * label disagrees with the majority label of their k nearest
    * neighbors — the curation pass that surfaces mislabeled training
    * examples before they poison a classifier. Neighbors come from the
    * same IVF-probed candidate generation as [[mutualKnnGraph]]
    * (bucketed — never an all-pairs scan; recall is the documented IVF
    * trade, measured by q194/q238's recall harness), majority is
    * deterministic (count desc, label asc on ties).
    *
    * Corpus columns: (id, vec, label). Output: (vec_id, label,
    * majority_label, n_neighbors, n_agree, flagged).
    */
  def labelNoiseFlags(
      corpus: DataFrame, k: Int, numCells: Int = 0,
      nprobe: Int = 4): DataFrame = {
    val withNorm = corpus.select(col("id"), col("vec"),
      sqrt(graft.functions.floatDot(col("vec"), col("vec"))).as("_n"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    val top = probedSelfScored(withNorm, numCells, nprobe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"))
    val labels = corpus.select(col("id"), col("label"))
    val nb = top
      .join(labels.select(col("id"), col("label").as("_nl")), Seq("id"))
    val votes = nb.groupBy(col("qid"), col("_nl"))
      .agg(count(lit(1)).as("_c"))
    val maj = votes
      .withColumn("_mr", row_number().over(
        Window.partitionBy("qid").orderBy(col("_c").desc, col("_nl"))))
      .filter(col("_mr") === 1)
      .select(col("qid"), col("_nl").as("majority_label"))
    val agg = nb.groupBy("qid")
      .agg(count(lit(1)).as("n_neighbors"))
      .join(maj, Seq("qid"))
    labels
      .join(agg, col("id") === col("qid"))
      .join(votes.select(col("qid").as("_vq"), col("_nl"), col("_c")),
        col("qid") === col("_vq") && col("label") === col("_nl"), "left")
      .select(col("id").as("vec_id"), col("label"), col("majority_label"),
        col("n_neighbors"), coalesce(col("_c"), lit(0L)).as("n_agree"),
        (col("majority_label") =!= col("label")).as("flagged"))
  }
}
