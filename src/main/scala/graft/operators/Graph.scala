package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over edge lists.
  *
  * PageRank joins connected components ([[Dedup.connectedComponents]]) as
  * the engine's second iterative graph operator: where CC labels
  * near-duplicate clusters, PageRank scores crawl/domain graphs for
  * corpus curation — rank-weighted sampling and crawl prioritization are
  * standard steps in assembling a web-scale training corpus.
  */
object Graph {

  /** PageRank by power iteration (Page/Brin/Motwani/Winograd 1999) with a
    * fixed iteration count and uniform dangling-mass redistribution — the
    * batch form that runs the same on 2,500 nodes and 2.5 B.
    *
    * Scale shape:
    *  - Out-degrees are joined into the edge list ONCE, before the loop,
    *    and the weighted edges are checkpointed: every iteration re-reads
    *    one materialized (src, dst, w) frame instead of re-deriving the
    *    degree join k times.
    *  - Each iteration is one equi-join (ranks ⋈ weighted edges on src)
    *    plus one hash aggregation on dst — both shuffle on the node key
    *    with map-side partial aggregation. No windows, no cartesian over
    *    data: the two per-iteration scalars (dangling mass, and the node
    *    count up front) travel as a broadcast 1-row frame / driver long,
    *    never a data-sized driver path.
    *  - An eager `localCheckpoint` per iteration truncates lineage, so the
    *    plan stays O(1) deep for any k (iterative plans otherwise double
    *    per round — same discipline as the CC loop).
    *
    * Dangling nodes (no out-edges) donate their rank uniformly to all
    * nodes each round, the standard correction that keeps total mass at 1.
    *
    * Output: (id, rank), one row per distinct node, sum(rank) ≈ 1.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations $iterations must be >= 1")
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(false)
    val n = nodes.count().toDouble
    if (n == 0) // empty graph: empty (id, rank), not a 1/0 = Inf base rank
      return nodes.withColumn("rank", lit(0.0))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val weighted = e.join(outDeg, "src")
      .select(col("src"), col("dst"),
        (lit(1.0) / col("deg").cast("double")).as("w"))
      .localCheckpoint(false)
    val srcIds = outDeg.select(col("src").as("id")).localCheckpoint(false)

    var ranks = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint(false)
    var i = 0
    while (i < iterations) {
      // LAZY checkpoint: a fixed-iteration loop makes no per-round driver
      // decision (unlike the CC convergence check), so nothing should
      // block — the final action materializes all rounds in one job
      // cascade, and each round's persisted RDD still cuts lineage and is
      // computed once even though two branches (dangling + contrib)
      // consume it. Eager-checkpoint only if k grows far past ~20 and the
      // compiled plan depth starts to hurt.
      ranks = step(nodes, weighted, srcIds, ranks, n, damping)
        .localCheckpoint(false)
      i += 1
    }
    ranks
  }

  /** Triangle enumeration by degree-ordered edge orientation (the
    * arboricity-bounded form: Schank/Wagner 2005, the standard MapReduce
    * adaptation Suri/Vassilvitskii 2011). Each undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger; every triangle
    * then has exactly one node with two out-edges into it, so the
    * candidate set is out-neighbor PAIRS — bounded by the max ORIENTED
    * out-degree, which is O(√m) even on a power-law graph where a raw
    * neighbor self-join on a celebrity node would explode. The pair
    * candidates equi-join back to the oriented edge set; everything
    * shuffles on node/edge keys, no cartesian anywhere.
    *
    * Output: one row per triangle as id-sorted (a, b, c), a < b < c.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // lazy checkpoint: read by the orientation and both degree sides
    val canon = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(false)
    trianglesOf(canon, degrees(canon))
  }

  /** [[triangles]] of a canonical edge frame with its degrees. */
  private def trianglesOf(canon: DataFrame, deg: DataFrame): DataFrame = {
    // orient by (deg, id): src = smaller endpoint under that order
    val oriented = canon
      .join(deg.select(col("id").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("id").as("y"), col("deg").as("dy")), Seq("y"))
      .select(
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          struct(col("x").as("src"), col("y").as("dst"),
            struct(col("dy").as("d"), col("y").as("i")).as("dstKey")))
          .otherwise(struct(col("y").as("src"), col("x").as("dst"),
            struct(col("dx").as("d"), col("x").as("i")).as("dstKey")))
          .as("e"))
      .select(col("e.src"), col("e.dst"), col("e.dstKey"))
      .localCheckpoint(false) // consumed twice: pair build + closure probe
    // out-neighbor pairs (v, w), each unordered pair once via the dstKey
    // order — the same order the (v, w) edge, if present, is oriented in
    val pairs = oriented.as("p")
      .join(oriented.as("q"), col("p.src") === col("q.src") &&
        col("p.dstKey") < col("q.dstKey"))
      .select(col("p.src").as("apex"),
        col("p.dst").as("v"), col("q.dst").as("w"))
    pairs
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .select(array_sort(array(col("apex"), col("v"), col("w"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
  }

  /** Local clustering profile per node — triangle membership count and
    * wedge (open-pair) count, the integer numerator/denominator of the
    * local clustering coefficient. Kept as two exact integers rather than
    * their float ratio: cross-engine comparable, and the aggregation
    * (explode each [[triangles]] row to its 3 members → hash count; deg
    * choose 2 from the degree count) is all map-side-combining groupBys.
    * Nodes in no triangle report n_tri = 0.
    */
  def clusteringProfile(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // lazy checkpoint: read by the orientation and both degree sides
    val canon = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(false)
    val deg = degrees(canon)
    val tri = trianglesOf(canon, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        // deg*(deg-1) >> 1: all-integer (a float `/ 2` would lose
        // exactness past 2^53 at web-scale hub degrees)
        shiftright(col("deg") * (col("deg") - 1), 1).as("n_wedge"))
  }

  /** k-core decomposition by iterative peeling: repeatedly delete nodes
    * of degree < k (with their edges) until the remainder is stable — the
    * standard way to isolate the densely-connected heart of a link graph
    * (or, inverted, to prune link-spam tendrils before ranking).
    *
    * Each round is one degree aggregation (map-side partial) and two
    * anti-joins against the (broadcastable, shrinking) drop set; edges
    * are eagerly checkpointed per round, exactly the CC loop's
    * discipline. Round count is the graph's peeling depth, which is
    * O(log n) for power-law web graphs.
    *
    * Output: (id, deg) of the surviving k-core subgraph — empty when no
    * k-core exists. Throws `IllegalStateException` when the drop set is
    * still non-empty after `maxRounds` rounds: the edge set is then only
    * partly peeled, and its degrees are not the k-core.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    var e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint()
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      // LAZY checkpoint + one count job: the emptiness probe materializes
      // the drop set in the SAME job (r11 — the eager + isEmpty form
      // submitted two jobs per peeling round); the two anti-joins below
      // read the now-cached partitions
      val drop = degrees(e).filter(col("deg") < k).select(col("id"))
        .localCheckpoint(false)
      if (drop.agg(count(lit(1))).head().getLong(0) == 0L) stable = true
      else e = e
        .join(drop.select(col("id").as("x")), Seq("x"), "left_anti")
        .join(drop.select(col("id").as("y")), Seq("y"), "left_anti")
        .select(col("x"), col("y"))
        .localCheckpoint()
      round += 1
    }
    if (!stable) throw new IllegalStateException(
      s"kCore did not converge in $maxRounds rounds — raise maxRounds")
    degrees(e)
  }

  /** The undirected simple-edge frame (x, y), x < y: null endpoints and
    * self-loops dropped, each edge once. Every caller reads it several
    * times, so each checkpoints it: without that the input edge plan
    * runs once per read. */
  private def canonicalEdges(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct()

  /** (id, deg) of a canonical edge frame. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("x").as("id"))
      .unionByName(e.select(col("y").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** k-hop reachability by frontier BFS — the crawl-depth / link-distance
    * labeling a corpus-curation pipeline uses to bound expansion from a
    * seed set (trusted domains, verified pages): every node reachable in
    * at most `k` undirected hops from a seed, labeled with its MINIMUM
    * hop distance.
    *
    * Scale shape: the classic frontier algorithm, one round per hop —
    * each round is ONE equi-join (frontier ⋈ edges on the source key,
    * shuffle-partitioned on the node id) + a min-aggregate + an anti-join
    * against the visited set; work per round is proportional to the
    * frontier's out-edge count, never the whole graph. Frontier and
    * visited frames are eagerly checkpointed per round (the CC/kCore
    * loop discipline) so the plan stays O(1) deep for any k. No windows,
    * no driver-side collection — the loop's only driver value is the
    * emptiness probe that stops early when the frontier dies.
    *
    * Output: (id, hops), one row per reachable node (seeds at hops = 0).
    */
  def kHopReachability(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, k: Int): DataFrame = {
    require(k >= 0, s"k $k must be >= 0")
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(false)
    var visited = seeds.select(col(seedCol).as("id")).distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint()
    var frontier = visited
    var hop = 1
    while (hop <= k && !frontier.isEmpty) {
      val next = sym
        .join(frontier.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("hops", lit(hop.toLong))
        .localCheckpoint() // consumed by the union AND the next probe
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next
      hop += 1
    }
    visited
  }

  /** Deterministic random-walk corpus generation — DeepWalk (Perozzi et
    * al. 2014, arXiv:1403.6652; node2vec's uniform case): one
    * `steps`-hop walk per seed node, emitted as (walk_id, step, node)
    * rows — the graph-to-sequence step that turns a link graph into
    * skip-gram training data. The "random" next hop from a walk at step
    * t is the out-neighbor minimizing the 60-bit md5 hash of
    * (walk, t, neighbor, salt): uniform-ish, engine-portable, and
    * REPRODUCIBLE — rerunning the build yields byte-identical walks, the
    * same determinism-over-rand discipline as [[Sampling]]'s hash gates
    * (`orderBy(rand())` walks would differ per retry and per engine).
    *
    * Scale shape per step: ONE equi-join (current walk positions ⋈ edges
    * on the node key) + one map-side-combined min-struct argmin per walk
    * — never a window, never a hot-node funnel (the argmin groups by
    * walk, and walks are uniformly spread by construction). Eager
    * checkpoint per step keeps the plan O(1) deep. Walks at a node with
    * no out-edge simply end (the emitted prefix stays).
    */
  def randomWalks(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, steps: Int,
      salt: String = "graft"): DataFrame = {
    require(steps >= 0, s"steps $steps must be >= 0")
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(false)
    var cur = seeds.select(col(seedCol).as("walk")).distinct()
      .select(col("walk"), col("walk").as("node"), lit(0L).as("step"))
      .localCheckpoint()
    var out = cur
    var t = 1
    while (t <= steps && !cur.isEmpty) { // all walks dangling → stop early
      val cand = e
        .join(cur.select(col("node").as("src"), col("walk")), Seq("src"))
        .select(col("walk"), col("dst"),
          Dedup.hash60Base(concat_ws("|",
            col("walk"), lit(t), col("dst"), lit(salt))).as("h"))
      cur = cand.groupBy("walk")
        .agg(min(struct(col("h"), col("dst"))).as("_m"))
        .select(col("walk"), col("_m.dst").as("node"),
          lit(t.toLong).as("step"))
        .localCheckpoint() // consumed by the union, the probe AND the join
      out = out.unionByName(cur)
      t += 1
    }
    out.select(col("walk").as("walk_id"), col("step"), col("node"))
  }

  /** One power-iteration round, lazily (the plan PlanAuditSpec pins):
    * ranks ⋈ weighted edges on src + hash agg on dst — both partial-agg
    * map-side; the dangling mass rides a broadcast 1-row cross join, so
    * the loop never collects to the driver.
    */
  private[graft] def step(
      nodes: DataFrame,
      weighted: DataFrame,
      srcIds: DataFrame,
      ranks: DataFrame,
      n: Double,
      damping: Double): DataFrame = {
    val dangling = ranks.join(srcIds, Seq("id"), "left_anti")
      .agg(coalesce(sum(col("rank")), lit(0.0)).as("dang"))
    val contrib = weighted
      .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("rank") * col("w")).as("c"))
    nodes
      .join(contrib, Seq("id"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("id"),
        (lit((1.0 - damping) / n) +
          lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dang") / lit(n)))
          .as("rank"))
  }
}

