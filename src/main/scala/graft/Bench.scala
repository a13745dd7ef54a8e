package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are forced through the `noop` sink — a bare `count()` would let
  * Catalyst prune projections (hashes, arrays, window columns) and measure
  * only the scan. A JIT warm-up pass at the target SF runs first so codegen
  * and classloading don't get billed to the first query.
  *
  * A query that throws in any run is failed: it gets no time, no share of
  * the total, and is not run again; its name goes in the `failed` list.
  */
object Bench {
  type QueryFn = (SparkSession, String) => DataFrame

  /** What one bench run measured.
    *
    * @param times  per-query min seconds, of the queries that never threw
    * @param failed the queries that threw, in the order they first did
    * @param raw    every run's seconds, as a JSON object: per pass, then
    *               the outlier retries
    */
  case class Result(times: Seq[(String, Double)], failed: Seq[String],
      raw: String) {
    def total: Double = times.map(_._2).sum
  }

  def main(args: Array[String]): Unit = {
    // --sf1 [outPath]: the one-command scale-regression artifact —
    // synthesize dev/sf1 (10×) when absent or from an older ScaleUp
    // perturbation scheme, run the full gate there, and write the full
    // artifact (per-pass raws included) to outPath (default
    // BENCH_sf1_r07.json) INSTEAD of bench_times.json, whose committed
    // retry floor belongs to sf0.1.
    val sf1Mode = args.headOption.contains("--sf1")
    val sf1Out = if (sf1Mode && args.length > 1) args(1)
      else "BENCH_sf1_r07.json"
    if (sf1Mode) {
      val marker = java.nio.file.Paths.get("dev/sf1/_scaleup.json")
      // freshness = scheme version AND the exact synthesis parameters —
      // a dev/sf1 hand-built at another factor/src must not masquerade
      // as the 10x artifact baseline
      val fresh = java.nio.file.Files.exists(marker) && {
        val m = new String(
          java.nio.file.Files.readAllBytes(marker), "UTF-8")
        m.contains("\"version\":2") && m.contains("\"factor\":10,") &&
          m.contains("\"src\":\"/root/testdata/sf0.1\"")
      }
      if (!fresh)
        graft.dev.ScaleUp.main(Array("/root/testdata/sf0.1", "dev/sf1", "10"))
    }
    val sfDir = if (sf1Mode) "dev/sf1"
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.getOrCreate()

    // dev aid: SPARK_GRAFT_BENCH_ONLY=q55_fhir_encounters,q56_fhir_pa
    // limits the run for pass-over-pass diagnostics; SPARK_GRAFT_PASSES=N
    // adds full measured passes (default 2 + slow-tail third pass)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Warm-up at the TARGET SF (not sf0.001): JIT, codegen cache, parquet
    // footers, and crucially the SAME generated classes the measured passes
    // run. AQE picks size-dependent plans, so a small-SF warm compiles a
    // different (broadcast-shaped) class set, pays the compile storm twice,
    // and leaves tier-4 counters cold for the measured shapes — measured:
    // heavy queries needed 4-5 executions to reach steady state with a
    // sf0.001 warm, 2-3 with a target-SF warm (q53 20.3s first sf0.1 run
    // after small warm vs 5.6s after target warm).
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(2)
    val r = measure(spark, selected, sfDir, warm, passes, committedFloors(sfDir))

    val qs = jmap(r.times)
    val failed = r.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // stdout line stays raw-free: a caller that keeps only a tail of
    // stdout would lose the JSON head behind a 25KB raw block.
    // raw block FIRST in the file: the committed-floor regex reader takes
    // the LAST occurrence per query name, which must stay the final min
    val line =
      s"""{"metric":"total","value":${r.total},"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    val lineFull =
      s"""{"metric":"total","value":${r.total},"unit":"sec","raw":${r.raw},"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    // A bounded stdout capture truncates the per-query line, so persist
    // the full artifact too — but NEVER from a SPARK_GRAFT_BENCH_ONLY
    // subset run, which would clobber the full-suite baseline the retry
    // floor reads back.
    if (only.isEmpty) {
      val out = java.nio.file.Paths.get(
        if (sf1Mode) sf1Out else "bench_times.json")
      java.nio.file.Files.write(out, lineFull.getBytes("UTF-8"))
    }
    println(line)
    // The full per-query line above is ~12KB, past a ~2000-char stdout
    // tail capture. The LAST stdout line is therefore a compact summary
    // that always fits; the per-query map lives in bench_times.json
    // (written above) and in the full line for anyone with unbounded stdout.
    println(compactLine(r, spark.sparkContext.defaultParallelism, sfDir))
    spark.stop()
  }

  private def jmap(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The last stdout line: the total, the query and failure counts. */
  def compactLine(r: Result, cpus: Int, sfDir: String): String =
    s"""{"metric":"total","value":${r.total},"unit":"sec","n":${r.times.size},"failed":${r.failed.size},"cpus":$cpus,"sf":"$sfDir"}"""

  /** The previous run's committed per-query minima (bench_times.json),
    * when they were measured at this scale factor; empty otherwise. */
  private def committedFloors(sfDir: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_times.json")), "UTF-8")
      // only floors measured at THIS scale factor apply — a floor from
      // another SF would flag every query suspect and waste 24 retries
      val sfOk = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      if (!sfOk) Map.empty
      else """"(q[^"]+)":([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

  /** Times `queries` on `sfDir`: a warm pass on `warmDir`, `passes`
    * measured passes (at least two), a third pass over the slowest
    * queries, then bounded retries of outliers. `floors` are per-query
    * seconds known to be achievable (see the retry phase). */
  def measure(spark: SparkSession, queries: Seq[(String, QueryFn)],
      sfDir: String, warmDir: String, passes: Int,
      floors: Map[String, Double]): Result = {
    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Session hygiene between queries — round 1's bench degraded 10-50×
    // over the run because leaked caches pinned generated classes (and with
    // them the JIT code cache): clear the SQL cache AND any persistent RDDs
    // after every query so nothing accumulates across the queries × 3
    // passes. The explicit System.gc() is load-bearing: Spark's
    // ContextCleaner reclaims dead broadcast blocks and generated-class
    // loaders only after their weak references are GC'd, and without a
    // forced collection a long-lived session accumulates them unboundedly
    // (measured: broadcast-heavy queries degraded 20s → 47s → 86s across
    // passes without the gc; flat ~18s with it).
    // blocking unpersist: the async variant can let multi-hundred-MB
    // checkpoint blocks from consecutive queries overlap in the block
    // manager, and the resulting eviction storms showed up as flaky
    // 3-8× per-query inflation.
    def scrub(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // Every run of every query goes through here. A query that throws is
    // failed for the whole bench: it is not run again, and a time from an
    // earlier run does not count.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run(name: String, fn: QueryFn, dir: String, tag: String): Option[Double] =
      if (failed(name)) None
      else {
        val t0 = System.nanoTime()
        val ok =
          try { force(fn(spark, dir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $tag$name failed: ${e.getMessage}")
            failed += name
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        scrub()
        if (!ok) None
        else {
          System.err.println(f"[bench] $tag$name $dt%.2f")
          Some(dt)
        }
      }
    val sorted = queries.sortBy(_._1)
    def pass(tag: String, qs: Seq[(String, QueryFn)] = sorted) =
      qs.flatMap { case (name, fn) => run(name, fn, sfDir, tag).map(name -> _) }
        .toMap

    // warm times double as a per-query "known achievable" reference for
    // the outlier-retry phase below (first-compile cost inflates them, so
    // they are an upper bound on steady state — a conservative reference)
    val warmTimes = queries.flatMap { case (name, fn) =>
      run(name, fn, warmDir, "(warm) ").map(name -> _) }.toMap

    // min of two passes: absorbs one-off janino compilation and scheduler
    // noise (this box shows ~10% CPU steal) without hiding real cost.
    // Every raw pass is persisted alongside the min (estimator
    // transparency: the min-of-passes + bounded-retry estimator is
    // justified by this box's ~10% steal and the JVM deopt pathology,
    // but the artifact must let a reader audit its effect)
    val rawPasses =
      scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()
    rawPasses("p1") = pass("")
    System.gc()
    rawPasses("p2") = pass("")
    for (i <- 3 to passes) {
      System.gc()
      rawPasses(s"p$i") = pass(s"(p$i) ")
    }
    def best: Seq[(String, Double)] = sorted.collect {
      case (name, _) if !failed(name) =>
        name -> rawPasses.values.flatMap(_.get(name)).min
    }
    // third pass for the slowest queries only: this box shows ~10% CPU
    // steal and the heavy queries swing 1-3× between passes — min-of-3 on
    // the tail pins them down without tripling the whole run.
    val slow = best.sortBy(-_._2).take(16).map(_._1).toSet
    System.gc()
    rawPasses("p3_tail") = pass("(p3) ", sorted.filter { case (n, _) => slow(n) })
    // Outlier retry: this JVM intermittently drops a query's interpreted-
    // expression hot path out of JIT'd state for a whole pass (diagnosed
    // via stall stack dumps: ArrayFilter.nullSafeEval running 20-50×
    // slow), and when that hits EVERY measured pass the min is still the
    // degraded time. The warm pass already proved what the query can do —
    // if the measured min never got within 1.5× of it (+0.3s slack for
    // sub-second noise), re-measure up to twice and keep the overall min.
    // Bounded: at most 12 queries × 2 runs.
    //
    // The warm time is a blind reference when the slow-state window
    // covers the warm pass too (observed: q56 warm AND all passes
    // degraded 4-10x in one run, healthy 1.9s in the next JVM). The
    // previous run's committed floor is a second "known achievable"
    // reference: take the better of the two.
    val wt = warmTimes.map { case (name, w) =>
      name -> math.min(w, floors.getOrElse(name, w)) }
    val afterP3 = best
    val suspect = afterP3
      .filter { case (name, v) =>
        v > 1.0 && wt.get(name).exists(w => v > 1.5 * w + 0.3) }
      .sortBy { case (name, v) => -(v - wt(name)) }
      .take(12).map(_._1).toSet
    val fns = queries.toMap
    val retryRaw =
      scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val results = afterP3.map { case (name, v) =>
      if (!suspect(name)) name -> v
      else {
        val retries = (1 to 2).flatMap { i =>
          System.gc()
          run(name, fns(name), sfDir, s"(retry$i) ")
        }
        retryRaw(name) = retries
        name -> (retries :+ v).min
      }
    }.filterNot { case (name, _) => failed(name) }

    val raw = (rawPasses.map { case (tag, m) => "\"" + tag + "\":" + jmap(m) } ++
      (if (retryRaw.isEmpty) Nil
       else Seq("\"retries\":" + retryRaw.map { case (k, vs) =>
         "\"" + k + "\":[" + vs.mkString(",") + "]" }.mkString("{", ",", "}"))))
      .mkString("{", ",", "}")
    Result(results, failed.toSeq, raw)
  }
}
