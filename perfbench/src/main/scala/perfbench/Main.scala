package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One benchmark run in one driver JVM (see perfbench/README.md).
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --data <dir> --work <dir> --result <file> --t0 <epoch ms>
  *   [--ops <q1,q2,...>]
  * perfbench.Main --dump-oracle <file>
  * }}}
  *
  * The JVM sets up (session and generated inputs), runs every operation
  * of the workload once untimed (the warm-up pass, whose outputs the
  * correctness check reads), then runs timed rounds, each every operation
  * once in an order drawn from the seed and the round number, until
  * `--seconds` have passed. The timed rounds thus measure the workload as
  * a long-running session does: Catalyst planning, codegen from the
  * session's cache, job scheduling and execution, without the JVM's class
  * loading and first compilations. With `--trace 1`, [[Trace]] observes
  * as many rounds again, interleaved with the untraced ones. Everything
  * measured goes to `--result` as one JSON object; run.py turns it into
  * metrics.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, data: String, work: String, result: String,
      t0Ms: Long, opsList: Seq[String])

  /** One timed operation: a query (build + forced execution) or an ETL
    * cycle (receive + etl-fhir). `parts` holds the named sub-timings. */
  final case class Op(name: String, startMs: Long, endMs: Long,
      seconds: Double, parts: Seq[(String, Double)], error: Option[String])

  /** What a workload offers the run loop. */
  trait Workload {
    /** Operation names of one round, in their fixed order. */
    def ops: Seq[String]
    /** Runs every operation once before the timed rounds, untimed, and
      * saves or checks what the correctness check needs. */
    def warmUp(): Unit
    /** The order of one round's operations. */
    def order(rng: Random): Seq[String] = rng.shuffle(ops)
    /** Runs one operation, timed. */
    def run(name: String): Op
    /** Timed rounds to run however short `--seconds` is. */
    def minRounds: Int = 2
    /** Called after each timed round, untimed. */
    def afterRound(): Unit = ()
    /** What failed in the warm-up pass or its output check, with the
      * error. */
    def verify(): Map[String, String]
    /** Workload-specific facts for the result (sizes, check verdicts). */
    def facts: Map[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    if (kv.contains("--dump-oracle")) {
      Json.write(kv("--dump-oracle"), graft.SparkEntry.oracleSql)
      return
    }
    val a = Args(kv("--workload"), kv("--seed").toLong,
      kv("--seconds").toDouble, kv("--trace") == "1", kv("--cpus").toInt,
      kv("--data"), kv("--work"), kv("--result"), kv("--t0").toLong,
      kv.get("--ops").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))

    val spark = session(a.cpus, a.work)
    val wl: Workload = a.workload match {
      case "suite_sf001" => new Queries(spark, a)
      case "etl_cycle" => new EtlCycle(spark, a)
      case other => sys.error(s"unknown workload: $other")
    }
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "setup_s" -> setupS)
    val w0 = System.nanoTime()
    wl.warmUp()
    out("warm_up_s") = (System.nanoTime() - w0) / 1e9

    // Timed rounds, each every operation once in the seeded order, until
    // `--seconds` have passed and at least `minRounds` ran. With `--trace 1`
    // every round is followed by a traced one, so both kinds see the same
    // warm-up of the JVM.
    val trace = if (a.trace) Some(Trace.attach(spark)) else None
    val ops = ArrayBuffer[(Int, Op)]()
    val rounds = ArrayBuffer[(Int, Boolean, Double)]()
    def round(traced: Boolean): Unit = {
      val r = rounds.size
      if (traced) trace.foreach(_.resume())
      val r0 = System.nanoTime()
      wl.order(new Random(a.seed * 7919L + r)).foreach(n => ops += r -> wl.run(n))
      rounds += ((r, traced, (System.nanoTime() - r0) / 1e9))
      if (traced) trace.foreach(_.pause())
      wl.afterRound()
    }
    val start = System.nanoTime()
    var untraced = 0
    do {
      round(traced = false)
      if (a.trace) round(traced = true)
      untraced += 1
    } while (untraced < wl.minRounds ||
      (System.nanoTime() - start) / 1e9 < a.seconds * (if (a.trace) 2 else 1))
    val tracedRounds = rounds.filter(_._2).map(_._1).toSet
    val failed = wl.verify()

    out("failed") = failed
    out("rounds") = rounds.map { case (r, traced, secs) =>
      Map("round" -> r, "traced" -> traced, "seconds" -> secs) }
    out("ops") = ops.map { case (r, o) => Map(
      "name" -> o.name, "round" -> r, "seconds" -> o.seconds,
      "parts" -> o.parts.toMap, "error" -> o.error.orNull) }
    out("facts") = wl.facts
    trace.foreach { tr =>
      val traced = ops.collect { case (r, o) if tracedRounds(r) => o }.toSeq
      out("trace") = tr.summary(traced, tracedRounds.size, a.cpus)
      tr.writeSpans(s"${a.work}/spans.json", traced,
        s"${a.workload}-${a.seed}-${a.t0Ms}")
    }
    out("peak_rss_mb") = peakRssMb()
    out("peak_live_mb") = peakLiveBytes / 1048576.0
    out("jvm_flags") = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.toSeq
    spark.stop()
    Json.write(a.result, out)
  }

  /** The session every run uses: the settings of the program's own
    * `graft.Bench`, with scratch space inside the run's work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.registerAll(spark)
    spark
  }

  /** Drops everything one operation may have left cached, as `graft.Bench`
    * does between queries, so operations do not inherit each other's
    * blocks. The full GC comes first, so that [[peakLiveBytes]] still
    * counts the operation's cached blocks; the unreachable objects that
    * the cleanup leaves go at the next operation's GC. Runs outside the
    * timed region. */
  def scrub(spark: SparkSession): Unit = {
    System.gc()
    peakLiveBytes = math.max(peakLiveBytes, java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** The largest heap in use after a full GC at the end of an operation,
    * before its cached blocks are dropped: the most memory an operation
    * leaves live, which unlike the resident set does not depend on when
    * the collector chose to grow the heap. */
  @volatile var peakLiveBytes = 0L

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t) / 1e9)
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def writeText(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(UTF_8))
  }
}
