package perfbench

import org.apache.spark.sql.SparkSession

import perfbench.Main.{Args, Op, errorText, scrub, timed}

/** Registry queries (`graft.SparkEntry.queries`) over the committed
  * tables in `--data`. The query names come from `--ops`; run.py picks
  * them and owns their expected digests.
  *
  * An operation is the registry call that builds the DataFrame (timed as
  * `build_s`; it includes any eager materialization the query does) and
  * the `noop`-sink write that forces every column of the result (timed
  * as `exec_s` — a bare `count()` would let Catalyst prune the work).
  * The untimed warm-up pass writes each result as one parquet file under
  * `<work>/check/<name>`, which run.py digests and compares with the
  * oracle's digest.
  */
final class Queries(spark: SparkSession, a: Args) extends Main.Workload {

  val ops: Seq[String] = a.opsList

  private def query(name: String) =
    graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"query $name is not in graft.SparkEntry.queries"))

  private var failed = Map.empty[String, String]

  /** The query rounds are short and, on 4 cores, still speeding up in the
    * second round as the JIT compiles more of Catalyst; a third makes the
    * fastest round steadier. */
  override def minRounds: Int = 3

  def warmUp(): Unit = failed = ops.flatMap { name =>
    try {
      query(name)(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(s"${a.work}/check/$name")
      None
    } catch { case e: Throwable => Some(name -> errorText(e)) }
    finally scrub(spark)
  }.toMap

  def run(name: String): Op = {
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val (parts, error) =
      try {
        val (df, buildS) = timed(query(name)(spark, a.data))
        val (_, execS) = timed(
          df.write.format("noop").mode("overwrite").save())
        (Seq("build_s" -> buildS, "exec_s" -> execS), None)
      } catch { case e: Throwable => (Nil, Some(errorText(e))) }
    val seconds = (System.nanoTime() - t) / 1e9
    val op = Op(name, startMs, System.currentTimeMillis(), seconds, parts,
      error)
    scrub(spark)
    op
  }

  def verify(): Map[String, String] = failed

  def facts: Map[String, Any] = Map("queries" -> ops.size)
}
