package graft.dev

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev main (not part of the contract): write `.explain("formatted")`
  * output for the named queries to `<outDir>/<query>_<suffix>.txt` —
  * the plan artifacts the optimization rounds commit under plans/rNN/.
  *
  * Usage: PlanDump <outDir> <suffix> <sfDir> <query> [query...]
  * (the committed dumps ran at 8 cores: SPARK_GRAFT_CPUS=8 reproduces
  * their partition counts)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: PlanDump <outDir> <suffix> <sfDir> <query> [query...]")
      sys.exit(2)
    }
    val Array(outDir, suffix, sfDir, rest @ _*) = args
    val spark = graft.Sessions.getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    rest.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
