package graft.dev

/** Dev main: run ONE gate query ONCE against a data dir and print the
  * wall seconds — the single-pass probe for 100× budget questions,
  * where Bench's warm + min-of-passes estimator would triple a
  * quarter-hour run just to confirm it finishes.
  *
  * Usage: runMain graft.dev.TimeOne <queryName> <sfDir> [passes=1]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Sessions.getOrCreate()
    val fn = graft.SparkEntry.queries(name)
    val times = (1 to passes).map { i =>
      val t0 = System.nanoTime()
      // same forcing as Bench: noop sink materializes every row
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[timeone] pass $i: $dt%.1f s")
      dt
    }
    println(f"""{"query":"$name","dir":"$dir","sec":${times.min}%.3f}""")
    spark.stop()
  }
}
