package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Every main and spec goes through
  * [[getOrCreate]], so every entry point runs the same optimizer: Catalyst's
  * behaviour is fixed per session by its conf and its injected rules, and a
  * static conf (the codegen cache size) binds to whichever session of the
  * JVM starts first. When `Bench --sf1` let `dev.ScaleUp` start the JVM's
  * first session with a builder of its own that lacked that conf, the
  * whole sf1 gate ran a uniform 2.3× slow.
  */
object Sessions {

  /** `SPARK_GRAFT_MASTER` if set, else `local[SPARK_GRAFT_CPUS]` if set,
    * else one local core per processor of the machine. */
  def defaultMaster: String = sys.env.getOrElse("SPARK_GRAFT_MASTER",
    s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)}]")

  /** The JVM's graft session, created on first call.
    *
    * @param master    where to run; specs pin `local[4]`
    * @param warehouse `spark.sql.warehouse.dir`, for `saveAsTable` callers
    */
  def getOrCreate(master: String = defaultMaster,
      warehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); core.Tables.events
      // converts the long back to a timestamp
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratchspace.sparkLocalDir)
      // static conf, must precede session creation: the default 100-entry
      // generated-class cache thrashes across the registry's queries x
      // several codegen stages each, re-running janino on every pass
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    // one shuffle partition per core the master offers: the machine's
    // under local[n], the cluster's otherwise
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.registerAll(spark)
    spark
  }
}
