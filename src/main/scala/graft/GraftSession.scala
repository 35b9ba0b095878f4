package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is set up. Bench, Verify, every tool main
  * and the spec trait take their session from here, so a tool inspects the
  * same session settings Bench times. Follows the idempotent
  * `setup(session)` pattern: building or re-setting up a session twice
  * leaves it in the same state. */
object GraftSession {

  private val LocalN = """local\[(\d+)(?:,\d+)?\]""".r
  private val LocalCluster = """local-cluster\[(\d+),(\d+),\d+\]""".r

  /** Task slots a master string provides: `local[n]` and
    * `local[n, maxFailures]` n, `local-cluster[workers, cores, mem]`
    * workers × cores. */
  def coresOf(master: String): Int = master.replace(" ", "") match {
    case LocalN(n) => n.toInt
    case LocalCluster(workers, cores) => workers.toInt * cores.toInt
    case other => throw new IllegalArgumentException(s"no core count in master '$other'")
  }

  /** Session on `master` with one shuffle partition per core. `conf` is
    * applied last: a caller adds its own confs (app name, warehouse dir,
    * executor settings) or overrides a default. Static confs only take
    * effect when this call creates the session. */
  def apply(master: String, logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val cores = coresOf(master).toString
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      // already the default on local[n]; on local-cluster it keeps the
      // count fixed while executors are still registering
      .config("spark.default.parallelism", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosAsLong, "true")
      // A multi-query session far exceeds the default 100-entry
      // generated-class cache: constant eviction forces a Janino recompile
      // of every heavy expression tree on every run, measured as a 5-10×
      // inflation of late-run queries. At 5000 entries the 243-query ×
      // 3-pass Bench working set still overflowed and pass 3 ran 2.9× pass
      // 2 (Bench's pass_diag reports the per-pass recompile count). Entries
      // are weak-ref'd class holders; 24k of them is tens of MB. Static
      // conf, so it must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "24000")
    conf.foreach { case (k, v) => b.config(k, v) }
    setup(b.getOrCreate(), logLevel)
  }

  /** Log level plus graft's optimizer rules; safe to call again on the
    * same session. */
  def setup(spark: SparkSession, logLevel: String = "WARN"): SparkSession = {
    spark.sparkContext.setLogLevel(logLevel)
    graft.functions.GraftFunctions.installOptimizations(spark)
    spark
  }

  /** Drops what a query left in the session, so the next one starts
    * clean: Datasets it cached (Dedup's shingle/doc caches), and the
    * RDD-level blocks `clearCache` cannot see — fixpoint queries
    * `localCheckpoint()` their final state, and those blocks otherwise
    * stay pinned until a GC that a large heap rarely runs, competing with
    * later queries for execution memory. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
