package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.{Bench, GraftSession, SparkEntry}

/** Per-query inspection in a bench session (SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS and Bench's warmup). For each named query and attempt
  * it prints construct / plan / execute seconds, the GC delta and the
  * count of persistent RDDs the attempt left, then resets the session as
  * Bench does between queries. A query that is fast here but slow in
  * Bench points at session state, not at its plan.
  *
  * Usage: `runMain graft.tools.Inspect [--warm N] [--plans DIR SUFFIX] QUERY...`
  *   - `--warm N`: first run the first N headline queries once, untimed,
  *     to reproduce the session state query N+1 of a bench pass meets;
  *   - `--plans DIR SUFFIX`: write each query's `explain("formatted")` to
  *     `DIR/<query>_SUFFIX.txt` — the before/after plan evidence kept
  *     under `plans/<tag>/`.
  */
object Inspect {
  private val Attempts = 3

  def main(args: Array[String]): Unit = {
    var warm = 0
    var plans: Option[(String, String)] = None
    val names = Seq.newBuilder[String]
    def parse(as: List[String]): Unit = as match {
      case "--warm" :: n :: rest => warm = n.toInt; parse(rest)
      case "--plans" :: dir :: suffix :: rest => plans = Some((dir, suffix)); parse(rest)
      case name :: rest => names += name; parse(rest)
      case Nil =>
    }
    parse(args.toList)
    val sfDir = Bench.sfDir
    val spark = GraftSession(s"local[${Bench.cpus}]")
    def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9
    Bench.warmup(spark, sfDir)
    val tw = System.nanoTime()
    for (q <- SparkEntry.headline.take(warm)) {
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) => println(s"[inspect] warm ${q.name} failed: $e") }
      GraftSession.reset(spark)
    }
    if (warm > 0) println(f"[inspect] warmed $warm queries in ${secs(tw, System.nanoTime())}%.1f s")
    for (name <- names.result(); a <- 1 to Attempts) {
      val gc0 = Bench.gcMillis
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      println(f"[inspect] $name attempt $a: construct ${secs(t0, t1)}%.3f s, " +
        f"plan ${secs(t1, t2)}%.3f s, execute ${secs(t2, t3)}%.3f s, " +
        f"gc +${Bench.gcMillis - gc0} ms, " +
        f"persistentRDDs ${spark.sparkContext.getPersistentRDDs.size}")
      if (a == 1) plans.foreach { case (dir, suffix) =>
        val out = Paths.get(dir, s"${name}_$suffix.txt")
        Files.createDirectories(out.getParent)
        Files.writeString(out, df.queryExecution.explainString(FormattedMode))
        println(s"[inspect] wrote $out")
      }
      GraftSession.reset(spark)
    }
    spark.stop()
  }
}
