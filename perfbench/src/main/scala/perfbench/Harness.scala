package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, explode, length, size, sum}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{SparkEntry, Tables}
import graft.engine.{AlgebraicReduce, BatchSpec, Engine, Ops}
import graft.functions.NativeExprs
import graft.sources.Warehouse

/** The benchmark's JVM side: one closed-loop client that sets up a session,
  * runs the workload's jobs pass after pass (each job submitted only after
  * the previous one returned), then re-runs every job once, untimed, to
  * leave its output for the checks. It writes raw timings (and, traced,
  * spans and task records) to `--out`; `run.py` turns them into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --jobs FILE --work DIR --out DIR --cpus N */
object Harness {

  final case class Attempt(id: Long, pass: Int, job: String, traced: Boolean,
      wall: Double, build: Double, phases: Seq[(String, Double)], error: Option[String])

  final case class Pass(pass: Int, traced: Boolean, wall: Double, compiles: Long,
      compileS: Double, gcS: Double, builds: Map[String, Double], executions: Long)

  /** A job: `run` executes it once inside `span`, which records a phase. */
  trait Job {
    def name: String
    def run(spark: SparkSession, span: Phase): Unit
    /** Untimed, right after `run`: steps that `run` performs inside one
      * call, repeated alone so the per-layer figures can split them out. */
    def probe(spark: SparkSession, span: Phase): Unit = ()
    /** Untimed: produce the output `run.py` checks. */
    def leaveOutput(spark: SparkSession, results: String): Unit
  }

  /** Times one phase of an attempt, as a child span when tracing. */
  trait Phase { def apply[A](name: String)(body: => A): A }

  private val Noop = "noop"

  final class QueryJob(q: graft.Q, data: String) extends Job {
    val name: String = q.name
    def run(spark: SparkSession, span: Phase): Unit = {
      val df = span("construct")(q.run(spark, data))
      span("plan")(df.queryExecution.executedPlan)
      span("execute")(df.write.format(Noop).mode("overwrite").save())
    }
    def leaveOutput(spark: SparkSession, results: String): Unit = {
      val runs = if (q.oracle.isDefined) Seq(name) else Seq(name, name + ".2")
      runs.foreach { dir =>
        q.run(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$results/$dir")
      }
    }
  }

  /** A batch job submitted as JSON through the engine's public entry point.
    * `Engine.runJson` parses and plans the spec itself, so the timed attempt
    * is that one call; the probe times `BatchSpec.fromJson` and
    * `Engine.plan` alone. */
  final class EngineJob(val name: String, json: String) extends Job {
    def run(spark: SparkSession, span: Phase): Unit =
      span("run")(Engine.runJson(spark, json))
    override def probe(spark: SparkSession, span: Phase): Unit = {
      val spec = span("parse")(BatchSpec.fromJson(json))
      span("plan")(Engine.plan(spark, spec))
    }
    def leaveOutput(spark: SparkSession, results: String): Unit = ()
  }

  /** Reads an earlier job's KV output through the `graft-kv` source, keeps
    * each key's largest value with the engine's `max` reduce, and writes it
    * back through `graft-kv`'s commit protocol. */
  final class KvMaxJob(val name: String, input: String, output: String) extends Job {
    private val AlgebraicReduce(_, maxAgg) = Ops.reduceOp("max")
    def run(spark: SparkSession, span: Phase): Unit = {
      val out = span("plan") {
        spark.read.format("graft-kv").load(input)
          .groupBy(col("key")).agg(maxAgg(col("value")).as("value"))
      }
      span("run")(out.write.format("graft-kv").mode("overwrite").save(output))
    }
    def leaveOutput(spark: SparkSession, results: String): Unit = ()
  }

  /** `Warehouse.buildSeconds` gets each build's duration when it ends, and
    * a build may run inside another one (an index built from an index), so
    * the durations cannot be summed. This watcher notes when each entry
    * appears, which makes every duration an interval; the union of the
    * intervals is the wall time spent building. */
  final class BuildWatch extends Thread {
    setDaemon(true)
    private val seen = scala.collection.mutable.Map.empty[(String, Double), Long]

    private def poll(): Unit = synchronized {
      Warehouse.buildSeconds.forEach((k, v) => seen.getOrElseUpdate((k, v), System.nanoTime()))
    }
    override def run(): Unit = while (true) { poll(); Thread.sleep(1) }

    /** Builds that ended since the last call: seconds per table, and the
      * wall seconds covered by any build. */
    def drain(): (Seq[(String, Double)], Double) = synchronized {
      poll()
      val done = seen.toSeq
      seen.clear()
      done.foreach { case ((k, v), _) => Warehouse.buildSeconds.remove(k, v) }
      val spans = done.map { case ((_, v), end) => (end - (v * 1e9).toLong, end) }.sortBy(_._1)
      var wall = 0L
      var cur = (0L, Long.MinValue)
      spans.foreach { case (a, b) =>
        if (a > cur._2) { wall += math.max(0L, cur._2 - cur._1); cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
      wall += math.max(0L, cur._2 - cur._1)
      (done.map(_._1), wall / 1e9)
    }
  }

  // ------------------------------------------------------------ session

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosAsLong, "true")
      .config("spark.sql.codegen.cache.maxEntries", "24000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.installOptimizations(spark)
    spark
  }

  /** The generic warmup `graft.Bench` runs before timing: class loading,
    * parquet reader, shuffle, aggregate, join, window, sort and the text
    * kernels, over tiny inputs. */
  def warmup(spark: SparkSession, data: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    spark.range(1000).selectExpr("sum(id)").write.format(Noop).mode("overwrite").save()
    Tables.lineitem(spark, data).limit(100).write.format(Noop).mode("overwrite").save()
    val wr = spark.range(0, 50000, 1, 8).selectExpr("id % 1000 AS k", "id AS v")
    wr.groupBy("k").count().join(wr, "k")
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .orderBy("k", "rn").limit(1000)
      .write.format(Noop).mode("overwrite").save()
    Tables.documents(spark, data).limit(200)
      .select(col("doc_id"), explode(NativeExprs.wordShingles(col("text"), 3)).as("sh"))
      .groupBy("sh").count()
      .write.format(Noop).mode("overwrite").save()
  }

  // ------------------------------------------------------------ probes

  @volatile private var sink = 0L
  private def spin(iters: Long): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
  }

  /** `graft.Bench`'s host-load probe sized to `n` threads: the same fixed
    * work timed on one thread and on `n` at once, min of 3 reps. Returns
    * (t1 seconds, tN/t1); the ratio is near 1 on an idle host with n free
    * cores. */
  def loadProbe(n: Int): (Double, Double) = {
    val iters = 20L * 1000 * 1000
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    System.gc()
    spin(iters)
    (1 to 3).map { _ =>
      val t1 = timed(spin(iters))
      val tn = timed {
        val ts = Array.fill(n)(new Thread(() => spin(iters)))
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      (t1, tn / math.max(t1, 1e-9))
    }.minBy(_._2)
  }

  /** Nanoseconds per row of each hot text/vector kernel alone: the median
    * of 3 timings of an aggregate over the kernel's output, minus the same
    * aggregate over its bare input (the scan baseline). Inputs are
    * replicated (`docReps`, `embReps` copies) and materialized first, so neither the scan of
    * the parquet file nor an upstream kernel is in either timing. */
  def kernelProbe(spark: SparkSession, data: String, docReps: Int, embReps: Int)
      : Seq[(String, Double)] = {
    def med(f: => Unit): Double = {
      f
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; System.nanoTime() - t0 }.sorted
      ts(1).toDouble
    }
    def timeAgg(df: DataFrame, c: org.apache.spark.sql.Column): Double =
      med(df.agg(sum(c)).collect())
    def copies(n: Int) = spark.range(n).withColumnRenamed("id", "rep")
    val docs = Tables.documents(spark, data).crossJoin(copies(docReps))
      .select(col("text"), NativeExprs.tokens(col("text")).as("toks"),
        NativeExprs.wordShingles(col("text"), 3).as("sh"))
      .localCheckpoint()
    val embs = Tables.embeddings(spark, data).crossJoin(copies(embReps))
      .select(col("embedding")).localCheckpoint()
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val textBase = timeAgg(docs, length(col("text")))
    val tokBase = timeAgg(docs, size(col("toks")))
    val shBase = timeAgg(docs, size(col("sh")))
    val embBase = timeAgg(embs, size(col("embedding")))
    def perRow(t: Double, base: Double, n: Double) = math.max(t - base, 0.0) / n
    Seq(
      "tokens" -> perRow(timeAgg(docs, size(NativeExprs.tokens(col("text")))), textBase, nDocs),
      "word_shingles" ->
        perRow(timeAgg(docs, size(NativeExprs.wordShingles(col("text"), 3))), textBase, nDocs),
      "minhash" -> perRow(timeAgg(docs, size(NativeExprs.minHashSig(col("sh"), 64))), shBase, nDocs),
      "simhash" -> perRow(timeAgg(docs, NativeExprs.simHash64(col("toks")) % 2), tokBase, nDocs),
      "cosine" -> perRow(
        timeAgg(embs, NativeExprs.cosineSim(col("embedding"), col("embedding"))), embBase, nEmbs))
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val out = new File(opt("out"))
    val cpus = opt("cpus").toInt
    out.mkdirs()

    // set-up: JVM start to here, then the session and the generic warmup
    val jvmBoot = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupStart = System.nanoTime()
    val spark = session(cpus, work)
    warmup(spark, data)
    val setup = jvmBoot + (System.nanoTime() - setupStart) / 1e9
    System.err.println(s"[perfbench] setup: $setup s")
    Warehouse.buildSeconds.clear()

    implicit val formats: Formats = DefaultFormats
    val spec = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(opt("jobs"))), "UTF-8"))
    def query(name: String) = SparkEntry.all.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown query $name"))
    val jobGroups: Seq[Seq[Job]] = {
      (spec \ "groups").extract[List[List[JValue]]].map(_.map { j =>
        val name = (j \ "name").extract[String]
        (j \ "kind").extract[String] match {
          case "query" => new QueryJob(query(name), data)
          case "engine" => new EngineJob(name, JsonMethods.compact(j \ "spec"))
          case "kv_max" =>
            new KvMaxJob(name, (j \ "input").extract[String], (j \ "output").extract[String])
        }
      })
    }

    val tracer = new Tracer(spark.sparkContext)
    def tracing(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }

    def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    def gcSeconds: Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val buildWatch = new BuildWatch
    buildWatch.start()
    def drainBuilds(into: scala.collection.mutable.Map[String, Double]): Double = {
      val (byName, wall) = buildWatch.drain()
      byName.foreach { case (k, v) => into(k) = into.getOrElse(k, 0.0) + v }
      wall
    }

    val attempts = ArrayBuffer.empty[Attempt]
    val passes = ArrayBuffer.empty[Pass]
    var nextAttempt = 1L

    def runPass(pass: Int, traceOn: Boolean): Unit = {
      if (traceOn) tracing(true)
      // The first pass runs in the listed order: which job runs first in a
      // cold JVM decides who pays for JIT and class loading, and a seeded
      // order would make the cold pass vary with the seed.
      val order =
        if (pass == 1) jobGroups.flatten
        else new scala.util.Random(seed * 7919 + pass).shuffle(jobGroups).flatten
      val builds = scala.collection.mutable.Map.empty[String, Double]
      val execs0 = tracer.executions.get
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val gc0 = gcSeconds
      val jit0 = jitSeconds
      val p0 = System.nanoTime()
      for (job <- order) {
        val id = nextAttempt
        nextAttempt += 1
        val phases = ArrayBuffer.empty[(String, Double)]
        // root = the enclosing root span's id when tracing (0 otherwise)
        def phase(root: Long): Phase = new Phase {
          def apply[A](name: String)(body: => A): A = {
            val s = System.nanoTime()
            try { if (traceOn) tracer.in(id, root, name)(_ => body) else body }
            finally phases += name -> (System.nanoTime() - s) / 1e9
          }
        }
        // runs `body` under a root span of this attempt; the error, if any
        def rooted(name: String)(body: Phase => Unit): Option[String] = try {
          if (traceOn) tracer.in(id, 0, name)(root => body(phase(root))) else body(phase(0))
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${job.name} failed: $e")
            Some(e.toString.take(300))
        }
        val t0 = System.nanoTime()
        val ran = rooted(job.name)(job.run(spark, _))
        val wall = (System.nanoTime() - t0) / 1e9
        val build = drainBuilds(builds)
        // the probe feeds per-layer figures only, so untraced passes skip it
        val error = if (traceOn) ran.orElse(rooted("probe")(job.probe(spark, _))) else ran
        attempts += Attempt(id, pass, job.name, traceOn, math.max(0.0, wall - build), build,
          phases.toSeq, error)
        // outside the timed region, as in graft.Bench: drop what a job cached
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (traceOn) { tracer.drain(); tracing(false) }
      System.err.println(s"[perfbench] pass $pass${if (traceOn) " (traced)" else ""}: $wall s" +
        s", jit ${jitSeconds - jit0} s")
      passes += Pass(pass, traceOn, wall,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        (CodeGenerator.compileTime - ct0) / 1e9, gcSeconds - gc0, builds.toMap,
        tracer.executions.get - execs0)
    }

    val probes = ArrayBuffer(loadProbe(cpus))
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // A first (cold) pass, then the job file's `warmup_passes`, untraced,
    // which only let the JIT settle, then the measured warm passes until the
    // time is up: at least `warm_passes` of them untraced; traced, at least
    // two traced and two untraced in turn, so the trace overhead is measured
    // in the same run. A traced run traces its first pass too, and always
    // runs a warm-up pass: the first warm pass is the slowest, and whichever
    // kind it were would bias the overhead.
    val warmupPasses = math.max((spec \ "warmup_passes").extract[Int], if (traced) 1 else 0)
    val minPasses = 1 + warmupPasses + (if (traced) 4 else (spec \ "warm_passes").extract[Int])
    var pass = 0
    while (pass < minPasses || elapsed < seconds) {
      pass += 1
      runPass(pass, traced && (pass == 1 || (pass > 1 + warmupPasses && (pass - warmupPasses) % 2 == 0)))
    }
    probes += loadProbe(cpus)

    val kernels = if (traced) kernelProbe(spark, data, docReps = 4, embReps = 32) else Nil
    System.err.println(s"[perfbench] kernel probe done: $elapsed s")

    val results = new File(work, "results")
    val checkErrors = ArrayBuffer.empty[(String, String)]
    jobGroups.flatten.foreach { job =>
      try job.leaveOutput(spark, results.getPath)
      catch { case e: Throwable => checkErrors += job.name -> e.toString.take(300) }
    }
    val oracles = jobGroups.flatten.collect { case q: QueryJob => q.name }
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))

    System.err.println(s"[perfbench] outputs left: $elapsed s")
    if (traced) tracer.write(out)
    val rssMb = peakRssMb()
    spark.stop()

    def num(d: Double) = "%.9g".formatLocal(Locale.ROOT, d)
    def str(s: String) = JsonMethods.compact(JString(s))
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    val attemptsJson = attempts.map { a =>
      obj(Seq("id" -> a.id.toString, "pass" -> a.pass.toString, "job" -> str(a.job),
        "traced" -> a.traced.toString, "wall_s" -> num(a.wall), "build_s" -> num(a.build),
        "phases" -> obj(a.phases.map { case (k, v) => k -> num(v) }),
        "error" -> a.error.map(str).getOrElse("null")))
    }.mkString("[", ",", "]")
    val passesJson = passes.map { p =>
      obj(Seq("pass" -> p.pass.toString, "traced" -> p.traced.toString, "wall_s" -> num(p.wall),
        "compiles" -> p.compiles.toString, "compile_s" -> num(p.compileS), "gc_s" -> num(p.gcS),
        "builds" -> obj(p.builds.map { case (k, v) => k -> num(v) }),
        "executions" -> p.executions.toString))
    }.mkString("[", ",", "]")
    val json = obj(Seq(
      "workload" -> str(workload), "cpus" -> cpus.toString,
      "jvm_boot_s" -> num(jvmBoot), "setup_s" -> num(setup), "warmup_passes" -> warmupPasses.toString,
      "probes" -> probes.map { case (t1, r) => s"[${num(t1)},${num(r)}]" }.mkString("[", ",", "]"),
      "passes" -> passesJson, "attempts" -> attemptsJson,
      "kernels_ns_row" -> obj(kernels.map { case (k, v) => k -> num(v) }),
      "check_errors" -> obj(checkErrors.map { case (k, v) => k -> str(v) }),
      "oracles" -> obj(oracles.map { case (k, v) => k -> str(v) }),
      "peak_rss_mb" -> num(rssMb)))
    val w = new PrintWriter(new File(out, "raw.json"), "UTF-8")
    try w.println(json) finally w.close()
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MiB; 0 elsewhere. */
  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}
