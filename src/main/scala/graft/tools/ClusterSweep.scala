package graft.tools

import graft.SparkEntry

/** FULL-gate multi-JVM sweep — the closure of [[ClusterProbe]]'s 13-query
  * slice: run EVERY `SparkEntry.queries` row once under
  * `local-cluster[2,4,1536]` (real standalone master, 2 worker processes,
  * executors as separately-forked JVMs) and once under `local[8]`, and
  * exact-compare the collected, sorted, stringified rows per query.
  *
  * Rationale: every row that has only ever run in one JVM carries the
  * cross-process risk the slice guards against (closure serialization,
  * ExpressionEncoder buffers, codegen reference objects, broadcast
  * materialization), and the slice has caught such a bug (NOTES_BUILD.md).
  * This main is the full discharge; it is NOT wired into `sbt test` (the
  * slice stays the per-commit guard) because two full gate runs cost tens
  * of minutes.
  *
  * Environment: same as the probe — `SPARK_HOME=/opt/spark`,
  * `SPARK_SCALA_VERSION=2.13`; `GRAFT_ROUNDTRIP_DIR` defaults to a fresh
  * temp dir when unset (same-machine worker processes share the local
  * filesystem). Args: `[sfDir] [queryName...]` — no names = the full
  * gate. Exits nonzero on any divergence; results are recorded in
  * NOTES_BUILD.md.
  */
object ClusterSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val base = java.nio.file.Files.createTempDirectory("graft-sweep-").toString
    ClusterProbe.defaultRoundtripDir(base, "sweep")
    println(s"[sweep] ${names.size} queries sf=$sfDir")
    val t0 = System.nanoTime()
    val cluster = ClusterProbe.runQueries(
      "local-cluster[2,4,1536]", sfDir, s"$base/wh-cluster", names)
    val t1 = System.nanoTime()
    println(f"[sweep] local-cluster[2,4,1536] done in ${(t1 - t0) / 1e9}%.1f s")
    val local = ClusterProbe.runQueries("local[8]", sfDir, s"$base/wh-local", names)
    println(f"[sweep] local[8] done in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    var failed = 0
    for (name <- names) {
      val (c, l) = (cluster(name), local(name))
      if (c != l || c.exists(_.startsWith("!ERROR"))) {
        failed += 1
        println(s"[sweep] $name MISMATCH cluster=${c.size} local=${l.size}")
        (c.toSet -- l.toSet).take(3).foreach(r => println(s"[sweep]   only-cluster: $r"))
        (l.toSet -- c.toSet).take(3).foreach(r => println(s"[sweep]   only-local:   $r"))
      } else if (c.isEmpty)
        // equal AND empty = agreement, not divergence — some gate rows
        // are legitimately empty at tiny SF (q11's value threshold);
        // surface it so a degenerate slice can't hide behind 0 == 0
        println(s"[sweep] $name OK but EMPTY at this SF (both legs 0 rows)")
    }
    println(s"[sweep] ${names.size - failed}/${names.size} queries identical across JVM boundaries")
    if (failed > 0) sys.exit(1)
  }
}
