package graft.tools

import graft.{ForkedMain, SparkSpec}

/** Smoke test of the inspection main, run in its own JVM as from the
  * command line: it builds and stops its own session. */
class InspectSpec extends SparkSpec {

  test("Inspect prints each attempt and writes the formatted plan") {
    val plans = java.nio.file.Files.createTempDirectory("graft-inspect-plans-")
    val (code, out) = ForkedMain.run("graft.tools.Inspect",
      Seq("--plans", plans.toString, "smoke", "q1_pricing_summary"),
      Seq("SPARK_GRAFT_SF_DIR" -> sfDir, "SPARK_GRAFT_CPUS" -> "2"), heap = "2g")
    val lines = out.filter(_.startsWith("[inspect]")).mkString("\n")
    assert(code === 0, s"Inspect exited $code:\n${out.takeRight(40).mkString("\n")}")
    (1 to 3).foreach { a =>
      assert(lines.linesIterator.exists(l =>
        l.startsWith(s"[inspect] q1_pricing_summary attempt $a: construct ") &&
          l.contains(" plan ") && l.contains(" execute ") && l.contains(" gc +") &&
          l.contains(" persistentRDDs ")), lines)
    }
    val plan = plans.resolve("q1_pricing_summary_smoke.txt")
    assert(java.nio.file.Files.isRegularFile(plan), lines)
    assert(java.nio.file.Files.readString(plan).contains("== Physical Plan =="))
    java.nio.file.Files.delete(plan)
    java.nio.file.Files.delete(plans)
  }
}
