package graft

import org.scalatest.funsuite.AnyFunSuite

/** Multi-JVM execution gate, CI-runnable: forks
  * [[graft.tools.ClusterProbe]] as its own process (it cannot share this
  * suite's `local[*]` SparkContext — the probe owns a
  * `local-cluster[2,4,1536]` master whose workers fork REAL executor
  * JVMs), and asserts the full slice is identical across the process
  * boundary. This is the one failure class `local[*]` can never surface:
  * closure serialization, typed-Aggregator encoder buffers crossing
  * partial-agg serialization, native-kernel reference objects compiled on
  * executor side, broadcast materialization over RPC, DSv2 partition
  * planning serde.
  *
  * The fork inherits this JVM's full classpath (sbt forked tests put it
  * on java.class.path), which the probe propagates to executors via
  * spark.executor.extraClassPath — the same shape as shipping the
  * application jar on a real cluster.
  */
class LocalClusterSpec extends AnyFunSuite {

  test("representative query slice is identical under local-cluster[2,4] (real executor JVMs)") {
    val rt = java.nio.file.Files.createTempDirectory("graft-probe-rt-").toString
    val (code, out) = ForkedMain.run("graft.tools.ClusterProbe", Nil, Seq(
      "SPARK_HOME" -> "/opt/spark",
      "SPARK_SCALA_VERSION" -> "2.13",
      "GRAFT_ROUNDTRIP_DIR" -> rt))
    val probeLines = out.filter(_.startsWith("[probe]")).mkString("\n")
    assert(code === 0, s"ClusterProbe exited $code:\n$probeLines")
    assert(
      probeLines.contains(s"${graft.tools.ClusterProbe.slice.size}/" +
        s"${graft.tools.ClusterProbe.slice.size} queries identical across JVM boundaries"),
      s"probe slice incomplete:\n$probeLines")
  }
}
