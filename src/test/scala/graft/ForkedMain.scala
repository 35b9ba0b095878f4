package graft

/** Runs a main class in its own JVM on this JVM's classpath (sbt's forked
  * test JVM carries the full classpath on java.class.path), with the JVM
  * options spark-submit would add. For mains
  * that must own their process: a different master, their own env, or a
  * `spark.stop()` that must not end the suites' shared session. */
object ForkedMain {
  /** Exit code and the interleaved stdout + stderr lines. */
  def run(mainClass: String, args: Seq[String], env: Seq[(String, String)],
      heap: String = "4g"): (Int, Seq[String]) = {
    import scala.sys.process._
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++ Seq(
      s"-Xmx$heap",
      "-cp", System.getProperty("java.class.path"),
      mainClass) ++ args
    val out = Vector.newBuilder[String]
    val log = ProcessLogger(l => out.synchronized(out += l), l => out.synchronized(out += l))
    val code = Process(cmd, None, env: _*).!(log)
    (code, out.result())
  }
}
