package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per suite; small
  * shuffle-partition count so tiny fixtures don't schedule 200 tasks. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // 4 threads, maxFailures=4 → retry semantics testable; the same
  // session settings and optimizer surface the mains run with
  lazy val spark: SparkSession =
    GraftSession("local[4, 4]", conf = Map("spark.app.name" -> getClass.getSimpleName))

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }

  def sfDir: String = "/root/testdata/sf0.001"

  /** Drop a versioned-snapshot table family (state, marker log, version
    * snapshots) from the catalog AND the warehouse dir — shared by every
    * VersionedTable-consumer spec so a previous run's files can't leak
    * into this one. */
  def freshVersionedTables(name: String, maxVersion: Int = 40): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    for (t <- Seq(name, name + "_commits") ++ (0 to maxVersion).map(name + "_v" + _)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (dir.exists) rm(dir)
    }
  }
}
