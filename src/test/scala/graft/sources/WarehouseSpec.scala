package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Cross-JVM warehouse artifact reuse ([[Warehouse.ensureVia]]'s
  * `reuseFrom` path): a fingerprint-matching leftover directory is
  * re-registered instead of re-built, the re-registered table keeps its
  * physical layout (bucket spec / recovered partitions), and any change
  * to the source data invalidates the marker. The "other JVM" is
  * simulated by saving the table files aside, dropping the catalog entry
  * (which, for a managed table, deletes the files), and restoring the
  * files — exactly the state a fresh JVM sees over a shared warehouse
  * dir. */
class WarehouseSpec extends SparkSpec {

  private def warehouseDir: java.io.File = new java.io.File(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  /** Drop `name` from the catalog while PRESERVING its files — the state
    * a new JVM finds: files on disk, no metadata. */
  private def dropKeepingFiles(name: String): Unit = {
    val dir = new java.io.File(warehouseDir, name)
    val aside = new java.io.File(warehouseDir, name + "__aside")
    if (aside.exists()) Warehouse.rm(aside)
    java.nio.file.Files.move(dir.toPath, aside.toPath)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    if (dir.exists()) Warehouse.rm(dir)
    java.nio.file.Files.move(aside.toPath, dir.toPath)
  }

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[java.io.File]
  private val madeTables = scala.collection.mutable.ListBuffer.empty[String]

  private def freshSrcDir(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_wh_$tag").toFile
    tempDirs += d
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .write.mode("overwrite").parquet(new java.io.File(d, "t.parquet").toString)
    d
  }

  override def afterAll(): Unit = {
    // the random temp path is embedded in each table name, so a leaked
    // table dir would never be reused by a later run — drop both the
    // catalog entries (managed data included) and any external leftovers,
    // plus the temp source dirs
    for (t <- madeTables) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(warehouseDir, t.toLowerCase)
      if (dir.exists()) Warehouse.rm(dir)
    }
    tempDirs.foreach(Warehouse.rm)
    super.afterAll()
  }

  test("bucketed table is re-registered from files with its bucket spec intact") {
    val src = freshSrcDir("bucket")
    val name = Warehouse.tableName("graft_spec_reuse_b", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensure(spark, name, "id", 4, Some(src.toString)) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
    }
    build()
    assert(builds === 1)
    val rows = spark.table(name).orderBy("id").collect().map(_.getString(1)).toSeq

    dropKeepingFiles(name)
    build()
    assert(builds === 1, "fingerprint match must re-register, not re-build")
    assert(spark.table(name).orderBy("id").collect().map(_.getString(1)).toSeq === rows)
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
    assert(meta.bucketSpec.exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("id")),
      s"bucket spec lost on reuse: ${meta.bucketSpec}")
  }

  test("partitioned table reuse recovers partitions and still partition-prunes") {
    val src = freshSrcDir("part")
    val name = Warehouse.tableName("graft_spec_reuse_p", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensurePartitioned(spark, name, "k", Some(src.toString)) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
    }
    build()
    dropKeepingFiles(name)
    build()
    assert(builds === 1)
    assert(spark.sql(s"SHOW PARTITIONS $name").count() === 2)
    assert(spark.table(name).filter(col("k") === "a").count() === 2)
    // the probe plan prunes to the one matching partition directory
    val scan = spark.table(name).filter(col("k") === "a")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("k"), scan)
  }

  test("changed source data invalidates the marker and forces a re-build") {
    val src = freshSrcDir("inval")
    val name = Warehouse.tableName("graft_spec_reuse_i", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensureVia(spark, name, Some(src.toString)) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build()
    dropKeepingFiles(name)
    // new data under the source dir → different fingerprint
    import spark.implicits._
    Seq((9L, "z")).toDF("id", "k")
      .write.mode("overwrite").parquet(new java.io.File(src, "t.parquet").toString)
    build()
    assert(builds === 2, "stale marker must not serve a table built from old data")
    assert(spark.table(name).count() === 1)
  }

  test("a truncated marker (missing partcols) is rejected — rebuild, not a NULL-column registration") {
    // markers are published by atomic rename, but a marker written by an
    // older build could be missing keys; registering a PARTITIONED
    // layout without its PARTITIONED BY would read the
    // directory-encoded column as NULLs — the reuse path must reject
    // and rebuild instead
    val src = freshSrcDir("trunc")
    val name = Warehouse.tableName("graft_spec_reuse_t", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensurePartitioned(spark, name, "k", Some(src.toString)) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
    }
    build()
    dropKeepingFiles(name)
    // corrupt the marker: drop the partcols line (keep fp + ddl intact)
    val metaF = new java.io.File(new java.io.File(warehouseDir, name.toLowerCase), "_graft_meta")
    val kept = scala.io.Source.fromFile(metaF, "UTF-8").getLines()
      .filterNot(_.startsWith("partcols")).mkString("\n")
    java.nio.file.Files.writeString(metaF.toPath, kept)
    build()
    assert(builds === 2, "a truncated marker must force a rebuild")
    assert(spark.table(name).filter(col("k").isNull).count() === 0,
      "re-registered table read the partition column as NULLs")
    assert(spark.table(name).filter(col("k") === "a").count() === 2)
  }

  test("codeFingerprint covers jar classpaths and refuses unknown provenance") {
    def mkJar(tag: String, entry: String, bytes: Int): java.io.File = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_wh_jar_$tag").toFile
      tempDirs += d
      val f = new java.io.File(d, s"$tag.jar")
      val out = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
      try {
        out.putNextEntry(new java.util.zip.ZipEntry(entry))
        out.write(Array.fill[Byte](bytes)(7))
        out.closeEntry()
      } finally out.close()
      f
    }
    // note: no "graft/" DIRECTORY entry is written — detection must work
    // from the class entry alone (shaded jars omit directory entries)
    val graftJar = mkJar("withgraft", "graft/Dummy.class", 64)
    val otherJar = mkJar("nograft", "other/Dummy.class", 64)
    val fp1 = Warehouse.codeFingerprintOf(graftJar.getPath)
    assert(fp1.isDefined, "a graft-bearing jar must fingerprint")
    assert(Warehouse.codeFingerprintOf(otherJar.getPath).isEmpty,
      "a classpath with no graft-bearing entry is unknown provenance -> None (reuse refused)")
    assert(Warehouse.codeFingerprintOf("").isEmpty)
    // a swapped jar (different size => different artifact) must change it
    val graftJar2 = mkJar("withgraft2", "graft/Dummy.class", 128)
    // same path string length irrelevant — compare via a classpath that
    // only swaps which jar sits at the front
    val sep = java.io.File.pathSeparator
    val a = Warehouse.codeFingerprintOf(graftJar.getPath + sep + otherJar.getPath)
    val b = Warehouse.codeFingerprintOf(graftJar2.getPath + sep + otherJar.getPath)
    assert(a.isDefined && b.isDefined && a != b,
      "a different jar artifact must produce a different code fingerprint")
  }

  test("codeFingerprint of a classes dir follows class bytes, not mtimes") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_wh_cls_a").resolve("classes")
    val copy = Files.createTempDirectory("graft_wh_cls_b").resolve("classes")
    tempDirs ++= Seq(src.getParent.toFile, copy.getParent.toFile)
    val files = Seq("graft/A.class" -> 40, "graft/sub/B.class" -> 90, "META-INF/x" -> 8)
    files.foreach { case (rel, n) =>
      val f = src.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, Array.tabulate[Byte](n)(i => (i * 31 + n).toByte))
    }
    // an identical recompile: same bytes, every mtime moved
    files.foreach { case (rel, _) =>
      val (f, dst) = (src.resolve(rel), copy.resolve(rel))
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(f).toMillis + 3600000L))
    }
    val fpSrc = Warehouse.codeFingerprintOf(src.toString)
    assert(fpSrc.isDefined)
    assert(Warehouse.codeFingerprintOf(copy.toString) === fpSrc,
      "an identical recompile must keep the code fingerprint")
    val b = copy.resolve("graft/sub/B.class")
    val bytes = Files.readAllBytes(b)
    bytes(17) = (bytes(17) ^ 1).toByte
    Files.write(b, bytes)
    assert(Warehouse.codeFingerprintOf(copy.toString) !== fpSrc,
      "one changed class byte must change the code fingerprint")
  }

  test("a concurrent ensure cannot clear a mid-build table dir (build lock)") {
    val src = freshSrcDir("race")
    val name = Warehouse.tableName("graft_spec_reuse_r", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensureVia(spark, name, Some(src.toString)) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build()
    assert(builds === 1)
    dropKeepingFiles(name)
    val tblDir = new java.io.File(warehouseDir, name.toLowerCase)
    val metaF = new java.io.File(tblDir, "_graft_meta")
    val metaAside = new java.io.File(tblDir.getParentFile, name.toLowerCase + "__meta_aside")
    // simulate ANOTHER JVM mid-build: its lock is held, its table dir has
    // files but no marker yet (the exact state r12's clearLeftover would
    // have deleted from under it)
    java.nio.file.Files.move(metaF.toPath, metaAside.toPath)
    val lock = new java.io.File(warehouseDir, name.toLowerCase + "._graft_lock")
    assert(lock.createNewFile())
    val dataFiles = tblDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val waiter = Future(build())
    Thread.sleep(800)
    assert(!waiter.isCompleted, "ensure must wait on the holder's lock")
    assert(dataFiles.forall(_.exists()),
      "a waiting ensure deleted the lock holder's mid-build files")
    // the holder finishes: marker published, lock released
    java.nio.file.Files.move(metaAside.toPath, metaF.toPath)
    assert(lock.delete())
    Await.result(waiter, 30.seconds)
    assert(builds === 1, "the waiter must adopt the holder's published files, not rebuild")
    assert(spark.table(name).count() === 3)
  }

  test("a stale (crash-leaked) lock is stolen and the build proceeds") {
    val src = freshSrcDir("stale")
    val name = Warehouse.tableName("graft_spec_reuse_s", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val lock = new java.io.File(warehouseDir, name.toLowerCase + "._graft_lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    var builds = 0
    Warehouse.ensureVia(spark, name, Some(src.toString)) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    assert(builds === 1, "an hours-old lock must be presumed crash-leaked and stolen")
    assert(!lock.exists(), "the stolen-and-reacquired lock must be released after the build")
    assert(spark.table(name).count() === 3)
  }

  /** Run `body` with the lock-steal age lowered to `ms`, restoring the
    * previous value (or absence) afterwards. */
  private def withStaleMs[A](ms: Long)(body: => A): A = {
    val key = "graft.warehouse.lockStaleMs"
    val prev = sys.props.get(key)
    sys.props(key) = ms.toString
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("a live holder heartbeats its lock: a build slower than the stale age keeps a fresh mtime and is not steal-eligible") {
    withStaleMs(1000) {
      val src = freshSrcDir("slow")
      val name = Warehouse.tableName("graft_spec_reuse_slow", src.toString)
      madeTables += name
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val lock = new java.io.File(warehouseDir, name.toLowerCase + "._graft_lock")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      var builds = 0
      val holder = Future(Warehouse.ensureVia(spark, name, Some(src.toString)) {
        builds += 1
        Thread.sleep(2600) // 2.6x the stale age — a "slow" build
        spark.read.parquet(new java.io.File(src, "t.parquet").toString)
          .write.saveAsTable(name)
      })
      // past 2x the stale age the build is still running, yet the lock's
      // mtime must be recent — the exact predicate a foreign JVM's steal
      // check reads, so a heartbeating live build can never be stolen
      Thread.sleep(2200)
      assert(!holder.isCompleted, "the slow build should still be running")
      assert(lock.exists(), "the holder's lock vanished mid-build")
      val age = System.currentTimeMillis() - lock.lastModified
      assert(age < 1000, s"heartbeat failed: lock mtime is ${age}ms old (>= stale age)")
      Await.result(holder, 30.seconds)
      assert(builds === 1)
      assert(!lock.exists(), "lock must be released after the slow build")
      assert(spark.table(name).count() === 3)
    }
  }

  test("a heartbeating FOREIGN lock is waited on past the stale age, never stolen") {
    withStaleMs(800) {
      val src = freshSrcDir("flive")
      val name = Warehouse.tableName("graft_spec_reuse_fl", src.toString)
      madeTables += name
      spark.sql(s"DROP TABLE IF EXISTS $name")
      var builds = 0
      def build(): Unit = Warehouse.ensureVia(spark, name, Some(src.toString)) {
        builds += 1
        spark.read.parquet(new java.io.File(src, "t.parquet").toString)
          .write.saveAsTable(name)
      }
      build()
      assert(builds === 1)
      dropKeepingFiles(name)
      val tblDir = new java.io.File(warehouseDir, name.toLowerCase)
      val metaF = new java.io.File(tblDir, "_graft_meta")
      val metaAside = new java.io.File(tblDir.getParentFile, name.toLowerCase + "__meta_aside")
      java.nio.file.Files.move(metaF.toPath, metaAside.toPath)
      // simulate a LIVE foreign JVM: its lock carries its token and its
      // heartbeat keeps the mtime fresh on a 200ms tick
      val lock = new java.io.File(warehouseDir, name.toLowerCase + "._graft_lock")
      java.nio.file.Files.write(lock.toPath, "foreign-jvm-token".getBytes("UTF-8"))
      @volatile var ticking = true
      val ticker = new Thread(() => {
        while (ticking) { lock.setLastModified(System.currentTimeMillis()); Thread.sleep(200) }
      })
      ticker.setDaemon(true)
      ticker.start()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val waiter = Future(build())
      Thread.sleep(2000) // 2.5x the stale age
      assert(!waiter.isCompleted, "ensure must keep waiting on a live (heartbeating) foreign lock")
      assert(new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")
        === "foreign-jvm-token", "the live foreign lock was stolen/replaced")
      // the foreign holder finishes: marker published, lock released
      ticking = false
      ticker.join()
      java.nio.file.Files.move(metaAside.toPath, metaF.toPath)
      assert(lock.delete())
      Await.result(waiter, 30.seconds)
      assert(builds === 1, "the waiter must adopt the foreign holder's files, not rebuild")
      assert(spark.table(name).count() === 3)
    }
  }

  test("a steal victim neither deletes the stealer's lock nor publishes a marker") {
    val src = freshSrcDir("victim")
    val name = Warehouse.tableName("graft_spec_reuse_v", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val lock = new java.io.File(warehouseDir, name.toLowerCase + "._graft_lock")
    var builds = 0
    Warehouse.ensureVia(spark, name, Some(src.toString)) {
      builds += 1
      // simulate the pathological case the heartbeat can't cover (a JVM
      // pause past the FULL stale age): mid-build, a stealer has renamed
      // our lock away and created its own
      java.nio.file.Files.write(lock.toPath, "stealer-token".getBytes("UTF-8"))
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    assert(builds === 1)
    assert(lock.exists(), "the victim deleted the STEALER's lock")
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")
      === "stealer-token")
    val metaF = new java.io.File(new java.io.File(warehouseDir, name.toLowerCase), "_graft_meta")
    assert(!metaF.exists(),
      "the victim published a marker over a directory it no longer owns")
    assert(lock.delete())
  }

  test("source rewritten under a LIVE JVM invalidates the registered artifact (exists-path revalidation)") {
    val src = freshSrcDir("livechg")
    val name = Warehouse.tableName("graft_spec_reuse_lc", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensureVia(spark, name, Some(src.toString)) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build()
    assert(builds === 1)
    // NO catalog drop: the table stays registered while the source dir
    // is rewritten under the live JVM
    import spark.implicits._
    Seq((7L, "q"), (8L, "q")).toDF("id", "k")
      .write.mode("overwrite").parquet(new java.io.File(src, "t.parquet").toString)
    build()
    assert(builds === 2, "the exists fast-path served a stale artifact after a source rewrite")
    assert(spark.table(name).count() === 2)
    // and an UNCHANGED source keeps the fast path (no third build)
    build()
    assert(builds === 2)
  }

  test("a leftover directory WITHOUT a marker is cleared and re-built (old behavior)") {
    val src = freshSrcDir("nomark")
    val name = Warehouse.tableName("graft_spec_reuse_n", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(reuse: Option[String]): Unit = Warehouse.ensureVia(spark, name, reuse) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build(None) // no marker written
    dropKeepingFiles(name)
    build(Some(src.toString))
    assert(builds === 2)
    assert(spark.table(name).count() === 3)
  }
}
