package graft

import graft.functions.TokenCountEnvelope

/** The session factory every main and spec takes its session from. */
class GraftSessionSpec extends SparkSpec {

  test("the factory's session carries graft's settings") {
    // a fresh session of the shared context: conf another suite set at
    // runtime does not show here, only what the context was built with
    val s = spark.newSession()
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get(Tables.NanosAsLong) === "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") === "24000")
    assert(s.conf.get("spark.sql.shuffle.partitions").toInt ===
      GraftSession.coresOf(s.sparkContext.master))
    assert(GraftSession.coresOf(s.sparkContext.master) === 4)
  }

  test("core count of each master form") {
    assert(GraftSession.coresOf("local[8]") === 8)
    assert(GraftSession.coresOf("local[4, 4]") === 4)
    assert(GraftSession.coresOf("local-cluster[2,4,1536]") === 8)
    assertThrows[IllegalArgumentException](GraftSession.coresOf("yarn"))
  }

  test("setup twice installs graft's optimizer rule once") {
    val s = spark.newSession()
    GraftSession.setup(s)
    GraftSession.setup(s)
    assert(s.experimental.extraOptimizations.count(_ == TokenCountEnvelope) === 1)
  }
}
