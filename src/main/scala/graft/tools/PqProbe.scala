package graft.tools

/** Calibration probe for the PQ `_check` gate twins: for each SF dir
  * given, report the ADC rank of every true-top-10 member under the
  * plain-PQ and IVF-PQ orderings, plus the probe-order rank of each
  * member's IVF cell. These measurements size `CheckShortlistFrac` and
  * `CheckIvfProbes` in Similarity (readings in NOTES_BUILD.md). Re-run
  * after any codebook/seed change:
  * `sbt "runMain graft.tools.PqProbe /root/testdata/sf0.001 ..."`. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("local[8]", "ERROR")
    args.foreach { d =>
      val (n, ranks, ivfRanks) = graft.operators.Similarity.pqProbe(spark, d)
      println(s"PROBE dir=$d n=$n adcRanksOfTrueTop10=${ranks.mkString(",")} ivfAdcRanks=${ivfRanks.mkString(",")}")
    }
    spark.stop()
  }
}
