package graft

/** Standalone runner for the amplified-scale probe (dev loop: iterate on
  * the probe without paying the full 212-query bench first).
  *
  *   runMain graft.ScaleProbeMain [amp] [passes] [stagePasses]
  *
  * Probes SPARK_GRAFT_SF_DIR (default sf0.1) at the given amplification
  * against no baseline (ratios empty — this runner is for stage timings,
  * disk behavior and stage_errors, not regression flags). Prints the
  * bench report's scale-probe section for the run.
  */
object ScaleProbeMain {
  def main(args: Array[String]): Unit = {
    val amp = args.headOption.map(_.toInt).getOrElse(100)
    val passes = args.lift(1).map(_.toInt).getOrElse(1)
    val stagePasses = args.lift(2).map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt,
      Map("spark.cleaner.periodicGC.interval" -> "2min"))
    val dest = new java.io.File(sys.props("java.io.tmpdir"), s"graft_amp$amp").getAbsolutePath
    val r = ScaleProbe.run(spark, sfDir, dest, amp, Bench.probeNames,
      Map.empty, linFactor = amp.toDouble, passes = passes, budgetSec = 2400.0,
      stagePasses = stagePasses)
    println(ScaleProbe.section(r).render)
    graft.rawdata.Topic.rmTree(new java.io.File(dest))
    spark.stop()
  }
}
