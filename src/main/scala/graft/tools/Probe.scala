package graft.tools

/** Dev tool: `runMain graft.tools.Probe [explain|time <sfDir>] <query>...`
  * — show results (default), the formatted physical plan, or isolated
  * timings for SparkEntry queries: two passes each with the cache cleared
  * before each, reporting the min, both passes and the row count.
  * show/explain run at sf0.01; time runs at the given dir on local[32] to
  * match Bench.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (mode, dir, names) = args.toSeq match {
      case "explain" +: rest => ("explain", "/root/testdata/sf0.01", rest)
      case "time" +: d +: rest => ("time", d, rest)
      case rest if rest.nonEmpty => ("show", "/root/testdata/sf0.01", rest)
      case _ => ("show", "/root/testdata/sf0.01", Seq("q1_agg"))
    }
    val spark = if (mode == "time") graft.GraftSession() else graft.GraftSession("local[8]", 8)
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      println(s"== $n")
      mode match {
        case "explain" => df.explain("formatted")
        case "show" => df.show(50, false)
        case "time" =>
          val runs = (1 to 2).map { _ =>
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            val rows = graft.SparkEntry.queries(n)(spark, dir).count()
            ((System.nanoTime() - t0) / 1e9, rows)
          }
          println(f"  ${runs.map(_._1).min}%.2f s  (passes ${runs.map(r => f"${r._1}%.2f").mkString("/")}, rows ${runs.head._2})")
      }
    }
    spark.stop()
  }
}
