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
          var rows = -1L
          val runs = (1 to 2).map { _ =>
            spark.catalog.clearCache()
            graft.Bench.timed { rows = graft.SparkEntry.queries(n)(spark, dir).count() }
          }
          // a pass that threw has no time: it shows as its exception
          val min = if (runs.forall(_.isRight)) graft.Json.fmt(runs.flatMap(_.toOption).min) else "error"
          println(s"  $min s  (passes ${runs.map(_.fold(_.getClass.getSimpleName, graft.Json.fmt)).mkString("/")}, rows $rows)")
      }
    }
    spark.stop()
  }
}
