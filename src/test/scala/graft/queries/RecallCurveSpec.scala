package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkEntry}

/** Laws for ann_ivf_recall (the nprobe sweep) and ev_forecast (the
  * seasonal-naive backtest) that the value-compare can't state:
  * monotonicity of the recall curve, consistency with ann_ivf_topk, and
  * a from-scratch backtest recompute.
  */
class RecallCurveSpec extends SparkSpec {

  test("ann_ivf_recall: recall is monotone in nprobe and consistent with ann_ivf_topk") {
    val spark2 = spark
    import spark2.implicits._
    val rows = SparkEntry.queries("ann_ivf_recall")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    spark.catalog.clearCache()
    val byQid = rows.groupBy(_._2)
    assert(byQid.nonEmpty)
    for ((qid, rs) <- byQid) {
      val r = rs.map(x => x._1 -> x._4).toMap
      assert(r.keySet == Set(1L, 2L, 4L), s"qid $qid missing a sweep point")
      assert(r(1L) <= r(2L) && r(2L) <= r(4L),
        s"qid $qid: widening the probe set must never lose recall")
    }
    for ((_, _, hits, ppm) <- rows) assert(ppm == hits * 1000000L / 5)

    // the nprobe=2 sweep point must equal a direct recall computation
    // of ann_ivf_topk (the production operator) against ann_brute_topk
    val ivf = SparkEntry.queries("ann_ivf_topk")(spark, sf)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val brute = SparkEntry.queries("ann_brute_topk")(spark, sf)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    val direct = brute.groupBy(_._1).map { case (q, ps) =>
      q -> ps.count(ivf.contains).toLong }
    for ((qid, hits) <- direct)
      assert(rows.find(r => r._1 == 2L && r._2 == qid).get._3 == hits,
        s"qid $qid: sweep point 2 disagrees with the production operator")
  }

  test("ann_ivf_recall: the corpus side is the pruned index scan, never a re-assignment") {
    // r14 shape law: the sweep's cells come from EmbIvfIndex's posting
    // lists PARTITION-PRUNED to the probed cells (the ann_ivf_index
    // serving contract) — a regression back to the inline full-corpus
    // assignment would drop the partition filter from every cells scan
    val df = SparkEntry.queries("ann_ivf_recall")(spark, sf)
    // sparkPlan, not executedPlan: AQE wraps the executed tree in
    // AdaptiveSparkPlanExec, which hides the scans from collect()
    // match on the 'cells' path segment (r15, ADVICE): the codebook
    // table lives under the same graft-ivf-index root and also carries
    // cent_id — without the segment filter this law would spuriously
    // demand partition pruning of the unpartitioned codebook read
    val cellScans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(p =>
          p.toString.contains("graft-ivf-index") && p.toString.contains("cells")) &&
          s.output.exists(_.name == "cent_id") => s
    }
    assert(cellScans.nonEmpty, "ann_ivf_recall no longer reads the IVF posting lists")
    // the probed-cells list itself (EmbIvfIndex.probedCells' isin), not
    // just the isnotnull(cent_id) every partitioned read carries
    def probedList(e: org.apache.spark.sql.catalyst.expressions.Expression) = e.exists {
      case in: org.apache.spark.sql.catalyst.expressions.In => in.value.references.exists(_.name == "cent_id")
      case in: org.apache.spark.sql.catalyst.expressions.InSet => in.child.references.exists(_.name == "cent_id")
      case _ => false
    }
    assert(cellScans.forall(_.partitionFilters.exists(probedList)),
      "the posting-list scan lost its probed-cells partition pruning")
    spark.catalog.clearCache()
  }

  test("emb_pq_distortion: codebook vectors encode exactly, means bounded by maxes") {
    val spark2 = spark
    import spark2.implicits._
    val rows = SparkEntry.queries("emb_pq_distortion")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    spark.catalog.clearCache()
    assert(rows.map(_._1).toSeq == (0L to 7L), "one row per subspace, in order")
    val nVecs = rows.head._2
    for ((sub, n, mean, mx, exact) <- rows) {
      assert(n == nVecs, s"subspace $sub saw a different corpus")
      assert(mean >= 0 && mean <= mx)
      // each of the 16 codebook vectors is its own codeword -> 0 error
      assert(exact >= 16, s"subspace $sub lost a codebook self-encode")
      assert(exact <= n)
    }
  }

  test("emb_cross_label agrees with a direct label join of dd_embed_lsh") {
    val spark2 = spark
    import spark2.implicits._
    val pairs = SparkEntry.queries("dd_embed_lsh")(spark, sf)
      .select($"vec_a", $"vec_b", $"cos_ppm").as[(Long, Long, Long)].collect()
    val labels = graft.Tables.t(spark, sf, "embeddings")
      .select($"vec_id", $"label".cast("long")).as[(Long, Long)].collect().toMap
    val expected = pairs
      .filter { case (a, b, _) => labels(a) != labels(b) }
      .groupBy { case (a, b, _) =>
        (math.min(labels(a), labels(b)), math.max(labels(a), labels(b))) }
      .map { case ((lo, hi), ps) => (lo, hi, ps.length.toLong, ps.map(_._3).max) }
      .toSeq.sortBy { case (lo, hi, _, _) => (lo, hi) }
    val got = SparkEntry.queries("emb_cross_label")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    assert(got == expected)
    assert(got.nonEmpty, "the synthetic corpus has known cross-label near-dups")
  }

  test("emb_centroid_confusion matches a from-scratch centroid-tagging recompute") {
    val spark2 = spark
    import spark2.implicits._
    val raw = graft.Tables.t(spark, sf, "embeddings")
      .select($"vec_id", $"embedding", $"label".cast("long"))
      .as[(Long, Seq[Float], Long)].collect()
    val vecs = raw.map { case (id, emb, lab) =>
      (id, emb.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray, lab)
    }

    // integer floor-mean centroid per (label, dim), like the engine
    val cents = vecs.groupBy(_._3).map { case (lab, vs) =>
      val dims = vs.head._2.length
      lab -> Array.tabulate(dims) { i =>
        val sx = vs.map(_._2(i)).sum
        val n = vs.length
        (sx - (((sx % n) + n) % n)) / n
      }
    }
    val expected = vecs.map { case (_, q, trueLab) =>
      val assigned = cents.toSeq.map { case (lab, c) =>
        (q.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, lab)
      }.min._2
      (trueLab, assigned)
    }.groupBy(identity).map { case ((t, a), xs) => (t, a, xs.length.toLong) }
      .toSeq.sorted

    val got = SparkEntry.queries("emb_centroid_confusion")(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    assert(got == expected, "confusion matrix diverges from the naive recompute")
    assert(got.map(_._3).sum == vecs.length.toLong)
  }

  test("ev_forecast matches a from-scratch seasonal-naive backtest") {
    val spark2 = spark
    import spark2.implicits._
    val daily = graft.Tables.events(spark, sf)
      .select($"event_type", expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()

    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (tp, ds) =>
      val errs = ds.groupBy { case (_, day, _) => (day + 4) % 7 }.values.flatMap { grp =>
        val sorted = grp.sortBy(_._2)
        sorted.zipWithIndex.drop(1).map { case ((_, _, n), i) =>
          val prior = sorted.take(i).map(_._3)
          math.abs(n - prior.sum / prior.length)
        }
      }.toSeq
      // a type whose every dow group is a singleton has nothing scored
      // and is absent from the engine output too
      if (errs.isEmpty) None
      else Some((tp, errs.length.toLong, errs.sum / errs.length, errs.max))
    }

    val got = SparkEntry.queries("ev_forecast")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected, "backtest diverges from the naive recompute")
    assert(got.nonEmpty)
  }
}
