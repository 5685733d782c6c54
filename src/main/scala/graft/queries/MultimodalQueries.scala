package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.rawdata.{EventsAsTopic, Topic}

/** SURVEY §2.G — multimodal plumbing: image/audio/video-style payloads are
  * opaque `binary` columns (here: the rawdata topic's `data` map, exactly
  * how the reference ships documents — AvroRawdataProducer.java:44-50's
  * map<string,bytes>). The decode step is a clearly-marked deterministic
  * stub (no codec libs in this environment); the Spark plumbing — schema,
  * per-partition batching, partitioning — is real and oracle-checked.
  */
object MultimodalQueries {
  type Q = (SparkSession, String) => DataFrame

  private def topic(s: SparkSession, d: String): String = EventsAsTopic.topicDir(s, d)

  /** (position, key, payload) rows for a bounded message range — the
    * exploded view of the topic's binary payload map
    */
  private def payloads(s: SparkSession, d: String, maxSeq: Long): DataFrame = {
    import s.implicits._
    Topic.readDF(s, topic(s, d))
      .filter($"sequenceNumber" < maxSeq)
      .select($"position", explode($"data").as(Seq("key", "payload")))
  }

  /** (carry…, phash) of each row of a (…, txt) relation whose txt has at
    * least 4 chars: the native single-pass phash32 kernel — row-local
    * (no gram explode, no 32-column grouped aggregation), bit-equal to
    * the SQL form by the order-independence of the ±1 bit sums
    * (PhashKernelSpec); the oracles keep the explicit SQL replay
    */
  private[graft] def phashed(p: DataFrame, carry: Seq[String]): DataFrame =
    p.filter(length(col("txt")) >= 4).select(carry.map(col) :+
      org.apache.spark.sql.graftbridge.ColumnBridge.column(graft.functions.Phash32(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("txt")))).as("phash"): _*)

  /** (position, phash) of every `props` payload */
  private def phashSigs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    phashed(payloads(s, d, 300).filter($"key" === "props")
      .select($"position", decode($"payload", "UTF-8").as("txt")), Seq("position"))
  }

  /** the shared banded phash candidate relation (pos_a, pos_b, hamming),
    * consumed by mm_phash_pairs (≤3 cut), mm_phash_hist (full curve) and
    * transitively mm_phash_clusters: candidates come from 4×8-bit band
    * buckets ([[DedupQueries.bitBands]]), never all-pairs. The signature
    * relation is persisted (caller owns the cache scope — the SparkEntry
    * contract).
    */
  private def phashCandidates(s: SparkSession, d: String): DataFrame = {
    val banded = DedupQueries.bitBands(phashSigs(s, d).persist(), "phash", 4, 8)
    DedupQueries.bitBandJoin(banded, banded, "phash")
      .filter(col("a.position") < col("b.position"))
      .select(col("a.position").as("pos_a"), col("b.position").as("pos_b"), col("hamming"))
      .distinct()
  }

  val queries: Map[String, Q] = Map(
    // power-of-2 byte-size band histogram per payload key — the storage
    // shape audit behind shard packing and resize budgets (a media
    // corpus whose mass sits two bands above the plan's assumption blows
    // every batch-size estimate): band = exact floor(log₂ bytes) via
    // length(bin(x)) − 1 (zero libm — no 1-ulp boundary divergence at
    // exact powers of two, the q67 trick). Scale shape: one narrow
    // length projection (payload bytes never shuffle), one partial agg
    // onto the ≤64-band-per-key space.
    "mm_size_bands" -> { (s, d) =>
      import s.implicits._
      payloads(s, d, 500)
        .select($"key", length($"payload").cast("long").as("n_bytes"))
        .filter($"n_bytes" > 0)
        .withColumn("band", expr("CAST(length(bin(n_bytes)) - 1 AS BIGINT)"))
        .groupBy($"key", $"band")
        .agg(count(lit(1)).as("n_payloads"), sum($"n_bytes").as("total_bytes"),
          min($"n_bytes").as("min_bytes"), max($"n_bytes").as("max_bytes"))
        .orderBy($"key", $"band")
    },

    // per-day payload storage growth by key — the capacity curve a
    // multimodal store is provisioned from (bytes landing per day per
    // modality; the derivative of mm_shard_pack's static total): day
    // from the message ULID timestamp, one narrow length projection
    // (payload bodies never shuffle), partial agg onto the calendar ×
    // |keys| grid.
    "mm_bytes_by_day" -> { (s, d) =>
      import s.implicits._
      Topic.readDF(s, topic(s, d))
        .filter($"sequenceNumber" < 500)
        .select(expr("ts_ms div 86400000").as("day"), explode($"data").as(Seq("key", "payload")))
        .groupBy($"day", $"key")
        .agg(count(lit(1)).as("n_payloads"),
          sum(length($"payload")).cast("long").as("total_bytes"))
        .orderBy($"day", $"key")
    },

    // per-day payload-size drift per key — the "camera firmware /
    // encoder config changed upstream" alarm (mm_bytes_by_day shows the
    // mass; this normalizes each day's MEAN payload size against the
    // key's corpus-wide mean, so a provisioning assumption silently
    // going stale shows as drift before the shards overflow): exact
    // milli ratio by cross-multiplication — (day_bytes·key_n·10³) div
    // (day_n·key_bytes), no float division. Scale shape: one narrow
    // length projection (payload bodies never shuffle), a calendar ×
    // |keys| partial agg, a |keys|-row broadcast join.
    "mm_size_drift" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val per = Topic.readDF(s, topic(s, d))
        .filter($"sequenceNumber" < 500)
        .select(expr("ts_ms div 86400000").as("day"),
          explode($"data").as(Seq("key", "payload")))
        .select($"day", $"key", length($"payload").cast("long").as("nb"))
        .groupBy($"day", $"key")
        .agg(count(lit(1)).as("day_n"), sum($"nb").as("day_bytes"))
      val tot = per.groupBy($"key")
        .agg(sum($"day_n").as("key_n"), sum($"day_bytes").as("key_bytes"))
      per.join(broadcast(tot), Seq("key"))
        .select($"day", $"key", $"day_n", $"day_bytes",
          // a key whose payloads are ALL zero-length has key_bytes = 0:
          // drift against a zero mean is undefined — NULL, never a
          // divide-by-zero throw under ANSI mode
          expr(s"""CASE WHEN key_bytes = 0 THEN NULL ELSE
                  |  CAST((CAST(day_bytes AS DECIMAL(38,0)) * key_n * 1000)
                  |    div (CAST(day_n AS DECIMAL(38,0)) * key_bytes) AS BIGINT) END""".stripMargin)
            .as("drift_milli"))
        .orderBy($"day", $"key")
    },

    // container-format mix per payload key — the "what codecs am I
    // actually holding" audit a multimodal ingest runs before picking
    // decode workers: magic-prefix (first 2 bytes, hex) histogram with
    // exact ppm share per key. Scale shape: a 2-byte prefix projection
    // (payload bodies never shuffle), partial agg onto the bounded
    // (key, magic) space, share window over that relation.
    "mm_magic_mix" -> { (s, d) =>
      import s.implicits._
      payloads(s, d, 500)
        .select($"key", upper(hex(expr("substring(payload, 1, 2)"))).as("magic"))
        .groupBy($"key", $"magic").agg(count(lit(1)).as("n"))
        .withColumn("key_n", sum($"n").over(Window.partitionBy($"key")))
        .select($"key", $"magic", $"n",
          expr("(n * 1000000) div key_n").as("share_ppm"))
        .orderBy($"key", $"magic")
    },

    // typed metadata extraction over opaque binary payloads: size, magic
    // bytes, checksum — a narrow codegen'd pass, no shuffle at all
    "mm_meta" -> { (s, d) =>
      import s.implicits._
      payloads(s, d, 500)
        .select($"position", $"key",
          length($"payload").cast("long").as("n_bytes"),
          md5($"payload").as("checksum"),
          upper(hex(substring($"payload", 1, 2))).as("magic"))
    },

    // deterministic frame/chunk sampling: fixed-offset, fixed-stride
    // slices of the binary payload (the frame-sample pattern for video/
    // audio payloads, minus the codec)
    "mm_frame_sample" -> { (s, d) =>
      import s.implicits._
      val stride = 8
      val frames = payloads(s, d, 300).filter($"key" === "props")
        .select($"position", $"payload",
          explode(expr("sequence(0, 2)")).as("frame_idx"))
      frames
        .select($"position", $"frame_idx".cast("long").as("frame_idx"),
          upper(hex(expr(s"substring(payload, frame_idx * $stride + 1, 4)"))).as("frame_hex"))
    },

    // partition-wise batch "decode/feature-extract": mapPartitions pulls
    // payloads through a STUB decoder in fixed-size batches (the real
    // pattern for handing micro-batches to a native decoder), emitting
    // deterministic integer features so even the stub is oracle-checked.
    "mm_featurize" -> { (s, d) =>
      import s.implicits._
      val rows = payloads(s, d, 500).filter($"key" === "props")
        .select($"position", $"payload").as[(String, Array[Byte])]
      val feats = rows.mapPartitions { it =>
        // STUB DECODER: stands in for an image/audio codec. Batches of 256
        // payloads at a time, like a real vectorized decode call.
        it.grouped(256).flatMap { batch =>
          batch.iterator.map { case (pos, bytes) =>
            var sum = 0L
            val hist = new Array[Long](4)
            var i = 0
            while (i < bytes.length) {
              val b = bytes(i) & 0xff
              sum += b
              hist(b >> 6) += 1
              i += 1
            }
            val mean = if (bytes.length == 0) 0L
              else math.floor(sum.toDouble / bytes.length * 1000.0 + 0.5).toLong
            (pos, bytes.length.toLong, sum, mean, hist(0), hist(1), hist(2), hist(3))
          }
        }
      }(Encoders.product[(String, Long, Long, Long, Long, Long, Long, Long)])
      feats.toDF("position", "n_bytes", "sum_bytes", "mean_milli", "h0", "h1", "h2", "h3")
    },

    // resize planning for the image modality (the letterbox-fit pass a
    // vision-training pipeline runs before batching): source dims come
    // from a STUB header decode (two big-endian byte pairs of the opaque
    // payload — stands in for reading a real image header; clearly
    // marked, deterministic, oracle-replayed), then the fit to a 224-box
    // is EXACT integer math — dst = (src·224) div max(w,h), symmetric
    // padding, scale in ppm. A narrow codegen'd pass, no shuffle at all;
    // the plan rows are what a real resize kernel would consume
    // per-batch downstream.
    "mm_resize_plan" -> { (s, d) =>
      import s.implicits._
      def byteAt(i: Int) =
        expr(s"CAST(conv(hex(substring(payload, $i, 1)), 16, 10) AS BIGINT)")
      payloads(s, d, 500)
        .filter($"key" === "props" && length($"payload") >= 4)
        .select($"position",
          (lit(160L) + (byteAt(1) * 256 + byteAt(2)) % 1200).as("src_w"),
          (lit(120L) + (byteAt(3) * 256 + byteAt(4)) % 900).as("src_h"))
        .select($"position", $"src_w", $"src_h",
          expr("(src_w * 224) div greatest(src_w, src_h)").as("dst_w"),
          expr("(src_h * 224) div greatest(src_w, src_h)").as("dst_h"),
          expr("(1000000 * 224) div greatest(src_w, src_h)").as("scale_ppm"))
        .withColumn("pad_x", expr("(224 - dst_w) div 2"))
        .withColumn("pad_y", expr("(224 - dst_h) div 2"))
        .orderBy($"position")
    },

    // aspect-ratio bucket histogram — the batch-grouping decision of a
    // vision pipeline (trainers bucket same-aspect assets so a batch
    // shares one crop geometry; a corpus that is 90 % landscape needs a
    // different bucketing than a balanced one): width/height in exact
    // milli units from a clearly-marked STUB decode (dims = two 16-bit
    // words of the asset id's md5 — the header-prefix decode
    // mm_resize_plan stubs is constant across this synthetic corpus, so
    // the histogram exercise needs the digest-seeded fake), three-way
    // portrait/square/landscape split + ppm share and the pixel mass
    // per bucket. Scale shape: one narrow codegen pass over asset ids
    // (payload bodies never shuffle), 3-row agg, share window over that
    // bounded relation.
    "mm_aspect_buckets" -> { (s, d) =>
      import s.implicits._
      payloads(s, d, 500)
        .filter($"key" === "props" && length($"payload") >= 4)
        .select(
          (lit(160L) + expr("CAST(conv(substring(md5(position), 1, 4), 16, 10) AS BIGINT)") % 1200).as("src_w"),
          (lit(120L) + expr("CAST(conv(substring(md5(position), 5, 4), 16, 10) AS BIGINT)") % 900).as("src_h"))
        .withColumn("ar_milli", expr("(src_w * 1000) div src_h"))
        .withColumn("bucket", expr(
          "CASE WHEN ar_milli < 800 THEN 'b0_portrait' WHEN ar_milli <= 1250 THEN 'b1_square' ELSE 'b2_landscape' END"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_assets"), min($"ar_milli").as("min_ar_milli"),
          max($"ar_milli").as("max_ar_milli"),
          sum($"src_w" * $"src_h").as("total_px"))
        .withColumn("t", sum($"n_assets").over(Window.partitionBy(lit(1))))
        .select($"bucket", $"n_assets", expr("(n_assets * 1000000) div t").as("share_ppm"),
          $"min_ar_milli", $"max_ar_milli", $"total_px")
        .orderBy($"bucket")
    },

    // perceptual-hash near-dup for the binary modality: a 32-bit simhash
    // over the payload's byte 4-grams (the codec-free stand-in for an
    // image phash — same banding machinery as dd_simhash_pairs), pairs
    // within hamming ≤ 3 via the lossless 4×8-bit band join. Scale
    // shape: signature is one partial-agg shuffle keyed on the asset;
    // the band self-join is the only wide stage and is bounded by bucket
    // occupancy — never all-pairs over the asset corpus.
    "mm_phash_pairs" -> { (s, d) =>
      import s.implicits._
      phashCandidates(s, d)
        .filter($"hamming" <= 3)
        .orderBy($"pos_a", $"pos_b")
    },

    // phash band-occupancy profile — the join-cost model for the asset
    // near-dup pass (dd_band_stats' shape at the binary-payload level):
    // per 8-bit band, buckets, worst occupancy and the candidate-pair
    // mass Σ c·(c−1)/2 the band join will generate — the number that
    // says whether a hot bucket needs salting BEFORE the self-join
    // runs. Same native phash32 signature as mm_phash_pairs; scale
    // shape: signature partial agg, (band, bits) agg onto the ≤4·256
    // bucket space, 4-row rollup.
    "mm_band_stats" -> { (s, d) =>
      import s.implicits._
      DedupQueries.bitBands(phashSigs(s, d), "phash", 4, 8)
        .groupBy($"band", $"bits").agg(count(lit(1)).as("c"))
        .groupBy($"band".cast("long").as("band"))
        .agg(sum($"c").as("n_assets"), count(lit(1)).as("n_buckets"),
          max($"c").as("max_bucket"),
          expr("CAST(SUM((c * (c - 1)) div 2) AS BIGINT)").as("cand_pairs"))
        .withColumn("occupancy_ppm", expr("(n_assets * 1000000) div n_buckets"))
        .orderBy($"band")
    },

    // hamming-distance histogram of the banded phash candidates (the
    // threshold-tuning curve behind mm_phash_pairs' fixed ≤3 cut — the
    // asset-side twin of dd_jaccard_hist/dd_lsh_curve: how many
    // candidate pairs would each hamming threshold admit?): exact
    // counts + DECIMAL-free ppm share per distance over the SURFACED
    // candidate set (banded, never all-pairs — the distribution a
    // production run can actually afford to measure).
    "mm_phash_hist" -> { (s, d) =>
      import s.implicits._
      val cand = phashCandidates(s, d)
      val tot = cand.agg(count(lit(1)).as("t"))
      cand.groupBy($"hamming")
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .select($"hamming", $"n_pairs",
          expr("(n_pairs * 1000000) div t").as("share_ppm"))
        .orderBy($"hamming")
    },

    // connected components over the perceptual-hash near-dup graph: the
    // asset-level twin of dd_cluster — cluster id = the numerically-min
    // member, sizes included, so an asset pipeline can keep one
    // representative per visual cluster. Reuses the dedup family's
    // union-find / pointer-jumping dispatch (DedupQueries
    // .connectedComponents — budget-gated driver fast path, distributed
    // propagation past 1M edges); the edge list is mm_phash_pairs'
    // banded hamming≤3 relation, never all-pairs over the asset corpus.
    "mm_phash_clusters" -> { (s, d) =>
      import s.implicits._
      val edges = queries("mm_phash_pairs")(s, d).select(
        regexp_extract($"pos_a", "evt-(\\d+)", 1).cast("long").as("a"),
        regexp_extract($"pos_b", "evt-(\\d+)", 1).cast("long").as("b"))
      DedupQueries.connectedComponents(edges)
        .select(concat(lit("evt-"), $"doc_id".cast("string")).as("position"),
          concat(lit("evt-"), $"cluster_id".cast("string")).as("cluster_pos"),
          $"n_members")
        .orderBy($"position")
    },

    // exact asset dedup by content hash — the 100 TB image/audio dedup
    // baseline: one checksum groupBy per payload kind (map-side partial
    // agg, shuffle carries 16-byte hashes not payloads), then a per-kind
    // rollup. Same shape as dd_exact, applied to the binary modality.
    "mm_dedup" -> { (s, d) =>
      import s.implicits._
      payloads(s, d, 500)
        .groupBy($"key", md5($"payload").as("checksum"))
        .agg(count(lit(1)).as("n"), min($"position").as("keep"))
        .groupBy($"key")
        .agg(count(lit(1)).as("n_assets"), sum($"n").as("n_payloads"),
          sum($"n" - 1).as("n_dups"), min($"keep").as("first_keep"))
        .orderBy($"key")
    },

    // payload opacity audit (codec-sanity / corruption triage): per-asset
    // byte-value dispersion — a structured payload reuses few byte values,
    // a compressed/encrypted one approaches uniform. Reports distinct
    // byte count and the modal byte's share (ppm, smallest byte wins
    // ties). Scale shape: the byte explode is payload-proportional and
    // narrow; everything after is two chained partial aggs on (position,
    // byte) then (position) — hashes of bytes, never payloads, shuffle.
    "mm_byte_profile" -> { (s, d) =>
      import s.implicits._
      val b = payloads(s, d, 500).filter($"key" === "props")
        .filter(length($"payload") > 0)
        .select($"position", explode(expr("sequence(1, length(payload))")).as("i"), $"payload")
        .select($"position",
          expr("CAST(conv(hex(substring(payload, i, 1)), 16, 10) AS BIGINT)").as("byte"))
        .groupBy($"position", $"byte").agg(count(lit(1)).as("cnt"))
        .persist() // feeds the per-asset rollup AND the modal-byte join
      val prof = b.groupBy($"position")
        .agg(sum($"cnt").as("n_bytes"), count(lit(1)).as("n_distinct"),
          max($"cnt").as("top_n"))
      val top = b.join(prof.select($"position", $"top_n"), Seq("position"))
        .filter($"cnt" === $"top_n")
        .groupBy($"position").agg(min($"byte").as("top_byte"))
      prof.join(top, Seq("position"))
        .withColumn("top_ppm", expr("(top_n * 1000000) div n_bytes"))
        .select($"position", $"n_bytes", $"n_distinct", $"top_byte", $"top_n", $"top_ppm")
        .orderBy($"position")
    },

    // exact-dedup reclaim estimate — mm_dedup's 1-row operational
    // summary (the storage number that decides whether content-addressed
    // dedup is worth deploying): unique payloads by checksum, duplicate
    // byte mass ((copies−1)·size per group), and the ppm of total bytes
    // a dedup pass reclaims. Payloads never shuffle — only (checksum,
    // size) pairs move; ppm DECIMAL-guarded.
    "mm_reclaim" -> { (s, d) =>
      import s.implicits._
      payloads(s, d, 500)
        .select(md5($"payload").as("h"), length($"payload").cast("long").as("nb"))
        .groupBy($"h", $"nb").agg(count(lit(1)).as("copies"))
        .agg(sum($"copies").as("n_assets"),
          count(lit(1)).as("n_unique"),
          sum($"copies" * $"nb").as("total_bytes"),
          sum(($"copies" - 1) * $"nb").as("dup_bytes"))
        .select($"n_assets", $"n_unique", $"total_bytes", $"dup_bytes",
          expr("(CAST(dup_bytes AS DECIMAL(38,0)) * 1000000) div CAST(total_bytes AS DECIMAL(38,0))")
            .as("reclaim_ppm"))
    },

    // per-asset byte-distribution entropy — the compressibility gauge a
    // multimodal ingest runs before storing payloads (fill_ppm ≈ 10⁶
    // against the 8-bit ceiling means already-compressed/encrypted
    // bytes — don't recompress, dedup by checksum only; low fill means
    // padding/sparse payloads worth packing). Exact integer micro-nats
    // via the native ln_micro kernel (H = ln N − Σ c·ln c / N,
    // DECIMAL(38,0) sums) so the oracle replays bit-identically.
    // Scale shape: mm_byte_profile's per-(asset, byte) partial agg —
    // the shuffle carries ≤256 rows per asset, payloads never move —
    // then a per-asset rollup; ln_micro is narrow codegen per row.
    "mm_byte_entropy" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      payloads(s, d, 500).filter($"key" === "props")
        .filter(length($"payload") > 0)
        .select($"position", explode(expr("sequence(1, length(payload))")).as("i"), $"payload")
        .select($"position",
          expr("CAST(conv(hex(substring(payload, i, 1)), 16, 10) AS BIGINT)").as("byte"))
        .groupBy($"position", $"byte").agg(count(lit(1)).as("cnt"))
        .groupBy($"position").agg(
          sum($"cnt").as("n_bytes"),
          count(lit(1)).as("n_distinct"),
          sum($"cnt".cast(dec) * expr("ln_micro(cnt)")).as("sln"))
        .withColumn("entropy_micro",
          expr("ln_micro(n_bytes) - (sln div CAST(n_bytes AS DECIMAL(38,0)))").cast("long"))
        .withColumn("fill_ppm",
          expr(s"(entropy_micro * 1000000) div ${graft.functions.FixedLnOps.lnMicro(256L)}"))
        .select($"position", $"n_bytes", $"n_distinct", $"entropy_micro", $"fill_ppm")
        .orderBy($"position")
    },

    // byte-budget shard packing (the WebDataset/tar-shard layout step of
    // a multimodal training pipeline: assets streamed into fixed-size
    // shards in arrival order so a training loader can fetch shard files
    // sequentially): per payload stream (the map key), assets are packed
    // greedily in sequence order into 2048-byte shards — an asset lands
    // in the shard where its running byte offset starts, the same
    // straddle rule as txt_pack_bins. Scale shape: one running-sum
    // window per stream (parallelism = #streams; salt the stream key to
    // widen, exactly as documented for txt_pack_bins), then a per-shard
    // partial agg — payload bytes are COUNTED but never shuffled (the
    // window carries only the length column).
    "mm_shard_pack" -> { (s, d) =>
      import s.implicits._
      shardPlan(s, d).orderBy($"key", $"shard")
    },

    // shard fill-ratio audit — the packing-efficiency report OVER
    // mm_shard_pack's plan (a mean fill sagging toward 50 % means the
    // byte budget fights the asset size distribution and the shard
    // count — every downstream open/seek — is paying for it): per
    // payload key, shards, exact mean fill ppm of the budget, the worst
    // non-final shard (the final shard is legitimately underfull), and
    // shards the straddle rule overflowed. Scale shape: the plan's own
    // (key, shard) relation rolled onto |keys| rows; one bounded window
    // for the final-shard exclusion.
    "mm_shard_fill" -> { (s, d) =>
      import s.implicits._
      val budget = 2048L
      val wk = Window.partitionBy($"key")
      shardPlan(s, d)
        .withColumn("max_shard", max($"shard").over(wk))
        .groupBy($"key")
        .agg(count(lit(1)).as("n_shards"), sum($"n_bytes").as("total_bytes"),
          sum(when($"n_bytes" > budget, 1L).otherwise(0L)).as("n_overflow"),
          min(when($"shard" < $"max_shard",
            expr(s"(n_bytes * 1000000) div $budget"))).as("mf"))
        .select($"key", $"n_shards", $"total_bytes",
          expr(s"(total_bytes * 1000000) div (n_shards * $budget)").as("mean_fill_ppm"),
          coalesce($"mf", lit(0L)).as("min_fill_ppm"), $"n_overflow")
        .orderBy($"key")
    },

    // decode-worker apportionment by container format — the deploy step
    // AFTER mm_magic_mix's what-am-I-holding audit (each format needs
    // its own decoder pool; allocating 16 workers ∝ byte mass with the
    // EXACT largest-remainder method — samp_neyman's apportionment on
    // the modality axis — guarantees Σ workers == 16 with no float
    // rounding dispute): per magic prefix, payloads, bytes, and the
    // worker allocation. Scale shape: one 2-byte-prefix projection
    // (payload bodies never shuffle), a ≤|formats| agg, apportionment
    // windows over that bounded relation.
    "mm_decode_plan" -> { (s, d) =>
      import s.implicits._
      val workers = 16L
      val st = payloads(s, d, 500)
        .select($"key", upper(hex(substring($"payload", 1, 2))).as("magic"),
          length($"payload").cast("long").as("n_bytes"))
        .groupBy($"magic")
        .agg(count(lit(1)).as("n_payloads"), sum($"n_bytes").as("total_bytes"))
      val tot = st.agg(greatest(lit(1L), sum($"total_bytes")).as("tw"))
      val wr = Window.orderBy($"rem".desc, $"magic")
      val wAll = Window.partitionBy(lit(1))
      st.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($workers * total_bytes) div tw"))
        .withColumn("rem", expr(s"($workers * total_bytes) % tw"))
        .withColumn("rk", row_number().over(wr).cast("long"))
        .withColumn("deficit", lit(workers) - sum($"base").over(wAll))
        .withColumn("n_workers", $"base" + when($"rk" <= $"deficit", 1L).otherwise(0L))
        .select($"magic", $"n_payloads", $"total_bytes", $"n_workers")
        .orderBy($"magic")
    }
  )

  /** mm_shard_pack's greedy byte-budget packing plan (key, shard,
    * n_items, n_bytes, first_eid, last_eid) — shared with the
    * mm_shard_fill audit so the two can never drift on the straddle
    * rule or the budget.
    */
  private def shardPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 2048L
    val w = Window.partitionBy($"key").orderBy($"eid")
    payloads(s, d, 500)
      .select($"key", $"position",
        expr("CAST(substring(position, 5) AS BIGINT)").as("eid"),
        length($"payload").cast("long").as("n_bytes"))
      .withColumn("shard",
        floor((sum($"n_bytes").over(w) - $"n_bytes") / lit(budget)).cast("long"))
      .groupBy($"key", $"shard")
      .agg(count(lit(1)).as("n_items"), sum($"n_bytes").as("n_bytes"),
        min($"eid").as("first_eid"), max($"eid").as("last_eid"))
  }

  /** Oracles reconstruct the same payload bytes from `events` (positions
    * are 'evt-<id>'; payloads are the UTF-8 props JSON and user id — all
    * ASCII, so VARCHAR length/ord equal byte length/value).
    */
  val oracles: Map[String, String] = Map(
    "mm_bytes_by_day" ->
      """WITH m AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, 'props' AS key, props AS payload
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT epoch_us(ts) // 86400000000, 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_id < 500)
        |SELECT CAST(day AS BIGINT) AS day, key,
        |  CAST(COUNT(*) AS BIGINT) AS n_payloads,
        |  CAST(SUM(length(payload)) AS BIGINT) AS total_bytes
        |FROM m GROUP BY 1, 2 ORDER BY day, key""".stripMargin,

    "mm_size_drift" ->
      """WITH m AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, 'props' AS key, props AS payload
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT epoch_us(ts) // 86400000000, 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_id < 500),
        |per AS (
        |  SELECT day, key, CAST(COUNT(*) AS BIGINT) AS day_n,
        |    CAST(SUM(length(payload)) AS BIGINT) AS day_bytes
        |  FROM m GROUP BY 1, 2),
        |tot AS (
        |  SELECT key, CAST(SUM(day_n) AS BIGINT) AS key_n,
        |    CAST(SUM(day_bytes) AS BIGINT) AS key_bytes
        |  FROM per GROUP BY 1)
        |SELECT CAST(per.day AS BIGINT) AS day, per.key AS key, per.day_n, per.day_bytes,
        |  CASE WHEN tot.key_bytes = 0 THEN NULL ELSE
        |    CAST((CAST(per.day_bytes AS HUGEINT) * tot.key_n * 1000)
        |      // (CAST(per.day_n AS HUGEINT) * tot.key_bytes) AS BIGINT) END AS drift_milli
        |FROM per JOIN tot ON tot.key = per.key
        |ORDER BY day, key""".stripMargin,

    "mm_magic_mix" ->
      """WITH m AS (
        |  SELECT 'props' AS key, props AS payload
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_id < 500),
        |c AS (
        |  SELECT key, upper(hex(substr(payload, 1, 2))) AS magic,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM m GROUP BY 1, 2)
        |SELECT key, magic, n,
        |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY key) AS BIGINT) AS share_ppm
        |FROM c ORDER BY key, magic""".stripMargin,

    "mm_decode_plan" ->
      """WITH m AS (
        |  SELECT 'props' AS key, props AS payload
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_id < 500),
        |st AS (
        |  SELECT upper(hex(substr(payload, 1, 2))) AS magic,
        |    CAST(COUNT(*) AS BIGINT) AS n_payloads,
        |    CAST(SUM(length(payload)) AS BIGINT) AS total_bytes
        |  FROM m GROUP BY 1),
        |tot AS (SELECT GREATEST(1, SUM(total_bytes)) AS tw FROM st),
        |a AS (
        |  SELECT magic, n_payloads, total_bytes,
        |    (16 * total_bytes) // tw AS base, (16 * total_bytes) % tw AS rem
        |  FROM st, tot),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, magic) AS rk,
        |    16 - SUM(base) OVER () AS deficit
        |  FROM a)
        |SELECT magic, n_payloads, total_bytes,
        |  CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS n_workers
        |FROM r ORDER BY magic""".stripMargin,

    "mm_size_bands" ->
      """WITH m AS (
        |  SELECT 'props' AS key, props AS payload
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_id < 500)
        |SELECT key, CAST(length(bin(length(payload))) - 1 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_payloads,
        |  CAST(SUM(length(payload)) AS BIGINT) AS total_bytes,
        |  CAST(MIN(length(payload)) AS BIGINT) AS min_bytes,
        |  CAST(MAX(length(payload)) AS BIGINT) AS max_bytes
        |FROM m WHERE length(payload) > 0
        |GROUP BY 1, 2 ORDER BY key, band""".stripMargin,

    "mm_meta" ->
      """WITH m AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position, 'props' AS key, props AS payload
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR), 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_id < 500)
        |SELECT position, key,
        |  CAST(length(payload) AS BIGINT) AS n_bytes,
        |  md5(payload) AS checksum,
        |  upper(hex(substr(payload, 1, 2))) AS magic
        |FROM m ORDER BY position, key""".stripMargin,

    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position, props AS payload, j
        |  FROM events, UNNEST(range(0, 3)) AS t(j)
        |  WHERE event_id < 300)
        |SELECT position, CAST(j AS BIGINT) AS frame_idx,
        |  upper(hex(substr(payload, CAST(j * 8 + 1 AS INT), 4))) AS frame_hex
        |FROM f ORDER BY position, frame_idx""".stripMargin,

    "mm_featurize" ->
      """WITH b AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position, props AS payload,
        |    ord(substr(props, CAST(i AS INT), 1)) AS byte
        |  FROM events, UNNEST(range(1, length(props) + 1)) AS t(i)
        |  WHERE event_id < 500)
        |SELECT position,
        |  CAST(COUNT(*) AS BIGINT) AS n_bytes,
        |  CAST(SUM(byte) AS BIGINT) AS sum_bytes,
        |  CAST(FLOOR(SUM(byte) / CAST(COUNT(*) AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS mean_milli,
        |  CAST(SUM(CASE WHEN byte < 64 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        |  CAST(SUM(CASE WHEN byte >= 64 AND byte < 128 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |  CAST(SUM(CASE WHEN byte >= 128 AND byte < 192 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
        |  CAST(SUM(CASE WHEN byte >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS h3
        |FROM b GROUP BY position ORDER BY position""".stripMargin,

    "mm_resize_plan" ->
      """WITH m AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position, props AS payload
        |  FROM events WHERE event_id < 500 AND length(props) >= 4),
        |dims AS (
        |  SELECT position,
        |    160 + (ord(substr(payload, 1, 1)) * 256 + ord(substr(payload, 2, 1))) % 1200 AS src_w,
        |    120 + (ord(substr(payload, 3, 1)) * 256 + ord(substr(payload, 4, 1))) % 900 AS src_h
        |  FROM m)
        |SELECT position, CAST(src_w AS BIGINT) AS src_w, CAST(src_h AS BIGINT) AS src_h,
        |  CAST((src_w * 224) // greatest(src_w, src_h) AS BIGINT) AS dst_w,
        |  CAST((src_h * 224) // greatest(src_w, src_h) AS BIGINT) AS dst_h,
        |  CAST((1000000 * 224) // greatest(src_w, src_h) AS BIGINT) AS scale_ppm,
        |  CAST((224 - (src_w * 224) // greatest(src_w, src_h)) // 2 AS BIGINT) AS pad_x,
        |  CAST((224 - (src_h * 224) // greatest(src_w, src_h)) // 2 AS BIGINT) AS pad_y
        |FROM dims ORDER BY position""".stripMargin,

    "mm_aspect_buckets" ->
      """WITH m AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position
        |  FROM events WHERE event_id < 500 AND length(props) >= 4),
        |dims AS (
        |  SELECT
        |    160 + CAST(('0x' || substr(md5(position), 1, 4))::BIGINT AS BIGINT) % 1200 AS src_w,
        |    120 + CAST(('0x' || substr(md5(position), 5, 4))::BIGINT AS BIGINT) % 900 AS src_h
        |  FROM m),
        |a AS (
        |  SELECT src_w, src_h, (src_w * 1000) // src_h AS ar_milli FROM dims),
        |g AS (
        |  SELECT CASE WHEN ar_milli < 800 THEN 'b0_portrait'
        |              WHEN ar_milli <= 1250 THEN 'b1_square'
        |              ELSE 'b2_landscape' END AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_assets,
        |    CAST(MIN(ar_milli) AS BIGINT) AS min_ar_milli,
        |    CAST(MAX(ar_milli) AS BIGINT) AS max_ar_milli,
        |    CAST(SUM(src_w * src_h) AS BIGINT) AS total_px
        |  FROM a GROUP BY 1)
        |SELECT bucket, n_assets,
        |  CAST((n_assets * 1000000) // SUM(n_assets) OVER () AS BIGINT) AS share_ppm,
        |  min_ar_milli, max_ar_milli, total_px
        |FROM g ORDER BY bucket""".stripMargin,

    "mm_band_stats" ->
      s"""WITH $PhashSimsCtes,
         |band AS (
         |  SELECT position, t.b AS band, (phash >> (t.b * 8)) & 255 AS bits
         |  FROM sims, UNNEST([0, 1, 2, 3]) AS t(b)),
         |occ AS (SELECT band, bits, CAST(COUNT(*) AS BIGINT) AS c FROM band GROUP BY 1, 2)
         |SELECT CAST(band AS BIGINT) AS band, CAST(SUM(c) AS BIGINT) AS n_assets,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets, CAST(MAX(c) AS BIGINT) AS max_bucket,
         |  CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS cand_pairs,
         |  CAST((SUM(c) * 1000000) // COUNT(*) AS BIGINT) AS occupancy_ppm
         |FROM occ GROUP BY band ORDER BY band""".stripMargin,

    "mm_dedup" ->
      """WITH m AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position, 'props' AS key, props AS payload
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR), 'user', CAST(user_id AS VARCHAR)
        |  FROM events WHERE event_id < 500),
        |g AS (
        |  SELECT key, md5(payload) AS checksum, COUNT(*) AS n, MIN(position) AS keep
        |  FROM m GROUP BY 1, 2)
        |SELECT key, CAST(COUNT(*) AS BIGINT) AS n_assets, CAST(SUM(n) AS BIGINT) AS n_payloads,
        |  CAST(SUM(n - 1) AS BIGINT) AS n_dups, MIN(keep) AS first_keep
        |FROM g GROUP BY key ORDER BY key""".stripMargin,

    "mm_byte_profile" ->
      """WITH b AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position,
        |    ord(substr(props, CAST(i AS INT), 1)) AS byte
        |  FROM events, UNNEST(range(1, length(props) + 1)) AS t(i)
        |  WHERE event_id < 500 AND length(props) > 0),
        |g AS (SELECT position, byte, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        |prof AS (
        |  SELECT position, CAST(SUM(cnt) AS BIGINT) AS n_bytes,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(cnt) AS BIGINT) AS top_n
        |  FROM g GROUP BY position),
        |top AS (
        |  SELECT g.position, CAST(MIN(g.byte) AS BIGINT) AS top_byte
        |  FROM g JOIN prof ON prof.position = g.position AND g.cnt = prof.top_n
        |  GROUP BY g.position)
        |SELECT p.position, p.n_bytes, p.n_distinct, t.top_byte, p.top_n,
        |  CAST((p.top_n * 1000000) // p.n_bytes AS BIGINT) AS top_ppm
        |FROM prof p JOIN top t ON t.position = p.position
        |ORDER BY p.position""".stripMargin,

    "mm_reclaim" ->
      """WITH p AS (
        |  SELECT md5(props) AS h, CAST(length(props) AS BIGINT) AS nb
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT md5(CAST(user_id AS VARCHAR)), CAST(length(CAST(user_id AS VARCHAR)) AS BIGINT)
        |  FROM events WHERE event_id < 500),
        |g AS (SELECT h, nb, CAST(COUNT(*) AS BIGINT) AS copies FROM p GROUP BY 1, 2)
        |SELECT CAST(SUM(copies) AS BIGINT) AS n_assets,
        |  CAST(COUNT(*) AS BIGINT) AS n_unique,
        |  CAST(SUM(copies * nb) AS BIGINT) AS total_bytes,
        |  CAST(SUM((copies - 1) * nb) AS BIGINT) AS dup_bytes,
        |  CAST((SUM((copies - 1) * nb) * CAST(1000000 AS HUGEINT)) // SUM(copies * nb) AS BIGINT) AS reclaim_ppm
        |FROM g""".stripMargin,

    "mm_byte_entropy" -> {
      val (lnG, lastG) = FixedLnSql.chain("g", "mba", Seq("position"), Seq("cnt"))
      val (lnP, lastP) = FixedLnSql.chain("per", "mbb",
        Seq("position", "n_distinct", "sln"), Seq("n_bytes"))
      s"""WITH b AS (
        |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position,
        |    ord(substr(props, CAST(i AS INT), 1)) AS byte
        |  FROM events, UNNEST(range(1, length(props) + 1)) AS t(i)
        |  WHERE event_id < 500 AND length(props) > 0),
        |g AS (SELECT position, byte, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        |$lnG,
        |per AS (
        |  SELECT position, CAST(SUM(cnt) AS BIGINT) AS n_bytes,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    SUM(CAST(cnt AS HUGEINT) * ln_cnt) AS sln
        |  FROM $lastG GROUP BY 1),
        |$lnP
        |SELECT position, n_bytes, n_distinct,
        |  CAST(ln_n_bytes - (sln // n_bytes) AS BIGINT) AS entropy_micro,
        |  CAST(((ln_n_bytes - (sln // n_bytes)) * 1000000) // ${graft.functions.FixedLnOps.lnMicro(256L)} AS BIGINT) AS fill_ppm
        |FROM $lastP ORDER BY position""".stripMargin
    },

    "mm_shard_pack" ->
      """WITH m AS (
        |  SELECT 'props' AS key, event_id AS eid, CAST(length(props) AS BIGINT) AS n_bytes
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT 'user', event_id, CAST(length(CAST(user_id AS VARCHAR)) AS BIGINT)
        |  FROM events WHERE event_id < 500),
        |x AS (
        |  SELECT key, eid, n_bytes,
        |    CAST((SUM(n_bytes) OVER (PARTITION BY key ORDER BY eid) - n_bytes) // 2048
        |      AS BIGINT) AS shard
        |  FROM m)
        |SELECT key, shard, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST(MIN(eid) AS BIGINT) AS first_eid, CAST(MAX(eid) AS BIGINT) AS last_eid
        |FROM x GROUP BY 1, 2 ORDER BY key, shard""".stripMargin,

    "mm_shard_fill" ->
      """WITH m AS (
        |  SELECT 'props' AS key, event_id AS eid, CAST(length(props) AS BIGINT) AS n_bytes
        |  FROM events WHERE event_id < 500
        |  UNION ALL
        |  SELECT 'user', event_id, CAST(length(CAST(user_id AS VARCHAR)) AS BIGINT)
        |  FROM events WHERE event_id < 500),
        |x AS (
        |  SELECT key, eid, n_bytes,
        |    CAST((SUM(n_bytes) OVER (PARTITION BY key ORDER BY eid) - n_bytes) // 2048
        |      AS BIGINT) AS shard
        |  FROM m),
        |p AS (
        |  SELECT key, shard, CAST(SUM(n_bytes) AS BIGINT) AS n_bytes
        |  FROM x GROUP BY 1, 2),
        |q AS (SELECT *, MAX(shard) OVER (PARTITION BY key) AS max_shard FROM p)
        |SELECT key, CAST(COUNT(*) AS BIGINT) AS n_shards,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST((SUM(n_bytes) * 1000000) // (COUNT(*) * 2048) AS BIGINT) AS mean_fill_ppm,
        |  CAST(COALESCE(MIN(CASE WHEN shard < max_shard THEN (n_bytes * 1000000) // 2048 END), 0) AS BIGINT) AS min_fill_ppm,
        |  CAST(SUM(CASE WHEN n_bytes > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow
        |FROM q GROUP BY key ORDER BY key""".stripMargin,

    "mm_phash_pairs" ->
      s"""WITH $PhashSimsCtes
         |SELECT a.position AS pos_a, b.position AS pos_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM sims a JOIN sims b ON a.position < b.position
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY pos_a, pos_b""".stripMargin,

    // the same signatures, the 4x8-bit band replay (so the histogram is
    // over exactly the SURFACED candidate set, like the Spark side),
    // exact counts + integer ppm
    "mm_phash_hist" ->
      s"""WITH $PhashSimsCtes,
         |band AS (
         |  SELECT position, phash, t.b AS band, (phash >> (t.b * 8)) & 255 AS bits
         |  FROM sims, UNNEST([0, 1, 2, 3]) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.position AS pos_a, b.position AS pos_b,
         |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.bits = b.bits AND a.position < b.position),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cand)
         |SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST((COUNT(*) * 1000000) // MAX(tot.t) AS BIGINT) AS share_ppm
         |FROM cand, tot GROUP BY hamming ORDER BY hamming""".stripMargin,

    // transitive closure over the hamming≤3 pair graph on numeric asset
    // ids (substr strips the 'evt-' prefix so MIN agrees with the Spark
    // side's numeric min-label), dd_cluster's recursive-CTE twin
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $PhashSimsCtes,
         |pairs AS (
         |  SELECT CAST(substr(a.position, 5) AS BIGINT) AS a,
         |    CAST(substr(b.position, 5) AS BIGINT) AS b
         |  FROM sims a JOIN sims b ON a.position < b.position
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |reach AS (
         |  SELECT a AS doc, a AS r FROM sym
         |  UNION
         |  SELECT s.b AS doc, reach.r FROM reach JOIN sym s ON s.a = reach.doc),
         |comp AS (SELECT doc, MIN(r) AS c FROM reach GROUP BY doc),
         |csz AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_members FROM comp GROUP BY 1)
         |SELECT 'evt-' || CAST(comp.doc AS VARCHAR) AS position,
         |  'evt-' || CAST(comp.c AS VARCHAR) AS cluster_pos, csz.n_members
         |FROM comp JOIN csz ON csz.c = comp.c
         |ORDER BY position""".stripMargin
  )

  /** the shared phash signature pipeline (m → 4-grams → 32-bit simhash),
    * consumed by both the pairs and the clusters oracle
    */
  private lazy val PhashSimsCtes: String = {
    val bitSums = (0 until 32).map { b =>
      s"SUM(CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n    ")
    val sig = (0 until 32).map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""m AS (
       |  SELECT 'evt-' || CAST(event_id AS VARCHAR) AS position, props AS txt
       |  FROM events WHERE event_id < 300),
       |g AS (
       |  SELECT position, substr(txt, CAST(i AS INT), 4) AS g
       |  FROM m, UNNEST(range(1, length(txt) - 2)) AS t(i)
       |  WHERE length(txt) >= 4),
       |v AS (SELECT position, CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS v FROM g),
       |bits AS (
       |  SELECT position,
       |    $bitSums
       |  FROM v GROUP BY position),
       |sims AS (SELECT position, CAST($sig AS BIGINT) AS phash FROM bits)""".stripMargin
  }
}
