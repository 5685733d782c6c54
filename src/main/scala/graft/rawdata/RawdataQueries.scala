package graft.rawdata

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.A — the reference's consumer/client surface as oracle-checked
  * queries. Every query routes through the real topic engine (events →
  * Avro topic on disk → pruned distributed read); the DuckDB oracle
  * recomputes the expected answer directly from `events`, which works
  * because the ULIDs are content-derived (see EventsAsTopic).
  */
object RawdataQueries {
  type Q = (SparkSession, String) => DataFrame

  /** 2024-01-15T00:00:00Z */
  private val MidMonthMs = 1705276800000L

  private def topic(s: SparkSession, d: String): String = EventsAsTopic.topicDir(s, d)

  /** rd_compact_plan's packing over a topic dir's file listing: one
    * (from_ts_ms, n_messages) row per file with the `merge_group` that
    * greedily packs consecutive files into ≤ 3× the mean file's messages.
    */
  private[graft] def mergeGroups(s: SparkSession, dir: String): DataFrame =
    Topic.fileListingDF(s, dir)
      .select(col("fromTsMs").as("from_ts_ms"), col("count").as("n_messages"))
      .withColumn("budget", expr(
        "greatest(1L, (sum(n_messages) over (partition by 1) div count(1) over (partition by 1)) * 3)"))
      .withColumn("cum", sum(col("n_messages")).over(Window.partitionBy(lit(1)).orderBy(col("from_ts_ms"))))
      .withColumn("merge_group",
        floor((col("cum") - col("n_messages")) / col("budget")).cast("long"))

  /** The (approxTimestamp, tolerance) a cursorOf caller supplies — the
    * reference API's contract is that the caller knows roughly when the
    * message happened (AvroRawdataClient.java:89-115 takes both). Modeled
    * by reading the one source event's timestamp (a narrow pushed-down
    * scan standing in for the caller's knowledge) with a 1-hour tolerance,
    * so the query exercises the REAL filename pruning: ±1 h touches 1-2 of
    * the topic's daily files instead of scanning all of them.
    */
  /** caller-known anchor position for the cursor/lookup queries: the
    * 500th event, or the LAST event on corpora smaller than 500 —
    * data-derived (one 1-row max aggregate) so the lookup exercises the
    * same filename pruning at any fixture scale instead of erroring on
    * a corpus without an event 500; the oracles replay LEAST(500, MAX).
    */
  private def anchorId(s: SparkSession, d: String): Option[Long] = {
    // None on an EMPTY topic (max over zero rows is NULL) — the
    // cursor/lookup queries answer with a well-formed empty relation,
    // the "consumer subscribed before the first publish" cold start
    val row = graft.Tables.events(s, d)
      .agg(max(col("event_id"))).collect().head
    if (row.isNullAt(0)) None else Some(math.min(500L, row.getLong(0)))
  }

  /** the cursor queries' empty cold-start shape: same columns as an
    * afterCursor read, zero rows
    */
  private def emptyCursorRead(s: SparkSession, dir: String) =
    Topic.seek(s, dir, 0L)
      .select(col("ulid_hex"), col("ts_ms"), col("position"),
        col("sequenceNumber").as("seq"))
      .limit(0)

  private def callerApprox(s: SparkSession, d: String, eventId: Long): (Long, Long) = {
    val ts = graft.Tables.events(s, d)
      .filter(col("event_id") === eventId)
      .select(unix_millis(col("ts")))
      .collect().head.getLong(0)
    (ts, 3600L * 1000)
  }

  val queries: Map[String, Q] = Map(
    "rd_read_topic" -> { (s, d) =>
      Topic.readDF(s, topic(s, d)).agg(
        count(lit(1)).as("n_messages"),
        min(col("ts_ms")).as("min_ts_ms"),
        max(col("ts_ms")).as("max_ts_ms"),
        countDistinct(col("position")).as("n_positions"),
        countDistinct(col("orderingGroup")).as("n_groups"))
    },

    "rd_seek_timestamp" -> { (s, d) =>
      Topic.seek(s, topic(s, d), MidMonthMs)
        .select(col("ulid_hex"), col("ts_ms"), col("position"), col("sequenceNumber").as("seq"))
        .orderBy(col("ulid_hex"))
        .limit(100)
    },

    "rd_cursor_after" -> { (s, d) =>
      val dir = topic(s, d)
      anchorId(s, d) match {
        case None => emptyCursorRead(s, dir)
        case Some(anchor) =>
          val (approx, tol) = callerApprox(s, d, anchor)
          val cursor = Topic.positionToUlidHex(s, dir, s"evt-$anchor", approx, tol)
            .getOrElse(sys.error(s"position evt-$anchor not found"))
          Topic.afterCursor(s, dir, cursor, inclusive = false)
            .select(col("ulid_hex"), col("ts_ms"), col("position"), col("sequenceNumber").as("seq"))
            .orderBy(col("ulid_hex"))
            .limit(50)
      }
    },

    "rd_position_lookup" -> { (s, d) =>
      val dir = topic(s, d)
      anchorId(s, d) match {
        case None => emptyCursorRead(s, dir)
        case Some(anchor) =>
          val (approx, tol) = callerApprox(s, d, anchor)
          val cursor = Topic.positionToUlidHex(s, dir, s"evt-$anchor", approx, tol)
            .getOrElse(sys.error(s"position evt-$anchor not found"))
          Topic.afterCursor(s, dir, cursor, inclusive = true)
            .orderBy(col("ulid_hex"))
            .limit(1)
            .select(col("ulid_hex"), col("ts_ms"), col("position"), col("sequenceNumber").as("seq"))
      }
    },

    "rd_last_message" -> { (s, d) =>
      Topic.lastMessageDF(s, topic(s, d))
        .select(col("ulid_hex"), col("ts_ms"), col("position"), col("sequenceNumber").as("seq"))
    },

    "rd_window_files" -> { (s, d) =>
      Topic.fileListingDF(s, topic(s, d))
        .select(col("fromTsMs").as("from_ts_ms"), col("count").as("n_messages"),
          col("firstPosition").as("first_position"))
        .orderBy(col("from_ts_ms"))
    },

    // compaction planning (the maintenance query behind Topic.compact:
    // WHICH small files should merge, decided from the listing alone
    // before any data is read): consecutive window files greedily packed
    // into merge groups of ≤ 3× the mean file's messages (data-derived
    // budget, so the plan adapts to the topic's own density), the
    // txt_pack_bins straddle rule over the file listing. Scale shape:
    // the whole query runs on the |files|-row listing relation — one
    // LIST, no message data touched; the single ordered window is over
    // that listing (one row per topic file, the same bounded relation
    // every maintenance pass already holds in memory).
    "rd_compact_plan" -> { (s, d) =>
      mergeGroups(s, topic(s, d))
        .groupBy(col("merge_group"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_messages")).as("n_messages"),
          min(col("from_ts_ms")).as("first_from_ts_ms"),
          max(col("from_ts_ms")).as("last_from_ts_ms"))
        .orderBy(col("merge_group"))
    },

    // rd_compact_plan's 1-row cost/benefit summary — the go/no-go number
    // a maintenance scheduler reads before running Topic.compact: how
    // much the listing shrinks (files before → merge groups after) and
    // what fraction of the topic's message mass a compaction pass would
    // REWRITE (single-file groups are no-ops — their mass never moves).
    // Same listing-only derivation as rd_compact_plan (no message data
    // touched), rolled to one row; ppm DECIMAL-guarded.
    "rd_compact_gain" -> { (s, d) =>
      mergeGroups(s, topic(s, d))
        .groupBy(col("merge_group"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_messages")).as("grp_messages"))
        .agg(sum(col("n_files")).as("files_before"),
          count(lit(1)).as("files_after"),
          sum(col("grp_messages")).as("n_messages"),
          sum(when(col("n_files") > 1, col("grp_messages")).otherwise(0L)).as("rewritten"))
        .select(col("files_before"), col("files_after"), col("n_messages"), col("rewritten"),
          expr("(CAST(rewritten AS DECIMAL(38,0)) * 1000000) div CAST(n_messages AS DECIMAL(38,0))")
            .as("rewrite_ppm"))
    },

    // retention planning (Topic.expire's decision query): which window
    // files fall wholly before the retention horizon, and what message
    // mass goes with them — decided from the listing alone, like
    // rd_compact_plan. The horizon is data-derived (the topic's minimum
    // window start + 60 % of its ts span, so the plan is non-degenerate
    // at any sf); a window file is expirable iff even its LAST possible
    // message (window start + the producer's window length) predates the
    // horizon — the same whole-file-only rule Topic.expire enforces
    // (RetentionSpec's out-of-order overlap safety). |files|-row
    // relation end to end.
    "rd_expire_plan" -> { (s, d) =>
      val files = Topic.fileListingDF(s, topic(s, d))
        .select(col("fromTsMs").as("from_ts_ms"), col("count").as("n_messages"))
      files
        .withColumn("horizon_ms", expr(
          "min(from_ts_ms) over (partition by 1) + " +
            "((max(from_ts_ms) over (partition by 1) - min(from_ts_ms) over (partition by 1)) * 6) div 10"))
        .withColumn("expire",
          (col("from_ts_ms") + lit(EventsAsTopic.DayMs)) < col("horizon_ms"))
        .groupBy(col("expire"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_messages")).as("n_messages"),
          min(col("from_ts_ms")).as("first_from_ts_ms"),
          max(col("from_ts_ms")).as("last_from_ts_ms"),
          max(col("horizon_ms")).as("horizon_ms"))
        .withColumn("expire", col("expire").cast("long"))
        .orderBy(col("expire"))
    },

    // integrity audit: the count each filename CLAIMS (producer-written
    // metadata) vs the count a real distributed read of that exact file
    // yields — the trust-but-verify pass an operator runs before relying
    // on filename pruning over a 100 TB topic. Metadata side is one LIST;
    // the read side is the normal per-file parallel scan with its hidden
    // file_path column as attribution (costs nothing extra). The oracle
    // replays the producer's windowing from `events`, so a mismatch on
    // EITHER side (bad filename or short file) fails the check.
    "rd_integrity" -> { (s, d) =>
      val dir = topic(s, d)
      val meta = Topic.fileListingDF(s, dir)
        .select(col("path"), col("fromTsMs").as("from_ts_ms"), col("count").as("meta_n"))
      val actual = Topic.readDF(s, dir)
        .groupBy(col("file_path")).agg(count(lit(1)).as("actual_n"))
      meta.join(actual, meta("path") === actual("file_path"), "left")
        .select(col("from_ts_ms"), col("meta_n"),
          coalesce(col("actual_n"), lit(0L)).as("actual_n"))
        .withColumn("ok", when(col("meta_n") === col("actual_n"), 1L).otherwise(0L))
        .orderBy(col("from_ts_ms"))
    },

    "rd_topic_stats" -> { (s, d) =>
      Topic.fileListingDF(s, topic(s, d)).agg(
        count(lit(1)).as("n_files"),
        sum(col("count")).as("n_messages"),
        min(col("fromTsMs")).as("first_from_ts_ms"),
        max(col("fromTsMs")).as("last_from_ts_ms"))
    },

    "rd_metadata_kv" -> { (s, d) =>
      val dir = topic(s, d)
      val counts = Topic.readDF(s, dir)
        .groupBy(col("orderingGroup"))
        .agg(count(lit(1)).as("n"))
        .select(col("orderingGroup").as("key"), encode(col("n").cast("string"), "UTF-8").as("value"))
      MetadataStore.put(s, dir, counts)
      MetadataStore.readAll(s, dir)
        .select(col("key"), decode(col("value"), "UTF-8").as("value_str"))
        .orderBy(col("key"))
    },

    "rd_ordering_group" -> { (s, d) =>
      // distributed top-100 by ULID first (TakeOrderedAndProject — never a
      // global single-partition window), then number the 100 survivors
      val w = Window.orderBy(col("ulid_hex"))
      Topic.readDF(s, topic(s, d))
        .filter(col("orderingGroup") === "click")
        .orderBy(col("ulid_hex"))
        .limit(100)
        .withColumn("rn", row_number().over(w))
        .select(col("rn"), col("sequenceNumber").as("seq"), col("position"), col("ts_ms"))
        .orderBy(col("rn"))
    },

    // the DataSource V2 connector path: a plain declarative read where
    // the ts_ms predicate reaches planInputPartitions and prunes files
    // (graft.sources.TopicDataSource) — the same answer as the manual
    // seek, via spark.read.format
    "rd_source_scan" -> { (s, d) =>
      s.read.format("graft-topic").load(topic(s, d))
        .filter(col("ts_ms") >= MidMonthMs)
        .groupBy(col("orderingGroup").as("ordering_group"))
        .agg(count(lit(1)).as("n"), min(col("ulid_hex")).as("first_ulid"))
        .orderBy(col("ordering_group"))
    },

    "rd_gap_detect" -> { (s, d) =>
      val w = Window.partitionBy(col("orderingGroup")).orderBy(col("sequenceNumber"))
      Topic.readDF(s, topic(s, d))
        .withColumn("d", col("sequenceNumber") - lag(col("sequenceNumber"), 1).over(w))
        .groupBy(col("orderingGroup"))
        .agg(
          sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_gaps"),
          sum(when(col("d") > 1, col("d") - 1).otherwise(0L)).as("missing_total"))
        .select(col("orderingGroup").as("ordering_group"), col("n_gaps"), col("missing_total"))
        .orderBy(col("ordering_group"))
    },

    // publish-rate profile (the capacity question an operator asks a
    // topic first: how fast do messages arrive, and is the keyspace
    // spread across ordering groups or funneled into one?): per-hour
    // message counts + distinct active groups from the ULID timestamps.
    // Scale shape: one narrow decode projection + a partial agg onto
    // the calendar-bounded hour key space.
    "rd_rate_hist" -> { (s, d) =>
      Topic.readDF(s, topic(s, d))
        .groupBy(expr("ts_ms div 3600000").as("hour"))
        .agg(count(lit(1)).as("n_messages"),
          countDistinct(col("orderingGroup")).as("n_groups"))
        .orderBy(col("hour"))
    },

    // consumer-lag monitor (the reference deployment's standing health
    // question: how far behind is each consumer group's cursor?): the
    // committed cursor is modeled as the LAST ULID before a data-derived
    // horizon (min ts + 60 % of the span — the rd_expire_plan rule; if no
    // message precedes the horizon, e.g. a single-timestamp topic, the
    // NULL cursor coalesces to "" so everything reports pending rather
    // than the NULL-comparison silently reporting 0); backlog per
    // ordering group
    // = messages whose ULID sorts after it, with the first pending
    // ULID/timestamp a resume call would seek to. Scale shape: one
    // 1-row cursor aggregate broadcasts into a single conditional
    // partial agg over the topic scan — no self-join, no window.
    "rd_backlog" -> { (s, d) =>
      val msgs = Topic.readDF(s, topic(s, d))
      val bounds = msgs.agg(expr(
        "min(ts_ms) + ((max(ts_ms) - min(ts_ms)) * 6) div 10").as("horizon"))
      // a missing commit (no message before the horizon — e.g. every
      // message sharing one ts_ms, span 0) must report EVERYTHING
      // pending, not silently 0: coalesce the NULL cursor to the empty
      // string, which sorts below every ULID
      val cur = msgs.crossJoin(broadcast(bounds))
        .agg(coalesce(
          max(when(col("ts_ms") < col("horizon"), col("ulid_hex"))),
          lit("")).as("cursor"))
      msgs.crossJoin(broadcast(cur))
        .groupBy(col("orderingGroup").as("ordering_group"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("ulid_hex") > col("cursor"), 1L).otherwise(0L)).as("n_pending"),
          min(when(col("ulid_hex") > col("cursor"), col("ulid_hex"))).as("first_pending_ulid"),
          min(when(col("ulid_hex") > col("cursor"), col("ts_ms"))).as("first_pending_ts_ms"),
          max(col("ts_ms")).as("last_ts_ms"))
        .withColumn("pending_ppm", expr("(n_pending * 1000000) div n_total"))
        .orderBy(col("ordering_group"))
    },

    // backlog drain estimate (the follow-up to rd_backlog's "how far
    // behind": HOW LONG until a resumed consumer catches up, assuming it
    // keeps pace with the group's historical publish rate): per group,
    // pending count (rd_backlog's cursor rule) ÷ observed rate
    // (n_total/span) as exact integer milli-hours — the product
    // n_pending·span_ms can pass 2⁶³ at scale, so it multiplies in
    // DECIMAL(38,0)/HUGEINT; a zero-span group (single-instant burst)
    // reports 0 rather than throwing under ANSI. Scale shape: the same
    // 1-row cursor broadcast into ONE per-group conditional partial agg.
    "rd_replay" -> { (s, d) =>
      val msgs = Topic.readDF(s, topic(s, d))
      val bounds = msgs.agg(expr(
        "min(ts_ms) + ((max(ts_ms) - min(ts_ms)) * 6) div 10").as("horizon"))
      val cur = msgs.crossJoin(broadcast(bounds))
        .agg(coalesce(
          max(when(col("ts_ms") < col("horizon"), col("ulid_hex"))),
          lit("")).as("cursor"))
      msgs.crossJoin(broadcast(cur))
        .groupBy(col("orderingGroup").as("ordering_group"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("ulid_hex") > col("cursor"), 1L).otherwise(0L)).as("n_pending"),
          (max(col("ts_ms")) - min(col("ts_ms"))).as("span_ms"))
        .withColumn("rate_per_hour_milli",
          expr("""CASE WHEN span_ms > 0 THEN
                 |  (CAST(n_total AS DECIMAL(38,0)) * 3600000 * 1000) div CAST(span_ms AS DECIMAL(38,0))
                 |ELSE CAST(0 AS BIGINT) END""".stripMargin))
        .withColumn("eta_milli_hours",
          expr("""CASE WHEN span_ms > 0 THEN
                 |  (CAST(n_pending AS DECIMAL(38,0)) * span_ms * 1000) div (CAST(n_total AS DECIMAL(38,0)) * 3600000)
                 |ELSE CAST(0 AS BIGINT) END""".stripMargin))
        .orderBy(col("ordering_group"))
    },

    // topic key-skew summary (the partition-planning number behind
    // rd_ordering_group: is the keyspace balanced enough to parallelize
    // a consumer per group, or does one group carry the topic?): the
    // Herfindahl index + top-group share over per-group message counts,
    // exact DECIMAL(38,0)/HUGEINT squares and ppm floor divisions — a
    // uniform g-group topic scores 10⁶ div g, a single hot group 10⁶.
    // Scale shape: one group-keyed partial agg, then a 1-row summary of
    // the |groups|-row relation.
    "rd_key_skew" -> { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      Topic.readDF(s, topic(s, d))
        .groupBy(col("orderingGroup")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n")).as("n_messages"),
          min(col("n")).as("min_group"), max(col("n")).as("max_group"),
          sum(col("n").cast(dec) * col("n")).as("sumsq"))
        .select(col("n_groups"), col("n_messages"), col("min_group"),
          col("max_group"),
          expr("(sumsq * 1000000) div (CAST(n_messages AS DECIMAL(38,0)) * n_messages)")
            .as("hhi_ppm"),
          expr("(CAST(max_group AS DECIMAL(38,0)) * 1000000) div CAST(n_messages AS DECIMAL(38,0))")
            .as("top_group_ppm"))
    },

    // topic traffic trend — ev_trend's integer OLS on the topic's own
    // daily counts (is publish volume growing or draining — the
    // capacity-planning number beside rd_rate_hist's static curve):
    // slope of messages/day over the day axis in exact milli units
    // (cross-multiplied normal equations, subtract-pmod floor division —
    // no float regression to reconcile). Scale shape: one partial agg
    // onto the calendar-bounded day space, a 1-row rollup.
    "rd_traffic_trend" -> { (s, d) =>
      Topic.readDF(s, topic(s, d))
        .groupBy(expr("ts_ms div 86400000").as("day"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_messages"),
          sum(col("day")).as("sx"), sum(col("n")).as("sy"),
          sum(col("day") * col("n")).as("sxy"), sum(col("day") * col("day")).as("sxx"))
        .withColumn("num", (col("n_days") * col("sxy") - col("sx") * col("sy")) * lit(1000L))
        .withColumn("den", col("n_days") * col("sxx") - col("sx") * col("sx"))
        .withColumn("slope_milli",
          when(col("den") === 0L, lit(0L))
            .otherwise(expr("(num - pmod(num, den)) div den")))
        .select(col("n_days"), col("n_messages"), col("slope_milli"))
    },

    // retention-curve simulation from the listing alone — rd_expire_plan
    // answers "what expires at TODAY's horizon"; this sweeps the horizon
    // across the topic's own span (quarter points) so an operator can
    // PICK a retention age by reclaim: per candidate cutoff, files and
    // messages freed under the same whole-file-only rule (a file expires
    // iff even its last possible message predates the cutoff — the rule
    // RetentionSpec proves safe under out-of-order overlap). Scale
    // shape: 1-row bounds aggregate broadcast onto the |files| listing
    // crossed with a 3-row quarter relation — the topic data is never
    // read, only the LIST.
    "rd_retention_curve" -> { (s, d) =>
      val files = Topic.fileListingDF(s, topic(s, d))
        .select(col("fromTsMs").as("from_ts_ms"), col("count").as("n_messages"))
      val bounds = files.agg(min(col("from_ts_ms")).as("lo"), max(col("from_ts_ms")).as("hi"))
      val quarters = s.range(1, 4).select(col("id").as("q"))
      files.crossJoin(broadcast(bounds)).crossJoin(broadcast(quarters))
        .withColumn("cutoff_ms", expr("lo + ((hi - lo) * q) div 4"))
        .withColumn("expired",
          (col("from_ts_ms") + lit(EventsAsTopic.DayMs)) < col("cutoff_ms"))
        .groupBy(col("q"))
        .agg(max(col("cutoff_ms")).as("cutoff_ms"),
          sum(when(col("expired"), 1L).otherwise(0L)).as("n_files_expired"),
          sum(when(col("expired"), col("n_messages")).otherwise(0L)).as("n_msgs_expired"),
          sum(col("n_messages")).as("n_messages"))
        .withColumn("expired_ppm", expr("(n_msgs_expired * 1000000) div n_messages"))
        .orderBy(col("q"))
    },

    // seek-pruning efficiency sweep from the listing alone — the cost
    // model behind rd_seek_timestamp's filename pruning (the reference's
    // cursorOf contract takes (approxTimestamp, tolerance); this
    // quantifies what each tolerance COSTS): per tolerance ∈ {1 h, 6 h,
    // 24 h} around the mid-month probe point, window files whose
    // [from, from+1 d) range intersects the probe interval and the
    // message mass behind them, as exact ppm of the topic — the number
    // that says whether a sloppy caller tolerance quietly degrades a
    // pruned seek into a full scan. |files| listing × 3-row tolerance
    // relation; the data is never read.
    "rd_seek_cost" -> { (s, d) =>
      import s.implicits._
      val files = Topic.fileListingDF(s, topic(s, d))
        .select(col("fromTsMs").as("from_ts_ms"), col("count").as("n_messages"))
      val tols = Seq(3600000L, 6L * 3600000L, 24L * 3600000L).toDF("tol_ms")
      files.crossJoin(broadcast(tols))
        .withColumn("touched",
          (col("from_ts_ms") + lit(EventsAsTopic.DayMs) > lit(MidMonthMs) - col("tol_ms")) &&
            (col("from_ts_ms") <= lit(MidMonthMs) + col("tol_ms")))
        .groupBy(col("tol_ms"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("touched"), 1L).otherwise(0L)).as("n_files_touched"),
          sum(col("n_messages")).as("n_messages"),
          sum(when(col("touched"), col("n_messages")).otherwise(0L)).as("n_msgs_touched"))
        .withColumn("touched_ppm", expr("(n_msgs_touched * 1000000) div n_messages"))
        .orderBy(col("tol_ms"))
    },

    // duplicate-position audit — the republish detector (the facade
    // rejects an identical re-publish INSIDE one producer session;
    // producer retries across sessions or before a crash can still land
    // the same logical position twice, and a consumer keying state on
    // position double-counts): positions carrying >1 message, worst
    // copy count, exact ppm. One per-position partial agg (map-side
    // combine does the heavy lifting — healthy topics have copies=1
    // everywhere), 1-row report.
    "rd_dup_check" -> { (s, d) =>
      Topic.readDF(s, topic(s, d))
        .groupBy(col("position")).agg(count(lit(1)).as("copies"))
        .agg(count(lit(1)).as("n_positions"),
          sum(when(col("copies") > 1L, 1L).otherwise(0L)).as("n_dup_positions"),
          max(col("copies")).as("max_copies"),
          sum(col("copies")).as("n_messages"))
        .withColumn("dup_ppm", expr("(n_dup_positions * 1000000) div n_positions"))
    },

    // ordering-group balance entropy — the one-number partition-balance
    // score beside rd_key_skew's HHI (entropy reads "how many EFFECTIVE
    // groups share the load": e^H groups' worth; a topic scoring 0.3 of
    // its ln|groups| ceiling funnels consumers through a hot group no
    // matter how many groups exist). Exact integer micro-nats via the
    // native ln_micro kernel, DECIMAL(38,0) sums, oracle replayed
    // step-for-step by FixedLnSql. One per-group partial agg, 1-row
    // report.
    "rd_group_entropy" -> { (s, d) =>
      Topic.readDF(s, topic(s, d))
        .groupBy(col("orderingGroup")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_messages"),
          max(col("n")).as("max_group"),
          sum(expr("CAST(n AS DECIMAL(38,0)) * ln_micro(n)")).as("sln"))
        .withColumn("entropy_micro",
          expr("ln_micro(n_messages) - (sln div CAST(n_messages AS DECIMAL(38,0)))").cast("long"))
        .withColumn("balance_ppm",
          when(col("n_groups") === 1, 0L)
            .otherwise(expr("(entropy_micro * 1000000) div ln_micro(n_groups)")))
        .select(col("n_groups"), col("n_messages"), col("max_group"),
          col("entropy_micro"), col("balance_ppm"))
    },

    // ULID-vs-window containment audit — the invariant EVERY filename
    // pruning in this engine depends on (seek, retention, seek-cost all
    // reason from [from, from+1d) alone): each message's ULID timestamp,
    // decoded by the native ulid_ts_ms kernel from the raw 6 bytes, must
    // sit inside its own window file's day range. A violation means a
    // producer wrote with a skewed clock mid-window and pruned reads
    // will silently MISS that message. Scale shape: the per-file
    // parallel scan with file_path attribution (the rd_integrity trick,
    // costs nothing extra) joined to the |files| listing, 1-row report;
    // worst_skew_ms quantifies how far out the worst offender sits.
    "rd_ulid_sanity" -> { (s, d) =>
      val dir = topic(s, d)
      val files = Topic.fileListingDF(s, dir)
        .select(col("path"), col("fromTsMs").as("from_ts_ms"))
      Topic.readDF(s, dir)
        .select(col("file_path"), expr("ulid_ts_ms(id)").as("u_ts"))
        .join(files, col("file_path") === col("path"))
        .withColumn("skew_ms", greatest(
          col("from_ts_ms") - col("u_ts"),
          col("u_ts") - col("from_ts_ms") - lit(EventsAsTopic.DayMs - 1L),
          lit(0L)))
        .agg(count(lit(1)).as("n_messages"),
          countDistinct(col("path")).as("n_files"),
          sum(when(col("skew_ms") > 0L, 1L).otherwise(0L)).as("n_out_of_window"),
          max(col("skew_ms")).as("worst_skew_ms"))
    },

    // ordering-guarantee audit per group — the reference's core delivery
    // promise (per ordering group, consumers see sequence order)
    // verified against the ULID read order: adjacent read-order pairs
    // whose sequenceNumber DECREASES are inversions (0 on a healthy
    // topic; nonzero means producers published out of order within a
    // group and consumers relying on the guarantee will misorder).
    // One per-group lag window (rd_gap_detect's shape), |groups| output.
    "rd_order_check" -> { (s, d) =>
      val w = Window.partitionBy(col("orderingGroup")).orderBy(col("ulid_hex"))
      Topic.readDF(s, topic(s, d))
        .withColumn("prev_seq", lag(col("sequenceNumber"), 1).over(w))
        .groupBy(col("orderingGroup"))
        .agg(count(lit(1)).as("n_messages"),
          sum(when(col("prev_seq") > col("sequenceNumber"), 1L).otherwise(0L)).as("n_inversions"),
          min(col("sequenceNumber")).as("min_seq"),
          max(col("sequenceNumber")).as("max_seq"))
        .select(col("orderingGroup").as("ordering_group"), col("n_messages"),
          col("n_inversions"), col("min_seq"), col("max_seq"))
        .orderBy(col("ordering_group"))
    },

    // scan-partition planning from the listing alone (the maxPartition-
    // Bytes decision in message units: HOW MANY read tasks should each
    // window file get so no task exceeds the topic's own mean-file
    // budget?): per file, splits = ceil(count / budget) with budget =
    // max(1, mean messages per file) — a data-derived rule, so dense
    // files fan out and small files stay single-task. |files|-row
    // relation end to end, like rd_compact_plan.
    "rd_partition_plan" -> { (s, d) =>
      Topic.fileListingDF(s, topic(s, d))
        .select(col("fromTsMs").as("from_ts_ms"), col("count").as("n_messages"))
        .withColumn("budget", expr(
          "greatest(1L, sum(n_messages) over (partition by 1) div count(1) over (partition by 1))"))
        .withColumn("n_splits", expr("(n_messages + budget - 1) div budget"))
        .select(col("from_ts_ms"), col("n_messages"), col("budget"), col("n_splits"))
        .orderBy(col("from_ts_ms"))
    },

    // per-window-file key-skew profile — rd_key_skew's per-day form (the
    // file-level partitioning question: is ANY window file dominated by
    // one ordering group, even when the topic is globally balanced?):
    // per day, message count, active groups, Herfindahl index and top
    // share, all exact HUGEINT/DECIMAL squares and ppm floors. Scale
    // shape: one (day, group) partial agg, then a |days|-row rollup.
    "rd_window_skew" -> { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      Topic.readDF(s, topic(s, d))
        .groupBy(expr("ts_ms div 86400000").as("day"), col("orderingGroup"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_messages"),
          max(col("n")).as("max_group"),
          sum(col("n").cast(dec) * col("n")).as("sumsq"))
        .select(col("day"), col("n_groups"), col("n_messages"),
          expr("(sumsq * 1000000) div (CAST(n_messages AS DECIMAL(38,0)) * n_messages)")
            .as("hhi_ppm"),
          expr("(CAST(max_group AS DECIMAL(38,0)) * 1000000) div CAST(n_messages AS DECIMAL(38,0))")
            .as("top_group_ppm"))
        .orderBy(col("day"))
    },

    // longest-silence audit per ordering group (the dead-producer /
    // stuck-pipeline question rd_rate_hist's hourly curve smooths over:
    // WHAT was the single longest quiet stretch, and when did it end?):
    // per group, inter-arrival gaps via one lag over the (ts_ms, ulid)
    // order, then the max gap with a deterministic tie-break (earliest
    // end). Scale shape: one per-group lag window (rd_gap_detect's
    // documented shape), one per-group rank window over the SAME
    // partitioning (no second shuffle), |groups|-row output.
    "rd_quiet" -> { (s, d) =>
      val wo = Window.partitionBy(col("orderingGroup")).orderBy(col("ts_ms"), col("ulid_hex"))
      val g = Topic.readDF(s, topic(s, d))
        .withColumn("prev_ts", lag(col("ts_ms"), 1).over(wo))
        .filter(col("prev_ts").isNotNull)
        .select(col("orderingGroup"), (col("ts_ms") - col("prev_ts")).as("gap_ms"), col("ts_ms"))
      val wr = Window.partitionBy(col("orderingGroup")).orderBy(col("gap_ms").desc, col("ts_ms"))
      val top = g.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("orderingGroup"), col("gap_ms").as("max_gap_ms"),
          col("ts_ms").as("gap_end_ts_ms"))
      g.groupBy(col("orderingGroup")).agg(count(lit(1)).as("n_gaps"))
        .join(top, Seq("orderingGroup"))
        .select(col("orderingGroup").as("ordering_group"), col("n_gaps"),
          col("max_gap_ms"), col("gap_end_ts_ms"))
        .orderBy(col("ordering_group"))
    },

    // the SURVEY §1 thesis as ONE keyed query — the topic store FEEDS the
    // training pipeline: read the Avro topic, map message payloads onto
    // the documents shape (payload text = the data map's props bytes,
    // source = ordering group, id = ULID), then run the pipeline stages
    // end to end — exact dedup keep-first (topic payloads repeat heavily:
    // producers re-send the same props), C4-style minimum-length quality
    // gate, and per-source token-budget admission in ULID (= publish)
    // order until the allocation is spent (samp_token_budget's straddle
    // rule) — emitting the per-source mixture manifest a training run
    // logs. Near-dup stages are a no-op at payload sizes (exact dedup
    // subsumes them); pipe_clean_corpus/pipe_train_mix own that depth on
    // the documents table. Scale shape: one decoded projection off the
    // pruned topic scan, two chained partial aggs on (source, text) —
    // payload text shuffles once, hash-keyed — and the admission window
    // partitions by source over the deduplicated survivors only.
    "pipe_from_topic" -> { (s, d) =>
      val B = 24L // per-source token budget (fixed, like pipe_train_mix's)
      val msgs = Topic.readDF(s, topic(s, d))
        .select(col("ulid_hex"), col("orderingGroup").as("source"),
          decode(col("data").getItem("props"), "UTF-8").as("text"))
      val kept = msgs.groupBy(col("source"), col("text"))
        .agg(min(col("ulid_hex")).as("ulid"))
      val adm = kept.filter(length(col("text")) >= 9)
        .withColumn("n_tok", size(split(col("text"), " +")).cast("long"))
        .withColumn("cum_before",
          sum(col("n_tok")).over(
            Window.partitionBy(col("source")).orderBy(col("ulid"))) - col("n_tok"))
      val raw = msgs.groupBy(col("source")).agg(count(lit(1)).as("n_msgs"))
      val dd = kept.groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
      val st = adm.groupBy(col("source"))
        .agg(count(lit(1)).as("n_quality"),
          sum(when(col("cum_before") < B, 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("cum_before") < B, col("n_tok")).otherwise(0L)).as("n_tokens_admitted"))
      raw.join(dd, Seq("source"), "left").join(st, Seq("source"), "left")
        .select(col("source"), col("n_msgs"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          lit(B).as("alloc_tokens"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("n_tokens_admitted"), lit(0L)).as("n_tokens_admitted"))
        .orderBy(col("source"))
    },

    // publish-to-visibility latency distribution — the SLO number an
    // operator quotes for a topic (rd_* had rates, skew, backlog and
    // replay ETA but no "how long until a published message is readable").
    // A message becomes visible when its window file closes; with the
    // producer's time windowing that close is forced by the window's LAST
    // message, so per-message latency = (window max ts − message ts),
    // data-derived like every other rd_ horizon. Exact percentiles via
    // the q49/q50 count-of-counts machinery at second granularity (the
    // latency domain is window-length-bounded: < 86 400 distinct seconds
    // per window whatever the corpus size) plus the exact millisecond
    // max. Scale shape: one narrow decode projection, a |files|-row
    // visibility aggregate broadcast back (calendar-bounded), one partial
    // agg onto the bounded latency-second key space, and the one prefix
    // window over that bounded histogram; output is one row.
    "rd_latency" -> { (s, d) =>
      val m = Topic.readDF(s, topic(s, d))
        .select(col("ts_ms"), expr("ts_ms div 86400000").as("day"))
      val vis = m.groupBy(col("day")).agg(max(col("ts_ms")).as("vis_ms"))
      val hist = m.join(broadcast(vis), Seq("day"))
        .select(expr("(vis_ms - ts_ms) div 1000").as("lat_s"),
          (col("vis_ms") - col("ts_ms")).as("lat_ms"))
        .groupBy(col("lat_s")).agg(count(lit(1)).as("c"), max(col("lat_ms")).as("mx_ms"))
      val wCum = Window.partitionBy(lit(1)).orderBy(col("lat_s"))
      hist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(lit(1))))
        .agg(max(col("n")).as("n_messages"),
          min(when(col("cum") * 100 >= col("n") * 50, col("lat_s"))).as("p50_s"),
          min(when(col("cum") * 100 >= col("n") * 90, col("lat_s"))).as("p90_s"),
          min(when(col("cum") * 100 >= col("n") * 99, col("lat_s"))).as("p99_s"),
          max(col("mx_ms")).as("max_ms"))
    },

    // per-group file-locality audit — the consumer-affinity number
    // behind rd_partition_plan (a consumer pinned to one ordering group
    // opens every daily file the group's messages landed in; a group
    // smeared thinly across its whole span touches max files per
    // message read, a bursty group reads dense files — this is the
    // open/seek budget per group the compaction planner weighs): per
    // group, messages, distinct daily files touched, first/last day
    // span, and fill ppm = days-touched over span (10⁶ = every day of
    // its life has a file to open, low = sparse tail-seeking). Scale
    // shape: one per-(group, day) partial agg then a |groups|-row
    // rollup — never a file listing join.
    "rd_group_spread" -> { (s, d) =>
      Topic.readDF(s, topic(s, d))
        .groupBy(col("orderingGroup").as("ordering_group"),
          expr("ts_ms div 86400000").as("day"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("ordering_group"))
        .agg(sum(col("c")).as("n_msgs"),
          count(lit(1)).as("n_files"),
          min(col("day")).as("first_day"), max(col("day")).as("last_day"))
        .withColumn("span_days", col("last_day") - col("first_day") + 1)
        .withColumn("fill_ppm", expr("(n_files * 1000000) div span_days"))
        .orderBy(col("ordering_group"))
    }
  )

  /** Shared oracle CTE: the same content-derived ULID, in DuckDB. */
  private val M =
    """WITH m AS (
      |  SELECT printf('%012x', epoch_us(ts) // 1000) || substr(md5(CAST(event_id AS VARCHAR)), 1, 20) AS ulid_hex,
      |         epoch_us(ts) // 1000 AS ts_ms,
      |         'evt-' || CAST(event_id AS VARCHAR) AS position,
      |         event_id AS seq,
      |         event_type AS ordering_group
      |  FROM events)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "rd_read_topic" -> (M +
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_messages, MIN(ts_ms) AS min_ts_ms,
        |  MAX(ts_ms) AS max_ts_ms,
        |  CAST(COUNT(DISTINCT position) AS BIGINT) AS n_positions,
        |  CAST(COUNT(DISTINCT ordering_group) AS BIGINT) AS n_groups
        |FROM m""".stripMargin),

    "rd_seek_timestamp" -> (M +
      """SELECT ulid_hex, ts_ms, position, seq FROM m
        |WHERE ts_ms >= 1705276800000
        |ORDER BY ulid_hex LIMIT 100""".stripMargin),

    "rd_cursor_after" -> (M +
      """SELECT ulid_hex, ts_ms, position, seq FROM m
        |WHERE ulid_hex > (SELECT ulid_hex FROM m
        |  WHERE position = 'evt-' || CAST((SELECT LEAST(500, MAX(event_id)) FROM events) AS VARCHAR))
        |ORDER BY ulid_hex LIMIT 50""".stripMargin),

    "rd_position_lookup" -> (M +
      """SELECT ulid_hex, ts_ms, position, seq FROM m
        |WHERE position = 'evt-' || CAST((SELECT LEAST(500, MAX(event_id)) FROM events) AS VARCHAR)""".stripMargin),

    "rd_last_message" -> (M +
      """SELECT ulid_hex, ts_ms, position, seq FROM m
        |ORDER BY ulid_hex DESC LIMIT 1""".stripMargin),

    "rd_window_files" -> (M +
      """SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS n_messages,
        |  arg_min(position, ulid_hex) AS first_position
        |FROM m GROUP BY ts_ms // 86400000
        |ORDER BY from_ts_ms""".stripMargin),

    "rd_compact_plan" -> (M +
      """, f AS (
        |  SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS n_messages
        |  FROM m GROUP BY ts_ms // 86400000),
        |b AS (
        |  SELECT *, GREATEST(1, (SUM(n_messages) OVER () // COUNT(*) OVER ()) * 3) AS budget,
        |    SUM(n_messages) OVER (ORDER BY from_ts_ms) AS cum
        |  FROM f)
        |SELECT CAST((cum - n_messages) // budget AS BIGINT) AS merge_group,
        |  CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(n_messages) AS BIGINT) AS n_messages,
        |  MIN(from_ts_ms) AS first_from_ts_ms, MAX(from_ts_ms) AS last_from_ts_ms
        |FROM b GROUP BY 1 ORDER BY merge_group""".stripMargin),

    "rd_compact_gain" -> (M +
      """, f AS (
        |  SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS n_messages
        |  FROM m GROUP BY ts_ms // 86400000),
        |b AS (
        |  SELECT *, GREATEST(1, (SUM(n_messages) OVER () // COUNT(*) OVER ()) * 3) AS budget,
        |    SUM(n_messages) OVER (ORDER BY from_ts_ms) AS cum
        |  FROM f),
        |g AS (
        |  SELECT CAST((cum - n_messages) // budget AS BIGINT) AS merge_group,
        |    CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(n_messages) AS BIGINT) AS grp_messages
        |  FROM b GROUP BY 1)
        |SELECT CAST(SUM(n_files) AS BIGINT) AS files_before,
        |  CAST(COUNT(*) AS BIGINT) AS files_after,
        |  CAST(SUM(grp_messages) AS BIGINT) AS n_messages,
        |  CAST(SUM(CASE WHEN n_files > 1 THEN grp_messages ELSE 0 END) AS BIGINT) AS rewritten,
        |  CAST((SUM(CASE WHEN n_files > 1 THEN grp_messages ELSE 0 END) * CAST(1000000 AS HUGEINT))
        |    // SUM(grp_messages) AS BIGINT) AS rewrite_ppm
        |FROM g""".stripMargin),

    "rd_expire_plan" -> (M +
      """, f AS (
        |  SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS n_messages
        |  FROM m GROUP BY ts_ms // 86400000),
        |h AS (
        |  SELECT *, MIN(from_ts_ms) OVER () +
        |    ((MAX(from_ts_ms) OVER () - MIN(from_ts_ms) OVER ()) * 6) // 10 AS horizon_ms
        |  FROM f)
        |SELECT CAST(CASE WHEN from_ts_ms + 86400000 < horizon_ms THEN 1 ELSE 0 END AS BIGINT) AS expire,
        |  CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(n_messages) AS BIGINT) AS n_messages,
        |  MIN(from_ts_ms) AS first_from_ts_ms, MAX(from_ts_ms) AS last_from_ts_ms,
        |  CAST(MAX(horizon_ms) AS BIGINT) AS horizon_ms
        |FROM h GROUP BY 1 ORDER BY expire""".stripMargin),

    "rd_integrity" -> (M +
      """SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS meta_n,
        |  CAST(COUNT(*) AS BIGINT) AS actual_n, CAST(1 AS BIGINT) AS ok
        |FROM m GROUP BY ts_ms // 86400000
        |ORDER BY from_ts_ms""".stripMargin),

    "rd_topic_stats" -> (M +
      """, w AS (SELECT MIN(ts_ms) AS f, COUNT(*) AS c FROM m GROUP BY ts_ms // 86400000)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(c) AS BIGINT) AS n_messages,
        |  MIN(f) AS first_from_ts_ms, MAX(f) AS last_from_ts_ms
        |FROM w""".stripMargin),

    "rd_metadata_kv" ->
      """SELECT event_type AS key, CAST(COUNT(*) AS VARCHAR) AS value_str
        |FROM events GROUP BY event_type ORDER BY key""".stripMargin,

    "rd_ordering_group" -> (M +
      """, c AS (SELECT ulid_hex, seq, position, ts_ms,
        |    CAST(ROW_NUMBER() OVER (ORDER BY ulid_hex) AS INT) AS rn
        |  FROM m WHERE ordering_group = 'click')
        |SELECT rn, seq, position, ts_ms FROM c WHERE rn <= 100 ORDER BY rn""".stripMargin),

    "rd_source_scan" -> (M +
      """SELECT ordering_group, CAST(COUNT(*) AS BIGINT) AS n, MIN(ulid_hex) AS first_ulid
        |FROM m WHERE ts_ms >= 1705276800000
        |GROUP BY ordering_group ORDER BY ordering_group""".stripMargin),

    "rd_gap_detect" -> (M +
      """, g AS (SELECT ordering_group, seq,
        |    seq - LAG(seq) OVER (PARTITION BY ordering_group ORDER BY seq) AS d
        |  FROM m)
        |SELECT ordering_group,
        |  CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(SUM(CASE WHEN d > 1 THEN d - 1 ELSE 0 END) AS BIGINT) AS missing_total
        |FROM g GROUP BY ordering_group ORDER BY ordering_group""".stripMargin),

    "rd_rate_hist" -> (M +
      """SELECT ts_ms // 3600000 AS hour, CAST(COUNT(*) AS BIGINT) AS n_messages,
        |  CAST(COUNT(DISTINCT ordering_group) AS BIGINT) AS n_groups
        |FROM m GROUP BY 1 ORDER BY hour""".stripMargin),

    "rd_backlog" -> (M +
      """, h AS (
        |  SELECT MIN(ts_ms) + ((MAX(ts_ms) - MIN(ts_ms)) * 6) // 10 AS horizon FROM m),
        |cur AS (
        |  SELECT COALESCE(MAX(CASE WHEN m.ts_ms < h.horizon THEN m.ulid_hex END), '') AS cursor
        |  FROM m CROSS JOIN h)
        |SELECT ordering_group,
        |  CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN m.ulid_hex > cur.cursor THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
        |  MIN(CASE WHEN m.ulid_hex > cur.cursor THEN m.ulid_hex END) AS first_pending_ulid,
        |  MIN(CASE WHEN m.ulid_hex > cur.cursor THEN m.ts_ms END) AS first_pending_ts_ms,
        |  MAX(m.ts_ms) AS last_ts_ms,
        |  CAST((SUM(CASE WHEN m.ulid_hex > cur.cursor THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS pending_ppm
        |FROM m CROSS JOIN cur
        |GROUP BY ordering_group ORDER BY ordering_group""".stripMargin),

    "rd_replay" -> (M +
      """, h AS (
        |  SELECT MIN(ts_ms) + ((MAX(ts_ms) - MIN(ts_ms)) * 6) // 10 AS horizon FROM m),
        |cur AS (
        |  SELECT COALESCE(MAX(CASE WHEN m.ts_ms < h.horizon THEN m.ulid_hex END), '') AS cursor
        |  FROM m CROSS JOIN h),
        |g AS (
        |  SELECT ordering_group,
        |    CAST(COUNT(*) AS BIGINT) AS n_total,
        |    CAST(SUM(CASE WHEN m.ulid_hex > cur.cursor THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
        |    MAX(m.ts_ms) - MIN(m.ts_ms) AS span_ms
        |  FROM m CROSS JOIN cur
        |  GROUP BY ordering_group)
        |SELECT ordering_group, n_total, n_pending, span_ms,
        |  CASE WHEN span_ms > 0 THEN
        |    CAST((CAST(n_total AS HUGEINT) * 3600000 * 1000) // CAST(span_ms AS HUGEINT) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS rate_per_hour_milli,
        |  CASE WHEN span_ms > 0 THEN
        |    CAST((CAST(n_pending AS HUGEINT) * span_ms * 1000) // (CAST(n_total AS HUGEINT) * 3600000) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS eta_milli_hours
        |FROM g ORDER BY ordering_group""".stripMargin),

    "rd_key_skew" -> (M +
      """, c AS (
        |  SELECT ordering_group, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_messages,
        |    MIN(n) AS min_group, MAX(n) AS max_group,
        |    SUM(CAST(n AS HUGEINT) * n) AS sumsq
        |  FROM c)
        |SELECT n_groups, n_messages, min_group, max_group,
        |  CAST((sumsq * 1000000) // (CAST(n_messages AS HUGEINT) * n_messages) AS BIGINT) AS hhi_ppm,
        |  CAST((CAST(max_group AS HUGEINT) * 1000000) // n_messages AS BIGINT) AS top_group_ppm
        |FROM g""".stripMargin),

    "rd_traffic_trend" -> (M +
      """, c AS (
        |  SELECT ts_ms // 86400000 AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM m GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(n) AS BIGINT) AS n_messages,
        |    CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(n) AS BIGINT) AS sy,
        |    CAST(SUM(day * n) AS BIGINT) AS sxy, CAST(SUM(day * day) AS BIGINT) AS sxx
        |  FROM c),
        |e AS (
        |  SELECT *, (n_days * sxy - sx * sy) * 1000 AS num,
        |    n_days * sxx - sx * sx AS den
        |  FROM g)
        |SELECT n_days, n_messages,
        |  CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((num - ((num % den + den) % den)) // den AS BIGINT) END AS slope_milli
        |FROM e""".stripMargin),

    "rd_retention_curve" -> (M +
      """, f AS (
        |  SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS n_messages
        |  FROM m GROUP BY ts_ms // 86400000),
        |b AS (SELECT MIN(from_ts_ms) AS lo, MAX(from_ts_ms) AS hi FROM f),
        |e AS (
        |  SELECT q, from_ts_ms, n_messages,
        |    lo + ((hi - lo) * q) // 4 AS cutoff_ms
        |  FROM f CROSS JOIN b CROSS JOIN (VALUES (1), (2), (3)) AS qs(q))
        |SELECT CAST(q AS BIGINT) AS q, CAST(MAX(cutoff_ms) AS BIGINT) AS cutoff_ms,
        |  CAST(SUM(CASE WHEN from_ts_ms + 86400000 < cutoff_ms THEN 1 ELSE 0 END) AS BIGINT) AS n_files_expired,
        |  CAST(SUM(CASE WHEN from_ts_ms + 86400000 < cutoff_ms THEN n_messages ELSE 0 END) AS BIGINT) AS n_msgs_expired,
        |  CAST(SUM(n_messages) AS BIGINT) AS n_messages,
        |  CAST((SUM(CASE WHEN from_ts_ms + 86400000 < cutoff_ms THEN n_messages ELSE 0 END) * 1000000) // SUM(n_messages) AS BIGINT) AS expired_ppm
        |FROM e GROUP BY q ORDER BY q""".stripMargin),

    "rd_seek_cost" -> (M +
      s""", f AS (
        |  SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS n_messages
        |  FROM m GROUP BY ts_ms // 86400000),
        |e AS (
        |  SELECT tol_ms, from_ts_ms, n_messages,
        |    CASE WHEN from_ts_ms + 86400000 > $MidMonthMs - tol_ms
        |          AND from_ts_ms <= $MidMonthMs + tol_ms THEN 1 ELSE 0 END AS touched
        |  FROM f CROSS JOIN (VALUES (3600000), (${6L * 3600000L}), (${24L * 3600000L})) AS ts(tol_ms))
        |SELECT CAST(tol_ms AS BIGINT) AS tol_ms, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(touched) AS BIGINT) AS n_files_touched,
        |  CAST(SUM(n_messages) AS BIGINT) AS n_messages,
        |  CAST(SUM(touched * n_messages) AS BIGINT) AS n_msgs_touched,
        |  CAST((SUM(touched * n_messages) * 1000000) // SUM(n_messages) AS BIGINT) AS touched_ppm
        |FROM e GROUP BY tol_ms ORDER BY tol_ms""".stripMargin),

    "rd_dup_check" -> (M +
      """, p AS (
        |  SELECT position, CAST(COUNT(*) AS BIGINT) AS copies FROM m GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_positions,
        |  CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_positions,
        |  CAST(MAX(copies) AS BIGINT) AS max_copies,
        |  CAST(SUM(copies) AS BIGINT) AS n_messages,
        |  CAST((SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
        |FROM p""".stripMargin),

    // the ln_micro chains replay the entropy exactly (the ann_cell_entropy
    // oracle pattern over the per-group counts)
    "rd_group_entropy" -> {
      val (lnG, lastG) = graft.queries.FixedLnSql.chain(
        "g", "rga", Seq("ordering_group"), Seq("n"))
      val (lnP, lastP) = graft.queries.FixedLnSql.chain(
        "per", "rgb", Seq("max_group", "sln"), Seq("n_messages", "n_groups"))
      M + s""", g AS (
        |  SELECT ordering_group, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY 1),
        |$lnG,
        |per AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_messages,
        |    CAST(MAX(n) AS BIGINT) AS max_group, SUM(CAST(n AS HUGEINT) * ln_n) AS sln
        |  FROM $lastG),
        |$lnP
        |SELECT n_groups, n_messages, max_group,
        |  CAST(ln_n_messages - (sln // CAST(n_messages AS HUGEINT)) AS BIGINT) AS entropy_micro,
        |  CASE WHEN n_groups = 1 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(((ln_n_messages - (sln // CAST(n_messages AS HUGEINT))) * 1000000) // ln_n_groups AS BIGINT) END AS balance_ppm
        |FROM $lastP""".stripMargin
    },

    "rd_ulid_sanity" -> (M +
      """, w AS (
        |  SELECT ts_ms // 86400000 AS dy, MIN(ts_ms) AS from_ts_ms
        |  FROM m GROUP BY 1),
        |j AS (
        |  SELECT m.ts_ms, w.from_ts_ms,
        |    GREATEST(w.from_ts_ms - m.ts_ms,
        |             m.ts_ms - w.from_ts_ms - 86399999,
        |             0) AS skew_ms
        |  FROM m JOIN w ON w.dy = m.ts_ms // 86400000)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_messages,
        |  CAST(COUNT(DISTINCT from_ts_ms) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN skew_ms > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_window,
        |  CAST(MAX(skew_ms) AS BIGINT) AS worst_skew_ms
        |FROM j""".stripMargin),

    "rd_order_check" -> (M +
      """, g AS (
        |  SELECT ordering_group, seq,
        |    LAG(seq) OVER (PARTITION BY ordering_group ORDER BY ulid_hex) AS prev_seq
        |  FROM m)
        |SELECT ordering_group, CAST(COUNT(*) AS BIGINT) AS n_messages,
        |  CAST(SUM(CASE WHEN prev_seq > seq THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
        |  MIN(seq) AS min_seq, MAX(seq) AS max_seq
        |FROM g GROUP BY ordering_group ORDER BY ordering_group""".stripMargin),

    "rd_partition_plan" -> (M +
      """, f AS (
        |  SELECT MIN(ts_ms) AS from_ts_ms, CAST(COUNT(*) AS BIGINT) AS n_messages
        |  FROM m GROUP BY ts_ms // 86400000),
        |b AS (
        |  SELECT *, GREATEST(1, SUM(n_messages) OVER () // COUNT(*) OVER ()) AS budget
        |  FROM f)
        |SELECT from_ts_ms, n_messages, CAST(budget AS BIGINT) AS budget,
        |  CAST((n_messages + budget - 1) // budget AS BIGINT) AS n_splits
        |FROM b ORDER BY from_ts_ms""".stripMargin),

    "rd_window_skew" -> (M +
      """, c AS (
        |  SELECT ts_ms // 86400000 AS day, ordering_group, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM m GROUP BY 1, 2),
        |g AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_messages, MAX(n) AS max_group,
        |    SUM(CAST(n AS HUGEINT) * n) AS sumsq
        |  FROM c GROUP BY 1)
        |SELECT day, n_groups, n_messages,
        |  CAST((sumsq * 1000000) // (CAST(n_messages AS HUGEINT) * n_messages) AS BIGINT) AS hhi_ppm,
        |  CAST((CAST(max_group AS HUGEINT) * 1000000) // n_messages AS BIGINT) AS top_group_ppm
        |FROM g ORDER BY day""".stripMargin),

    "rd_quiet" -> (M +
      """, g AS (
        |  SELECT ordering_group,
        |    ts_ms - LAG(ts_ms) OVER (PARTITION BY ordering_group ORDER BY ts_ms, ulid_hex) AS gap_ms,
        |    ts_ms
        |  FROM m),
        |gg AS (SELECT * FROM g WHERE gap_ms IS NOT NULL),
        |r AS (
        |  SELECT ordering_group, gap_ms, ts_ms,
        |    ROW_NUMBER() OVER (PARTITION BY ordering_group ORDER BY gap_ms DESC, ts_ms) AS rn
        |  FROM gg),
        |c AS (SELECT ordering_group, CAST(COUNT(*) AS BIGINT) AS n_gaps FROM gg GROUP BY 1)
        |SELECT c.ordering_group, c.n_gaps, r.gap_ms AS max_gap_ms, r.ts_ms AS gap_end_ts_ms
        |FROM c JOIN r ON r.ordering_group = c.ordering_group AND r.rn = 1
        |ORDER BY c.ordering_group""".stripMargin),

    "pipe_from_topic" ->
      """WITH m AS (
        |  SELECT printf('%012x', epoch_us(ts) // 1000) || substr(md5(CAST(event_id AS VARCHAR)), 1, 20) AS ulid_hex,
        |         event_type AS source, props AS text
        |  FROM events),
        |kept AS (
        |  SELECT source, text, MIN(ulid_hex) AS ulid FROM m GROUP BY 1, 2),
        |adm AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tok,
        |    SUM(CAST(len(string_split_regex(text, ' +')) AS BIGINT))
        |      OVER (PARTITION BY source ORDER BY ulid)
        |      - CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS cum_before
        |  FROM kept WHERE length(text) >= 9),
        |raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_msgs FROM m GROUP BY 1),
        |dd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM kept GROUP BY 1),
        |st AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality,
        |    CAST(SUM(CASE WHEN cum_before < 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        |    CAST(SUM(CASE WHEN cum_before < 24 THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_admitted
        |  FROM adm GROUP BY 1)
        |SELECT raw.source, raw.n_msgs,
        |  COALESCE(dd.n_distinct, 0) AS n_distinct,
        |  COALESCE(st.n_quality, 0) AS n_quality,
        |  CAST(24 AS BIGINT) AS alloc_tokens,
        |  COALESCE(st.n_admitted, 0) AS n_admitted,
        |  COALESCE(st.n_tokens_admitted, 0) AS n_tokens_admitted
        |FROM raw LEFT JOIN dd USING (source) LEFT JOIN st USING (source)
        |ORDER BY source""".stripMargin,

    "rd_latency" -> (M +
      """, v AS (
        |  SELECT ts_ms // 86400000 AS day, MAX(ts_ms) AS vis_ms
        |  FROM m GROUP BY 1),
        |l AS (
        |  SELECT (v.vis_ms - m.ts_ms) // 1000 AS lat_s,
        |    v.vis_ms - m.ts_ms AS lat_ms
        |  FROM m JOIN v ON m.ts_ms // 86400000 = v.day),
        |h AS (
        |  SELECT lat_s, CAST(COUNT(*) AS BIGINT) AS c, MAX(lat_ms) AS mx_ms
        |  FROM l GROUP BY 1),
        |cum AS (
        |  SELECT lat_s, mx_ms, SUM(c) OVER (ORDER BY lat_s) AS cum, SUM(c) OVER () AS n
        |  FROM h)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_messages,
        |  MIN(CASE WHEN cum * 100 >= n * 50 THEN lat_s END) AS p50_s,
        |  MIN(CASE WHEN cum * 100 >= n * 90 THEN lat_s END) AS p90_s,
        |  MIN(CASE WHEN cum * 100 >= n * 99 THEN lat_s END) AS p99_s,
        |  MAX(mx_ms) AS max_ms
        |FROM cum""".stripMargin),

    "rd_group_spread" -> (M +
      """, gd AS (
        |  SELECT ordering_group, ts_ms // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM m GROUP BY 1, 2),
        |g AS (
        |  SELECT ordering_group, CAST(SUM(c) AS BIGINT) AS n_msgs,
        |    CAST(COUNT(*) AS BIGINT) AS n_files,
        |    CAST(MIN(day) AS BIGINT) AS first_day,
        |    CAST(MAX(day) AS BIGINT) AS last_day
        |  FROM gd GROUP BY 1)
        |SELECT ordering_group, n_msgs, n_files, first_day, last_day,
        |  CAST(last_day - first_day + 1 AS BIGINT) AS span_days,
        |  CAST((n_files * 1000000) // (last_day - first_day + 1) AS BIGINT) AS fill_ppm
        |FROM g ORDER BY ordering_group""".stripMargin)
  )
}
