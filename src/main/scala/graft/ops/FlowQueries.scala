package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.convert.SchemaReconcile
import graft.flow.Flow
import graft.model.Tables
import graft.ops.Relational.{money, rate}

/** Batch images of the reference's dataflow operators (SURVEY.md §2A) over
  * the `events` table, which plays the Kafka-record role: `event_id` is the
  * offset, `user_id % 4` derives a stable partition key (the TopicPartition
  * image), `props` is the raw payload needing conversion.
  *
  * All window algebra is partitioned by the derived partition key — no
  * global sort anywhere, so every plan here scales horizontally.
  */
object FlowQueries {

  private def evp(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("p", (col("user_id") % 4).cast("long"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A5: count-based micro-batch cut per partition (buffer.size image).
    "q11_microbatch_chunks" -> { (s, d) =>
      Flow.microBatchIds(evp(s, d), col("p"), col("event_id"), 100)
        .groupBy(col("p"), col("mb_chunk"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("event_id")).as("first_offset"),
             max(col("event_id")).as("last_offset"),
             sum(money(col("value"))).cast("double").as("sum_value"))
        .orderBy("p", "mb_chunk")
    },

    // A4: quarantine anti-join split + DLQ leg, aggregated per event_type.
    "q12_quarantine_split" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val quarantine = ev.filter(col("event_id") % 97 === 0).select("event_id")
      val (good, dlq) = Flow.quarantineSplit(ev, quarantine, Seq("event_id"))
      val g = good.groupBy("event_type")
        .agg(count(lit(1)).as("n_good"),
             sum(money(col("value"))).cast("double").as("sum_good"))
      val b = dlq.groupBy("event_type").agg(count(lit(1)).as("n_dlq"))
      g.join(b, Seq("event_type"), "full_outer")
        .select(col("event_type"),
                coalesce(col("n_good"), lit(0L)).as("n_good"),
                coalesce(col("n_dlq"), lit(0L)).as("n_dlq"),
                coalesce(col("sum_good"), lit(0.0)).as("sum_good"))
        .orderBy("event_type")
    },

    // A6: retry-boundary forced cut — batch id = running count of prior
    // boundaries within the partition.
    "q13_retry_boundary_cut" -> { (s, d) =>
      Flow.boundaryCutIds(evp(s, d), col("p"), col("event_id"),
                          col("event_id") % 499 === 0)
        .groupBy(col("p"), col("cut_batch"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("event_id")).as("first_offset"),
             max(col("event_id")).as("last_offset"))
        .orderBy("p", "cut_batch")
    },

    // A12/B10: deterministic dedup survivor — latest ts, then highest offset.
    "q14_dedup_survivor" -> { (s, d) =>
      Flow.dedupSurvivor(Tables.events(s, d),
          keys = Seq(col("user_id"), col("event_type")),
          order = Seq(col("ts").desc, col("event_id").desc))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    },

    // A7: payload conversion — extract typed field from the raw JSON-ish
    // payload, aggregate. (Strict converter semantics live in
    // graft.convert; this is the declared-query image.)
    "q15_convert_extract" -> { (s, d) =>
      val k = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
      Tables.events(s, d)
        .withColumn("k", when(k === "", lit(null)).otherwise(k).cast("long"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_k"),
             sum(col("k")).as("sum_k"),
             min(col("k")).as("min_k"),
             max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    // A8: destination-schema reconciliation — unknown fields (ts, props)
    // dropped, survivors cast to the target types.
    "q16_schema_reconcile" -> { (s, d) =>
      val target = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("user_id", LongType, nullable = false),
        StructField("event_type", StringType, nullable = true),
        StructField("value", DoubleType, nullable = true)))
      SchemaReconcile.reconcile(Tables.events(s, d), target)
        .orderBy("event_id")
    },

    // B14 batch image: tumbling window aggregation (hour buckets).
    "q17_tumbling_window" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("bucket", date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH"))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n"),
             sum(money(col("value"))).cast("double").as("sum_value"))
        .orderBy("bucket", "event_type")
    },

    // As-of join (point-in-time lookup): each error event picks up the
    // user's most recent preceding purchase — composed via ignore-nulls
    // window carry, one shuffle, no range-join pair explosion.
    // A10/A13 companion: CHANGELOG COMPACTION — the CDC upsert view a
    // sink materializes from an append log (latest record per key wins,
    // ties broken by offset). The reference replays/rewinds the same
    // offsets (BigqueryStorageWriteSinkTask.java:205-245); compaction is
    // what makes that replay idempotent downstream. Latest-wins via one
    // per-key window rank on (event time, offset) — deterministic under
    // ties — then a compaction-rate rollup per derived partition.
    "q81_changelog_compact" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      evp(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("rn", row_number().over(w))
        .withColumn("is_latest", col("rn") === 1)
        .groupBy("p")
        .agg(count(lit(1)).cast("long").as("n_log"),
             count(when(col("is_latest"), 1)).cast("long").as("n_live"),
             sum(when(col("is_latest"), money(col("value"))))
               .cast("double").as("live_value"))
        .withColumn("compaction_ppm",
          expr("CAST(n_live * 1000000 DIV n_log AS BIGINT)"))
        .orderBy("p")
    },

    // B14 diagnostic: EVENT LATENESS AUDIT — the measurement that tunes
    // a watermark delay: an event is late when its event time is behind
    // the running max event time already seen on its partition, and the
    // lateness magnitude is the µs gap; the verdict columns are what a
    // pipeline reads off to size the delay (how many events would a
    // given watermark drop). The corpus's event_id order IS its ts
    // order (a single perfectly-ordered producer — every lateness would
    // be zero and the audit vacuous), so arrival order is the offset
    // perturbed by a deterministic ±50-position hash jitter: the
    // interleaving a multi-producer topic actually exhibits, replayed
    // identically by both engines. One partitioned running-max window +
    // one aggregation, all integer-exact.
    "q82_lateness_audit" -> { (s, d) =>
      val w = Window.partitionBy("p").orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      evp(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("arr", col("event_id") +
          Dedup.neutralHash32(col("event_id").cast("string")) % 100 - 50)
        .withColumn("hwm", max(col("us")).over(w))
        .withColumn("late_us",
          when(col("hwm") > col("us"), col("hwm") - col("us")).otherwise(0L))
        .groupBy("p")
        .agg(count(lit(1)).cast("long").as("n_events"),
             count(when(col("late_us") > 0, 1)).cast("long").as("n_late"),
             max(col("late_us")).cast("long").as("max_late_us"),
             sum(col("late_us")).cast("long").as("sum_late_us"),
             count(when(col("late_us") > 60000000L, 1)).cast("long")
               .as("n_beyond_1min"),
             count(when(col("late_us") > 3600000000L, 1)).cast("long")
               .as("n_beyond_1h"))
        .withColumn("late_ppm",
          expr("CAST(n_late * 1000000 DIV n_events AS BIGINT)"))
        .orderBy("p")
    },

    "q40_asof_join" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val errors = ev.filter(col("event_type") === "error")
        .select("user_id", "us", "event_id", "value")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"),
                col("event_id").as("p_event_id"), col("value").as("p_value"))
      graft.flow.AsOfJoin.asOf(errors, purchases,
          key = "user_id", time = "us", valueCols = Seq("p_event_id", "p_value"))
        .select(col("user_id"), col("event_id"), col("value"),
                col("asof_p_event_id").as("purchase_id"),
                col("asof_p_value").as("purchase_value"))
        .orderBy("user_id", "event_id")
    },

    // Range join (point-in-interval) via bin quantization: lineitems
    // shipped inside each sampled order's 14-day window. The binned
    // equi-join shuffles on the bin id — O(matching bins), where the
    // naive theta join is a broadcast-nested-loop over |P|·|I| pairs.
    "q53_range_join" -> { (s, d) =>
      val iv = Tables.orders(s, d).filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("iv_id"),
          expr("unix_date(CAST(o_orderdate AS DATE))").cast("long").as("start_day"))
        .withColumn("end_day", col("start_day") + 14)
      val pts = Tables.lineitem(s, d).filter(col("l_orderkey") % 7 === 0)
        .select(expr("unix_date(CAST(l_shipdate AS DATE))").cast("long").as("pt_day"))
      graft.flow.RangeJoin.pointInInterval(
          pts, iv, "pt_day", "start_day", "end_day", binWidth = 16L)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_pts"),
             min("pt_day").as("min_day"), max("pt_day").as("max_day"))
        .orderBy("iv_id")
    },

    // q53's twin over a different sample (every 300th order, a 21-day
    // window, every 5th lineitem), kept under its original name. The bin
    // width is a call argument, so building this query leaves the
    // session's conf as it found it (RelationalSpec checks that for every
    // declared query).
    "q98_rangejoin_declarative" -> { (s, d) =>
      val iv = Tables.orders(s, d).filter(col("o_orderkey") % 300 === 0)
        .select(col("o_orderkey").as("iv_id"),
          expr("unix_date(CAST(o_orderdate AS DATE))").cast("long").as("start_day"))
        .withColumn("end_day", col("start_day") + 21)
      val pts = Tables.lineitem(s, d).filter(col("l_orderkey") % 5 === 0)
        .select(expr("unix_date(CAST(l_shipdate AS DATE))").cast("long").as("pt_day"))
      graft.flow.RangeJoin.pointInInterval(
          pts, iv, "pt_day", "start_day", "end_day", binWidth = 16L)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_pts"),
             min("pt_day").as("min_day"), max("pt_day").as("max_day"))
        .orderBy("iv_id")
    },

    // Time-weighted average of the changelog value per user — the
    // state-over-time metric (value × µs held, over total held time)
    // that point-in-time reads (q105) and SCD2 intervals (q87) exist to
    // support: a plain AVG over updates is wrong whenever update rates
    // vary (a value held for a week must outweigh one replaced in a
    // minute). Hold durations come from one lead window per user; the
    // value×duration products accumulate as exact decimals (2-decimal
    // source values × integer µs — the money() rule), so partial-agg
    // order cannot drift, and the final division is one IEEE op.
    // Deterministic 1/7 user sample bounds the output; one user_id
    // shuffle end-to-end.
    "q129_time_weighted_avg" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      Tables.events(s, d)
        .filter(col("user_id") % 7 === 0)
        .select(col("user_id"), col("event_id"),
          graft.ops.Relational.money(col("value")).as("v"),
          unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("dur", col("next_us") - col("us"))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_holds"),
          sum(col("dur")).cast("long").as("held_us"),
          sum(col("v") * col("dur")).as("vd"))
        .filter(col("held_us") > 0)
        .select(col("user_id"), col("n_holds"), col("held_us"),
          // round(6): the exact-decimal sum casts to double through
          // BigDecimal.doubleValue, which can be 1 ulp off the
          // correctly-rounded value DuckDB produces; at ~1e2 magnitude
          // the ulp is ~1e-14 and round(6) absorbs it
          round(col("vd").cast("double") / col("held_us"), 6).as("twa_value"))
        .orderBy("user_id")
    },

    // Hopping (sliding) time-window aggregation — the BATCH image of
    // Structured Streaming's `window(ts, "24 hours", "6 hours")` agg:
    // per 24 h window sliding every 6 h, event volume and distinct
    // users per type. Spark's TimeWindow expression fans each event
    // into its windowSize/slide = 4 covering windows (epoch-aligned 6 h
    // grid) BEFORE the aggregation, so the shuffle carries (window,
    // type)-keyed partial aggregates — map-combined, never raw events
    // ×4. The oracle reproduces the window assignment arithmetically
    // (the 4 grid starts in (us−24h, us]), pinning Spark's epoch
    // alignment and boundary convention ([start, end) — an off-by-one
    // at either edge fails the hash. The same groupBy compiles
    // unchanged under readStream + watermark (the streaming twin of
    // this exact plan is StreamingOps territory); distinct-user counts
    // there would become approximate or stateful — here exact.
    "q135_hopping_windows" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "24 hours", "6 hours").as("w"),
          col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("user_id")).cast("long").as("n_users"))
        .select(unix_micros(col("w.start")).as("win_start_us"),
          col("event_type"), col("n_events"), col("n_users"))
        .orderBy("win_start_us", "event_type")
    },

    // Point-in-time state reconstruction (time travel) over the event
    // changelog: the keyed state as of a snapshot instant T — per user,
    // the last update at-or-before T plus the update count to that
    // point (what a lakehouse "AS OF" read materializes from a raw
    // changelog). T is the corpus midpoint ((min+max) div 2 of event
    // time, integer-exact both engines), computed once and broadcast;
    // the latest-row ranking is q81's window shape restricted to the
    // pre-T prefix — one user_id shuffle, O(1) window state.
    // CDC MERGE (upsert + delete) — the lakehouse MERGE INTO shape: a
    // base SNAPSHOT (keyed state as of T_mid, q105's machinery) has a
    // CHANGES-SINCE delta batch applied (per key, the latest post-T
    // event), and the merged table must equal the state a full
    // recompute over the whole changelog produces — which is exactly
    // what the oracle computes, so the hash compare proves the merge
    // algebra (delta wins where present, base survives elsewhere,
    // 'error' rows are tombstones that DELETE the key). Scale shape:
    // in production the base is a STORED table — the merge itself is
    // one full-outer equi-join on the key plus a coalesce, and the
    // delta's latest-per-key is a window over the (small) post-T slice;
    // nothing rescans history.
    "q139_merge_upsert" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
      val t = ev.agg(expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)").as("t_mid"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      def latest(df: DataFrame) =
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("us"))
      val withT = ev.crossJoin(broadcast(t))
      val base = latest(withT.filter(col("us") <= col("t_mid")))
      val delta = latest(withT.filter(col("us") > col("t_mid")))
      // presence is keyed on event_id (never null in a real delta row),
      // NOT per-column coalesce: a delta row whose value is
      // legitimately NULL must still override the base row's value
      // rather than silently resurrecting it
      val deltaPresent = col("d.event_id").isNotNull
      base.as("b").join(delta.as("d"), Seq("user_id"), "full")
        .select(col("user_id"),
          when(deltaPresent, col("d.event_id"))
            .otherwise(col("b.event_id")).as("event_id"),
          when(deltaPresent, col("d.event_type"))
            .otherwise(col("b.event_type")).as("event_type"),
          when(deltaPresent, col("d.value"))
            .otherwise(col("b.value")).as("value"),
          when(deltaPresent, col("d.us")).otherwise(col("b.us")).as("us"))
        // tombstone: a key whose final row is an 'error' is DELETED
        .filter(col("event_type") =!= "error")
        .select(col("user_id"),
          col("event_id").cast("long").as("last_event_id"),
          col("us").cast("long").as("last_us"),
          col("value").as("last_value"))
        .orderBy("user_id")
    },

    "q105_snapshot_at" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
      val t = ev.agg(expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)").as("t_mid"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      ev.crossJoin(broadcast(t))
        .filter(col("us") <= col("t_mid"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_before",
          count(lit(1)).over(Window.partitionBy("user_id")).cast("long"))
        .filter(col("rn") === 1)
        .select(col("user_id"),
          col("event_id").cast("long").as("last_event_id"),
          col("us").cast("long").as("last_us"),
          col("value").as("last_value"),
          col("n_before"))
        .orderBy("user_id")
    },

    // B14 batch image: sessionization — 30-minute inactivity gap, computed
    // per user with lag + running sum (the mapGroupsWithState batch twin).
    "q18_sessionize" -> { (s, d) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("new_s",
          when(col("us") - lag(col("us"), 1).over(wOrd) > 1800000000L ||
               lag(col("us"), 1).over(wOrd).isNull, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(wRun))
        .groupBy("user_id", "sid").agg(count(lit(1)).as("slen"))
        .groupBy("user_id")
        .agg(sum(col("slen")).as("n_events"),
             count(lit(1)).as("n_sessions"),
             max(col("slen")).as("max_session"))
        .orderBy("user_id")
    },

    // BUFFER-SIZING sweep — the reference's count-based micro-batch
    // buffer (A5: flush every `buffer.size` records per partition,
    // BigqueryStreamWriter.java:54-56) turned into the TUNING TABLE
    // that picks the size: per (event_type ≙ topic partition, buffer
    // size B ∈ {100, 1000, 10000}) the batch census — batch count,
    // mean batch latency span (µs between a batch's first and last
    // arrival — the freshness cost of batching), the p-max span, and
    // mean batch bytes (64 B/record) — small B buys freshness at
    // request-count cost, large B the reverse; the table quantifies
    // the elbow. Batch id = (arrival rank − 1) DIV B under the
    // reference's per-partition (ts, event_id) arrival order. Scale:
    // ONE per-type rank window serves every B; batch reductions are
    // map-combined on (type, B, batch).
    "q438_buffer_sizing" -> { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val ranked = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("rk", row_number().over(w))
      val bs = ranked.sparkSession.range(3)
        .select(expr("CAST(element_at(array(100, 1000, 10000), CAST(id AS INT) + 1) AS BIGINT)")
          .as("buf_size"))
      ranked.crossJoin(broadcast(bs))
        .groupBy(col("event_type"), col("buf_size"),
          expr("(rk - 1) DIV buf_size").as("batch"))
        .agg(count(lit(1)).as("n"), min(col("us")).as("us0"),
          max(col("us")).as("us1"))
        .groupBy("event_type", "buf_size")
        .agg(count(lit(1)).cast("long").as("n_batches"),
          sum(col("n")).cast("long").as("n_records"),
          expr("CAST(sum(us1 - us0) DIV count(1) AS BIGINT)")
            .as("mean_span_us"),
          max(col("us1") - col("us0")).cast("long").as("max_span_us"),
          expr("CAST(sum(n) * 64 DIV count(1) AS BIGINT)")
            .as("mean_batch_bytes"))
        .orderBy("event_type", "buf_size")
    },

    // SESSION-GAP sweep — q86 sessionizes at ONE gap (30 min); this is
    // the tuning curve over the gap parameter g ∈ {5 min, 30 min, 2 h}
    // that justifies the choice: per g, session count, mean session
    // length (events, floor), and the floor-ppm share of singleton
    // sessions — too small a gap shreds journeys into singletons, too
    // large fuses separate visits; the elbow between those is the
    // operating point. ONE per-user lag sort serves every g (the gap
    // grid rides a broadcast; session ids integrate new-session flags
    // per (user, g) — same window family as q86, partitioned, never
    // global).
    "q440_session_gap_sweep" -> { (s, d) =>
      val wOrd = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val base = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
      val gs = base.sparkSession.range(3)
        .select(expr("CAST(element_at(array(300, 1800, 7200), CAST(id AS INT) + 1) AS BIGINT) * 1000000")
          .as("gap_us"))
      val flagged = base.crossJoin(broadcast(gs))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > col("gap_us"), 1L).otherwise(0L))
      val wRun = Window.partitionBy("user_id", "gap_us")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      flagged.withColumn("sid", sum(col("new_s")).over(wRun))
        .groupBy("gap_us", "user_id", "sid")
        .agg(count(lit(1)).as("slen"))
        .groupBy("gap_us")
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("slen")).cast("long").as("n_events"),
          sum(when(col("slen") === 1, 1L).otherwise(0L)).cast("long")
            .as("n_singletons"))
        .select(expr("CAST(gap_us DIV 1000000 AS BIGINT)").as("gap_seconds"),
          col("n_sessions"), col("n_events"),
          expr("CAST(n_events DIV n_sessions AS BIGINT)").as("mean_len"),
          col("n_singletons"),
          expr("CAST(n_singletons * 1000000 DIV n_sessions AS BIGINT)")
            .as("singleton_ppm"))
        .orderBy("gap_seconds")
    }
  )

  def oracle: Map[String, String] = Map(
    // The DIRECT full-changelog recompute — deliberately NOT the
    // snapshot+delta path: the hash compare proves the Spark-side
    // MERGE reproduces what a from-scratch rebuild yields.
    "q139_merge_upsert" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |rk AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, CAST(event_id AS BIGINT) AS last_event_id,
        |  CAST(us AS BIGINT) AS last_us, value AS last_value
        |FROM rk WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q135_hopping_windows" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, user_id
        |  FROM events),
        |hops AS (
        |  SELECT ((us // 21600000000) - k) * 21600000000 AS win_start_us,
        |         event_type, user_id
        |  FROM ev, UNNEST(generate_series(0, 3)) AS g(k))
        |SELECT win_start_us, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM hops GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q11_microbatch_chunks" ->
      """WITH t AS (
        |  SELECT user_id % 4 AS p, event_id, value,
        |    row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) AS rn
        |  FROM events)
        |SELECT p, CAST(FLOOR((rn - 1) / 100.0) AS BIGINT) AS mb_chunk,
        | CAST(COUNT(*) AS BIGINT) AS n_rows,
        | MIN(event_id) AS first_offset, MAX(event_id) AS last_offset,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q12_quarantine_split" ->
      """SELECT event_type,
        | CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        | CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
        | CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_good
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q13_retry_boundary_cut" ->
      """WITH t AS (
        |  SELECT user_id % 4 AS p, event_id,
        |    CAST(COALESCE(SUM(CASE WHEN event_id % 499 = 0 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id % 4 ORDER BY event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cut_batch
        |  FROM events)
        |SELECT p, cut_batch, CAST(COUNT(*) AS BIGINT) AS n_rows,
        | MIN(event_id) AS first_offset, MAX(event_id) AS last_offset
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q14_dedup_survivor" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q15_convert_extract" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(COUNT(k) AS BIGINT) AS n_k,
        | CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q16_schema_reconcile" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "q17_tumbling_window" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H') AS bucket, event_type,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q81_changelog_compact" ->
      """WITH ev AS (
        |  SELECT user_id % 4 AS p, user_id, event_id, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT p, CAST(COUNT(*) AS BIGINT) AS n_log,
        |  CAST(COUNT(*) FILTER (rn = 1) AS BIGINT) AS n_live,
        |  CAST(SUM(CASE WHEN rn = 1 THEN CAST(value AS DECIMAL(12,2)) END)
        |       AS DOUBLE) AS live_value,
        |  CAST(COUNT(*) FILTER (rn = 1) * 1000000 // COUNT(*) AS BIGINT) AS compaction_ppm
        |FROM r GROUP BY p ORDER BY p""".stripMargin,

    "q82_lateness_audit" ->
      """WITH ev AS (
        |  SELECT user_id % 4 AS p, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         event_id + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 100 - 50 AS arr
        |  FROM events),
        |h AS (
        |  SELECT *, MAX(us) OVER (PARTITION BY p ORDER BY arr, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM ev),
        |l AS (
        |  SELECT p, CASE WHEN hwm > us THEN hwm - us ELSE 0 END AS late_us
        |  FROM h)
        |SELECT p, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(*) FILTER (late_us > 0) AS BIGINT) AS n_late,
        |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
        |  CAST(SUM(late_us) AS BIGINT) AS sum_late_us,
        |  CAST(COUNT(*) FILTER (late_us > 60000000) AS BIGINT) AS n_beyond_1min,
        |  CAST(COUNT(*) FILTER (late_us > 3600000000) AS BIGINT) AS n_beyond_1h,
        |  CAST(COUNT(*) FILTER (late_us > 0) * 1000000 // COUNT(*) AS BIGINT) AS late_ppm
        |FROM l GROUP BY p ORDER BY p""".stripMargin,

    "q40_asof_join" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, value, event_type
        |  FROM events WHERE event_type IN ('error', 'purchase')),
        |u AS (
        |  SELECT user_id, us, event_id, value, event_type,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS tag
        |  FROM ev),
        |c AS (
        |  SELECT user_id, us, event_id, value, tag,
        |    last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS) OVER w AS purchase_id,
        |    last_value(CASE WHEN tag = 0 THEN value END IGNORE NULLS) OVER w AS purchase_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, tag
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, value, purchase_id, purchase_value
        |FROM c WHERE tag = 1 ORDER BY user_id, event_id""".stripMargin,

    "q18_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM f),
        |g AS (SELECT user_id, sid, COUNT(*) AS slen FROM s GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(slen) AS BIGINT) AS n_events,
        | CAST(COUNT(*) AS BIGINT) AS n_sessions, CAST(MAX(slen) AS BIGINT) AS max_session
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The oracle uses the naive theta join — same semantics, fine at
    // oracle scale; the Spark side's binning is the scale path.
    "q53_range_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey AS iv_id,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS start_day
        |  FROM orders WHERE o_orderkey % 500 = 0),
        |iv2 AS (SELECT iv_id, start_day, start_day + 14 AS end_day FROM iv),
        |pts AS (
        |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS pt_day
        |  FROM lineitem WHERE l_orderkey % 7 = 0)
        |SELECT iv_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
        | MIN(pt_day) AS min_day, MAX(pt_day) AS max_day
        |FROM pts JOIN iv2 ON start_day <= pt_day AND pt_day <= end_day
        |GROUP BY iv_id ORDER BY iv_id""".stripMargin,

    "q129_time_weighted_avg" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(12,2)) AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id % 7 = 0),
        |h AS (
        |  SELECT user_id, v, us,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
        |  FROM ev),
        |d AS (
        |  SELECT user_id, v, next_us - us AS dur FROM h
        |  WHERE next_us IS NOT NULL),
        |a AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_holds,
        |    CAST(SUM(dur) AS BIGINT) AS held_us,
        |    SUM(v * dur) AS vd
        |  FROM d GROUP BY user_id)
        |SELECT user_id, n_holds, held_us,
        |  round(CAST(vd AS DOUBLE) / held_us, 6) AS twa_value
        |FROM a WHERE held_us > 0 ORDER BY user_id""".stripMargin,

    "q105_snapshot_at" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |t AS (SELECT (MIN(us) + MAX(us)) // 2 AS t_mid FROM ev),
        |pre AS (SELECT e.* FROM ev e CROSS JOIN t WHERE us <= t_mid),
        |r AS (SELECT user_id, event_id, value, us,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY us DESC, event_id DESC) AS rn,
        |        COUNT(*) OVER (PARTITION BY user_id) AS n_before
        |      FROM pre)
        |SELECT user_id, CAST(event_id AS BIGINT) AS last_event_id,
        |  CAST(us AS BIGINT) AS last_us, value AS last_value,
        |  CAST(n_before AS BIGINT) AS n_before
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q98_rangejoin_declarative" ->
      """WITH iv AS (
        |  SELECT o_orderkey AS iv_id,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS start_day
        |  FROM orders WHERE o_orderkey % 300 = 0),
        |iv2 AS (SELECT iv_id, start_day, start_day + 21 AS end_day FROM iv),
        |pts AS (
        |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS pt_day
        |  FROM lineitem WHERE l_orderkey % 5 = 0)
        |SELECT iv_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
        | MIN(pt_day) AS min_day, MAX(pt_day) AS max_day
        |FROM pts JOIN iv2 ON start_day <= pt_day AND pt_day <= end_day
        |GROUP BY iv_id ORDER BY iv_id""".stripMargin,

    "q438_buffer_sizing" ->
      """WITH ranked AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rk
        |  FROM events),
        |bs AS (SELECT CAST(b.b AS BIGINT) AS buf_size
        |       FROM UNNEST([100, 1000, 10000]) AS b(b)),
        |batches AS (
        |  SELECT event_type, buf_size, (rk - 1) // buf_size AS batch,
        |    COUNT(*) AS n, MIN(us) AS us0, MAX(us) AS us1
        |  FROM ranked CROSS JOIN bs GROUP BY 1, 2, 3)
        |SELECT event_type, buf_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_batches,
        |  CAST(SUM(n) AS BIGINT) AS n_records,
        |  CAST(SUM(us1 - us0) // COUNT(*) AS BIGINT) AS mean_span_us,
        |  CAST(MAX(us1 - us0) AS BIGINT) AS max_span_us,
        |  CAST(SUM(n) * 64 // COUNT(*) AS BIGINT) AS mean_batch_bytes
        |FROM batches GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q440_session_gap_sweep" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |gs AS (SELECT CAST(g.g AS BIGINT) * 1000000 AS gap_us
        |       FROM UNNEST([300, 1800, 7200]) AS g(g)),
        |flagged AS (
        |  SELECT user_id, us, event_id, gap_us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > gap_us
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM base CROSS JOIN gs),
        |sess AS (
        |  SELECT gap_us, user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id, gap_us
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |slen AS (
        |  SELECT gap_us, user_id, sid, COUNT(*) AS slen
        |  FROM sess GROUP BY 1, 2, 3)
        |SELECT CAST(gap_us // 1000000 AS BIGINT) AS gap_seconds,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(slen) AS BIGINT) AS n_events,
        |  CAST(SUM(slen) // COUNT(*) AS BIGINT) AS mean_len,
        |  CAST(SUM(CASE WHEN slen = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons,
        |  CAST(SUM(CASE WHEN slen = 1 THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS singleton_ppm
        |FROM slen GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
