package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ext.{Bloom, Clustering, Dedup, Similarity, Sketches, Skew, TextStats}
import graft.streaming.EventsOps
import graft.queries.ExtHarness._
import graft.queries.ExtOracleShared._

/** event-time analytics over the events table plus every Structured-Streaming engine replay (q218+) — one domain slice of the graded
  * extension-query registry. Pure registry split (r13 verdict item 7):
  * entries are verbatim from the pre-split ExtQueries.scala; shared
  * plumbing lives in [[ExtHarness]] (streaming replay, temp dirs) and
  * [[ExtOracleShared]] (portable oracle SQL fragments). Composed back
  * into the driver contract by [[ExtQueries]].
  */
private[queries] object ExtStreamQueries {
  val defs: Map[String, Q] = Map(

    // Strictly-ordered conversion funnel over one shared user-partition
    // shuffle (no per-step self-joins).
    "q85_funnel" -> ((s, d) =>
      EventsOps.funnel(events(s, d), Seq("view", "click", "purchase"))
        .orderBy("step")),

    // Weekly cohort retention triangle; weeks are epoch integer math,
    // so the cohort assignment replays in any engine.
    "q86_retention" -> ((s, d) =>
      EventsOps.retention(events(s, d))
        .orderBy("cohort_week", "week_offset")),

    // Tumbling 1-hour windows (stream-shaped aggregation, batch run).
    "q31_events_tumbling" -> ((s, d) => {
      EventsOps.tumbling(events(s, d), "1 hour")
        .orderBy("window_start", "event_type")
    }),

    // Sliding 1-hour/30-minute windows (TimeWindow Expand).
    "q32_events_sliding" -> ((s, d) => {
      EventsOps.sliding(events(s, d), "1 hour", "30 minutes")
        .orderBy("window_start", "event_type")
    }),

    // Event-time-bounded dedup (dropDuplicatesWithinWatermark analog).
    "q33_watermark_dedup" -> ((s, d) => {
      EventsOps.bucketDedup(events(s, d), "10 minutes")
        .orderBy("user_id", "event_type", "bucket_start")
    }),

    // Session windows, 30-minute gap.
    "q34_events_session" -> ((s, d) => {
      EventsOps.sessions(events(s, d), "30 minutes")
        .orderBy("user_id", "session_start")
    }),

    // As-of join: each purchase paired with the user's latest
    // prior-or-same click timestamp and value (union+window composition;
    // no range cross-join).
    "q45_events_asof" -> ((s, d) => {
      val e = events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      EventsOps.asofJoin(purchases, clicks, "user_id", "ts", "ts", "value")
        .select(col("user_id"), col("event_id"),
          col("asof_ts").as("last_click_ts"),
          col("asof_value").as("last_click_value"))
        .orderBy("user_id", "event_id")
    }),

    // Interval join (Flink-style): click → purchases by the same user
    // within the next hour. Time-bucketed equi-join on
    // (user, ts div span) — never a per-key cross product; the exact
    // range predicate only sees same-bucket candidates.
    "q67_interval_join" -> ((s, d) => {
      val e = events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      EventsOps.intervalJoin(clicks, purchases, "user_id", "ts", "ts",
        lowerSec = 0L, upperSec = 3600L)
        .select(col("user_id"), col("event_id").as("l_event"),
          col("r_event_id").as("r_event"),
          (unix_micros(col("r_ts")) - unix_micros(col("ts")))
            .as("delta_us"))
        .orderBy("l_event", "r_event")
    }),

    // Row-frame window aggregate: per-user 3-row moving average over
    // the event stream (decimal-exact sum cast to double BEFORE the
    // division so both engines round identically).
    "q52_moving_avg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      events(s, d).select(col("user_id"), col("event_id"),
        (sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
          count(lit(1)).over(w)).as("mavg3"))
        .orderBy("user_id", "event_id")
    }),

    // Semi-structured JSON column: schema-on-read of events.props with
    // from_json (the engine's JSON-path surface; CrossRef ingest uses the
    // same declared-schema approach at the envelope level).
    "q40_props_json" -> ((s, d) => {
      events(s, d)
        .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType))))
          .getField("k").as("k"), col("value"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("k_bucket")
    }),

    // SCD Type-2 history build over the event log: one validity
    // interval per per-user attribute change (lag detects changes,
    // lead/row_number close the intervals — a single user-partition
    // shuffle end to end).
    "q90_scd2" -> ((s, d) =>
      EventsOps.scd2(events(s, d))
        .orderBy("user_id", "version")),

    // Gap-filled hourly series per event type: empty buckets become
    // zero rows between each key's first and last activity (the step
    // chart/alerting densification a bare groupBy can't produce).
    "q104_gapfill" -> ((s, d) =>
      EventsOps.gapFill(events(s, d), "event_type", widthSec = 3600L)
        .orderBy("event_type", "bucket")),

    // Frequent 3-step user journeys (funnel discovers nothing; this
    // mines the orders users actually follow). Top-25, total-ordered.
    "q117_top_paths" -> ((s, d) =>
      EventsOps.topPaths(events(s, d), steps = 3, k = 25)),

    // LOCF forward-fill: hourly per-type gauge series where empty
    // buckets inherit the last observed value (cents); in-bucket
    // winner is the latest event by (ts, event_id).
    "q129_locf" -> ((s, d) =>
      EventsOps.locf(events(s, d), "event_type", widthSec = 3600L)
        .orderBy("event_type", "bucket")),

    // Hourly OHLC bars per event type: open/close by the (ts,
    // event_id) total order via min_by/max_by — one agg pass, no
    // window.
    "q134_ohlc" -> ((s, d) =>
      EventsOps.ohlc(events(s, d), "event_type", widthSec = 3600L)
        .orderBy("event_type", "bucket")),

    // Exact trailing-7-day distinct active users per event type:
    // bounded Expand membership, one distinct agg — never a self-join.
    "q135_sliding_dau" -> ((s, d) =>
      EventsOps.slidingDistinct(events(s, d), "event_type",
        windowDays = 7)
        .orderBy("event_type", "day")),

    // Time-weighted gauge average per event type: each reading holds
    // until the next; decimal-exact cents×seconds integral, integral
    // divide at the end.
    "q138_twa" -> ((s, d) =>
      EventsOps.timeWeightedAvg(events(s, d), "event_type")
        .orderBy("event_type")),

    // Per-type metric trend: exact-decimal least-squares slope of
    // cents over epoch seconds (drift detection), q105's sum pattern.
    "q139_trend" -> ((s, d) =>
      graft.ext.Stats.trendByGroup(events(s, d), "event_type",
        unix_timestamp(col("ts")), round(col("value") * 100).cast("long"))
        .orderBy("event_type")),

    // Orders in flight per priority class: sweep-line concurrency over
    // [orderdate, last shipdate) — delta explode + running sum on the
    // change-point table, never an interval×instant join.
    "q140_concurrency" -> ((s, d) => {
      val spans = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority").as("g"))
        .agg(min(col("o_orderdate")).as("st"),
          max(col("l_shipdate")).as("en"))
      graft.ext.Stats.concurrency(spans, "g", col("st"), col("en"))
        .orderBy("g", "t")
    }),

    // Linear conversion attribution: each purchase's credit splits
    // equally (exact 1e6 div n ppm) over the user's click/view touches
    // in the preceding hour — the bucketed interval join (q67's
    // kernel) keeps the touch pairing an equi-join, and the per-
    // purchase touch count is one window on the joined pairs.
    "q141_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
      EventsOps.intervalJoin(purchases, touches, "user_id",
        "ts", "ts", lowerSec = -3600, upperSec = 0, rightPrefix = "t_")
        .withColumn("__n",
          count(lit(1)).over(Window.partitionBy("event_id")))
        .groupBy(col("t_event_type").as("touch_type"))
        .agg(count(lit(1)).as("touches"),
          sum(expr("1000000L div __n")).as("credit_ppm"))
        .orderBy("touch_type")
    }),

    // Trending parts month-over-month: integer-ppm lift vs the
    // adjacent previous bucket only, min support both sides, total
    // tie order, TakeOrderedAndProject board.
    "q142_trending" -> ((s, d) =>
      graft.ext.Stats.trending(lineitem(s, d), col("l_partkey"),
        expr("year(l_shipdate) * 12 + month(l_shipdate)"),
        minCount = 2, k = 25)),

    // Temporal reachability on the trade graph: earliest day (epoch
    // days) goods/information can reach each party from customers 1-5
    // along ship-date-increasing paths, 4 relaxation rounds.
    "q146_temporal_reach" -> ((s, d) => {
      val e = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"),
          datediff(col("l_shipdate"), lit("1970-01-01")).as("t"))
      val sources = customer(s, d).filter(col("c_custkey") <= 5)
        .select((col("c_custkey") * 2).as("node"))
      graft.ext.Graph.earliestArrival(e, "src", "dst", "t", sources,
        rounds = 4)
        .orderBy("node")
    }),

    // CDC apply: fold a deterministic synthetic change log (two update
    // waves, a delete wave, an insert wave — later sequence wins) onto
    // the orders snapshot; the base is scanned once and never shuffled.
    "q148_cdc_apply" -> ((s, d) => {
      val base = orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val u1 = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("price_cents", col("price_cents") + 100L)
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val u2 = base.filter(col("o_orderkey") % 14 === 0)
        .withColumn("price_cents", col("price_cents") + 200L)
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val del = base.filter(col("o_orderkey") % 11 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(3L))
      val ins = base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumn("price_cents", lit(4200L))
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val changes = u1.unionByName(u2).unionByName(del).unionByName(ins)
      graft.etl.Warehouse.applyChanges(base, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // First-order Markov transition matrix over user event streams —
    // the sequence-mining companion to q41's funnel: where do users
    // actually GO after each event type, with exact ppm probabilities.
    "q208_transitions" -> ((s, d) =>
      EventsOps.transitions(events(s, d))
        .orderBy("prev_type", "next_type")),

    // Stream-stream interval join graded THROUGH the streaming engine:
    // events replay as 6 event-time-ordered file buckets (one
    // micro-batch each — mtime order is the FileStreamSource contract,
    // forced strictly increasing below), purchaseContext's watermarked
    // interval join runs under Trigger.AvailableNow, and foreachBatch
    // materializes every emitted row. Ordered buckets mean no row is
    // ever below the 1-hour watermark on arrival, so the inner join's
    // accumulated output equals the batch interval join EXACTLY — the
    // determinism that makes a streaming run oracle-gradeable. The
    // batch twin is q67; this row grades the streaming operator
    // itself (state store, watermark eviction, per-batch emission).
    "q218_stream_interval_join" -> ((s, d) => {
      val dir = tempDir("graft_q218_")
      streamReplay(s, d, dir,
        in => graft.streaming.StreamingJobs.purchaseContext(in),
        "append")
        .orderBy("user_id", "p_ts", "c_ts")
    }),

    // Streaming daily-active-users graded through the stateful dedup +
    // windowed-agg path (dropDuplicatesWithinWatermark state machine):
    // update-mode emissions per micro-batch land in foreachBatch with
    // their batch id; a day's final count is its LAST emission. The
    // 26-hour watermark makes multi-batch replay exact BY DESIGN —
    // (user, day) duplicates can only arrive within day d, and the
    // watermark lags 26 h > the day's width, so dedup state never
    // evicts early no matter how batches split (dauStream's
    // documented horizon contract). Oracle: count(DISTINCT user) per
    // epoch day.
    "q219_stream_dau" -> ((s, d) => {
      val dir = tempDir("graft_q219_")
      val perBatch = streamReplay(s, d, dir,
        in => graft.streaming.StreamingJobs.dauStream(
          in.withWatermark("ts", "26 hours")),
        "update", tagBatch = true)
      perBatch.groupBy("day")
        .agg(max(struct(col("__batch"), col("n_active"))).as("m"))
        .select(col("day"), col("m.n_active").as("n_active"))
        .orderBy("day")
    }),

    // First-order user transitions graded through the ARBITRARY-state
    // path (flatMapGroupsWithState, append): per-user last-event-type
    // state crosses micro-batches, so a user's first event in batch k
    // pairs with their last event of batch k-1 — the accumulated
    // emissions equal the batch lead() pairs exactly when batches are
    // event-time ordered (streamReplay's contract). Completes the
    // streaming anchor set: q218 join state, q219 dedup+agg state,
    // q220 arbitrary state.
    "q220_stream_transitions" -> ((s, d) => {
      val dir = tempDir("graft_q220_")
      streamReplay(s, d, dir,
        in => {
          import s.implicits._
          graft.streaming.StreamingJobs.transitionsStream(
            in.as[graft.streaming.StreamingJobs.Event]).toDF()
        },
        "append")
        .orderBy("user_id", "prev_type", "next_type")
    }),

    // The LEFT-OUTER stream-stream join's delayed-null branch, graded:
    // purchases with no click in the preceding hour emit (user, p_ts,
    // p_value, NULL) only once the engine can PROVE no match is coming
    // — i.e. the global watermark (min over both sides' event-time
    // maxima, minus the 1-hour delay) has passed p_ts. Under the
    // ordered replay + the default no-data final micro-batch, that
    // proof eventually covers every purchase below min(max_p, max_c)
    // − 1h; purchases above it hold in state at stream end and NEVER
    // emit their null row — which is exactly what the oracle replays
    // (inner pairs ∪ null rows for unmatched purchases below the
    // final watermark). q218 grades the inner join's state mechanics;
    // this row grades outer EVICTION-TIME emission, the branch q218
    // can't reach.
    "q225_stream_outer_join" -> ((s, d) => {
      val dir = tempDir("graft_q225_")
      streamReplay(s, d, dir,
        in => graft.streaming.StreamingJobs.purchaseContextOuter(in),
        "append")
        .orderBy(col("user_id"), col("p_ts"), col("c_ts").asc_nulls_first)
    }),

    // The DROP branch of withWatermark, graded: bucket 3 (of the 6
    // event-time buckets) is deliberately delivered LAST, after buckets
    // 4 and 5 have advanced the watermark ~10 days past its newest
    // event (the buckets are ~5-day ranges; the delay is 1 hour), so
    // EVERY bucket-3 row arrives below the watermark and the stateful
    // aggregation must discard it — state for those windows was already
    // finalized and evicted. Update-mode emissions + batch-id tag, a
    // window's count is its LAST emission (q219's convention). Oracle:
    // the batch tumbling count over the SAME bucket formula with bucket
    // 3 removed — a row set that differs from the no-watermark batch
    // twin (Round12Spec pins the difference), which is what proves the
    // drop actually happened rather than the replay never exercising it.
    "q224_stream_late_drop" -> ((s, d) => {
      val dir = tempDir("graft_q224_")
      val perBatch = streamReplay(s, d, dir,
        in => in.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events")),
        "update", tagBatch = true, arrival = Seq(0, 1, 2, 4, 5, 3))
      perBatch
        .groupBy(col("w.start").as("window_start"), col("event_type"))
        .agg(max(struct(col("__batch"), col("n_events"))).as("m"))
        .select(col("window_start"), col("event_type"),
          col("m.n_events").as("n_events"))
        .orderBy("window_start", "event_type")
    }),

    // Streaming near-dup vs the corpus AT REST, graded through the
    // engine: the <50 batch docs arrive as an ordered 6-bucket stream
    // (synthetic 1-hour-spaced event times), MinHash-banded with the
    // stateless per-row projection, probe the persisted writeLshIndex
    // via STREAM-STATIC joins, verify by exact Jaccard, and collapse
    // multi-band hits with dropDuplicatesWithinWatermark — the
    // continuous-ingest twin of q69, which is exactly this row's
    // oracle (same index parameters, same threshold; the accumulated
    // append-mode emissions equal the batch incremental probe because
    // band keys and Jaccard are pure per-doc functions and no row
    // ever arrives below the watermark under the ordered replay).
    "q226_stream_neardup" -> ((s, d) => {
      val docs = documents(s, d)
      val root = tempDir("graft_q226_")
      val path = root + "/idx"
      Dedup.writeLshIndex(docs.filter(col("doc_id") >= 50), "doc_id",
        "text", n = 3, k = 8, bands = 4, path = path)
      val batchDocs = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text"),
          // offset the synthetic event times a year past the epoch:
          // a ts of exactly 0 (doc 0) sits AT the stream's initial
          // watermark and dropDuplicatesWithinWatermark discards it
          // as late — found by the seed-2 sweep, where doc 0 has a
          // near-dup partner (the offset cancels in the bucket
          // formula, so arrival order and splits are unchanged)
          timestamp_seconds(col("doc_id") * 3600 + 31536000L).as("ts"))
      streamReplaySrc(s, root, batchDocs,
        in => graft.streaming.StreamingJobs.nearDupStream(s, path,
          in.withWatermark("ts", "1 hour"), "doc_id", "text",
          n = 3, k = 8, bands = 4, threshold = 0.5),
        "append", cacheKey = Some(s"docs50|$d"))
        .select("batch_id", "corpus_id", "jaccard")
        .orderBy("batch_id", "corpus_id")
    }),

    // Index-REFRESHING streaming near-dup, graded through the engine:
    // the foreachBatch twin (nearDupRefreshing) re-reads the at-rest
    // index EVERY micro-batch, so an appendLshIndex landing between
    // batches is visible to later batches — the freshness contract the
    // snapshot-at-start stream-static join (q226) cannot give. Replay:
    // the initial index holds the >= 50 corpus EXCEPT docs 200-299;
    // batch docs < 50 arrive as TWO buckets (0-24, then 25-49); after
    // bucket 0's results are sunk, docs 200-299 are APPENDED. The
    // graded output is therefore (batch<25 vs corpus∉[200,300)) ∪
    // (batch 25-49 vs all corpus) — bucket-0 probes must NOT see the
    // appended docs (not in the index yet), bucket-1 probes MUST. The
    // 200-299 window is chosen so BOTH branches bite on the primary
    // fixture (Round13Spec pins it): batch doc 8's only near-dup
    // partner (245) is appended → absent, and a bucket-1 doc's
    // partner (45→267) is appended → present.
    "q227_stream_neardup_refresh" -> ((s, d) => {
      val docs = documents(s, d)
      val root = tempDir("graft_q227_")
      val path = root + "/idx"
      val appendedRange = col("doc_id") >= 200 && col("doc_id") < 300
      Dedup.writeLshIndex(
        docs.filter(col("doc_id") >= 50 && !appendedRange), "doc_id",
        "text", n = 3, k = 8, bands = 4, path = path)
      val batchDocs = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text"),
          // offset the synthetic event times a year past the epoch:
          // a ts of exactly 0 (doc 0) sits AT the stream's initial
          // watermark and dropDuplicatesWithinWatermark discards it
          // as late — found by the seed-2 sweep, where doc 0 has a
          // near-dup partner (the offset cancels in the bucket
          // formula, so arrival order and splits are unchanged)
          timestamp_seconds(col("doc_id") * 3600 + 31536000L).as("ts"))
      streamReplayWriter(s, root, batchDocs, 0 until 2,
        cacheKey = Some(s"docs50|$d")) { in =>
        graft.streaming.StreamingJobs.nearDupRefreshing(path, "doc_id",
          "text", n = 3, k = 8, bands = 4,
          threshold = 0.5)(in) { (res, batchId) =>
          // materialize THIS batch's probe results before mutating the
          // index — the append must be invisible to the batch that
          // triggered it and visible to the next one
          res.write.mode("append").parquet(root + "/out")
          if (batchId == 0L)
            Dedup.appendLshIndex(docs.filter(appendedRange),
              "doc_id", "text", n = 3, k = 8, bands = 4, path = path)
        }
      }
        .orderBy("batch_id", "corpus_id")
    }),

    // Streaming HLL distinct-user sketch graded through the engine:
    // hllStream's mapGroupsWithState carries the 256-register array
    // as per-type state across micro-batches; registers are a
    // max-semilattice, so the LAST update-mode emission per type must
    // equal the batch finalize (q150's math) REGARDLESS of how the
    // replay buckets split the events. (The full engine-graded set:
    // q218 join, q219 dedup+windows, q220/q229/q231 arbitrary state,
    // q224 drop, q225 outer eviction, q226/q227 stream-static probes,
    // q228 sketch state, q230 O(1) running state.)
    "q228_stream_hll" -> ((s, d) => {
      val dir = tempDir("graft_q228_")
      val perBatch = streamReplay(s, d, dir,
        in => {
          import s.implicits._
          graft.streaming.StreamingJobs.hllStream(
            in.as[graft.streaming.StreamingJobs.Event]).toDF()
        },
        "update", tagBatch = true)
      perBatch.groupBy("event_type")
        .agg(max(struct(col("__batch"), col("used"), col("reg_sum")))
          .as("m"))
        .select(col("event_type"), col("m.used").as("used"),
          col("m.reg_sum").as("reg_sum"))
        .orderBy("event_type")
    }),

    // Incremental SCD2 maintenance graded through the engine:
    // scd2Stream's per-user open-interval state crosses micro-batches
    // (a change in batch k closes an interval opened in batch k-1),
    // interval bounds carry FULL microsecond precision (the ms-grain
    // state this round's grading caught would truncate ~every bound
    // on this fixture). Accumulated append-mode emissions == the
    // batch SCD2 history's CLOSED rows under the ordered replay.
    "q229_stream_scd2" -> ((s, d) => {
      val dir = tempDir("graft_q229_")
      streamReplay(s, d, dir,
        in => {
          import s.implicits._
          graft.streaming.StreamingJobs.scd2Stream(
            in.as[graft.streaming.StreamingJobs.Event]).toDF()
        },
        "append")
        .select(col("user_id"), col("attr").as("event_type"),
          col("valid_from"), col("valid_to"), col("version"))
        .orderBy("user_id", "version")
    }),

    // Streaming EWMA graded through the engine: ewmaStream's O(1)
    // per-user state (count, smoothed value) folds each micro-batch
    // through the integer recurrence; the LAST update-mode emission
    // per user == the batch ewmaFinal fold (q122's oracle verbatim).
    "q230_stream_ewma" -> ((s, d) => {
      val dir = tempDir("graft_q230_")
      val perBatch = streamReplay(s, d, dir,
        in => {
          import s.implicits._
          graft.streaming.StreamingJobs.ewmaStream(
            in.as[graft.streaming.StreamingJobs.Event],
            aNum = 1, aDen = 5).toDF()
        },
        "update", tagBatch = true)
      perBatch.groupBy("user_id")
        .agg(max(struct(col("__batch"), col("n"), col("ewma6"))).as("m"))
        .select(col("user_id"), col("m.n").as("n"),
          col("m.ewma6").as("ewma6"))
        .orderBy("user_id")
    }),

    // Streaming rolling-window anomaly detection graded through the
    // engine: anomalyStream's per-type trailing-20 ring crosses
    // micro-batches (a spike in batch k tests against a window filled
    // in batch k-1); accumulated append-mode flags == the batch
    // windowed z-test (q112's oracle verbatim) under the ordered
    // replay's cross-batch event-time contract.
    "q231_stream_anomaly" -> ((s, d) => {
      val dir = tempDir("graft_q231_")
      streamReplay(s, d, dir,
        in => {
          import s.implicits._
          graft.streaming.StreamingJobs.anomalyStream(
            in.as[graft.streaming.StreamingJobs.Event],
            n = 20, k = 3).toDF()
        },
        "append")
        .orderBy("event_id")
    }),

    // Event-time-timeout sessionization graded through the engine
    // (r13 verdict item 8): the processing-time sessionize is honestly
    // non-replayable (closure keys on wall clock), but this twin's
    // closures are a pure function of the input — a session emits when
    // a later same-user event splits it (the batch gap split) or when
    // the watermark strictly passes lastTs + gap (pinned engine
    // predicate, see sessionizeEventTime). Sessions within gap+delay
    // of the stream's max event time stay OPEN and never emit — the
    // oracle replays exactly that boundary ((last_us//1000 + gap) <
    // max_us//1000 − delay, all integer ms), with both branches
    // non-vacuous on the shipped fixture (sf0.01: 5 652 of 5 725
    // sessions closed, 73 held open across 150 users).
    "q234_stream_session" -> ((s, d) => {
      val dir = tempDir("graft_q234_")
      streamReplay(s, d, dir,
        in => {
          import s.implicits._
          graft.streaming.StreamingJobs.sessionizeEventTime(
            in.withWatermark("ts", "1 hour")
              .as[graft.streaming.StreamingJobs.Event],
            gapMs = 6L * 3600 * 1000).toDF()
        },
        "append")
        .orderBy("user_id", "session_start")
    }),

    // EWMA (alpha = 1/5) of event values per user — ordered integer
    // fold over each user's history; final smoothed state per key.
    "q122_ewma" -> ((s, d) =>
      EventsOps.ewmaFinal(events(s, d), "user_id", aNum = 1, aDen = 5)
        .orderBy("user_id")),

    // Rolling z-score anomaly detection per event type: trailing-20
    // window, 3-sigma cross-multiplied integer test (no sqrt, no FP).
    "q112_anomaly" -> ((s, d) =>
      EventsOps.anomalies(events(s, d), "event_type", n = 20, k = 3)
        .orderBy("event_id")),

    // Point-in-time-correct dimension lookup (the feature-store /
    // SCD2-fact-join primitive): build the SCD2 history of each user's
    // value band, then attach to every purchase the band that was
    // CURRENT at its timestamp — an as-of join against the change rows
    // (valid intervals chain contiguously, so latest-change-at-or-
    // before IS interval containment). Simultaneous changes collapse to
    // their final state before the join, keeping the lookup
    // deterministic.
    "q99_scd2_lookup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d)
      val banded = e.withColumn("band",
        when(col("value") < 1.0, "low")
          .when(col("value") < 3.0, "mid").otherwise("high"))
      val byState = Window.partitionBy("user_id", "valid_from")
        .orderBy(col("version").desc)
      val dim = EventsOps.scd2(banded, "band")
        .withColumn("__rn", row_number().over(byState))
        .filter(col("__rn") === 1).drop("__rn")
      val facts = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      EventsOps.asofJoin(facts, dim, "user_id", "ts", "valid_from",
        "band")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_band").as("band_at_purchase"))
        .orderBy("event_id")
    }),
  )

  val oracles: Map[String, String] = Map(

    // The same chained min(CASE) windows over one user partition; step
    // counts are filtered distinct-user counts.
    "q85_funnel" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |w0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |  OVER (PARTITION BY user_id) AS t0 FROM e),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
        |  THEN ts END) OVER (PARTITION BY user_id) AS t1 FROM w0),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
        |  THEN ts END) OVER (PARTITION BY user_id) AS t2 FROM w1),
        |c AS (SELECT
        |  count(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS c0,
        |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS c1,
        |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS c2
        |  FROM w2)
        |SELECT 0 AS step, 'view' AS event_type, c0 AS users FROM c
        |UNION ALL SELECT 1, 'click', c1 FROM c
        |UNION ALL SELECT 2, 'purchase', c2 FROM c
        |ORDER BY step""".stripMargin,

    // Epoch-week arithmetic replays exactly: floor((s + frac)/604800) ==
    // floor(floor(s)/604800) because the week length dwarfs the
    // sub-second part.
    "q86_retention" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |wk AS (SELECT user_id,
        |    cast(floor(epoch(ts) / 604800) AS bigint) AS week FROM e),
        |ch AS (SELECT *, min(week) OVER (PARTITION BY user_id)
        |    AS cohort_week FROM wk)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(DISTINCT user_id) AS users
        |FROM ch GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    // Same floor-div bucketing (epoch_us avoids DuckDB's fractional
    // epoch()); per-key generate_series densifies the empty buckets.
    "q104_gapfill" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |c AS (SELECT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS bucket, count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT event_type,
        |    unnest(generate_series(min(bucket), max(bucket))) AS bucket
        |  FROM c GROUP BY event_type)
        |SELECT s.event_type, s.bucket,
        |  cast(to_timestamp(s.bucket * 3600) AS timestamp) AS bucket_start,
        |  cast(coalesce(n, 0) AS bigint) AS n
        |FROM s LEFT JOIN c USING (event_type, bucket)
        |ORDER BY event_type, bucket""".stripMargin,

    // Same lead-window path build, same (count desc, path) total order.
    "q117_top_paths" ->
      """WITH e AS (SELECT event_id, cast(ts AS timestamp) AS ts,
        |    user_id, event_type FROM events),
        |s AS (SELECT event_type AS s0,
        |    lead(event_type, 1) OVER w AS s1,
        |    lead(event_type, 2) OVER w AS s2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT s0 || '>' || s1 || '>' || s2 AS path, count(*) AS n
        |FROM s WHERE s2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 25""".stripMargin,

    // Same in-bucket winner (row_number DESC) + carry-forward via
    // last_value IGNORE NULLS over the densified buckets.
    "q129_locf" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |b AS (SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS bucket,
        |    ts, event_id, cast(round(value * 100) AS bigint) AS cents FROM e),
        |w AS (SELECT event_type, bucket, cents, row_number() OVER
        |    (PARTITION BY event_type, bucket ORDER BY ts DESC, event_id DESC)
        |    AS rn FROM b),
        |o AS (SELECT event_type, bucket, cents FROM w WHERE rn = 1),
        |s AS (SELECT event_type,
        |    unnest(generate_series(min(bucket), max(bucket))) AS bucket
        |  FROM o GROUP BY event_type)
        |SELECT s.event_type, s.bucket,
        |  cast(to_timestamp(s.bucket * 3600) AS timestamp) AS bucket_start,
        |  o.cents AS observed,
        |  last_value(o.cents IGNORE NULLS) OVER
        |    (PARTITION BY s.event_type ORDER BY s.bucket) AS filled
        |FROM s LEFT JOIN o USING (event_type, bucket)
        |ORDER BY event_type, bucket""".stripMargin,

    // First/last row per bucket by the identical (ts, event_id) total
    // order, read off two row_number windows.
    "q134_ohlc" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |b AS (SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS bucket,
        |    cast(round(value * 100) AS bigint) AS cents, ts, event_id FROM e),
        |w AS (SELECT event_type, bucket, cents,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts ASC, event_id ASC) AS rna,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rnd FROM b)
        |SELECT event_type, bucket, count(*) AS n,
        |  min(CASE WHEN rna = 1 THEN cents END) AS open,
        |  max(cents) AS high, min(cents) AS low,
        |  min(CASE WHEN rnd = 1 THEN cents END) AS close
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same bounded membership expansion + distinct agg.
    "q135_sliding_dau" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |a AS (SELECT DISTINCT event_type, user_id,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM e),
        |s AS (SELECT event_type, max(day) AS hi FROM a GROUP BY 1),
        |x AS (SELECT event_type, user_id,
        |    unnest(generate_series(day, day + 6)) AS endday FROM a)
        |SELECT x.event_type, x.endday AS day,
        |  cast(to_timestamp(x.endday * 86400) AS timestamp) AS day_start,
        |  count(DISTINCT x.user_id) AS n_active
        |FROM x JOIN s USING (event_type) WHERE x.endday <= s.hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same lead-window durations, HUGEINT integral, floor divide.
    "q138_twa" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |b AS (SELECT event_type, ts, event_id,
        |    epoch_us(ts) // 1000000 AS s,
        |    cast(round(value * 100) AS bigint) AS cents FROM e),
        |w AS (SELECT event_type, cents,
        |    lead(s) OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |      - s AS dur FROM b),
        |f AS (SELECT * FROM w WHERE dur IS NOT NULL)
        |SELECT event_type, count(*) AS n_held,
        |  cast(sum(dur) AS bigint) AS held_s,
        |  cast(sum(cents::HUGEINT * dur) // sum(dur) AS bigint)
        |    AS twa_cents
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // Exact HUGEINT sums; identical fixed-order closed form + floor
    // truncation (q105's convention).
    "q139_trend" ->
      """WITH t AS (SELECT event_type,
        |    (epoch_us(cast(ts AS timestamp)) // 1000000)::HUGEINT AS x,
        |    cast(round(value * 100) AS bigint)::HUGEINT AS y FROM events),
        |a AS (SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx
        |  FROM t GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN cast(n * sxx - sx * sx AS double) <> 0 THEN
        |    floor(cast(n * sxy - sx * sy AS double) /
        |      cast(n * sxx - sx * sx AS double) * 1000000) / 1000000
        |  END AS slope6
        |FROM a ORDER BY event_type""".stripMargin,

    // UNION ALL delta replay + the same pre-agg then running sum.
    "q140_concurrency" ->
      """WITH s AS (SELECT o_orderpriority AS g, o_orderkey,
        |    min(o_orderdate) AS st, max(l_shipdate) AS en
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |d AS (SELECT g, st AS t, 1 AS d FROM s
        |  UNION ALL SELECT g, en AS t, -1 AS d FROM s),
        |a AS (SELECT g, t, sum(d) AS ds FROM d GROUP BY 1, 2)
        |SELECT g, t,
        |  cast(sum(ds) OVER (PARTITION BY g ORDER BY t) AS bigint)
        |    AS active
        |FROM a ORDER BY g, t""".stripMargin,

    // Definitional inequality join replay + identical integer credit.
    "q141_attribution" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts, event_type FROM e
        |  WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.event_id, t.event_type AS touch_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |  AND t.ts BETWEEN p.ts - INTERVAL 3600 SECOND AND p.ts),
        |c AS (SELECT event_id, touch_type,
        |    count(*) OVER (PARTITION BY event_id) AS n FROM j)
        |SELECT touch_type, count(*) AS touches,
        |  cast(sum(1000000 // n) AS bigint) AS credit_ppm
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same lag-adjacency gate and integer lift, replayed directly.
    "q142_trending" ->
      """WITH c AS (SELECT l_partkey AS item,
        |    cast(year(l_shipdate) * 12 + month(l_shipdate) AS bigint)
        |      AS bucket, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT item, bucket, n,
        |    lag(bucket) OVER (PARTITION BY item ORDER BY bucket) AS pb,
        |    lag(n) OVER (PARTITION BY item ORDER BY bucket) AS prev_n
        |  FROM c),
        |f AS (SELECT item, bucket, prev_n, n FROM w
        |  WHERE pb = bucket - 1 AND prev_n >= 2 AND n >= 2)
        |SELECT item, bucket, cast(prev_n AS bigint) AS prev_n,
        |  cast(n AS bigint) AS n,
        |  cast(n * 1000000 // prev_n AS bigint) AS lift_ppm
        |FROM f ORDER BY lift_ppm DESC, bucket ASC, item ASC
        |LIMIT 25""".stripMargin,

    // Unrolled min-relaxation rounds over the symmetric temporal edges.
    "q146_temporal_reach" -> {
      def round(i: Int) =
        s"""a$i AS (SELECT node, min(arr) AS arr FROM (
           |  SELECT node, arr FROM a${i - 1}
           |  UNION ALL
           |  SELECT e.v AS node, e.t AS arr FROM e
           |  JOIN a${i - 1} ON e.u = a${i - 1}.node AND e.t >= a${i - 1}.arr
           |) GROUP BY node)""".stripMargin
      s"""WITH p AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v,
         |    cast(date_diff('day', DATE '1970-01-01', l.l_shipdate)
         |      AS bigint) AS t
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE o.o_custkey * 2 <> l.l_suppkey * 2 + 1),
         |e AS (SELECT u, v, t FROM p
         |  UNION SELECT v AS u, u AS v, t FROM p),
         |a0 AS (SELECT DISTINCT c_custkey * 2 AS node,
         |    cast(0 AS bigint) AS arr FROM customer WHERE c_custkey <= 5),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT node, arr FROM a4 ORDER BY node""".stripMargin
    },

    // Change-log replay: same synthetic waves, latest sequence wins via
    // row_number, winning deletes drop the key, upserts replace/insert.
    "q148_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    cast(round(o_totalprice * 100) AS bigint) AS price_cents
        |  FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    price_cents + 100 AS price_cents, 'U' AS op, 1 AS seq
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    price_cents + 200, 'U', 2 FROM base WHERE o_orderkey % 14 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    price_cents, 'D', 3 FROM base WHERE o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    4200, 'I', 1 FROM base WHERE o_orderkey % 13 = 0),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY seq DESC, op DESC) AS rn
        |  FROM changes)
        |SELECT o_orderkey, o_custkey, o_orderstatus, price_cents
        |FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM w)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, price_cents
        |FROM w WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    // Streaming HLL replay: the final per-type register state equals
    // the batch registers (max-semilattice — q150's digit-by-digit md5
    // replay, summarized to the graded used/reg_sum surface).
    "q228_stream_hll" -> {
      val tail56 = (2 until 16).map(i =>
        s"(strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) * ${1L << (4 * (15 - i))}")
        .mkString("(", "\n      + ", ")")
      s"""WITH v AS (
         |  SELECT event_type, md5(cast(user_id AS varchar)) AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |b AS (
         |  SELECT event_type,
         |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
         |    cast($tail56 AS bigint) AS tail
         |  FROM v),
         |r AS (
         |  SELECT event_type, bucket,
         |    max(CASE WHEN tail = 0 THEN 57
         |        ELSE 57 - length(bin(tail)) END) AS m
         |  FROM b GROUP BY event_type, bucket)
         |SELECT event_type, cast(count(*) AS bigint) AS used,
         |  cast(sum(m) AS bigint) AS reg_sum
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    // Transition replay: lag over the same (ts, event_id) total order
    // per user, pair counts, per-prev rollup, ppm floor.
    "q208_transitions" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts)
        |  FROM events),
        |p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM e),
        |c AS (SELECT prev_type, next_type,
        |    cast(count(*) AS bigint) AS n_pair
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, cast(sum(n_pair) AS bigint) AS n_prev
        |  FROM c GROUP BY 1)
        |SELECT c.prev_type, next_type, n_pair, n_prev,
        |  cast((cast(n_pair AS hugeint) * 1000000) // n_prev AS bigint)
        |    AS prob_ppm
        |FROM c JOIN t ON c.prev_type = t.prev_type
        |ORDER BY c.prev_type, next_type""".stripMargin,

    // Streaming interval-join replay: the accumulated foreachBatch
    // output of the watermarked stream-stream join equals the plain
    // batch interval join (ordered event-time buckets mean nothing
    // ever arrives below the watermark, so no drops).
    "q218_stream_interval_join" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |p AS (SELECT user_id, ts AS p_ts, value AS p_value FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, ts AS c_ts FROM e
        |      WHERE event_type = 'click')
        |SELECT user_id, p_ts, p_value, c_ts
        |FROM p JOIN c ON user_id = c_user
        |  AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts
        |ORDER BY user_id, p_ts, c_ts""".stripMargin,

    // Streaming DAU replay: the final per-day update-mode emission is
    // exactly the batch daily distinct-user count.
    "q219_stream_dau" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events)
        |SELECT make_timestamp((epoch(ts)::bigint // 86400) * 86400
        |    * 1000000) AS day,
        |  count(DISTINCT user_id) AS n_active
        |FROM e GROUP BY 1 ORDER BY day""".stripMargin,

    // Streaming transitions replay: accumulated append-mode emissions
    // of the per-user last-type state machine equal the batch lead()
    // pairs under the event-time-ordered replay.
    "q220_stream_transitions" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |p AS (SELECT user_id, event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM e)
        |SELECT user_id, prev_type, next_type
        |FROM p WHERE next_type IS NOT NULL
        |ORDER BY user_id, prev_type, next_type""".stripMargin,

    // Outer-join replay: inner pairs plus one null row per unmatched
    // purchase whose p_ts lies below the FINAL global watermark =
    // min(max purchase ts, max click ts) − 1 hour (Spark's
    // multipleWatermarkPolicy=min default; the no-data final
    // micro-batch flushes evictable state). Unmatched purchases above
    // the watermark are still in state at stream end → absent.
    "q225_stream_outer_join" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |p AS (SELECT user_id, ts AS p_ts, value AS p_value FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, ts AS c_ts FROM e
        |      WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT max(p_ts) FROM p),
        |                    (SELECT max(c_ts) FROM c))
        |         - INTERVAL 1 HOUR AS w),
        |matched AS (
        |  SELECT user_id, p_ts, p_value, c_ts
        |  FROM p JOIN c ON user_id = c_user
        |    AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts),
        |unmatched AS (
        |  SELECT p.user_id, p.p_ts, p.p_value,
        |    cast(NULL AS timestamp) AS c_ts
        |  FROM p, wm
        |  WHERE p.p_ts < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.c_user = p.user_id
        |      AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |      AND c.c_ts < p.p_ts))
        |SELECT * FROM matched
        |UNION ALL SELECT * FROM unmatched
        |ORDER BY user_id, p_ts, c_ts NULLS FIRST""".stripMargin,

    // Late-bucket replay: the streaming run's final per-window counts
    // equal the batch tumbling counts WITHOUT bucket 3 — the bucket
    // delivered below the watermark. Same 6-bucket formula as the
    // replay: floor((us - lo) * 6 / (hi - lo + 1)).
    "q224_stream_late_drop" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |      FROM e),
        |f AS (SELECT e.* FROM e, b
        |      WHERE ((epoch_us(ts) - lo) * 6) // (hi - lo + 1) <> 3)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events
        |FROM f GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // Same ordered list + left fold; list_reduce's implicit seed is the
    // first element, matching the operator's zero.
    "q122_ewma" -> ewmaReplaySql,

    // the streaming fold's final state is the same ordered integer
    // recurrence
    "q230_stream_ewma" -> ewmaReplaySql,

    // Same trailing-window integer z-test; ts cast like every events
    // oracle, (ts, event_id) frame order.
    "q112_anomaly" -> anomalyReplaySql,

    // the streaming ring's accumulated flags are the same windowed
    // z-test
    "q231_stream_anomaly" -> anomalyReplaySql,

    // q234's replay: batch gap split (break at >= 6 h between a user's
    // consecutive events, (us, event_id) order), per-session bounds/
    // count and the sequential double fold of values (the state's
    // accumulation order), then the closure boundary — every non-last
    // session closes; a user's LAST session closes iff its timeout
    // (last_us//1000 + gap ms) is strictly below the final watermark
    // (global max_us//1000 − 1 h), the engine's pinned strict-<
    // eviction predicate in integer milliseconds.
    "q234_stream_session" ->
      """WITH e AS (SELECT user_id, event_id,
        |    cast(ts AS timestamp) AS ts,
        |    epoch_us(cast(ts AS timestamp)) AS us, value FROM events),
        |o AS (SELECT user_id, event_id, us, value, ts,
        |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS prev
        |  FROM e),
        |b AS (SELECT *, CASE WHEN prev IS NULL
        |      OR us - prev >= 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |sgrp AS (SELECT *,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS sess
        |  FROM b),
        |sess AS (SELECT user_id, sess,
        |    min(ts) AS session_start, max(ts) AS session_end,
        |    max(us) AS last_us, count(*) AS n_events,
        |    list_reduce(list(value ORDER BY us, event_id),
        |      (a, b) -> a + b) AS total_value
        |  FROM sgrp GROUP BY user_id, sess),
        |wm AS (SELECT max(us) // 1000 - 3600000 AS wm_ms FROM e),
        |lastsess AS (SELECT user_id, max(sess) AS mx FROM sess
        |  GROUP BY user_id)
        |SELECT s.user_id, s.session_start, s.session_end,
        |  s.n_events, s.total_value
        |FROM sess s JOIN lastsess l ON l.user_id = s.user_id, wm
        |WHERE s.sess < l.mx
        |   OR (s.last_us // 1000 + 21600000) < wm.wm_ms
        |ORDER BY s.user_id, s.session_start""".stripMargin,

    "q31_events_tumbling" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM e GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q32_events_sliding" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events)
        |SELECT ws AS window_start, event_type, count(*) AS n_events
        |FROM (
        |  SELECT event_type,
        |    make_timestamp(cast(floor(epoch(ts)/1800)*1800 AS bigint) * 1000000
        |      - k * 1800000000) AS ws
        |  FROM e, (SELECT unnest([0, 1]) AS k))
        |GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin,

    "q33_watermark_dedup" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events)
        |SELECT user_id, event_type,
        |  make_timestamp(cast(floor(epoch(ts)/600)*600 AS bigint) * 1000000)
        |    AS bucket_start,
        |  min(event_id) AS keep_event_id, count(*) AS n_dups
        |FROM e GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, bucket_start""".stripMargin,

    "q34_events_session" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |l AS (
        |  SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(CASE WHEN p IS NULL
        |             OR epoch_us(ts) - epoch_us(p) >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // the streaming probe accumulates exactly the batch incremental
    // probe's pairs under the ordered replay
    "q226_stream_neardup" -> incrementalDedupReplaySql,

    // the refreshing stream's per-bucket index-visibility boundary
    "q227_stream_neardup_refresh" -> refreshingDedupReplaySql,

    // The bucketing is lossless (exact range re-filter), so the oracle
    // is the plain inequality join.
    "q67_interval_join" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |l AS (SELECT user_id, event_id, ts FROM e
        |      WHERE event_type = 'click'),
        |r AS (SELECT user_id, event_id, ts FROM e
        |      WHERE event_type = 'purchase')
        |SELECT l.user_id, l.event_id AS l_event, r.event_id AS r_event,
        |  epoch_us(r.ts) - epoch_us(l.ts) AS delta_us
        |FROM l JOIN r ON l.user_id = r.user_id
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |ORDER BY l_event, r_event""".stripMargin,

    "q45_events_asof" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |p AS (SELECT user_id, ts, event_id FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, value FROM e WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id,
        |  (SELECT max(c.ts) FROM c
        |   WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts,
        |  (SELECT max(c.value) FROM c
        |   WHERE c.user_id = p.user_id AND c.ts =
        |     (SELECT max(c2.ts) FROM c c2
        |      WHERE c2.user_id = p.user_id AND c2.ts <= p.ts))
        |    AS last_click_value
        |FROM p ORDER BY user_id, event_id""".stripMargin,

    "q52_moving_avg" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events)
        |SELECT user_id, event_id,
        |  cast(sum(cast(value AS decimal(18,2))) OVER w AS double)
        |    / (count(*) OVER w) AS mavg3
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q40_props_json" ->
      """SELECT cast(json_extract(props, '$.k') AS int) % 10 AS k_bucket,
        |  count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin,

    // Same change-detection lag + interval-closing lead/row_number over
    // the (ts, event_id) order — the tiebreak keeps the chain
    // deterministic when one user has equal timestamps.
    "q90_scd2" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |c AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS version,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin,

    // Streaming SCD2 replay: the accumulated closed intervals are
    // q90's history minus each user's open (is_current) row — full
    // microsecond bounds.
    "q229_stream_scd2" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |c AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |g AS (SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS version
        |  FROM f)
        |SELECT user_id, event_type, valid_from, valid_to, version
        |FROM g WHERE valid_to IS NOT NULL
        |ORDER BY user_id, version""".stripMargin,

    // Same banding, change detection, simultaneous-change collapse, and
    // latest-change-at-or-before lookup (correlated max-subquery — the
    // q45 as-of idiom).
    "q99_scd2_lookup" ->
      """WITH e AS (SELECT * REPLACE (cast(ts AS timestamp) AS ts) FROM events),
        |b AS (SELECT user_id, event_id, ts,
        |    CASE WHEN value < 1.0 THEN 'low'
        |      WHEN value < 3.0 THEN 'mid' ELSE 'high' END AS band
        |  FROM e),
        |c AS (SELECT user_id, band, ts, event_id,
        |    lag(band) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM b),
        |f AS (SELECT user_id, band, ts, event_id FROM c
        |  WHERE prev IS NULL OR prev <> band),
        |dim AS (SELECT user_id, band, ts FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id DESC) AS rn
        |  FROM f) WHERE rn = 1),
        |p AS (SELECT event_id, user_id, ts FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  (SELECT d.band FROM dim d
        |   WHERE d.user_id = p.user_id AND d.ts =
        |     (SELECT max(d2.ts) FROM dim d2
        |      WHERE d2.user_id = p.user_id AND d2.ts <= p.ts))
        |    AS band_at_purchase
        |FROM p ORDER BY event_id""".stripMargin,
  )
}
