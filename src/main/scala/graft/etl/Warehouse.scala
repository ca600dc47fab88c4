package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet warehouse with idempotent keyed appends (reference K1:
  * `INSERT OR IGNORE`, PIPE:675-706) and full-replace writes (K2),
  * each committed as one [[Swap]] group (the reference's per-page
  * transaction, PIPE:708, at job granularity).
  *
  * K1 semantics set-at-a-time: dedup the batch on its key, anti-join
  * against the existing table, append only the novel keys — re-running
  * the same ingest is a no-op (the reference's "run 4-5×" convergence,
  * TECHDOC p.obj34, without row-at-a-time probes).
  */
object Warehouse {

  def path(dir: String, table: String): String = s"$dir/$table"

  /** Existence probe through the Hadoop FileSystem API — works for any
    * supported scheme (file://, hdfs://, s3a://), not just local paths.
    */
  def exists(spark: SparkSession, dir: String, table: String): Boolean =
    fsOf(spark, dir).exists(new Path(path(dir, table)))

  /** Read `table` under the schema of its first data file's footer
    * ([[ParquetRead]]: no Spark job). A table whose files differ in
    * schema reads through [[readMerged]].
    */
  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    ParquetRead(spark, path(dir, table))

  /** Schema-evolution read (the reference's `_ensure_column` analog,
    * PIPE:200-205, moved to the read path): Parquet footer merge across
    * batches written under older, narrower schemas — missing columns
    * surface as nulls, no ALTER TABLE. Spark reads every footer, in a
    * job of its own.
    */
  def readMerged(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path(dir, table))

  /** Write-side evolution: align a batch to `target` — missing columns
    * become typed nulls, present ones cast — so old writers can keep
    * appending after the schema widened (the other `_ensure_column`
    * direction).
    */
  def ensureColumns(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(target.fields.toSeq.map { f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)

  /** K2 — full replace, staged and swapped in as [[overwriteSwap]]
    * does: a crash never leaves a torn table behind.
    */
  def overwrite(df: DataFrame, dir: String, table: String): Unit =
    overwriteSwap(df.sparkSession, df, dir, table)

  /** The warehouse's file system, resolved from its path: the default
    * file system (`FileSystem.get(conf)`) throws "Wrong FS" for an
    * s3a:// warehouse on an hdfs-default cluster.
    */
  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** [[overwriteSwap]]'s group: `table__tmp` replaces `table`, which
    * is stashed at `table__old`, the group's aside.
    */
  private def swapMove(dir: String, table: String): Swap.Move =
    Swap.Move(Some(new Path(path(dir, table + "__tmp"))),
      new Path(path(dir, table)), new Path(path(dir, table + "__old")))

  /** [[mergeByKey]]'s group: each partition leaf (a directory holding
    * no directory) staged under `table__delta` replaces the same leaf
    * of `table`, stashed under `table__mergeold` — outside the table
    * root, so a crashed merge is never read as an extra partition.
    */
  private def mergeMoves(fs: FileSystem, dir: String,
      table: String): Seq[Swap.Move] =
    Swap.under(fs, new Path(path(dir, table + "__delta")),
      new Path(path(dir, table)), new Path(path(dir, table + "__mergeold")))(
      st => st.isDirectory && fs.listStatus(st.getPath).forall(!_.isDirectory))

  /** Finish whatever swap of `table` a dead writer left committed —
    * [[overwriteSwap]]'s, [[mergeByKey]]'s, [[expirePartitions]]' or
    * an append's ([[Swap.append]]) — so the table is whole again
    * ([[Swap.recover]]): one `exists` per kind when nothing is pending.
    * Every writer here calls it before it reads its table; a pipeline
    * calls it before it probes [[exists]], or a stashed table would
    * look missing. Each kind keeps its own aside: an expiry marked
    * under the merge's aside would roll a failed merge's leftover
    * `__delta` forward.
    */
  def recover(spark: SparkSession, dir: String, table: String): Unit = {
    val fs = fsOf(spark, dir)
    val m = swapMove(dir, table)
    Swap.recover(fs, m.stash)(Seq(m))
    Swap.recover(fs, new Path(path(dir, table + "__mergeold")),
      Some(new Path(path(dir, table + "__delta"))))(
      mergeMoves(fs, dir, table))
    Swap.recover(fs, new Path(path(dir, table + "__expired")))(Nil)
    Swap.recoverAppend(spark, path(dir, table))
  }

  /** Full replace: write to a side directory first, then swap — so a
    * plan may read the `table` it replaces (a lazy plan overwriting its
    * own input in place would truncate it), and a crash leaves the old
    * or the new table, never a torn one.
    */
  def overwriteSwap(spark: SparkSession, df: DataFrame, dir: String,
      table: String): Unit = {
    recover(spark, dir, table)
    val m = swapMove(dir, table)
    val fs = fsOf(spark, dir)
    val tmp = m.staged.get
    Swap.stage(spark, fs, tmp)(
      df.write.mode(SaveMode.Overwrite).parquet(tmp.toString))
    Swap.swap(fs, m.stash, Seq(m))
    spark.catalog.refreshByPath(path(dir, table)) // as Spark's own write
  }

  /** Add `rows` to `table` as one staged [[Swap.append]]. */
  private def append(spark: SparkSession, rows: DataFrame, dir: String,
      table: String, partitionCols: Seq[String]): Unit =
    Swap.append(spark, path(dir, table)) { stage =>
      val w = rows.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(stage)
    }

  /** K1 — keyed idempotent append. `partitionCols` (e.g. `anio` on obras)
    * lay the table out for partition pruning of the dashboard's year
    * filters — at scale the anti-join also prunes to touched partitions.
    */
  def idempotentAppend(spark: SparkSession, df: DataFrame, dir: String,
      table: String, keys: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, dir, table)
    val deduped = df.dropDuplicates(keys)
    append(spark, if (!exists(spark, dir, table)) deduped else {
      val existing = read(spark, dir, table).select(keys.map(col): _*)
      // null-safe anti-join: dropDuplicates treats null keys as equal,
      // and the existence probe must agree — a null-rejecting equi-join
      // would classify a null-key row as novel on EVERY rerun, breaking
      // the re-run-is-a-no-op contract for exactly those rows
      val cond = keys.map(k => deduped(k) <=> existing(k))
        .reduce(_ && _)
      deduped.join(existing, cond, "left_anti")
    }, dir, table, partitionCols)
  }

  /** MERGE-semantics keyed upsert, copy-on-write (the reference's
    * UPDATE-join + INSERT upsert, PIPE:417-428, without the full
    * recompute-and-swap): batch rows REPLACE existing rows with the same
    * key, novel keys are inserted, and only the partition directories the
    * batch touches are read, rewritten and swapped — every other
    * partition's files are left byte-identical on disk (asserted in
    * PipelineSpec). At 100 TB this is the difference between rewriting a
    * handful of `anio=` directories and rewriting the warehouse.
    *
    * Mechanics: the merged rows for the touched partitions (batch ∪
    * existing-anti-batch, partition-pruned read) are staged to a
    * `__delta` side directory — fully materialized BEFORE any live file
    * moves — then every staged partition directory is promoted as ONE
    * [[Swap]] group: a failed or crashed merge never leaves some
    * touched partitions merged and others not.
    *
    * Contract: partition values must be stable under updates (derive
    * them from the key, or include them in it) — a key that MOVED
    * partitions would leave its stale row in the old, untouched
    * partition. Un-partitioned tables degrade to a full
    * `overwriteSwap` rewrite (no finer copy-on-write unit exists).
    * Partition values must be non-null.
    */
  def mergeByKey(spark: SparkSession, batch: DataFrame, dir: String,
      table: String, keys: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, dir, table)
    val deduped = batch.dropDuplicates(keys)
    def antiMerged(existing: DataFrame): DataFrame =
      deduped.unionByName(
        existing.join(deduped.select(keys.map(col): _*), keys, "left_anti"),
        allowMissingColumns = true)
    if (!exists(spark, dir, table)) {
      append(spark, deduped, dir, table, partitionCols)
    } else if (partitionCols.isEmpty) {
      overwriteSwap(spark, antiMerged(read(spark, dir, table)), dir, table)
    } else {
      // touched partitions: the batch's distinct partition tuples. A
      // driver-side list by design — an incremental batch touches few
      // partitions; the list becomes the partition-pruning predicate on
      // the existing-side read.
      val touched = deduped.select(partitionCols.map(col): _*)
        .distinct().collect()
      if (touched.nonEmpty) {
        val pruned = read(spark, dir, table).filter(
          touched.map(r => partitionCols.zipWithIndex
            .map { case (c, i) => col(c) === lit(r.get(i)) }
            .reduce(_ && _)).reduce(_ || _))
        val delta = path(dir, table + "__delta")
        val fs = fsOf(spark, dir)
        // stage: materializes the pruned existing read before any move
        Swap.stage(spark, fs, new Path(delta))(antiMerged(pruned).write
          .mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
          .parquet(delta))
        Swap.swap(fs, new Path(path(dir, table + "__mergeold")),
          mergeMoves(fs, dir, table), Some(new Path(delta)))
      }
    }
  }

  /** Versioned snapshot table — the time-travel contract (Delta /
    * Iceberg style) in plain parquet: every commit writes a NEW
    * immutable `v=N` directory under `<table>@versions/`; a version is
    * COMMITTED iff Spark's `_SUCCESS` marker landed (written last), so
    * a crashed writer leaves an invisible dangling directory, never a
    * broken table — no pointer file to corrupt. Readers resolve
    * `latest` = max committed N with ONE directory listing
    * (metadata-scale), and reading any version scans only that
    * directory. Single-writer, like the other warehouse mutators.
    */
  private def versionRoot(dir: String, table: String): String =
    path(dir, table + "@versions")

  /** All version directories (committed or dangling) as
    * (version, hasSuccess) — shared by resolve/commit/vacuum so the
    * layout contract lives in one place. ONE top-level listing finds
    * the `v=N` dirs (foreign names — `v=3.tmp`, `_temporary` — are
    * skipped, not fatal), then one `_SUCCESS` existence probe per
    * version. That is O(#versions) metadata RPCs, NOT O(#data files):
    * a recursive listing would enumerate every data file of every
    * version on each resolve, which on an object store at 100 TB is
    * the expensive call, while #versions stays small by construction
    * (vacuum bounds it).
    */
  private def versionDirs(spark: SparkSession, dir: String,
      table: String): Seq[(Long, Boolean)] = {
    val root = new Path(versionRoot(dir, table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val dirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s =>
        s.getPath.getName.stripPrefix("v=").toLongOption
          .map(v => (v, s.getPath)))
    dirs.sortBy(_._1).map { case (v, p) =>
      (v, fs.exists(new Path(p, "_SUCCESS")))
    }
  }

  private def committedVersions(spark: SparkSession, dir: String,
      table: String): Seq[Long] =
    versionDirs(spark, dir, table).collect { case (v, true) => v }

  /** Commit `df` as the next version; returns the new version number. */
  def commitVersion(spark: SparkSession, df: DataFrame, dir: String,
      table: String): Long = {
    val all = versionDirs(spark, dir, table).map(_._1)
    val next = (all :+ 0L).max + 1
    df.write.mode(SaveMode.ErrorIfExists)
      .parquet(s"${versionRoot(dir, table)}/v=$next")
    next
  }

  def listVersions(spark: SparkSession, dir: String,
      table: String): Seq[Long] = committedVersions(spark, dir, table)

  /** Read a committed snapshot; `version = -1` resolves latest. */
  def readVersion(spark: SparkSession, dir: String, table: String,
      version: Long = -1L): DataFrame = {
    val vs = committedVersions(spark, dir, table)
    require(vs.nonEmpty, s"readVersion: no committed versions of $table")
    val v = if (version == -1L) vs.max else version
    require(vs.contains(v),
      s"readVersion: version $v of $table not committed " +
        s"(have ${vs.mkString(",")})")
    ParquetRead(spark, s"${versionRoot(dir, table)}/v=$v")
  }

  /** Drop every committed snapshot except the newest `keep`, plus any
    * dangling (uncommitted) directory — metadata-scale, idempotent.
    */
  def vacuumVersions(spark: SparkSession, dir: String, table: String,
      keep: Int): Unit = {
    require(keep >= 1, "vacuumVersions: keep must be >= 1")
    val root = new Path(versionRoot(dir, table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val live = committedVersions(spark, dir, table).takeRight(keep).toSet
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      // same foreign-name tolerance as versionDirs: a dir that doesn't
      // parse as v=<long> is not ours to delete — skip it, don't throw
      .filter(s =>
        s.getPath.getName.stripPrefix("v=").toLongOption
          .exists(v => !live.contains(v)))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Retention / TTL maintenance on a partitioned table: drop every
    * leaf partition directory whose partition VALUE sorts strictly
    * below `cutoff` (e.g. `anio < "2020"`, `day < "2024-01-01"` with
    * lexicographic-safe encodings). This is metadata-scale work —
    * directory listing + renames, zero data reads/writes, nothing
    * proportional to table bytes — which is the only acceptable cost
    * for expiring data at 100 TB (a filter-and-rewrite ages the whole
    * table through the cluster). The expired dirs are stashed into
    * `table__expired` as one [[Swap]] group with nothing promoted,
    * lowest value first, then the stash is deleted: a failure restores
    * every partition, and a crash leaves the table expired below some
    * lower cutoff, which re-running the expiry completes. Before it
    * moves a partition it deletes the warehouse's page markers, so a
    * re-delivered batch re-ingests the expired rows (`Pipeline.ingest`
    * states the marker contract). Returns the expired partition values.
    */
  def expirePartitions(spark: SparkSession, dir: String, table: String,
      partitionCol: String, cutoff: String): Seq[String] = {
    recover(spark, dir, table)
    val base = new Path(path(dir, table))
    val fs = fsOf(spark, dir)
    if (!fs.exists(base)) return Nil
    val prefix = s"$partitionCol="
    def value(p: Path) =
      java.net.URLDecoder.decode(p.getName.stripPrefix(prefix), "UTF-8")
    val expired = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath).filter(value(_) < cutoff).sortBy(value)
    val aside = new Path(path(dir, table + "__expired"))
    if (expired.nonEmpty) {
      // the page markers assert rows this removes; dropped first, so a
      // crash between the two leaves rows without markers, which only
      // makes the next ingest of their pages run in full
      fs.delete(pagesDir(dir), true)
      Swap.swap(fs, aside,
        expired.map(p => Swap.Move(None, p, new Path(aside, p.getName))))
    }
    expired.map(value)
  }

  /** K3 — CSV export with header (the reference's catalog emit,
    * PIPE:396-398). Single file, UTF-8.
    */
  def writeCsv(df: DataFrame, outPath: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(outPath)

  /** K4 — append-only audit log (Runs, PIPE:289-300,552-557,736-738):
    * event-sourced start/finish rows instead of update-in-place; run
    * params JSON-encoded via to_json (C16, PIPE:553).
    */
  def logRun(spark: SparkSession, dir: String, runId: String,
      phase: String, query: String, rowsIngested: Long): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{to_json, struct, lit, col}
    recover(spark, dir, "runs")
    append(spark, Seq((runId, phase, query, rowsIngested,
      java.time.Instant.now().toString))
      .toDF("runId", "phase", "source", "rowsIngested", "at")
      .withColumn("query", to_json(struct(col("source"),
        lit(500).as("rows"), lit("2022-01-01").as("from"),
        lit("2025-11-30").as("until"))))
      .drop("source"), dir, "runs", Nil)
  }

  /** Page markers: `_pages/<digest>` under the warehouse, one per page
    * whose rows are in the ingest tables (`Pipeline.ingest` states the
    * contract). Spark skips `_` names, so no table read lists them.
    */
  private def pagesDir(dir: String): Path = new Path(path(dir, "_pages"))

  private def pageMarker(dir: String, digest: String): Path =
    new Path(pagesDir(dir), digest)

  /** Of `digests`, the ones with no marker: one `exists` each. */
  def uncommittedPages(spark: SparkSession, dir: String,
      digests: Seq[String]): Seq[String] = {
    val fs = fsOf(spark, dir)
    digests.filterNot(d => fs.exists(pageMarker(dir, d)))
  }

  /** Mark each of `digests` committed: an empty file created only if
    * absent (`overwrite = false`).
    */
  def commitPages(spark: SparkSession, dir: String,
      digests: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    digests.foreach(d => fs.create(pageMarker(dir, d), false).close())
  }

  /** Per-key aggregate-view state: (n, s, mn, mx) over `value`. The sum
    * is decimal-exact (order-independent under any partitioning — the
    * money-sum discipline from CoreQueries) and held at decimal(38,2)
    * so the state type is CLOSED under [[mergeAggState]]: merging never
    * widens the type, so a view can absorb any number of batches.
    */
  def aggState(df: DataFrame, keys: Seq[String], value: Column): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(value.cast("decimal(18,2)")).cast("decimal(38,2)").as("s"),
      min(value).as("mn"), max(value).as("mx"))

  /** Incremental aggregate-view maintenance (insert-only deltas): fold a
    * new fact batch into the existing state WITHOUT touching base facts.
    * The batch is first reduced to per-key partials (count/sum/min/max
    * are all self-merging), then one union + re-aggregate combines
    * partials with state — the shuffle carries `|state keys| + |batch
    * keys|` rows, never the base table. At 100 TB this is the difference
    * between a view refresh proportional to the DELTA and a full
    * recompute; the result is provably identical to `aggState` over the
    * union of all batches (spec + q121's oracle recompute). Pair with
    * [[mergeByKey]] to persist the refreshed state copy-on-write.
    */
  def mergeAggState(state: DataFrame, batch: DataFrame, keys: Seq[String],
      value: Column): DataFrame =
    state.unionByName(aggState(batch, keys, value))
      .groupBy(keys.map(col): _*).agg(
        sum("n").as("n"),
        sum("s").cast("decimal(38,2)").as("s"),
        min("mn").as("mn"), max("mx").as("mx"))

  /** CDC change-log apply (latest-wins): fold an ordered stream of
    * row-level changes — upserts (`op` = "U"/"I") and deletes ("D"),
    * each stamped with a monotonically increasing sequence number (an
    * LSN / binlog position) — onto a base snapshot. Per key the change
    * with the highest `seqCol` wins; a winning delete removes the key,
    * a winning upsert replaces (or introduces) the row. Ties on the
    * sequence break deterministically by op descending ("U" > "I" >
    * "D") then by the payload — but a real change log has unique
    * sequence numbers per key, and callers should too.
    *
    * Scale shape: the change log is incremental — tiny against the
    * base — so the reduction to per-key winners shuffles only changes,
    * and both base-side probes (the anti-join that drops superseded
    * base rows) broadcast the winner keys. The 100 TB base is scanned
    * once and NEVER shuffled. Composes with [[mergeByKey]] for the
    * at-rest form (winners as the batch, copy-on-write partitions);
    * this is the pure-DataFrame kernel.
    *
    * `changes` must carry the base payload columns plus (`opCol`,
    * `seqCol`); the result has exactly the base schema.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, keys: Seq[String],
      seqCol: String = "seq", opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "applyChanges: keys must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val payload = base.columns.toSeq
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc,
        struct(payload.map(col): _*).desc)
    val winners = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val touched = winners.select(keys.map(col): _*)
    base.join(broadcast(touched), keys, "left_anti")
      .unionByName(winners.filter(col(opCol) =!= "D")
        .select(payload.map(col): _*))
  }

  /** Snapshot diff by key — the table-versioning audit primitive (what
    * changed between yesterday's warehouse and today's?): one null-safe
    * full-outer join on the key, change classification from key
    * presence + column-wise `<=>` comparison of the shared non-key
    * columns. Unchanged rows are dropped (at 100 TB the diff is the
    * small output; emitting unchanged rows would re-materialize the
    * table). Schemas must share the key columns; compared columns are
    * the non-key columns present on BOTH sides.
    */
  def tableDiff(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "tableDiff: keys must be non-empty")
    val shared = before.columns.toSeq.intersect(after.columns.toSeq)
      .filterNot(keys.contains)
    val b = before.select((keys ++ shared).map(col): _*)
      .withColumn("__b", lit(1))
    // keys renamed on the after side so the join can be NULL-SAFE: a
    // USING join matches with null-rejecting equality, which would
    // misreport an unchanged null-keyed row as removed + added
    val a = after.select(keys.map(c => col(c).as(s"__k_$c")) ++
      shared.map(c => col(c).as(s"__a_$c")): _*)
      .withColumn("__a", lit(1))
    val joined = b.join(a,
      keys.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
      "full_outer")
    val changed: Column =
      if (shared.isEmpty) lit(false)
      else shared.map(c => !(col(c) <=> col(s"__a_$c"))).reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col("__b").isNull, "added")
          .when(col("__a").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(c => coalesce(col(c), col(s"__k_$c")).as(c)) :+
        col("change_type"): _*)
  }
}
