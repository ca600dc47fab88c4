package graft

import java.io.File
import java.net.URI

import scala.util.Try

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

import graft.etl.{Swap, Warehouse}
import graft.ext.{Dedup, Index, Layout, Similarity, Sketches}

/** Every at-rest replace and append, failed or crashed at each of its
  * renames and deletes in turn: a reader must then see exactly the old
  * or exactly the new state — right after a failed call, and after a
  * crash once the next writer has recovered (readers that resolve
  * through the swap group see it right after the crash too).
  */
class SwapFaultSpec extends FaultFsSpec {
  import spark.implicits._

  /** Runs `write` on a fresh `setup` fixture once per fault point and
    * mode, until a run ends before its fault point. `state` reads the
    * fixture as a reader does; `recover` is the next writer's entry.
    * No write may leave its `asides` behind once recovered, nor its
    * `staging` once it has succeeded, or once it has failed without a
    * crash — right away when it left the old state, else once
    * recovered (a crashed write may leave a partial staging, which the
    * next write overwrites).
    */
  private def sweep(setup: String => Unit, write: String => Unit,
      state: String => Any, recover: String => Unit,
      asides: String => Seq[String], staging: String => Seq[String],
      resolving: Boolean = false): Unit = {
    def debris(d: String) = asides(d) ++ staging(d)
    def fixture() = { val d = freshDir(); setup(d); d }
    val d0 = fixture()
    val old = state(d0)
    write(d0)
    val neu = state(d0)
    assert(neu != old, "the write changed nothing a reader can see")
    debris(d0).foreach(p => assert(!exists(p), s"$p left behind"))
    def check(what: String, s: Any): Unit =
      assert(s == old || s == neu, s"$what: neither old nor new: $s")
    for (mode <- Seq(FaultFs.Throw, FaultFs.ReturnFalse, FaultFs.Crash)) {
      var k = 1
      var swept = false
      while (!swept) {
        val d = fixture()
        FaultFs.arm(k, mode)
        val failed = Try(write(d)).isFailure
        val fired = FaultFs.fired
        FaultFs.disarm()
        val at = s"$mode at step $k"
        if (!fired) {
          assert(!failed, s"$at: failed without a fault")
          assert(state(d) == neu)
          debris(d).foreach(p => assert(!exists(p), s"$p left behind"))
          swept = true
        } else {
          if (mode != FaultFs.Crash || resolving) check(at, state(d))
          if (!failed && mode != FaultFs.Crash) assert(state(d) == neu, at)
          if (failed && mode != FaultFs.Crash && state(d) == old)
            staging(d).foreach(p => assert(!exists(p), s"$at: $p left behind"))
          recover(d)
          check(s"$at, recovered", state(d))
          (if (failed && mode != FaultFs.Crash) debris(d) else asides(d))
            .foreach(p => assert(!exists(p), s"$at: $p left behind"))
        }
        k += 1
      }
      assert(k > 3, s"$mode: the write made too few renames and deletes")
    }
  }

  private def rows(path: String): Seq[String] =
    Try(spark.read.parquet(path).collect().map(_.toString).sorted.toSeq)
      .getOrElse(Seq("<unreadable>"))

  test("overwriteSwap is all-or-nothing under faults and crashes") {
    val upper = (d: String) =>
      Warehouse.read(spark, d, "t").withColumn("v", functions.upper($"v"))
    // overwrite is the same staged swap, so it takes the same sweep
    for (write <- Seq[String => Unit](
        d => Warehouse.overwriteSwap(spark, upper(d), d, "t"),
        d => Warehouse.overwrite(upper(d), d, "t")))
      sweep(
        setup = d => Warehouse.overwrite(
          (1 to 5).map(i => (i, s"v$i")).toDF("id", "v"), d, "t"),
        write = write,
        state = d => rows(s"$d/t"),
        recover = d => Warehouse.recover(spark, d, "t"),
        asides = d => Seq(s"$d/t__old"), staging = d => Seq(s"$d/t__tmp"))
  }

  test("a staging write whose task throws leaves no staging and no " +
      "_temporary behind") {
    // partition 0's task throws at once. The other tasks ignore the
    // interrupt that cancels them and create their first file (and its
    // `_temporary` path) only after their first row, once the failed
    // job has returned: the staging may be deleted only after they end
    val boom = udf { (i: Long) =>
      if (i < 3) throw new IllegalStateException("boom on partition 0")
      val until = System.nanoTime() + 200000000L
      while (System.nanoTime() < until) {} // deaf to interrupts
      i
    }
    val d = freshDir()
    val e = intercept[Exception](Swap.append(spark, s"$d/t") { stage =>
      spark.range(0, 24, 1, 8).withColumn("p", $"id" % 2)
        .sortWithinPartitions("p") // the partitioned write adds no sort
        .select(boom($"id").as("id"), $"p")
        .write.mode("overwrite").partitionBy("p").parquet(stage)
    })
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")))
    def left() = {
      def walk(f: File): Seq[File] =
        f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      walk(localFile(d)).tail.map(_.getPath)
    }
    assert(left().isEmpty)
    Thread.sleep(1000) // what the failed job's tasks do after it fails
    assert(left().isEmpty)
  }

  private val appendBatch = Seq((1, 2020, "u1"), (2, 2021, "u2"),
    (11, 2020, "n11"), (12, 2024, "n12")).toDF("id", "anio", "v")

  test("idempotentAppend into a partitioned table lands whole under " +
      "faults and crashes") {
    sweep(
      setup = d => Warehouse.idempotentAppend(spark,
        (1 to 10).map(i => (i, 2019 + i % 3, s"v$i")).toDF("id", "anio", "v")
          .repartition(1), d, "t", Seq("id"), Seq("anio")),
      write = d => Warehouse.idempotentAppend(spark,
        appendBatch.repartition(1), d, "t", Seq("id"), Seq("anio")),
      state = d => rows(s"$d/t"),
      recover = d => Warehouse.recover(spark, d, "t"),
      asides = d => Seq(s"$d/t__append_old"),
      staging = d => Seq(s"$d/t__append"))
  }

  test("idempotentAppend as a first write lands whole under faults and " +
      "crashes") {
    sweep(
      setup = _ => (),
      write = d => Warehouse.idempotentAppend(spark,
        appendBatch.repartition(1), d, "t", Seq("id"), Seq("anio")),
      state = d => rows(s"$d/t"),
      recover = d => Warehouse.recover(spark, d, "t"),
      asides = d => Seq(s"$d/t__append_old"),
      staging = d => Seq(s"$d/t__append"))
  }

  test("cmAppend lands its sketch file whole under faults and crashes") {
    def terms(ts: String*) = ts.toDF("t").repartition(1)
    sweep(
      setup = d => Sketches.cmWrite(terms("a", "b", "a"), $"t", 2, 16,
        s"$d/cm"),
      write = d => Sketches.cmAppend(terms("a", "c"), $"t", 2, 16, s"$d/cm"),
      state = d => Sketches.cmRead(spark, s"$d/cm").collect()
        .map(_.toString).sorted.toSeq,
      recover = d => Sketches.cmAppend(terms(), $"t", 2, 16, s"$d/cm"),
      asides = d => Seq(s"$d/cm__append_old"),
      staging = d => Seq(s"$d/cm__append"))
  }

  test("appendIvfPq lands every cell's files whole under faults and " +
      "crashes") {
    val cents = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val books = Seq(Seq(Array(1f, 0f), Array(0f, 1f)),
      Seq(Array(1f, 0f), Array(0f, 1f)))
    def vecs(ids: Range) = ids.map(i => (i.toLong,
      if (i % 2 == 0) Seq(1f, i.toFloat, 0f, 0f)
      else Seq(0f, 0f, 1f, i.toFloat)))
      .toDF("id", "v")
    sweep(
      setup = d => Similarity.writeIvfPq(vecs(1 to 6), "id", "v", s"$d/pq",
        cents, books),
      write = d => Similarity.appendIvfPq(vecs(7 to 10), "id", "v",
        s"$d/pq", cents, books),
      state = d => rows(s"$d/pq"),
      recover = d => Similarity.appendIvfPq(vecs(1 to 0), "id", "v",
        s"$d/pq", cents, books),
      asides = d => Seq(s"$d/pq__append_old"),
      staging = d => Seq(s"$d/pq__append"))
  }

  test("writeSegment publishes postings and manifest as one group under " +
      "faults and crashes") {
    val terms = Seq("join", "hash", "scan", "filter", "sort")
    def lookup(d: String) = Index.termLookupSegments(spark, s"$d/idx",
      terms, k = 10).collect().map(_.toString).sorted.toSeq
    sweep(
      setup = d => Index.writeSegment(Seq((1L, "join hash join"),
        (2L, "hash scan"), (3L, "sort join")).toDF("doc_id", "text"),
        "doc_id", "text", s"$d/idx", seg = 0),
      // doc 1 re-ingested: its seg-0 postings go stale once seg 1 lands
      write = d => Index.writeSegment(Seq((1L, "scan filter"),
        (4L, "join sort")).toDF("doc_id", "text"), "doc_id", "text",
        s"$d/idx", seg = 1),
      state = lookup,
      recover = d => Index.compactSegments(spark, s"$d/idx"),
      asides = d => Seq(s"$d/idx__append_old"),
      staging = d => Seq(s"$d/idx__append"))
  }

  test("mergeByKey over three touched partitions is all-or-nothing " +
      "under faults and crashes") {
    sweep(
      setup = d => Warehouse.mergeByKey(spark,
        (1 to 10).map(i => (i, 2019 + i % 5, s"v$i")).toDF("id", "anio", "v"),
        d, "t", Seq("id"), Seq("anio")),
      write = d => Warehouse.mergeByKey(spark,
        Seq((1, 2020, "u1"), (2, 2021, "u2"), (3, 2022, "u3"),
          (11, 2020, "n11")).toDF("id", "anio", "v"),
        d, "t", Seq("id"), Seq("anio")),
      state = d => rows(s"$d/t"),
      recover = d => Warehouse.recover(spark, d, "t"),
      asides = d => Seq(s"$d/t__mergeold"),
      staging = d => Seq(s"$d/t__delta"))
  }

  test("expirePartitions is all-or-nothing under faults; after a crash " +
      "the table is expired below a lower cutoff until the expiry re-runs") {
    val data = (1 to 10).map(i => (i, (2019 + i % 5).toString))
    def expiredBelow(c: String) =
      data.filter(_._2 >= c).map(r => s"[${r._1},${r._2}]").sorted
    sweep(
      setup = d => data.toDF("id", "anio").repartition(1).write
        .partitionBy("anio").parquet(s"$d/t"),
      write = d => Warehouse.expirePartitions(spark, d, "t", "anio", "2022"),
      state = d => rows(s"$d/t"),
      recover = { d =>
        Warehouse.recover(spark, d, "t")
        assert(Seq("2019", "2020", "2021", "2022").map(expiredBelow)
          .contains(rows(s"$d/t")))
        Warehouse.expirePartitions(spark, d, "t", "anio", "2022")
      },
      asides = d => Seq(s"$d/t__expired"), staging = _ => Nil)
  }

  private def zoned(d: String) =
    Layout.zoneRead(spark, s"$d/z", "x", lit(0L), lit(Long.MaxValue))
      .collect().map(_.toString).sorted.toSeq

  /** After a maintenance op the table and its sidecar agree: a direct
    * directory read sees exactly the sidecar's rows, and every file the
    * sidecar lists exists.
    */
  private def zonesWhole(d: String): Unit = {
    assert(rows(s"$d/z") == zoned(d),
      "a direct read disagrees with the sidecar")
    spark.read.parquet(s"$d/z.zones").select("file").collect()
      .map(_.getString(0)).foreach(f => assert(exists(f), s"$f missing"))
  }

  private def zoneBase(d: String): Unit = Layout.zoneWrite(
    (1L to 40L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 2, s"$d/z")

  test("zoneAppend's sidecar swap is all-or-nothing under faults and " +
      "crashes; the next maintenance op sweeps a dead append's files") {
    // the sidecar swap is now part of the append's one group with the
    // data files
    sweep(
      setup = zoneBase,
      write = d => Layout.zoneAppend(
        (41L to 60L).map(i => (i, i * 5L)).toDF("id", "x"), "x", 1, s"$d/z"),
      state = zoned,
      recover = { d =>
        Layout.zoneCompact(spark, s"$d/z", "x", 1000L)
        zonesWhole(d)
      },
      asides = d => Seq(s"$d/z__append_old"),
      staging = d => Seq(s"$d/z__append"),
      resolving = true)
  }

  test("zoneCompact promotes, retires and swaps the sidecar as one group " +
      "under faults and crashes") {
    sweep(
      setup = { d =>
        zoneBase(d)
        Layout.zoneAppend((41L to 60L).map(i => (i, i * 5L)).toDF("id", "x"),
          "x", 1, s"$d/z")
      },
      write = d => Layout.zoneCompact(spark, s"$d/z", "x", 1000L),
      // compaction keeps every row, so the reader tells the states
      // apart by the files the sidecar lists
      state = d => (zoned(d), Layout.zoneFiles(spark, s"$d/z", lit(0L),
        lit(Long.MaxValue)).size),
      recover = { d =>
        Layout.zoneCompact(spark, s"$d/z", "x", 1000L)
        zonesWhole(d)
      },
      asides = d => Seq(s"$d/z__append_old"),
      staging = d => Seq(s"$d/z__append"),
      resolving = true)
  }

  test("compactSegments swaps postings and docs as one group under " +
      "faults and crashes") {
    val terms = Seq("join", "hash", "scan", "filter", "sort")
    def lookup(d: String) = Index.termLookupSegments(spark, s"$d/idx",
      terms, k = 10).collect().map(_.toString).sorted.toSeq
    def segs(d: String) = new File(new URI(s"$d/idx/postings").getPath)
      .list().filter(_.startsWith("seg=")).sorted.toSeq
    sweep(
      setup = { d =>
        Index.writeSegment(Seq((1L, "join hash join"), (2L, "hash scan"),
          (3L, "sort join")).toDF("doc_id", "text"), "doc_id", "text",
          s"$d/idx", seg = 0)
        Index.writeSegment(Seq((1L, "scan filter"), (4L, "join sort"))
          .toDF("doc_id", "text"), "doc_id", "text", s"$d/idx", seg = 1)
      },
      write = d => Index.compactSegments(spark, s"$d/idx"),
      // compaction preserves every lookup, so the state a reader can
      // tell apart is the lookup result (a torn pair changes it) plus
      // the segment count once the group has settled
      state = d => (lookup(d), Try(segs(d)).toOption.map(_.size)),
      recover = d => Index.compactSegments(spark, s"$d/idx"),
      asides = d => Seq(s"$d/idx/__old_postings", s"$d/idx/__old_docs"),
      staging = d => Seq(s"$d/idx/__compact"))
  }

  test("compactSegments readers resolve a crashed swap without waiting " +
      "for recovery") {
    val d = freshDir()
    val idx = s"$d/idx"
    Index.writeSegment(Seq((1L, "join hash join"), (2L, "hash scan"))
      .toDF("doc_id", "text"), "doc_id", "text", idx, seg = 0)
    Index.writeSegment(Seq((1L, "scan filter")).toDF("doc_id", "text"),
      "doc_id", "text", idx, seg = 1)
    def lookup() = Index.termLookupSegments(spark, idx,
      Seq("join", "hash", "scan", "filter"), k = 10)
      .collect().map(_.toString).sorted.toSeq
    val expected = lookup()
    var k = 1
    var swept = false
    while (!swept) {
      FaultFs.arm(k, FaultFs.Crash)
      Try(Index.compactSegments(spark, idx))
      swept = !FaultFs.fired
      FaultFs.disarm()
      assert(lookup() === expected, s"crash at step $k")
      Index.writeSegment(Seq((1L, "scan filter")).toDF("doc_id", "text"),
        "doc_id", "text", idx, seg = k + 1)
      k += 1
    }
    assert(k > 3)
  }

  test("appendLshIndex publishes bands and shingles as one group under " +
      "faults and crashes") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def docs(ids: Range) = ids.map(i => (i.toLong,
      (0 until 8).map(j => words((i + j * j) % words.size)).mkString(" ")))
      .toDF("doc_id", "text").repartition(1)
    def index(d: String) = (rows(s"$d/lsh/bands"), rows(s"$d/lsh/shingles"))
    sweep(
      setup = d => Dedup.writeLshIndex(docs(1 to 12), "doc_id", "text",
        path = s"$d/lsh", nDirs = 2),
      write = d => Dedup.appendLshIndex(docs(13 to 18), "doc_id", "text",
        path = s"$d/lsh", nDirs = 2),
      state = index,
      recover = d => Dedup.appendLshIndex(docs(1 to 0), "doc_id", "text",
        path = s"$d/lsh", nDirs = 2),
      asides = d => Seq(s"$d/lsh__append_old"),
      staging = d => Seq(s"$d/lsh__append"))
  }
}
