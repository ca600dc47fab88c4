package graft

import org.apache.spark.sql.functions._

/** Round-9 pins: the two 100×-scale fixes the round-8 verdict flagged
  * (sweep-line overlap components in zoneCompact, two-phase prefix sums
  * in numericDrift), the dictBuild cardinality guard, and the compact
  * orphan sweep (now the zone group's recovery, driven by crashes).
  */
class Round9Spec extends FaultFsSpec {
  import spark.implicits._

  // ---- overlapComponents: sweep-line vs the quadratic oracle ----

  /** The exact r8 all-pairs union-find, kept as the oracle. */
  private def quadraticComponents(iv: IndexedSeq[(Long, Long)])
      : Seq[Seq[Int]] = {
    val n = iv.length
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var x = i; while (parent(x) != x) x = parent(x); x
    }
    for (i <- 0 until n; j <- i + 1 until n
        if !(iv(j)._2 < iv(i)._1 || iv(j)._1 > iv(i)._2)) {
      val (a, b) = (find(i), find(j)); if (a != b) parent(a) = b
    }
    (0 until n).groupBy(find).values.filter(_.size >= 2)
      .toSeq.map(_.sorted.toSeq).sortBy(_.head)
  }

  test("overlapComponents equals the quadratic union-find oracle " +
      "(randomized, including touching endpoints and nesting)") {
    val rnd = new scala.util.Random(9)
    for (trial <- 0 until 20) {
      val n = 2 + rnd.nextInt(120)
      val iv = IndexedSeq.fill(n) {
        // small value domain → dense overlaps, exact-touch collisions,
        // fully-nested intervals, duplicated intervals
        val a = rnd.nextInt(60).toLong
        val w = rnd.nextInt(8).toLong
        (a, a + w)
      }
      val got = graft.ext.Layout.overlapComponents(
        iv.map { case (a, b) => (a: Any, b: Any) })
      val want = quadraticComponents(iv)
      assert(got.map(_.toSeq) === want, s"trial $trial iv=$iv")
    }
  }

  test("overlapComponents at 10k zones: oracle-equal and metadata-path " +
      "fast (the r8 pair loop was the scale killer here)") {
    val rnd = new scala.util.Random(42)
    // mostly-disjoint with scattered overlap clusters — the realistic
    // post-append sidecar shape
    val iv = IndexedSeq.tabulate(10000) { i =>
      val base = i.toLong * 100L
      val jitter = if (rnd.nextInt(10) == 0) 150L else 40L
      (base, base + jitter)
    }
    val t0 = System.nanoTime()
    val got = graft.ext.Layout.overlapComponents(
      iv.map { case (a, b) => (a: Any, b: Any) })
    val sweepSec = (System.nanoTime() - t0) / 1e9
    val want = quadraticComponents(iv)
    assert(got.map(_.toSeq) === want)
    assert(got.nonEmpty, "fixture produced no overlaps")
    // generous bound: the sweep is a sort of 10k tuples; anything
    // near a second would mean the quadratic loop came back
    assert(sweepSec < 2.0, s"sweep took $sweepSec s on 10k zones")
  }

  test("overlapComponents: string (non-numeric) zone bounds sweep " +
      "identically to the Comparable pair test") {
    val iv = IndexedSeq[(Any, Any)](
      ("a", "c"), ("b", "d"), ("x", "z"), ("e", "e"), ("c", "e"))
    // a-c ~ b-d ~ c-e ~ e-e chain; x-z alone
    assert(graft.ext.Layout.overlapComponents(iv) ===
      Seq(Seq(0, 1, 3, 4)))
  }

  // ---- zoneCompact: the orphan sweep runs only in recovery ----

  private def plantOrphan(path: String): java.io.File = {
    // a copy of a real part file under a part- name no sidecar
    // references — what an aborted run's promoted/appended files
    // look like
    val d = new java.io.File(path)
    val src = d.listFiles().filter(_.getName.startsWith("part-")).head
    val orphan = new java.io.File(d,
      s"part-99999-orphan${d.listFiles().length}.snappy.parquet")
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    assert(orphan.exists())
    orphan
  }

  test("zoneCompact crashed at each step of its zone group: the next " +
      "compaction sweeps the part files the new sidecar no longer lists") {
    // the crash marker is the maintenance group's aside: a compaction
    // crashed after its sidecar commit leaves victims the new sidecar
    // no longer lists, and the next op retires them
    var doubleCounted = 0
    val crashes = crashAtEachStep(
      setup = { dir =>
        graft.ext.Layout.zoneWrite(
          (1L to 200L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 4,
          s"$dir/t")
        // create an overlap so the compact actually commits
        graft.ext.Layout.zoneAppend(
          (201L to 220L).map(i => (i, 1001L + (i - 201L) * 10L))
            .toDF("id", "x"), "x", 1, s"$dir/t")
      },
      op = dir => graft.ext.Layout.zoneCompact(spark, s"$dir/t", "x",
        rowsPerFile = 100L)) { (dir, at) =>
      val path = s"$dir/t"
      // direct directory read double-counts — the condition the sweep
      // exists to repair
      if (spark.read.parquet(path).count() > 220L) doubleCounted += 1
      graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 100L)
      assert(!exists(s"${path}__append_old"), s"$at: aside survived")
      // directory read and sidecar agree again — no loss, no double count
      assert(spark.read.parquet(path).count() === 220L, at)
      val sidecar = spark.read.parquet(path + ".zones")
      assert(sidecar.agg(sum("rows")).collect().head.getLong(0) === 220L)
      // and every sidecar-listed file still exists
      sidecar.select("file").collect().map(_.getString(0)).foreach { f =>
        assert(exists(f), s"$at: $f")
      }
    }
    assert(crashes > 3 && doubleCounted > 0, s"$crashes, $doubleCounted")
  }

  test("zoneCompact happy path pays no listing sweep (unreferenced " +
      "file without a marker is outside the single-writer crash model " +
      "and is left alone) while victims are still deleted by name") {
    val dir = java.nio.file.Files.createTempDirectory("zones9h").toString
    val path = s"$dir/t"
    graft.ext.Layout.zoneWrite(
      (1L to 200L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 4, path)
    graft.ext.Layout.zoneAppend(
      (201L to 220L).map(i => (i, 1001L + (i - 201L) * 10L))
        .toDF("id", "x"), "x", 1, path)
    val victims = spark.read.parquet(path + ".zones")
      .select("file", "mn", "mx").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filter(z => z._2 <= 1191L && z._3 >= 1001L).map(_._1)
    assert(victims.length >= 2, "fixture produced no overlap victims")
    val orphan = plantOrphan(path)
    graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 100L)
    // no marker -> no listing sweep: the planted file survives
    // (pinning the gate; a REAL orphan always comes with a marker)
    assert(orphan.exists(), "happy-path compact ran the listing sweep")
    // victims deleted by known name, commit intact
    victims.foreach { f =>
      assert(!new java.io.File(new java.net.URI(f)).exists(),
        s"victim $f survived")
    }
    assert(graft.ext.Layout.zoneRead(spark, path, "x",
      lit(Long.MinValue), lit(Long.MaxValue)).count() === 220L)
  }

  test("zoneCompact recovery branch: a zoneAppend crashed at each step, " +
      "its batch overlapping NO zone, is rolled forward and its aside " +
      "cleared") {
    // the marker is a crashed zoneAppend's aside; its batch overlaps
    // nothing, so the compaction has no rewrite to do and only recovers
    crashAtEachStep(
      setup = dir => graft.ext.Layout.zoneWrite(
        (1L to 200L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 4,
        s"$dir/t"),
      op = dir => graft.ext.Layout.zoneAppend(
        (201L to 220L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 1,
        s"$dir/t")) { (dir, at) =>
      val path = s"$dir/t"
      graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 100L)
      assert(!exists(s"${path}__append_old"),
        s"$at: append marker survived the recovery")
      val direct = spark.read.parquet(path).count()
      assert(direct === 200L || direct === 220L, at)
      assert(graft.ext.Layout.zoneRead(spark, path, "x",
        lit(Long.MinValue), lit(Long.MaxValue)).count() === direct, at)
      // second compact: no group pending, no overlaps -> pure no-op
      val before = localFile(path).listFiles().map(_.getName).sorted
      graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 100L)
      val after = localFile(path).listFiles().map(_.getName).sorted
      assert(after.toSeq === before.toSeq, at)
    }
  }

  // ---- dictBuild: guarded single-task path vs two-phase path ----

  test("dictBuild two-phase path produces codes identical to the " +
      "single-window path (guard exercised, not just documented)") {
    val values = (0 until 500).map(i => f"v${(i * 37) % 500}%03d")
    val df = values.toDF("c")
    val small = graft.ext.Layout.dictBuild(df, "c")
      .orderBy("code").collect().map(r => (r.getString(0), r.getLong(1)))
    // maxSingleTask = 0 forces the bucketed two-phase build
    val large = graft.ext.Layout.dictBuild(df, "c", maxSingleTask = 0L)
      .orderBy("code").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(large.toSeq === small.toSeq)
    assert(small.map(_._2).toSeq === (1L to 500L))
    assert(small.map(_._1).toSeq === small.map(_._1).sorted.toSeq)
  }

  test("dictBuild two-phase path plans a PARTITIONED window only") {
    val df = (0 until 100).map(i => s"k$i").toDF("c")
    val bad = partitionlessWindows(
      graft.ext.Layout.dictBuild(df, "c", maxSingleTask = 0L))
    assert(bad.isEmpty, s"partition-less window: $bad")
  }

  // ---- numericDrift: two-phase parity + edge cases ----

  /** Driver-side exact EMD oracle over two multisets. */
  private def emdOracle(a: Seq[Long], b: Seq[Long]): Long = {
    val support = (a ++ b).distinct.sorted
    val na = a.size.toLong; val nb = b.size.toLong
    var cumA = 0L; var cumB = 0L
    var s = BigInt(0)
    support.zip(support.tail).foreach { case (v, next) =>
      cumA += a.count(_ == v); cumB += b.count(_ == v)
      s += (BigInt(cumA) * nb - BigInt(cumB) * na).abs * (next - v)
    }
    (s / (BigInt(na) * nb)).toLong
  }

  test("numericDrift bucketed prefix sums equal the single-window " +
      "math (randomized vs a driver-side BigInt oracle, BOTH guard " +
      "paths)") {
    val rnd = new scala.util.Random(147)
    for (trial <- 0 until 5) {
      // supports wide enough that approxQuantile yields real buckets,
      // with duplicated values on both sides
      val a = Seq.fill(400)(rnd.nextInt(200).toLong * 3L)
      val b = Seq.fill(300)(rnd.nextInt(200).toLong * 3L + rnd.nextInt(2))
      val want = emdOracle(a, b)
      // default guard: measured-small support -> single-window path
      val small = graft.ext.Stats.numericDrift(
        a.toDF("v"), b.toDF("v"), col("v")).collect().head
      assert((small.getLong(0), small.getLong(1)) === ((400L, 300L)),
        s"trial $trial totals (small path)")
      assert(small.getLong(2) === want, s"trial $trial emd (small path)")
      // maxSingleTask = 0 forces the bucketed two-phase path
      val two = graft.ext.Stats.numericDrift(
        a.toDF("v"), b.toDF("v"), col("v"), maxSingleTask = 0L)
        .collect().head
      assert((two.getLong(0), two.getLong(1), two.getLong(2)) ===
        ((400L, 300L, want)), s"trial $trial (two-phase path)")
    }
  }

  test("numericDrift edge cases: empty inputs and single-point " +
      "support keep the pre-two-phase NULL semantics on both paths") {
    for (guard <- Seq(0L, graft.ext.TwoPhase.defaultMaxSingleTask)) {
      val empty = spark.emptyDataset[Long].toDF("v")
      val out = graft.ext.Stats.numericDrift(empty, empty, col("v"),
        maxSingleTask = guard).collect().head
      assert(out.isNullAt(0) && out.isNullAt(1) && out.isNullAt(2),
        s"guard=$guard empty")
      // single shared point: no CDF gap rows -> NULL row, like the old
      // max-over-zero-rows aggregation produced
      val one = graft.ext.Stats.numericDrift(
        Seq(5L, 5L).toDF("v"), Seq(5L).toDF("v"), col("v"),
        maxSingleTask = guard).collect().head
      assert(one.isNullAt(0) && one.isNullAt(1) && one.isNullAt(2),
        s"guard=$guard single point")
    }
  }

  // ---- ksDrift / paretoFrontier / ppsTake: two-phase parity ----

  test("ksDrift bucketed prefix sums equal a driver-side replay of " +
      "the global-window math (randomized doubles)") {
    val rnd = new scala.util.Random(152)
    for (trial <- 0 until 3) {
      val a = Seq.fill(300)((rnd.nextInt(150) * 7).toDouble / 4)
      val b = Seq.fill(250)((rnd.nextInt(150) * 7).toDouble / 4 + 0.25)
      val support = (a ++ b).distinct.sorted
      var cumA = 0L; var cumB = 0L
      var best = BigInt(0)
      support.foreach { v =>
        cumA += a.count(_ == v); cumB += b.count(_ == v)
        val dev = (BigInt(cumA) * b.size - BigInt(cumB) * a.size).abs
        if (dev > best) best = dev
      }
      // both guard paths must reproduce the replay
      for (guard <- Seq(0L, graft.ext.TwoPhase.defaultMaxSingleTask)) {
        val out = graft.ext.Stats.ksDrift(
          a.toDF("v"), b.toDF("v"), col("v"), maxSingleTask = guard)
          .collect().head
        assert((out.getLong(0), out.getLong(1), out.getLong(2)) ===
          ((a.size.toLong, b.size.toLong, best.toLong)),
          s"trial $trial guard=$guard")
      }
    }
  }

  test("paretoFrontier bucketed running max equals brute-force " +
      "dominance at a support wide enough to span many buckets") {
    val rnd = new scala.util.Random(109)
    val pts = (0 until 3000).map { i =>
      (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong)
    }
    val want = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) =>
        (x2 >= x && y2 >= y) && (x2 > x || y2 > y)
      }
    }.map(_._1).toSet
    // both guard paths: forced two-phase AND the measured-small window
    for (guard <- Seq(0L, graft.ext.TwoPhase.defaultMaxSingleTask)) {
      val got = graft.ext.Stats.paretoFrontier(
        pts.toDF("id", "x", "y"), "x", "y", maxSingleTask = guard)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === want, s"guard=$guard")
    }
  }

  test("ppsTake hash-prefix buckets reproduce the global prefix sums " +
      "exactly (driver replay of the single-window math)") {
    val rnd = new scala.util.Random(149)
    val rows = (0 until 800).map(i => (s"key$i", rnd.nextInt(50).toLong))
    val n = 37
    // driver replay of the ORIGINAL global-order form
    val hashed = rows.map { case (k, w) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (h, k, w)
    }.sortBy(t => (t._1, t._2))
    val totalW = rows.map(_._2).sum
    var before = 0L
    val want = hashed.flatMap { case (_, k, w) =>
      val lo = before * n; val hi = (before + w) * n
      before += w
      val hits = (hi + totalW - 1) / totalW - (lo + totalW - 1) / totalW
      if (hits > 0) Some(k -> hits) else None
    }.toMap
    val got = graft.ext.Sampling.ppsTake(
      rows.toDF("k", "w"), "k", "w", n).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === want)
    assert(got.values.sum === n.toLong)
  }

  test("ksDrift, paretoFrontier, and ppsTake plan no partition-less " +
      "windows above the guard (the two-phase point)") {
    // maxSingleTask = 0 forces the above-guard two-phase plan on a
    // small fixture; the default-guard small path is allowlisted in
    // PlanAuditSpec with its measured bound
    val rnd = new scala.util.Random(3)
    val a = Seq.fill(60)(rnd.nextInt(30).toDouble).toDF("v")
    assert(partitionlessWindows(
      graft.ext.Stats.ksDrift(a, a, col("v"), maxSingleTask = 0L)).isEmpty)
    val pts = (0 until 60)
      .map(i => (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .toDF("id", "x", "y")
    assert(partitionlessWindows(
      graft.ext.Stats.paretoFrontier(pts, "x", "y", maxSingleTask = 0L))
      .isEmpty)
    val s = (0 until 60).map(i => (s"k$i", (i % 7).toLong)).toDF("k", "w")
    assert(partitionlessWindows(
      graft.ext.Sampling.ppsTake(s, "k", "w", n = 5)).isEmpty)
  }

  test("numericDrift above-guard plan contains no partition-less " +
      "window and broadcasts the bucket-offset table") {
    val rnd = new scala.util.Random(7)
    val a = Seq.fill(50)(rnd.nextInt(40).toLong).toDF("v")
    val df = graft.ext.Stats.numericDrift(a, a, col("v"),
      maxSingleTask = 0L)
    val bad = partitionlessWindows(df)
    assert(bad.isEmpty, s"partition-less window: $bad")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"offset table not broadcast in:\n$p")
  }

  test("ppsTake casts weights to long at entry: a decimal weight " +
      "column draws identically to its long twin instead of throwing") {
    val rows = (0 until 120).map(i => (s"k$i", (i % 9 + 1).toLong))
    val longDf = rows.toDF("k", "w")
    val decDf = longDf.withColumn("w", col("w").cast("decimal(20,0)"))
    val fromLong = graft.ext.Sampling.ppsTake(longDf, "k", "w", n = 11)
      .select("k", "n_hits").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromDec = graft.ext.Sampling.ppsTake(decDf, "k", "w", n = 11)
      .select("k", "n_hits").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromDec === fromLong)
    assert(fromLong.values.sum === 11L)
  }
}
