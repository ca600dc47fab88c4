package graft

import org.apache.spark.sql.functions._

/** Round-10 regression pins: reliable-checkpoint mode for the
  * iterative operators (Materialize.cut), and the kmvJaccard all-pairs
  * guard.
  */
class Round10Spec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with a reliable checkpoint dir set on the shared
    * session, restoring the unset state after — Materialize.cut
    * switches every iterative operator to `Dataset.checkpoint()` for
    * the duration.
    * Returns (result, number of checkpoint files written) so callers
    * can assert the reliable path actually engaged.
    */
  private def withReliableCheckpoints[A](body: => A): (A, Long) = {
    val dir = java.nio.file.Files
      .createTempDirectory("ckpt10").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val a = body
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .count()
      (a, files)
    } finally {
      // Option(null) -> None: restores the "no checkpoint dir" state
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  // ---- Materialize.cut: reliable-checkpoint mode, results identical ----

  test("pageRank under a session checkpoint dir writes reliable " +
      "checkpoint files and ranks byte-identically to local mode") {
    val rnd = new scala.util.Random(101)
    val edges = (0 until 400)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong, 1L))
      .filter(e => e._1 != e._2)
      .toDF("src", "dst", "w")
    val local = graft.ext.Graph.pageRank(edges, "src", "dst", "w", 6)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "suite precondition: no checkpoint dir on the shared session")
    val (reliable, nFiles) = withReliableCheckpoints {
      graft.ext.Graph.pageRank(edges, "src", "dst", "w", 6)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(nFiles > 0, "reliable mode wrote no checkpoint files — " +
      "Pin did not switch to Dataset.checkpoint()")
    assert(reliable.toSeq === local.toSeq)
  }

  test("dedupClusters (distributed path) under a checkpoint dir " +
      "clusters identically to local-checkpoint mode") {
    val rnd = new scala.util.Random(202)
    // chains + a hub: exercises pointer jumping over several rounds
    val pairs = ((0 until 200).map(i => (i.toLong, (i + 1).toLong)) ++
      (0 until 50).map(_ =>
        (500L + rnd.nextInt(40), 500L + rnd.nextInt(40))))
      .filter(p => p._1 != p._2)
      .toDF("id_a", "id_b")
    def run() = graft.ext.Dedup
      .dedupClusters(pairs, localEdgeThreshold = 0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val local = run()
    val (reliable, nFiles) = withReliableCheckpoints(run())
    assert(nFiles > 0)
    assert(reliable.toSeq === local.toSeq)
  }

  // ---- kmvJaccard: measured all-pairs guard ----

  test("kmvJaccard refuses a group column above maxGroups with a " +
      "loud quadratic-contract error") {
    val df = (0 until 300)
      .map(i => (s"g$i", s"v${i % 40}")).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Sketches.kmvJaccard(df, "g", col("v"), k = 8,
        maxGroups = 100L).collect()
    }
    assert(e.getMessage.contains("maxGroups"))
    assert(e.getMessage.contains("all-pairs"))
  }

  // ---- Hilbert curve layout ----

  test("withHilbert is a bijection with unit-step adjacency — the " +
      "defining Hilbert property, exhaustively at bits=3") {
    val bits = 3; val n = 1 << bits
    val cells = (0 until n).flatMap(x => (0 until n).map(y => (x, y)))
      .toDF("x", "y")
    val d2xy = graft.ext.Layout.withHilbert(cells, "x", "y", bits, "h")
      .collect().map(r => (r.getLong(2), (r.getInt(0), r.getInt(1))))
      .toMap
    assert(d2xy.keySet === (0L until (n.toLong * n)).toSet,
      "d must be a bijection onto [0, 4^bits)")
    (0L until (n.toLong * n - 1)).foreach { d =>
      val (x1, y1) = d2xy(d); val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"consecutive d=$d,${d + 1} must be edge-adjacent cells")
    }
    // first-order fixed points: (0,0)→0, (0,1)→1, (1,1)→2, (1,0)→3
    val o1 = graft.ext.Layout.withHilbert(
      Seq((0, 0), (0, 1), (1, 1), (1, 0)).toDF("x", "y"), "x", "y", 1, "h")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(o1 === Map((0, 0) -> 0L, (0, 1) -> 1L, (1, 1) -> 2L,
      (1, 0) -> 3L))
  }

  test("hilbert d-ranges touch no more files than z-order ranges on " +
      "every small box query (deterministic locality comparison)") {
    // 32x32 grid split into 12 equal-index-range "files"; for every
    // 4x4 box, count distinct files its cells land in under each
    // curve. nFiles is deliberately NOT a power of 4: quadrant-aligned
    // file boundaries make the curves tie exactly (both are
    // quadrant-recursive); real file counts straddle quadrant seams,
    // and there Z-order's inter-quadrant jumps cost extra files while
    // Hilbert's unit steps keep each file one contiguous blob
    // (measured here: H avg 1.77 / max 5 vs Z avg 1.88 / max 7).
    val bits = 5; val n = 1 << bits; val nFiles = 12
    val cellsPerFile = (n * n) / nFiles
    val cells = (0 until n).flatMap(x => (0 until n).map(y => (x, y)))
      .toDF("x", "y")
    val h = graft.ext.Layout.withHilbert(cells, "x", "y", bits, "h")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .toMap
    val z = cells.select(col("x"), col("y"),
      graft.ext.Layout.zValue(col("x"), col("y"), bits).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .toMap
    def filesTouched(idx: Map[(Int, Int), Long]): Seq[Int] =
      for (bx <- 0 until (n - 4); by <- 0 until (n - 4)) yield {
        val boxCells = for (dx <- 0 until 4; dy <- 0 until 4)
          yield idx((bx + dx, by + dy))
        boxCells.map(_ / cellsPerFile).distinct.size
      }
    val hf = filesTouched(h); val zf = filesTouched(z)
    val hAvg = hf.sum.toDouble / hf.size
    val zAvg = zf.sum.toDouble / zf.size
    assert(hAvg < zAvg,
      s"hilbert should touch fewer files on average (h=$hAvg z=$zAvg)")
    assert(hf.max < zf.max,
      s"hilbert worst-case box should beat z-order's " +
        s"(h=${hf.max} z=${zf.max})")
  }

  test("hilbertBoxIntervals covers exactly the box's cells — " +
      "exhaustive over every box at bits=3") {
    val bits = 3; val n = 1 << bits
    val cells = (0 until n).flatMap(x => (0 until n).map(y => (x, y)))
      .toDF("x", "y")
    val d = graft.ext.Layout.withHilbert(cells, "x", "y", bits, "h")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .toMap
    for (x0 <- 0 until n; x1 <- x0 until n;
         y0 <- 0 until n; y1 <- y0 until n) {
      val iv = graft.ext.Layout.hilbertBoxIntervals(bits,
        x0, x1, y0, y1)
      // merged, sorted, disjoint
      iv.sliding(2).foreach {
        case Seq((_, e0), (s1, _)) => assert(s1 > e0 + 1)
        case _ =>
      }
      val covered = d.filter { case (_, dd) =>
        iv.exists { case (lo, hi) => dd >= lo && dd <= hi } }.keySet
      val expected = d.keySet.filter { case (x, y) =>
        x >= x0 && x <= x1 && y >= y0 && y <= y1 }
      assert(covered === expected,
        s"box ($x0..$x1, $y0..$y1): intervals $iv")
    }
    // clamping and emptiness
    assert(graft.ext.Layout.hilbertBoxIntervals(bits, -5, 2, -5, 2)
      === graft.ext.Layout.hilbertBoxIntervals(bits, 0, 2, 0, 2))
    assert(graft.ext.Layout.hilbertBoxIntervals(bits, 9, 12, 0, 7)
      .isEmpty)
  }

  test("hilbertBoxRead prunes files via the d-intervals and returns " +
      "exactly the box") {
    val bits = 5; val n = 1 << bits
    val rows = (0 until n).flatMap(x => (0 until n).map(y =>
      (x.toLong * 100 + y, x, y))).toDF("id", "gx", "gy")
    val dir = java.nio.file.Files
      .createTempDirectory("hilb10").toString + "/grid"
    graft.ext.Layout.hilbertZoneWrite(rows, "gx", "gy", bits, "h",
      16, dir)
    val (x0, x1, y0, y1) = (4L, 11L, 20L, 27L)
    val files = graft.ext.Layout.hilbertBoxFiles(spark, dir, bits,
      x0, x1, y0, y1)
    assert(files.nonEmpty && files.size < 16,
      s"an 8x8 box on a 32x32 grid must prune some of 16 files " +
        s"(read ${files.size})")
    val got = graft.ext.Layout.hilbertBoxRead(spark, dir, "gx", "gy",
      bits, x0, x1, y0, y1).select("id").collect()
      .map(_.getLong(0)).sorted
    val want = rows.filter(col("gx").between(x0, x1) &&
      col("gy").between(y0, y1)).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq && got.length === 64)
  }

  test("hilbertBoxRead pushes the box predicate into the parquet " +
      "scan of the surviving files") {
    val bits = 4; val n = 1 << bits
    val rows = (0 until n).flatMap(x => (0 until n).map(y =>
      (x.toLong * 100 + y, x, y))).toDF("id", "gx", "gy")
    val dir = java.nio.file.Files
      .createTempDirectory("hilb10p").toString + "/grid"
    graft.ext.Layout.hilbertZoneWrite(rows, "gx", "gy", bits, "h",
      4, dir)
    val df = graft.ext.Layout.hilbertBoxRead(spark, dir, "gx", "gy",
      bits, 2L, 5L, 6L, 9L)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(gx,2)") &&
      pushed.contains("LessThanOrEqual(gy,9)"),
      s"box bounds must reach the scan as pushed filters: $pushed")
  }

  test("hilbert tables compose with the 1-D zone maintenance ops: " +
      "append + compact keep box reads exact") {
    // the sidecar is d-keyed, so zoneAppend/zoneCompact work on a
    // hilbert table unchanged — the 2-D layout rides the existing
    // 1-D maintenance lifecycle
    val bits = 5; val n = 1 << bits
    val base = (0 until n).flatMap(x => (0 until n / 2).map(y =>
      (x.toLong * 100 + y, x, y))).toDF("id", "gx", "gy")
    val delta = (0 until n).flatMap(x => (n / 2 until n).map(y =>
      (x.toLong * 100 + y, x, y))).toDF("id", "gx", "gy")
    val dir = java.nio.file.Files
      .createTempDirectory("hilb10m").toString + "/grid"
    graft.ext.Layout.hilbertZoneWrite(base, "gx", "gy", bits, "h",
      8, dir)
    graft.ext.Layout.zoneAppend(
      graft.ext.Layout.withHilbert(delta, "gx", "gy", bits, "h"),
      "h", 4, dir)
    graft.ext.Layout.zoneCompact(spark, dir, "h", rowsPerFile = 128L)
    val (x0, x1, y0, y1) = (10L, 21L, 12L, 19L) // straddles the halves
    val got = graft.ext.Layout.hilbertBoxRead(spark, dir, "gx", "gy",
      bits, x0, x1, y0, y1).select("id").collect()
      .map(_.getLong(0)).sorted
    val want = base.unionByName(delta)
      .filter(col("gx").between(x0, x1) && col("gy").between(y0, y1))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq && got.length === 12 * 8)
  }

  // ---- Winnowing fingerprints (MOSS) ----

  test("winnowing guarantee: a shared substring of length w+g-1 " +
      "always yields a shared fingerprint") {
    val g = 6; val w = 4
    val planted = "ZQXWVYUTSPM" // length g+w-1 = 9... padded below
    val core = planted.take(g + w - 1)
    val rnd = new scala.util.Random(42)
    def noise(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, noise(40) + core + noise(40)),
      (2L, noise(55) + core + noise(25)),
      (3L, noise(90))).toDF("doc_id", "text")
    val pairs = graft.ext.Dedup
      .winnowMatches(docs, "doc_id", "text", g, w, minShared = 1L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)),
      "docs sharing a w+g-1 substring must share a fingerprint")
  }

  test("winnowMatches maxDf drops boilerplate fingerprints before " +
      "the pair join") {
    val g = 6; val w = 4
    val boiler = "LICENSEHEADERX" // shared by ALL docs
    val core = "ZQXWVYUTS" // w+g-1, shared by docs 1 and 2 only
    val rnd = new scala.util.Random(7)
    def noise(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, boiler + noise(30) + core + noise(30)),
      (2L, noise(30) + core + noise(30) + boiler),
      (3L, noise(20) + boiler + noise(40)),
      (4L, noise(60) + boiler)).toDF("doc_id", "text")
    // uncapped: the boilerplate links every pair
    val all = graft.ext.Dedup
      .winnowMatches(docs, "doc_id", "text", g, w, minShared = 1L)
      .count()
    assert(all === 6L, "boilerplate should link all 4C2 pairs uncapped")
    // df cap at 2: boilerplate fingerprints (df=4) drop, the planted
    // core (df=2) survives — only (1,2) remains
    val capped = graft.ext.Dedup
      .winnowMatches(docs, "doc_id", "text", g, w, minShared = 1L,
        maxDf = 2L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq === Seq((1L, 2L)))
  }

  test("winnowing rightmost-min tie rule and density bounds") {
    // uniform text: every gram hash equal, so each window selects its
    // RIGHTMOST position — n_sel = n_windows, n_fp = 1
    val uni = Seq((1L, "aaaaaaaaaa")).toDF("doc_id", "text") // n=10
    val fp = graft.ext.Dedup
      .winnowFingerprints(uni, "doc_id", "text", g = 2, w = 3)
    // grams p in [0,8]; full windows anchor p in [0,6] -> select p+2
    val sel = fp.orderBy("fp_pos").collect()
      .map(r => r.getInt(2))
    assert(sel.toSeq === (2 to 8).toSeq)
    assert(fp.select("fp").distinct().count() === 1L)
    // density: selections per doc within [windows/w, windows] on the
    // real corpus sample, and positions strictly valid
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
    val g = 20; val w = 8
    val stats = graft.ext.Dedup
      .winnowFingerprints(docs, "doc_id", "text", g, w)
      .groupBy("doc_id").agg(count(lit(1)).as("n_sel"))
      .join(docs.select(col("doc_id"),
        (length(col("text")) - lit(g + w - 2)).as("n_win")), "doc_id")
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(stats.nonEmpty)
    stats.foreach { case (nSel, nWin) =>
      assert(nSel <= nWin, "cannot select more than one per window")
      assert(nSel * w >= nWin,
        "each fingerprint covers at most w windows")
    }
  }

  // ---- HITS: integer max-normalized hubs & authorities ----

  test("hits matches a hand-computed one-iteration fixed point") {
    // 1→3 (w=1), 2→3 (w=2), 3→4 (w=1); hub0 = 1e6 everywhere.
    // rawA: 3 ← 1·1e6 + 2·1e6 = 3e6; 4 ← 1e6; max 3e6
    //   → auth(3)=1e6, auth(4)=333333
    // rawH: 1 ← 1·auth(3)=1e6; 2 ← 2·auth(3)=2e6; 3 ← 1·auth(4)
    //   =333333; max 2e6 → hub(1)=500000, hub(2)=1e6, hub(3)=166666
    val e = Seq((1L, 3L, 1L), (2L, 3L, 2L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val out = graft.ext.Graph.hits(e, "src", "dst", "w", iters = 1)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, 0L, 500000L), (2L, 0L, 1000000L),
      (3L, 1000000L, 166666L), (4L, 333333L, 0L)))
  }

  test("hits invariants: scores bounded by the scale, the best hub " +
      "and authority hit it exactly, and zero-weight edges are inert") {
    val rnd = new scala.util.Random(77)
    val edges = (0 until 300)
      .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong,
        (rnd.nextInt(5) + 1).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst", "w")
    val out = graft.ext.Graph.hits(edges, "src", "dst", "w", iters = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.forall { case (a, h) =>
      a >= 0 && a <= 1000000L && h >= 0 && h <= 1000000L })
    assert(out.map(_._1).max === 1000000L)
    assert(out.map(_._2).max === 1000000L)
    // appending zero-weight edges changes nothing
    val withZero = edges.union(
      Seq((0L, 29L, 0L), (5L, 7L, 0L)).toDF("src", "dst", "w"))
    val a = graft.ext.Graph.hits(edges, "src", "dst", "w", iters = 2)
      .orderBy("node").collect().toSeq
    val b = graft.ext.Graph.hits(withZero, "src", "dst", "w", iters = 2)
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  // ---- fdDiscover: pairwise FD discovery with exact g3 ----

  test("fdDiscover matches hand-computed g3 errors and flags the key") {
    // k is a key; a -> b fails on a=1 (b in {x,y}, 3+1 rows -> g3=1);
    // b -> a fails on b=x (a in {1,2}, 3+2 rows -> g3=2)
    val df = Seq((10L, 1, "x"), (11L, 1, "x"), (12L, 1, "x"),
      (13L, 1, "y"), (14L, 2, "x"), (15L, 2, "x"))
      .toDF("k", "a", "b")
    val out = graft.ext.Quality.fdDiscover(df, Seq("k", "a", "b"))
      .orderBy("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    assert(out.toSeq === Seq(
      ("a", "b", 2L, 1L, 0), ("a", "k", 2L, 4L, 0),
      ("b", "a", 2L, 2L, 0), ("b", "k", 2L, 4L, 0),
      ("k", "a", 6L, 0L, 1), ("k", "b", 6L, 0L, 1)))
  }

  test("fdDiscover guards: null lhs groups count, wide column sets " +
      "fail loudly") {
    val withNull = Seq((Some(1), "x"), (None, "y"), (None, "y"))
      .toDF("a", "b")
    val r = graft.ext.Quality.fdDiscover(withNull, Seq("a", "b"))
      .filter(col("lhs") === "a").collect().head
    assert(r.getLong(2) === 2L && r.getLong(3) === 0L,
      "null lhs must form a group; a -> b holds here")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Quality.fdDiscover(withNull,
        (1 to 13).map(i => s"c$i"))
    }
    assert(e.getMessage.contains("profile-scale"))
  }

  // ---- benfordAudit: exact first-digit divergence ----

  test("benfordAudit matches a driver-side BigInt replay, keeps " +
      "absent-digit mass, and drops non-positive values") {
    val ppm = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val rnd = new scala.util.Random(31)
    // group A: 1000 values all leading-digit 9 (maximal skew);
    // group B: spread; plus zero/negative rows that must be dropped
    val rows =
      (0 until 1000).map(_ => ("A", 900L + rnd.nextInt(100))) ++
      (0 until 500).map(_ => ("B", (rnd.nextInt(8999) + 1000).toLong)) ++
      Seq(("A", 0L), ("B", -5L))
    val df = rows.toDF("g", "v")
    val got = graft.ext.Quality.benfordAudit(df, "g", col("v"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // BigInt replay of the documented formula
    def replay(vs: Seq[Long]): (Long, Long, Long) = {
      val pos = vs.filter(_ > 0)
      val obs = pos.groupBy(_.toString.head.asDigit)
        .map { case (d, xs) => d -> xs.size.toLong }
      val n = BigInt(pos.size)
      val chi = (1 to 9).map { dd =>
        val o = BigInt(obs.getOrElse(dd, 0L))
        val p = BigInt(ppm(dd - 1))
        val num = o * 1000000 - n * p
        num * num / (n * p * 1000000)
      }.sum
      (n.toLong, chi.toLong, obs.size.toLong)
    }
    val expA = replay(rows.filter(_._1 == "A").map(_._2))
    val expB = replay(rows.filter(_._1 == "B").map(_._2))
    assert(got.toSeq === Seq(("A", expA._1, expA._2, expA._3),
      ("B", expB._1, expB._2, expB._3)))
    // the all-9s group must carry the absent digits' n·p mass
    assert(expA._3 === 1L && expA._2 > 10000L,
      s"maximal skew must score huge (got ${expA._2})")
  }

  // ---- tCloseness: exact-rational EMD audit ----

  test("tCloseness ordered matches a hand-computed EMD") {
    // global over v∈{1,2,3}: counts (2,2,3), N=7, m=3
    // A = [1,1,2]: diffs (2·7−2·3, 1·7−2·3, 0−3·3) = (8,1,−9),
    //   cums (8,9,0) → num=17, den=3·7·2=42
    // B = [2,3,3,3]: diffs (−8,−1,9), cums (−8,−9,0) → num=17, den=56
    val df = Seq(("A", 1), ("A", 1), ("A", 2),
      ("B", 2), ("B", 3), ("B", 3), ("B", 3)).toDF("g", "v")
    val out = graft.ext.Quality
      .tCloseness(df, Seq("g"), col("v"), ordered = true)
      .orderBy("g")
      .select(col("g"), col("class_size"),
        col("emd_num").cast("long"), col("emd_den").cast("long"),
        col("t_ppm"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      ("A", 3L, 17L, 42L, 17L * 1000000L / 42L),
      ("B", 4L, 17L, 56L, 17L * 1000000L / 56L)))
  }

  test("tCloseness categorical is the variational distance, and a " +
      "class matching the global distribution scores zero") {
    val df = Seq(("A", 1), ("A", 1), ("A", 2),
      ("B", 2), ("B", 3), ("B", 3), ("B", 3)).toDF("g", "v")
    val cat = graft.ext.Quality
      .tCloseness(df, Seq("g"), col("v"), ordered = false)
      .orderBy("g")
      .select(col("emd_num").cast("long"), col("emd_den").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // Σ|diff| = 18 for both; den = 2·ng·N
    assert(cat.toSeq === Seq((18L, 42L), (18L, 56L)))
    // two classes, each one copy of the same distribution → EMD 0
    val uniform = Seq(("A", 1), ("A", 2), ("B", 1), ("B", 2))
      .toDF("g", "v")
    val zeros = graft.ext.Quality
      .tCloseness(uniform, Seq("g"), col("v"), ordered = true)
      .select(col("emd_num").cast("long"), col("t_ppm")).collect()
    assert(zeros.forall(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
  }

  test("tCloseness guards: bounded sensitive domain, ordered needs " +
      ">= 2 values, empty input returns empty") {
    val wide = (0 until 50).map(i => ("g", i)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Quality.tCloseness(wide, Seq("g"), col("v"),
        maxDomain = 10L)
    }
    assert(e.getMessage.contains("maxDomain"))
    val single = Seq(("g", 1), ("g", 1)).toDF("g", "v")
    val e2 = intercept[IllegalArgumentException] {
      graft.ext.Quality.tCloseness(single, Seq("g"), col("v"),
        ordered = true)
    }
    assert(e2.getMessage.contains("2 distinct"))
    // single-value domain is fine categorically (distance 0)…
    val catOk = graft.ext.Quality.tCloseness(single, Seq("g"),
      col("v"), ordered = false).select("t_ppm").collect()
    assert(catOk.map(_.getLong(0)).toSeq === Seq(0L))
    // …and an empty input yields an empty audit, not an error
    val empty = Seq.empty[(String, Int)].toDF("g", "v")
    assert(graft.ext.Quality.tCloseness(empty, Seq("g"), col("v"))
      .count() === 0L)
  }

  test("kmvJaccard under the bound (or with the bound raised " +
      "explicitly) still estimates") {
    val df = (0 until 300)
      .map(i => (s"g${i % 3}", s"v${i % 50}")).toDF("g", "v")
    val out = graft.ext.Sketches.kmvJaccard(df, "g", col("v"), k = 32)
    assert(out.count() === 3L) // 3 groups -> 3 unordered pairs
    // identical value sets -> jaccard 1000000 ppm exactly
    val same = (0 until 100).flatMap(i =>
      Seq(("a", s"v$i"), ("b", s"v$i"))).toDF("g", "v")
    val j = graft.ext.Sketches.kmvJaccard(same, "g", col("v"), k = 16,
      maxGroups = 2L).select("jaccard_ppm").collect().head.getLong(0)
    assert(j === 1000000L)
  }

  // ---- agreementKappa: chance-corrected agreement ----

  test("agreementKappa matches the closed form on a hand-built " +
      "table, sign-splits negative kappa, and nulls the degenerate " +
      "denominator") {
    // 2×2: agree on 20 yes + 15 no, disagree 10 + 5. n=50, agree=35,
    // p_o=0.70; marginals A: 30/20, B: 25/25 → S=30·25+20·25=1250,
    // p_e=0.50, κ=(1750−1250)/(2500−1250)=0.4
    val rows =
      Seq.fill(20)(("y", "y")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(10)(("y", "n")) ++ Seq.fill(5)(("n", "y"))
    val got = graft.ext.Stats.agreementKappa(rows.toDF("a", "b"),
      col("a"), col("b")).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4)) ===
      ((50L, 35L, 700000L, 500000L, 400000L)))
    // systematic disagreement: n=2, agree=0, S=2 → κ = −2/2 = −1;
    // the sign split must carry it through exactly
    val neg = graft.ext.Stats.agreementKappa(
      Seq(("y", "n"), ("n", "y")).toDF("a", "b"), col("a"), col("b"))
      .collect().head
    assert(neg.getLong(4) === -1000000L)
    // both raters constant: κ_den = 0 → null kappa, p_o = p_e = 1
    val degen = graft.ext.Stats.agreementKappa(
      Seq(("y", "y"), ("y", "y")).toDF("a", "b"), col("a"), col("b"))
      .collect().head
    assert(degen.getLong(2) === 1000000L &&
      degen.getLong(3) === 1000000L && degen.isNullAt(4))
  }

  // ---- rocAucByGroup: exact tie-corrected AUC ----

  test("rocAucByGroup matches a BigInt pair-count replay with heavy " +
      "ties, nulls one-class groups, and the two-phase path agrees " +
      "bit-for-bit") {
    val rnd = new scala.util.Random(77)
    val rows = (0 until 800).map { _ =>
      ("g" + rnd.nextInt(3), rnd.nextInt(40).toLong, rnd.nextInt(3) == 0)
    } ++ (0 until 10).map(_ => ("onlyneg", rnd.nextInt(40).toLong, false))
    val df = rows.toDF("g", "s", "lab")
    // direct pairwise definition: P(pos > neg) + ½·P(tie), in ppm
    def replay(xs: Seq[(Long, Boolean)]): Option[Long] = {
      val pos = xs.filter(_._2).map(_._1)
      val neg = xs.filter(!_._2).map(_._1)
      if (pos.isEmpty || neg.isEmpty) None
      else {
        val num2 = (for (p <- pos; n <- neg) yield
          if (p > n) BigInt(2) else if (p == n) BigInt(1)
          else BigInt(0)).sum
        Some(((num2 * 1000000) /
          (BigInt(2) * pos.size * neg.size)).toLong)
      }
    }
    val exp = rows.groupBy(_._1).map { case (g, xs) =>
      g -> ((xs.count(_._3).toLong, xs.count(!_._3).toLong,
        replay(xs.map(t => (t._2, t._3)))))
    }
    for (maxSingle <- Seq(Long.MaxValue, 0L)) { // one-window / two-phase
      val got = graft.ext.Stats.rocAucByGroup(df, "g", col("s"),
          col("lab"), maxSingleTask = maxSingle)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))))
        .toMap
      assert(got === exp, s"maxSingleTask=$maxSingle")
    }
    // null scores drop; a null label counts as negative
    val nd = Seq(("g", Option(5L), Option(true)),
      ("g", Option.empty[Long], Option(true)),
      ("g", Option(3L), Option.empty[Boolean])).toDF("g", "s", "lab")
    val one = graft.ext.Stats.rocAucByGroup(nd, "g", col("s"),
      col("lab")).collect().head
    assert((one.getLong(1), one.getLong(2), one.getLong(3)) ===
      ((1L, 1L, 1000000L)))
  }

  // ---- spearmanByGroup: rank correlation with average-rank ties ----

  test("spearmanByGroup is ±1 on monotone data, matches a driver " +
      "replay under ties, and the two-phase path agrees") {
    val mono = (1 to 50).map(i => ("up", i.toLong, 2L * i)) ++
      (1 to 50).map(i => ("down", i.toLong, 1000L - 3L * i))
    val gotMono = graft.ext.Stats.spearmanByGroup(mono.toDF("g", "x", "y"),
        "g", col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // perfect ascent floors to 0.999999, not 1.0: sqrt(a)·sqrt(b) is
    // one ulp above the exact integer num, so num/den < 1 before the
    // 6-dp floor — deterministic IEEE on every engine (the q105
    // discipline); the descending group floors DOWN to exactly −1.0
    assert(gotMono === Map("up" -> 0.999999, "down" -> -1.0))
    // heavy ties: small value domains
    val rnd = new scala.util.Random(31)
    val tied = (0 until 600).map { _ =>
      val x = rnd.nextInt(8).toLong
      ("g" + rnd.nextInt(2), x, x / 2 + rnd.nextInt(5).toLong)
    }
    def r2s(vs: Seq[Long]): Map[Long, Long] = {
      val t = vs.groupBy(identity).map { case (v, g) => v -> g.size.toLong }
      t.map { case (v, tv) =>
        v -> (2L * vs.count(_ < v) + tv + 1L)
      }
    }
    def replay(xs: Seq[(Long, Long)]): Double = {
      val (rx, ry) = (r2s(xs.map(_._1)), r2s(xs.map(_._2)))
      val n = BigInt(xs.size)
      val px = xs.map(p => BigInt(rx(p._1)))
      val py = xs.map(p => BigInt(ry(p._2)))
      val (sx, sy) = (px.sum, py.sum)
      val sxy = px.zip(py).map { case (a, b) => a * b }.sum
      val sxx = px.map(a => a * a).sum
      val syy = py.map(a => a * a).sum
      val num = (n * sxy - sx * sy).toDouble
      val den = math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)
      math.floor(num / den * 1e6) / 1e6
    }
    val exp = tied.groupBy(_._1).map { case (g, xs) =>
      g -> replay(xs.map(t => (t._2, t._3)))
    }
    for (maxSingle <- Seq(Long.MaxValue, 0L)) {
      val got = graft.ext.Stats.spearmanByGroup(tied.toDF("g", "x", "y"),
          "g", col("x"), col("y"), maxSingleTask = maxSingle)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(got === exp, s"maxSingleTask=$maxSingle")
    }
  }

  // ---- negativeSample: deterministic ring-slice negatives ----

  test("negativeSample is deterministic, excludes self and positives, " +
      "numbers survivors 1..k in slice order, and is prefix-stable " +
      "under oversample growth") {
    val pool = (1L to 40L).toDF("id")
    val anchors = Seq(1L, 7L, 13L).toDF("a")
    val positives = Seq((1L, 2L), (1L, 3L), (7L, 10L)).toDF("pa", "pc")
    def run(m: Int) = graft.ext.Sampling.negativeSample(anchors, "a",
        pool, "id", positives, "pa", "pc", k = 4, oversample = m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val r1 = run(6)
    assert(r1 === run(6), "same inputs must reproduce exactly")
    assert(r1 === run(20), "larger oversample must keep the prefix")
    val posSet = Set((1L, 2L), (1L, 3L), (7L, 10L))
    assert(r1.forall { case (a, _, n) => a != n && !posSet((a, n)) })
    r1.groupBy(_._1).foreach { case (a, rs) =>
      assert(rs.map(_._2).sorted === (1 to rs.size), s"anchor $a")
      assert(rs.size === 4, s"anchor $a should fill k")
    }
    // ring wrap: slice longer than the pool → deduped, distinct
    val tiny = graft.ext.Sampling.negativeSample(
        Seq(9L).toDF("a"), "a", (1L to 5L).toDF("id"), "id",
        Seq.empty[(Long, Long)].toDF("pa", "pc"), "pa", "pc",
        k = 3, oversample = 10)
      .collect().map(r => r.getLong(2)).toSeq
    assert(tiny.size === 3 && tiny.distinct.size === 3)
    // fewer survivors than k: pool {1,2}, anchor 1 → only one negative
    val scarce = graft.ext.Sampling.negativeSample(
        Seq(1L).toDF("a"), "a", (1L to 2L).toDF("id"), "id",
        Seq.empty[(Long, Long)].toDF("pa", "pc"), "pa", "pc",
        k = 3, oversample = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(scarce === Seq((1, 2L)))
  }

  // ---- rankingEval: NDCG@k + MRR on fixed integer discounts ----

  test("rankingEval matches a hand-built example, nulls zero-IDCG " +
      "groups, cuts MRR at k, and handles null score/gain per contract") {
    val w = graft.ext.Stats.ndcgWeights(3)
    assert(w.head === (1L << 20)) // log2(2) = 1: no discount at pos 1
    assert(w === w.sorted.reverse && w.distinct === w)
    val rows = Seq(
      // g: relevant items at actual pos 2 (rel 2) and 4 (rel 1, > k)
      ("g", 10L, 1L, 0L), ("g", 9L, 2L, 2L), ("g", 8L, 3L, 0L),
      ("g", 7L, 4L, 1L),
      // z: nothing relevant at all → null ndcg
      ("z", 5L, 1L, 0L), ("z", 4L, 2L, 0L),
      // m: only relevant item ranks below k → dcg 0, rr null
      ("m", 9L, 1L, 0L), ("m", 8L, 2L, 0L), ("m", 7L, 3L, 0L),
      ("m", 6L, 4L, 3L))
    val got = graft.ext.Stats.rankingEval(rows.toDF("g", "s", "t", "r"),
        "g", col("s"), col("t"), col("r"), k = 3)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))).toMap
    val gDcg = 2 * w(1)
    val gIdcg = 2 * w(0) + w(1)
    assert(got("g") === ((4L, gDcg, gIdcg,
      Some((BigInt(gDcg) * 1000000 / gIdcg).toLong), Some(2L),
      Some(500000L))))
    assert(got("z") === ((2L, 0L, 0L, None, None, None)))
    assert(got("m") === ((4L, 0L, 3 * w(0), Some(0L), None, None)))
    // null score = unranked (dropped from n and both rankings);
    // null gain = 0
    val nd = Seq(("h", Option(5L), 1L, Option(2L)),
      ("h", Option.empty[Long], 2L, Option(9L)),
      ("h", Option(4L), 3L, Option.empty[Long])).toDF("g", "s", "t", "r")
    val h = graft.ext.Stats.rankingEval(nd, "g", col("s"), col("t"),
      col("r"), k = 3).collect().head
    assert((h.getLong(1), h.getLong(2), h.getLong(3), h.getLong(4),
      h.getLong(5), h.getLong(6)) ===
      ((2L, 2 * w(0), 2 * w(0), 1000000L, 1L, 1000000L)))
  }

  // ---- calibrationAudit: reliability bins + ECE/MCE ----

  test("calibrationAudit is zero-ECE on perfectly calibrated bins, " +
      "matches hand-computed deviations otherwise, drops null conf, " +
      "and raises on out-of-range confidence") {
    // bin 0 (conf 250k): 4 rows, 1 pos -> acc = avgconf, dev 0;
    // bin 1 (conf 750k): 4 rows, 3 pos -> dev 0
    val calib = (Seq.fill(4)(250000L).map((_, false)).updated(0,
        (250000L, true)) ++
      Seq.fill(4)(750000L).map((_, true)).updated(0, (750000L, false)))
      .toDF("c", "lab")
    val z = graft.ext.Stats.calibrationAudit(calib, col("c"),
        col("lab"), bins = 2)
      .orderBy("bin").collect()
    assert(z.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq ===
      Seq((0L, 4L, 1L, 250000L, 250000L, 0L),
        (1L, 4L, 3L, 750000L, 750000L, 0L)))
    assert(z.forall(r => r.getLong(6) === 0L && r.getLong(7) === 0L))
    // overconfident bin: conf 900k x2, 0 pos -> dev = 1800000;
    // underconfident: conf 100k x2, 2 pos -> dev = 2000000 - 200000
    val mis = Seq((900000L, false), (900000L, false),
      (100000L, true), (100000L, true)).toDF("c", "lab")
    val m = graft.ext.Stats.calibrationAudit(mis, col("c"),
        col("lab"), bins = 2)
      .orderBy("bin").collect()
    // ece = (1800000 + 1800000) / 4 = 900000; mce = 1800000/2 = 900000
    assert(m.map(r => (r.getLong(0), r.getLong(5), r.getLong(6),
      r.getLong(7))).toSeq ===
      Seq((0L, 900000L, 900000L, 900000L),
        (1L, -900000L, 900000L, 900000L)))
    // conf exactly 10^6 lands in the TOP bin; null conf drops;
    // null label counts negative
    val edge = Seq((Option(1000000L), Option(true)),
      (Option.empty[Long], Option(true)),
      (Option(0L), Option.empty[Boolean])).toDF("c", "lab")
    val e = graft.ext.Stats.calibrationAudit(edge, col("c"),
        col("lab"), bins = 4).orderBy("bin").collect()
    assert(e.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((0L, 1L, 0L), (3L, 1L, 1L)))
    val boom = intercept[Exception] {
      Seq((1000001L, true)).toDF("c", "lab")
        .transform(d => graft.ext.Stats.calibrationAudit(d, col("c"),
          col("lab"))).collect()
    }
    assert(boom.getMessage != null)
  }

  // ---- fleissKappa: multi-rater chance-corrected agreement ----

  test("fleissKappa matches a BigInt replay of the closed form, is " +
      "exactly 1 under perfect agreement, nulls the one-category " +
      "degenerate, and rejects ragged rater counts") {
    // randomized vs replay (N=60 items, n=4 raters, 3 cats)
    val rnd = new scala.util.Random(13)
    val rows = for (i <- 0 until 60; r <- 0 until 4)
      yield (i.toLong, s"r$r", "c" + rnd.nextInt(3))
    def replay(xs: Seq[(Long, String, String)]): (Long, Long, Long) = {
      val nic = xs.groupBy(t => (t._1, t._3)).map(_._2.size)
      val nI = BigInt(xs.map(_._1).distinct.size)
      val n = BigInt(4)
      val s2 = nic.map(c => BigInt(c) * c).sum
      val tc = xs.groupBy(_._3).map(kv => BigInt(kv._2.size))
      val (a, b) = (s2 - nI * n, nI * n * (n - 1))
      val (c, d) = (tc.map(t => t * t).sum, (nI * n) * (nI * n))
      def ppm(num: BigInt, den: BigInt) =
        ((num.abs * 1000000 / den) * num.signum).toLong
      (ppm(a, b), ppm(c, d), ppm(a * d - b * c, b * (d - c)))
    }
    val got = graft.ext.Stats.fleissKappa(rows.toDF("i", "r", "c"),
      "i", "r", "c").collect().head
    assert((got.getLong(0), got.getLong(1)) === ((60L, 4L)))
    assert((got.getLong(2), got.getLong(3), got.getLong(4)) ===
      replay(rows))
    // perfect agreement across >= 2 categories: kappa exactly 1
    val perfect = for (i <- 0 until 10; r <- 0 until 3)
      yield (i.toLong, s"r$r", if (i % 2 == 0) "a" else "b")
    val p = graft.ext.Stats.fleissKappa(perfect.toDF("i", "r", "c"),
      "i", "r", "c").collect().head
    assert(p.getLong(4) === 1000000L)
    // every rating identical: pe = 1 -> null kappa
    val const = for (i <- 0 until 5; r <- 0 until 2)
      yield (i.toLong, s"r$r", "only")
    val cRow = graft.ext.Stats.fleissKappa(const.toDF("i", "r", "c"),
      "i", "r", "c").collect().head
    assert(cRow.getLong(2) === 1000000L && cRow.getLong(3) === 1000000L
      && cRow.isNullAt(4))
    // ragged rater counts fail loudly; empty input is a null row
    val ragged = Seq((1L, "r0", "a"), (1L, "r1", "a"), (2L, "r0", "a"))
    val err = intercept[IllegalArgumentException] {
      graft.ext.Stats.fleissKappa(ragged.toDF("i", "r", "c"),
        "i", "r", "c")
    }
    assert(err.getMessage.contains("same rater count"))
    val empty = graft.ext.Stats.fleissKappa(
      Seq.empty[(Long, String, String)].toDF("i", "r", "c"),
      "i", "r", "c").collect().head
    assert(empty.getLong(0) === 0L && empty.isNullAt(4))
  }

  // ---- giniConcentration: exact rank-sum closed form ----

  test("giniConcentration is 0 on equal values, (n-1)/n on a single " +
      "holder, matches a BigInt replay with ties, and raises on " +
      "negatives") {
    val df = (Seq.fill(8)(("eq", 25L)) ++
      (("one", 100L) +: Seq.fill(9)(("one", 0L))) ++
      (0 until 500).map(i => ("rnd", (i * i * 7919L) % 97))).toDF("g", "x")
    val got = graft.ext.Stats.giniConcentration(df, "g", col("x"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got("eq") === ((8L, 200L, Some(0L))))
    // single holder of everything: G = (n-1)/n = 0.9
    assert(got("one") === ((10L, 100L, Some(900000L))))
    def replay(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = BigInt(s.size)
      val ix = s.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      val tot = s.map(BigInt(_)).sum
      ((BigInt(2) * ix - (n + 1) * tot) * 1000000 / (n * tot)).toLong
    }
    assert(got("rnd")._3 === Some(replay(
      (0 until 500).map(i => (i * i * 7919L) % 97))))
    // all-zero total -> null; negative value raises
    val z = graft.ext.Stats.giniConcentration(
      Seq(("z", 0L), ("z", 0L)).toDF("g", "x"), "g", col("x"))
      .collect().head
    assert(z.isNullAt(3))
    val boom = intercept[Exception] {
      graft.ext.Stats.giniConcentration(
        Seq(("n", -1L)).toDF("g", "x"), "g", col("x")).collect()
    }
    assert(boom.getMessage != null)
  }

  // ---- exactQuantilesByGroup: exact at-scale order statistics ----

  test("exactQuantilesByGroup matches a driver sort replay with heavy " +
      "ties, pins min/median/max ranks, and the two-phase path agrees " +
      "bit-for-bit") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 900).map(_ =>
      ("g" + rnd.nextInt(3), rnd.nextInt(25).toLong)) ++
      Seq(("tiny", 7L)) // 1-element group: every q reads the element
    val qs = Seq(0L, 250000L, 500000L, 750000L, 1000000L)
    def replay(xs: Seq[Long]): Seq[(Long, Long)] = {
      val s = xs.sorted
      qs.map(q => q -> s(((q * (s.size - 1)) / 1000000L).toInt))
    }
    val exp = rows.groupBy(_._1).flatMap { case (g, xs) =>
      replay(xs.map(_._2)).map { case (q, v) => (g, q) -> v }
    }
    for (maxSingle <- Seq(Long.MaxValue, 0L)) {
      val got = graft.ext.Stats.exactQuantilesByGroup(
          rows.toDF("g", "x"), "g", col("x"), qs,
          maxSingleTask = maxSingle)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(got === exp, s"maxSingleTask=$maxSingle")
      assert(got(("tiny", 0L)) === 7L && got(("tiny", 1000000L)) === 7L)
    }
    // exactly one row per (group, q) — the covering-range read is
    // unique even when one support row covers several quantiles
    val n = graft.ext.Stats.exactQuantilesByGroup(
      Seq(("g", 5L), ("g", 5L), ("g", 5L)).toDF("g", "x"),
      "g", col("x"), qs).collect()
    assert(n.length === qs.size && n.forall(_.getLong(3) === 5L))
    intercept[IllegalArgumentException] {
      graft.ext.Stats.exactQuantilesByGroup(
        Seq(("g", 1L)).toDF("g", "x"), "g", col("x"), Seq(1000001L))
    }
  }

  // ---- Mining.assocRules: A-priori level 2 ----

  test("assocRules matches hand-computed support/confidence/lift, " +
      "collapses duplicate basket rows, and rejects oversized baskets") {
    // baskets: {a,b} x3, {a,c} x1, {b,c} x1, {a} x1 -> N=6
    // sup a=5, b=4, c=2, ab=3, ac=1, bc=1
    val rows = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"), (3L, "b"),
      (4L, "a"), (4L, "c"), (5L, "b"), (5L, "c"), (6L, "a"),
      (1L, "a")) // duplicate row must not inflate supports
    val got = graft.ext.Mining.assocRules(rows.toDF("b", "i"), "b", "i",
        minSupport = 1)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    assert(got.size === 6) // all directed pairs present at minSupport=1
    // a->b: conf 3/5, lift 3*6/(5*4) = 0.9
    assert(got(("a", "b")) === ((6L, 5L, 4L, 3L, 600000L, 900000L)))
    // b->a: conf 3/4, same lift
    assert(got(("b", "a")) === ((6L, 4L, 5L, 3L, 750000L, 900000L)))
    // b->c: conf 1/4, lift 6/(4*2) = 0.75
    assert(got(("b", "c")) === ((6L, 4L, 2L, 1L, 250000L, 750000L)))
    // minSupport filters pairs, not items
    val f = graft.ext.Mining.assocRules(rows.toDF("b", "i"), "b", "i",
      minSupport = 3).collect()
    assert(f.map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("a", "b"), ("b", "a")))
    val big = rows ++ Seq((7L, "a"), (7L, "b"), (7L, "c"))
    // r16: the guard fires inside the set aggregation (wrapped in
    // Spark's task-failure chain), no longer as a pre-job require
    // the scope frees the cache of the failed basket aggregation
    val err = intercept[Exception] {
      graft.ext.Materialize.scope(graft.ext.Mining.assocRules(
        big.toDF("b", "i"), "b", "i", minSupport = 1, maxBasketSize = 2))
    }
    val errMsgs = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(errMsgs.contains("maxBasketSize"))
    // empty input: no rows, no guard trip
    assert(graft.ext.Mining.assocRules(
      Seq.empty[(Long, String)].toDF("b", "i"), "b", "i",
      minSupport = 1).collect().isEmpty)
  }

  // ---- EventsOps.transitions: Markov matrix ----

  test("transitions counts consecutive pairs per user in total order, " +
      "floors row probabilities whose sum is within |next| of 10^6, " +
      "and ignores single-event users") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    // user 1: v -> c -> v -> e ; user 2: v -> c ; user 3: only e
    val ev = Seq(
      (1L, ts(0), 1L, "v"), (2L, ts(1), 1L, "c"),
      (3L, ts(2), 1L, "v"), (4L, ts(3), 1L, "e"),
      (5L, ts(0), 2L, "v"), (6L, ts(1), 2L, "c"),
      (7L, ts(0), 3L, "e"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.streaming.EventsOps.transitions(ev)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // pairs: u1 v->c, c->v, v->e; u2 v->c; u3 contributes none.
    // prev=v total 3: probs floor to 666666 + 333333 = 999999 —
    // the <=10^6 row-sum deficit (< |next|) the scaladoc promises
    assert(got === Map(
      ("v", "c") -> ((2L, 3L, 666666L)),
      ("v", "e") -> ((1L, 3L, 333333L)),
      ("c", "v") -> ((1L, 1L, 1000000L))))
  }

  // ---- robustProfile: median / MAD / fence count ----

  test("robustProfile matches a driver median/MAD replay, flags the " +
      "planted outlier and nothing else, and zero-MAD groups flag " +
      "every off-median value") {
    // g: 1..9 plus a planted 1000 -> median is the lower-median of 10
    val g = (1L to 9L).map(("g", _)) :+ (("g", 1000L))
    // z: >half the mass on 5 -> mad 0, every x != 5 is an outlier
    val z = Seq.fill(5)(("z", 5L)) ++ Seq(("z", 6L), ("z", 7L))
    val got = graft.ext.Stats.robustProfile((g ++ z).toDF("g", "x"),
        "g", col("x"), kNum = 44478, kDen = 10000)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // g sorted: 1..9,1000; n=10, r=(5e5*9)//1e6+1=5 -> median 5;
    // deviations sorted: 0,1,1,2,2,3,3,4,4,995 -> mad = dev[5th] = 2;
    // fence = 2*4.4478 = 8.8956: only 995 exceeds
    assert(got("g") === ((10L, 5L, 2L, 1L)))
    // z: n=7, r=4 -> median 5; devs 0,0,0,0,0,1,2 -> mad 0; fence 0:
    // the two non-median values flag
    assert(got("z") === ((7L, 5L, 0L, 2L)))
    // randomized replay with ties
    val rnd = new scala.util.Random(59)
    val rr = (0 until 700).map(_ => ("r", rnd.nextInt(50).toLong))
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s(((500000L * (s.size - 1)) / 1000000L).toInt)
    }
    val m = lowerMedian(rr.map(_._2))
    val devs = rr.map(t => math.abs(t._2 - m))
    val md = lowerMedian(devs)
    val out = devs.count(d => d * 10000L > md * 44478L)
    val rGot = graft.ext.Stats.robustProfile(rr.toDF("g", "x"), "g",
      col("x"), 44478, 10000).collect().head
    assert((rGot.getLong(1), rGot.getLong(2), rGot.getLong(3),
      rGot.getLong(4)) === ((700L, m, md, out.toLong)))
  }

  // ---- heapsVocabGrowth: vocabulary growth curve ----

  test("heapsVocabGrowth counts prefix docs/tokens/vocab exactly at " +
      "each checkpoint and attributes each token to its first " +
      "occurrence") {
    val docs = Seq(
      (1L, "a b c"), (2L, "a b"), (3L, "d"), (4L, "a d e"),
      (5L, "f f f")).toDF("id", "text")
    val got = graft.ext.TextStats.heapsVocabGrowth(docs, "id", "text",
        Seq(2L, 4L, 5L))
      .orderBy("checkpoint").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // <=2: docs 2, tokens 5, vocab {a,b,c}; <=4: docs 4, tokens 9,
    // vocab {a,b,c,d,e}; <=5: docs 5, tokens 12, vocab +f
    assert(got.toSeq === Seq((2L, 2L, 5L, 3L), (4L, 4L, 9L, 5L),
      (5L, 5L, 12L, 6L)))
    intercept[IllegalArgumentException] {
      graft.ext.TextStats.heapsVocabGrowth(docs, "id", "text",
        Seq(1L, 1L))
    }
  }

  // ---- distinctN: unique/total n-gram diversity ----

  test("distinctN matches hand-counted bigram diversity, applies the " +
      "short-text fallback, and is 10^6 on an all-unique group") {
    val df = Seq(
      ("rep", "x y x y x y"), // bigrams: xy,yx,xy,yx,xy -> 5 total, 2 uniq
      ("uni", "a b c d"),     // ab,bc,cd -> 3 total, 3 uniq
      ("sho", "solo"))        // short-text fallback: 1 gram "solo"
      .toDF("g", "text")
    val got = graft.ext.TextStats.distinctN(df, "g", "text", n = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got === Map(
      "rep" -> ((5L, 2L, 400000L)),
      "uni" -> ((3L, 3L, 1000000L)),
      "sho" -> ((1L, 1L, 1000000L))))
  }

  // ---- chiSquareIndependence: 2-D categorical association ----

  test("chiSquareIndependence matches hand floors on a 2x2, is 0 at " +
      "independence and n at perfect 2x2 association, nulls " +
      "degenerates, and matches a BigInt replay") {
    def mk(cells: Seq[(String, String, Int)]) =
      cells.flatMap { case (a, b, k) => Seq.fill(k)((a, b)) }
        .toDF("a", "b")
    def run(cells: Seq[(String, String, Int)]) = {
      val r = graft.ext.Quality.chiSquareIndependence(mk(cells),
        col("a"), col("b")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }
    // [[10,20],[20,10]]: true chi2 = 100/15; per-cell floors give
    // 2*6666666 + 2*26666666 - 60e6 = 6666664 (within 4 ulps)
    assert(run(Seq(("x", "u", 10), ("x", "v", 20), ("y", "u", 20),
      ("y", "v", 10))) === ((60L, 1L, 4L, Some(6666664L),
      Some(111111L))))
    // uniform 2x2: exactly independent -> 0
    assert(run(Seq(("x", "u", 10), ("x", "v", 10), ("y", "u", 10),
      ("y", "v", 10))) === ((40L, 1L, 4L, Some(0L), Some(0L))))
    // diagonal 2x2: chi2 = n (the 2x2 maximum), V^2 = 1
    assert(run(Seq(("x", "u", 10), ("y", "v", 10))) ===
      ((20L, 1L, 2L, Some(20000000L), Some(1000000L))))
    // one-category side: dof 0, null stat
    assert(run(Seq(("x", "u", 5), ("x", "v", 5))) ===
      ((10L, 0L, 2L, None, None)))
    // randomized BigInt replay of the exact per-cell floor sum
    val rnd = new scala.util.Random(67)
    val rows = (0 until 500).map(_ =>
      ("a" + rnd.nextInt(4), "b" + rnd.nextInt(3)))
    val byCell = rows.groupBy(identity).map { case (k, v) =>
      (k._1, k._2, v.size) }.toSeq
    val n = BigInt(rows.size)
    val raM = rows.groupBy(_._1).map(kv => kv._1 -> BigInt(kv._2.size))
    val cbM = rows.groupBy(_._2).map(kv => kv._1 -> BigInt(kv._2.size))
    val s = byCell.map { case (a, b, o) =>
      n * 1000000 * o * o / (raM(a) * cbM(b)) }.sum
    val stat = (s - n * 1000000).max(BigInt(0))
    val v2 = stat / (n * (math.min(raM.size, cbM.size) - 1))
    assert(run(byCell) === ((500L, 6L, byCell.size.toLong,
      Some(stat.toLong), Some(v2.toLong))))
  }

  // ---- percentileRank: rank-normalization table ----

  test("percentileRank pins percent_rank/ECDF on a hand case, nulls " +
      "single-row groups, and the two-phase path agrees bit-for-bit") {
    val rows = Seq(("g", 10L), ("g", 10L), ("g", 20L), ("solo", 7L))
    for (maxSingle <- Seq(Long.MaxValue, 0L)) {
      val got = graft.ext.Stats.percentileRank(rows.toDF("g", "x"),
          "g", col("x"), maxSingleTask = maxSingle)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getLong(5)))).toMap
      assert(got === Map(
        ("g", 10L) -> ((2L, 3L, Some(0L), 666666L)),
        ("g", 20L) -> ((1L, 3L, Some(1000000L), 1000000L)),
        ("solo", 7L) -> ((1L, 1L, None, 1000000L))),
        s"maxSingleTask=$maxSingle")
    }
  }

  // ---- ksUniform: one-sample uniformity audit ----

  test("ksUniform pins hand ECDF gaps, matches a BigInt replay on " +
      "hashed data, and raises out-of-range values") {
    def run(xs: Seq[Long], m: Long, maxSingle: Long = Long.MaxValue) =
      graft.ext.Stats.ksUniform(xs.toDF("x"), col("x"), m,
        maxSingleTask = maxSingle)
        .collect().head match {
        case r => (r.getLong(0), r.getLong(1))
      }
    // all mass at 0 in [0,10): ECDF jumps to 1 at 0 -> D = 1
    assert(run(Seq(0L, 0L), 10L) === ((2L, 1000000L)))
    // perfect grid 0..3 on [0,4): D = 1/n = 1/4
    assert(run(Seq(0L, 1L, 2L, 3L), 4L) === ((4L, 250000L)))
    // {0,5} on [0,10): jump to 1/2 at 0 -> D = 1/2
    assert(run(Seq(0L, 5L), 10L) === ((2L, 500000L)))
    // BigInt replay on md5-ish data, both kernel paths
    val rnd = new scala.util.Random(83)
    val m = 1L << 20
    val xs = (0 until 400).map(_ => rnd.nextLong(m))
    def replay(vs: Seq[Long]): Long = {
      val n = BigInt(vs.size)
      val sorted = vs.groupBy(identity).map { case (v, g) =>
        (v, g.size) }.toSeq.sortBy(_._1)
      var below = BigInt(0); var best = BigInt(0)
      sorted.foreach { case (v, c) =>
        val up = (below + c) * m - BigInt(v) * n
        val dn = BigInt(v) * n - below * m
        best = best.max(up).max(dn); below += c
      }
      (best * 1000000 / (n * m)).toLong
    }
    for (maxSingle <- Seq(Long.MaxValue, 0L))
      assert(run(xs, m, maxSingle) === ((400L, replay(xs))),
        s"maxSingleTask=$maxSingle")
    val boom = intercept[Exception] { run(Seq(10L), 10L) }
    assert(boom.getMessage != null)
  }

  // ---- krippendorffAlpha: ragged-rater agreement ----

  test("krippendorffAlpha pins hand cases (0 / 1 / -0.5), excludes " +
      "single-rating items, accepts ragged counts, nulls one-category " +
      "input, and matches a BigInt replay") {
    def run(rows: Seq[(Long, String, String)]) = {
      val r = graft.ext.Stats.krippendorffAlpha(
        rows.toDF("i", "r", "c"), "i", "r", "c").collect().head
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }
    // i1 {a,a}, i2 {a,b}, i3 {b} (excluded): A=2, D=16-10=6,
    // alpha = 1 - 3*2/6 = 0
    assert(run(Seq((1L, "r1", "a"), (1L, "r2", "a"),
      (2L, "r1", "a"), (2L, "r2", "b"), (3L, "r1", "b"))) ===
      ((2L, 4L, Some(0L))))
    // perfect agreement across 2 categories
    assert(run(Seq((1L, "r1", "a"), (1L, "r2", "a"),
      (2L, "r1", "b"), (2L, "r2", "b"))) === ((2L, 4L, Some(1000000L))))
    // systematic disagreement: both items {a,b} -> alpha = -0.5
    assert(run(Seq((1L, "r1", "a"), (1L, "r2", "b"),
      (2L, "r1", "a"), (2L, "r2", "b"))) === ((2L, 4L, Some(-500000L))))
    // one category total: D = 0 -> null
    assert(run(Seq((1L, "r1", "x"), (1L, "r2", "x"),
      (2L, "r1", "x"))) === ((1L, 2L, None)))
    // nothing pairable
    assert(run(Seq((1L, "r1", "a"), (2L, "r1", "b"))) ===
      ((0L, 0L, None)))
    // randomized ragged replay (m in {2,3,4}) vs driver BigInt
    val rnd = new scala.util.Random(97)
    val rows = (0 until 300).flatMap { i =>
      val m = 2 + rnd.nextInt(3)
      (0 until m).map(r => (i.toLong, s"r$r", "c" + rnd.nextInt(3)))
    }
    def replay(xs: Seq[(Long, String, String)]): (Long, Long, Long) = {
      val byItem = xs.groupBy(_._1)
      val pairable = byItem.filter(_._2.size >= 2)
      val nn = BigInt(pairable.values.map(_.size).sum)
      var (aN, aD) = (BigInt(0), BigInt(1))
      pairable.values.groupBy(_.size).foreach { case (m, items) =>
        val sm = items.map { it =>
          val s2 = it.groupBy(_._3).values.map(g =>
            BigInt(g.size) * g.size).sum
          BigInt(m) * m - s2
        }.sum
        aN = aN * (m - 1) + sm * aD; aD = aD * (m - 1)
      }
      val sc2 = pairable.values.flatten.groupBy(_._3).values
        .map(g => BigInt(g.size) * g.size).sum
      val d = nn * nn - sc2
      val num = d * aD - (nn - 1) * aN
      val den = d * aD
      (pairable.size.toLong, nn.toLong,
        ((num.abs * 1000000 / den) * num.signum).toLong)
    }
    val (ei, en, ea) = replay(rows)
    assert(run(rows) === ((ei, en, Some(ea))))
  }

  // ---- trimmedMean: exact one-pass robust location ----

  test("trimmedMean drops exactly the rank band, matches a driver " +
      "sort-and-slice replay with ties and negatives, nulls emptied " +
      "groups, and the two-phase path agrees") {
    // hand case: 1..10, trim 10% -> lo=1: keep 2..9, mean 5.5
    val hand = (1L to 10L).map(("h", _))
    // outlier resistance: same but 10 -> 10000; trimmed mean unchanged
    val outl = ((1L to 9L) :+ 10000L).map(("o", _))
    // negatives: -5..4 trim 20% (lo=2): keep -3..2, sum -3, mean -0.5
    val neg = (-5L to 4L).map(("n", _))
    // tiny group: n=2, trim 40% -> lo=0: keeps all (floor)
    val tiny = Seq(("t", 1L), ("t", 3L))
    def run(rows: Seq[(String, Long)], t: Long, maxSingle: Long) =
      graft.ext.Stats.trimmedMean(rows.toDF("g", "x"), "g", col("x"),
          trimPpm = t, maxSingleTask = maxSingle)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    for (maxSingle <- Seq(Long.MaxValue, 0L)) {
      val got = run(hand ++ outl, 100000L, maxSingle)
      assert(got("h") === ((10L, 1L, 8L, Some(5500000L))),
        s"maxSingleTask=$maxSingle")
      assert(got("o") === ((10L, 1L, 8L, Some(5500000L))),
        "the 10000 outlier must not move the 10%-trimmed mean")
    }
    assert(run(neg, 200000L, Long.MaxValue)("n") ===
      ((10L, 2L, 6L, Some(-500000L))))
    assert(run(tiny, 400000L, Long.MaxValue)("t") ===
      ((2L, 0L, 2L, Some(2000000L))))
    // randomized replay vs sort-and-slice, heavy ties
    val rnd = new scala.util.Random(29)
    val rr = (0 until 777).map(_ => ("r", rnd.nextInt(30).toLong - 10))
    val t = 150000L
    val s = rr.map(_._2).sorted
    val lo = (BigInt(t) * s.size / 1000000).toInt
    val kept = s.slice(lo, s.size - lo)
    val exp = {
      val sum = kept.map(BigInt(_)).sum
      ((sum.abs * 1000000 / kept.size) * sum.signum).toLong
    }
    assert(run(rr, t, Long.MaxValue)("r") ===
      ((777L, lo.toLong, kept.size.toLong, Some(exp))))
    // everything trimmed: n=1 with 40% trim -> lo=0 keeps 1... use
    // n=2, trim 499999 ppm -> lo=0; n=4 trim 499999 -> lo=1, keep 2;
    // the genuinely-emptied case needs lo*2 >= n: n=2, lo=1 via 50%
    // is rejected by the require — so construct n=3, trim 40% -> lo=1,
    // keep 1 (never empty for trim<50%: kept = n-2*lo >= 1). Assert
    // the invariant instead of an unreachable null:
    assert(run(Seq(("k", 9L), ("k", 1L), ("k", 5L)), 400000L,
      Long.MaxValue)("k") === ((3L, 1L, 1L, Some(5000000L))))
    intercept[IllegalArgumentException] {
      graft.ext.Stats.trimmedMean(Seq(("g", 1L)).toDF("g", "x"), "g",
        col("x"), trimPpm = 500000L)
    }
  }
}
