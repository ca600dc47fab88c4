package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Graph, Index, Sketches, TextStats}
import graft.streaming.EventsOps

/** Round-5 operators: SCD2 history build, duplicated-window dedup,
  * hashing-trick logit scorer, integer-exact PageRank, at-rest postings.
  */
class Round5Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------
  // EventsOps.scd2
  // ------------------------------------------------------------------

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("scd2: change detection, interval chaining, current flag") {
    val ev = Seq(
      (1L, 10L, "a", ts(100)), (2L, 10L, "a", ts(200)),
      (3L, 10L, "b", ts(300)), (4L, 10L, "a", ts(400)),
      (5L, 20L, "x", ts(150))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsOps.scd2(ev).orderBy("user_id", "version").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(4))).toSeq ===
      Seq((10L, "a", 1L), (10L, "b", 2L), (10L, "a", 3L), (20L, "x", 1L)))
    // intervals chain: each valid_to equals the next valid_from
    val u10 = out.filter(_.getLong(0) == 10L)
    assert(u10(0).getTimestamp(3) === u10(1).getTimestamp(2))
    assert(u10(1).getTimestamp(3) === u10(2).getTimestamp(2))
    // exactly one open (current) interval per user, and it is the last
    assert(out.filter(_.getBoolean(5)).map(_.getLong(0)).toSeq ===
      Seq(10L, 20L))
    assert(u10(2).isNullAt(3) && u10(2).getBoolean(5))
  }

  test("scd2 + asofJoin: point-in-time lookup sees the state AT the instant") {
    // state changes at t=100 (a) and t=300 (b); lookups at 100, 200,
    // 300, 400 must see a, a, b, b — the change at the lookup's own
    // instant is visible (right-before-left tie ordering)
    val dimEv = Seq((1L, 10L, "a", ts(100)), (2L, 10L, "b", ts(300)))
      .toDF("event_id", "user_id", "attr", "ts")
    val dim = EventsOps.scd2(dimEv, "attr")
    val facts = Seq((11L, 10L, ts(100)), (12L, 10L, ts(200)),
      (13L, 10L, ts(300)), (14L, 10L, ts(400)))
      .toDF("event_id", "user_id", "ts")
    val out = EventsOps
      .asofJoin(facts, dim, "user_id", "ts", "valid_from", "attr")
      .orderBy("event_id").collect()
    assert(out.map(_.getAs[String]("asof_attr")).toSeq ===
      Seq("a", "a", "b", "b"))
  }

  test("scd2: equal timestamps break on event_id") {
    val ev = Seq(
      (2L, 1L, "b", ts(100)), (1L, 1L, "a", ts(100)),
      (3L, 1L, "c", ts(200))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsOps.scd2(ev).orderBy("version").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("a", "b", "c"))
  }

  // ------------------------------------------------------------------
  // Dedup.dupWindowStats
  // ------------------------------------------------------------------

  test("dupWindowStats: cross-doc windows flagged, within-doc repeats not") {
    val docs = Seq(
      // docs 1 and 2 share the window "a b c"; doc 3 repeats its own
      // window twice ("p q r p q r p q" has no cross-doc match)
      (1L, "a b c x y"), (2L, "z a b c w"), (3L, "p q r p q r p q")
    ).toDF("doc_id", "text")
    val out = Dedup.dupWindowStats(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    // doc1: windows {abc,bcx,cxy} → 1 dup; doc2: {zab,abc,bcw} → 1 dup
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 1L)
    assert(out(1).getLong(1) === 3L && out(1).getLong(2) === 1L)
    // doc3: 6 windows, "p q r" twice but only within itself → 0 dups
    assert(out(2).getLong(1) === 6L && out(2).getLong(2) === 0L)
    assert(out(2).getDouble(3) === 0.0)
    // truncated fraction: 1*1000000 div 3 = 333333 → 0.333333
    assert(out(0).getDouble(3) === 0.333333)
  }

  test("dupWindowStats: short docs fall back to whole-text window") {
    val docs = Seq((1L, "hi there"), (2L, "hi there"), (3L, "bye"))
      .toDF("doc_id", "text")
    val out = Dedup.dupWindowStats(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(2) === 1L && out(1).getLong(2) === 1L)
    assert(out(2).getLong(2) === 0L)
  }

  // ------------------------------------------------------------------
  // TextStats.logitScore
  // ------------------------------------------------------------------

  test("logitScore matches a per-token hand computation") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "gamma")).toDF("doc_id", "text")
    def wNum(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val b = java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1024
      (b * 37) % 201 - 100
    }
    val out = TextStats.logitScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getDouble(2) ===
      (2 * wNum("alpha") + wNum("beta")).toDouble / 128.0)
    assert(out(1).getDouble(2) === wNum("gamma").toDouble / 128.0)
    assert(out(0).getBoolean(3) === (2 * wNum("alpha") + wNum("beta") > 0))
  }

  // ------------------------------------------------------------------
  // TextStats.bpeEncode
  // ------------------------------------------------------------------

  test("bpeEncode: applies merges greedily; train-then-encode agrees") {
    // merge ("a","a"): "aaaa" → aa aa (2 tokens), "aaa" → aa a (2)
    val docs = Seq((1L, "aaaa aaa b"), (2L, "aa")).toDF("doc_id", "text")
    val enc = TextStats.bpeEncode(docs, "doc_id", "text",
      Seq(("a", "a"))).orderBy("doc_id").collect()
    assert(enc(0).getLong(1) === 3L && enc(0).getLong(2) === 5L)
    assert(enc(1).getLong(1) === 1L && enc(1).getLong(2) === 1L)
    // regex metacharacters in merges must be treated literally
    val dots = Seq((1L, "..")).toDF("doc_id", "text")
    val enc2 = TextStats.bpeEncode(dots, "doc_id", "text",
      Seq((".", "."))).collect()
    assert(enc2(0).getLong(2) === 1L)
  }

  // ------------------------------------------------------------------
  // Graph.pageRank
  // ------------------------------------------------------------------

  test("pageRank: hand-replayed recurrence on a 3-node graph") {
    // A→B(2), A→C(1), B→C(1), C→A(1)
    val edges = Seq(("A", "B", 2L), ("A", "C", 1L), ("B", "C", 1L),
      ("C", "A", 1L)).toDF("src", "dst", "w")
    val out = Graph.pageRank(edges, "src", "dst", "w", iters = 2)
      .orderBy("node").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // replay the exact integer recurrence in plain Scala
    val p = Map(("A", "B") -> (2L * 1000000L / 3L), ("A", "C") -> (1000000L / 3L),
      ("B", "C") -> 1000000L, ("C", "A") -> 1000000L)
    val n = 3L
    val base = (3L * Graph.RankScale / 20L) / n
    var r = Map("A" -> Graph.RankScale / n, "B" -> Graph.RankScale / n,
      "C" -> Graph.RankScale / n)
    for (_ <- 1 to 2) {
      val inflow = Map(
        "A" -> r("C") * p(("C", "A")) / 1000000L,
        "B" -> r("A") * p(("A", "B")) / 1000000L,
        "C" -> (r("A") * p(("A", "C")) / 1000000L +
          r("B") * p(("B", "C")) / 1000000L))
      r = r.map { case (k, _) => k -> (base + 17L * inflow(k) / 20L) }
    }
    assert(out === r)
  }

  test("pageRank: sink nodes keep base rank; mass stays bounded") {
    val edges = Seq((1L, 2L, 5L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    val out = Graph.pageRank(edges, "src", "dst", "w", iters = 4)
      .orderBy("node").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = (3L * Graph.RankScale / 20L) / 3L
    // 1 and 3 have no in-edges → exactly base after every iteration
    assert(out(1L) === base && out(3L) === base)
    assert(out.values.sum <= Graph.RankScale)
    assert(out(2L) > out(1L))
  }

  // ------------------------------------------------------------------
  // Graph.triangleCounts
  // ------------------------------------------------------------------

  test("triangleCounts: K4 minus an edge, direction/dup/self-loop noise") {
    // K4 on {1,2,3,4} without edge (3,4): triangles {1,2,3} and {1,2,4}
    // → counts 1:2 2:2 3:1 4:1. Input is directed, duplicated, and has
    // a self-loop — symmetrize/distinct must absorb all of it.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (2L, 3L), (2L, 4L), (4L, 2L), (2L, 2L))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(edges, "src", "dst")
      .orderBy("node").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangleCounts: matches naive all-triples count on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 60).map(_ => (rnd.nextInt(10).toLong,
      rnd.nextInt(10).toLong))
    val df = edges.toDF("src", "dst")
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val naive = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      Seq(a, b, c) <- nodes.combinations(3)
      if und((a, b)) && und((a, c)) && und((b, c))
      n <- Seq(a, b, c)
    } naive(n) += 1
    val got = Graph.triangleCounts(df, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naive.toMap)
  }

  // ------------------------------------------------------------------
  // Sampling.mixOrder
  // ------------------------------------------------------------------

  test("mixOrder: closed-form rank equals the sort-based definition") {
    val rows = (1L to 40L).map(i => (i, s"s${i % 3}"))
    val df = rows.toDF("doc_id", "source")
    val weights = Seq("s0" -> 3L, "s1" -> 2L, "s2" -> 1L)
    val out = graft.ext.Sampling.mixOrder(df, "doc_id", "source", weights)
      .collect()
    // independent replay: k = pos * (LCM/w), order by (k, listing idx)
    val lcm = 6L
    val m = weights.map { case (s, w) => s -> lcm / w }.toMap
    val oi = weights.map(_._1).zipWithIndex.toMap
    def h(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (s, ds) =>
      ds.sortBy(d => (h(d._1), d._1)).zipWithIndex.map { case (d, i) =>
        (d._1, s, i + 1L, (i + 1L) * m(s), oi(s))
      }
    }.sortBy(t => (t._4, t._5)).zipWithIndex
      .map { case ((id, s, pos, _, _), g) => (id, s, pos, g + 1L) }.toSet
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSet === expected)
    // a valid permutation: ranks are exactly 1..N
    assert(out.map(_.getLong(3)).sorted.toSeq === (1L to 40L).toSeq)
  }

  test("epochMixOrder: small sources cycle; ratios hold; matches sort replay") {
    // source b has only 2 docs but weight 1 vs a's 2 — for 60 slots b
    // must contribute 20 instances = 10 full epochs of cycling
    val rows = (1L to 40L).map(i => (i, "a")) ++ Seq((100L, "b"), (101L, "b"))
    val df = rows.toDF("doc_id", "source")
    val weights = Seq("a" -> 2L, "b" -> 1L)
    val out = graft.ext.Sampling
      .epochMixOrder(df, "doc_id", "source", weights, total = 60L)
      .orderBy("global_pos").collect()
    assert(out.map(_.getLong(0)).toSeq === (1L to 60L).toSeq)
    for (k <- 1 to 20) {
      val prefix = out.take(3 * k)
      assert(prefix.count(_.getString(1) == "a") === 2 * k, s"prefix ${3 * k}")
    }
    // b's 20 instances cycle its 2 docs through 10 epochs
    val b = out.filter(_.getString(1) == "b")
    assert(b.length === 20 && b.map(_.getLong(3)).max === 9L)
    // brute-force replay: merge the cyclic timelines, sort by (k, oi)
    def h(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8"))
        .map(x => f"${x & 0xff}%02x").mkString
    }
    val m = Map("a" -> 1L, "b" -> 2L) // LCM(2,1)=2 → m = 1, 2
    val oi = Map("a" -> 0, "b" -> 1)
    val brute = rows.groupBy(_._2).toSeq.flatMap { case (s, ds) =>
      val ordered = ds.sortBy(d => (h(d._1), d._1))
      for (e <- 0L until 40L; (d, i) <- ordered.zipWithIndex) yield {
        val pos = e * ordered.size + i + 1
        (pos * m(s), oi(s), d._1, s, e, pos)
      }
    }.sortBy(t => (t._1, t._2)).take(60).zipWithIndex
      .map { case ((_, _, id, s, e, pos), g) => (g + 1L, s, id, e, pos) }
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq === brute)
  }

  test("mixOrder: weight ratios hold in every aligned prefix") {
    val rows = (1L to 60L).map(i => (i, if (i <= 40) "a" else "b"))
    val df = rows.toDF("doc_id", "source")
    val out = graft.ext.Sampling
      .mixOrder(df, "doc_id", "source", Seq("a" -> 2L, "b" -> 1L))
      .orderBy("global_pos").collect()
    // every prefix of length 3k holds exactly 2k from a, k from b
    for (k <- 1 to 20) {
      val prefix = out.take(3 * k)
      assert(prefix.count(_.getString(1) == "a") === 2 * k,
        s"prefix ${3 * k}")
    }
  }

  // ------------------------------------------------------------------
  // Index: at-rest postings
  // ------------------------------------------------------------------

  test("postings: driver bucket matches engine bucket; lookup prunes") {
    val docs = Seq((1L, "join hash join"), (2L, "hash scan"),
      (3L, "join filter")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_postings").toString + "/idx"
    Index.writePostings(docs, "doc_id", "text", path, nBuckets = 16)
    // engine-written bucket values agree with the driver-side hash
    val onDisk = spark.read.parquet(path)
      .select("term", "bucket").distinct().collect()
    onDisk.foreach { r =>
      val b = r.get(1) match {
        case s: String => s.toLong
        case n: Number => n.longValue()
      }
      assert(b === Index.termBucket(r.getString(0), 16),
        s"bucket mismatch for term ${r.getString(0)}")
    }
    val res = Index.termLookupAtRest(spark, path, Seq("join", "hash"), k = 5)
    val p = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"no bucket PartitionFilters in:\n$p")
    val rows = res.orderBy("term", "rank").collect()
    // join: df=2, top doc 1 (tf 2); hash: df=2, top doc 1/2 (tf 1 each,
    // doc_id tiebreak)
    val join = rows.filter(_.getString(0) == "join")
    assert(join.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq((2L, 1L, 2L), (2L, 3L, 1L)))
    val hash = rows.filter(_.getString(0) == "hash")
    assert(hash.map(_.getLong(2)).toSeq === Seq(1L, 2L))
    assert(rows.forall(_.getString(0) != "scan"))
  }

  // ------------------------------------------------------------------
  // Leakage-safe split (q100 composition)
  // ------------------------------------------------------------------

  test("leakage-safe split: no near-dup pair straddles a split boundary") {
    val out = SparkEntry
      .queries("q100_leakage_safe_split")(spark, sf0001)
      .cache()
    try {
      // every cluster maps to exactly one split
      assert(out.groupBy("cluster")
        .agg(countDistinct("split").as("ns"))
        .filter(col("ns") > 1).count() === 0L)
      // and therefore no near-dup PAIR crosses splits
      val pairs = Dedup.minhashNearDups(
        graft.Tables.documents(spark, sf0001), "doc_id", "text",
        n = 3, k = 8, bands = 4, threshold = 0.5)
      val s = out.select(col("doc_id"), col("split"))
      val crossing = pairs
        .join(s.select(col("doc_id").as("id_a"), col("split").as("sa")),
          "id_a")
        .join(s.select(col("doc_id").as("id_b"), col("split").as("sb")),
          "id_b")
        .filter(col("sa") =!= col("sb")).count()
      assert(crossing === 0L)
      // all three splits are populated (rates 0.8/0.1/0.1 over 60 docs)
      assert(out.select("split").distinct().count() === 3L)
    } finally out.unpersist()
  }

  // ------------------------------------------------------------------
  // Sketches.sampleQuantiles
  // ------------------------------------------------------------------

  test("sampleQuantiles: exact when k covers the group; stable under partitioning") {
    val rows = (1L to 100L).map(i => ("g", i, i * 10L))
    val df = rows.toDF("grp", "id", "v")
    val qs = Seq("p25" -> ((1, 4)), "p50" -> ((1, 2)), "p75" -> ((3, 4)))
    val exact = Sketches.sampleQuantiles(df, "grp", "id", col("v"), 128, qs)
      .collect().head
    // k >= n → the sample is the whole group → exact rank quantiles
    assert(exact.getLong(1) === 100L && exact.getLong(2) === 100L)
    assert((exact.getLong(3), exact.getLong(4), exact.getLong(5)) ===
      ((250L, 500L, 750L)))
    // k < n: same result under 1 or 13 partitions (mergeable buffers)
    val k16a = Sketches
      .sampleQuantiles(df.repartition(13), "grp", "id", col("v"), 16, qs)
      .collect().head
    val k16b = Sketches
      .sampleQuantiles(df.coalesce(1), "grp", "id", col("v"), 16, qs)
      .collect().head
    assert(k16a.toSeq === k16b.toSeq)
    assert(k16a.getLong(2) === 16L)
    // and it is the min-k sample by (md5 coord, value), read at ceil ranks
    def h(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val sample = rows.sortBy(r => (h(r._2), r._3)).take(16)
      .map(_._3).sorted
    assert(k16a.getLong(4) === sample((16 + 1) / 2 - 1))
  }

  // ------------------------------------------------------------------
  // Index: segmented incremental maintenance
  // ------------------------------------------------------------------

  test("segmented index: append, re-ingest tombstoning, compaction") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_segidx").toString + "/idx"
    val base = Seq((1L, "join hash join"), (2L, "hash scan"))
      .toDF("doc_id", "text")
    Index.writeSegment(base, "doc_id", "text", path, seg = 0)
    // new doc arrives as its own segment — corpus segment untouched
    val seg0Files = new java.io.File(s"$path/postings/seg=0")
      .listFiles().map(_.getName).toSet
    Index.writeSegment(Seq((3L, "join filter")).toDF("doc_id", "text"),
      "doc_id", "text", path, seg = 1)
    assert(new java.io.File(s"$path/postings/seg=0")
      .listFiles().map(_.getName).toSet === seg0Files)
    val afterAppend = Index
      .termLookupSegments(spark, path, Seq("join", "hash"), k = 5)
      .orderBy("term", "rank").collect()
    assert(afterAppend.filter(_.getString(0) == "join")
      .map(_.getLong(2)).toSeq === Seq(1L, 3L))
    // re-ingest doc 1 with CHANGED text: "join" must vanish for doc 1
    // even though the probed read never sees doc 1's new terms
    Index.writeSegment(Seq((1L, "scan scan")).toDF("doc_id", "text"),
      "doc_id", "text", path, seg = 2)
    val afterReingest = Index
      .termLookupSegments(spark, path, Seq("join", "hash", "scan"), k = 5)
      .orderBy("term", "rank").collect()
    assert(afterReingest.filter(_.getString(0) == "join")
      .map(_.getLong(2)).toSeq === Seq(3L))
    assert(afterReingest.filter(_.getString(0) == "hash")
      .map(_.getLong(2)).toSeq === Seq(2L))
    val scan = afterReingest.filter(_.getString(0) == "scan")
    assert(scan.map(r => (r.getLong(2), r.getLong(3))).toSet ===
      Set((1L, 2L), (2L, 1L)))
    // bucket pruning still present in the segmented read
    val p = Index.termLookupSegments(spark, path, Seq("join"), k = 5)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"no bucket PartitionFilters in:\n$p")
    // compaction folds to seg=0 only, preserving every lookup result
    Index.compactSegments(spark, path)
    val segDirs = new java.io.File(s"$path/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(segDirs === Set("seg=0"))
    val afterCompact = Index
      .termLookupSegments(spark, path, Seq("join", "hash", "scan"), k = 5)
      .orderBy("term", "rank").collect()
    assert(afterCompact.map(_.toSeq).toSeq ===
      afterReingest.map(_.toSeq).toSeq)
  }

  // ------------------------------------------------------------------
  // Warehouse.tableDiff
  // ------------------------------------------------------------------

  test("tableDiff: added/removed/changed classification, unchanged dropped") {
    val before = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "s", "v")
    val after = Seq((1L, "a", 10), (2L, "B", 20), (4L, "d", 40))
      .toDF("k", "s", "v")
    val out = graft.etl.Warehouse.tableDiff(before, after, Seq("k"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("tableDiff: null-safe compare — null==null is unchanged") {
    val before = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("k", "s")
    val after = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "s")
    val out = graft.etl.Warehouse.tableDiff(before, after, Seq("k"))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "changed")))
  }

  test("tableDiff: key-only schemas classify presence only") {
    val before = Seq(Tuple1(1L), Tuple1(2L)).toDF("k")
    val after = Seq(Tuple1(2L), Tuple1(3L)).toDF("k")
    val out = graft.etl.Warehouse.tableDiff(before, after, Seq("k"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "removed"), (3L, "added")))
  }

  // ------------------------------------------------------------------
  // EventsOps.gapFill
  // ------------------------------------------------------------------

  test("gapFill: zero rows for empty buckets, per-key spans") {
    val ev = Seq(
      ("a", ts(0)), ("a", ts(30)), ("a", ts(7200)),      // gap at hour 1
      ("b", ts(3600))                                    // single bucket
    ).toDF("k", "ts")
    val out = EventsOps.gapFill(ev, "k", widthSec = 3600L)
      .orderBy("k", "bucket").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
      === Seq(("a", 0L, 2L), ("a", 1L, 0L), ("a", 2L, 1L), ("b", 1L, 1L)))
    // bucket_start is the bucket's epoch instant
    assert(out(1).getTimestamp(2) === ts(3600))
  }

  // ------------------------------------------------------------------
  // Stats.pearsonByGroup
  // ------------------------------------------------------------------

  test("pearson: exact positive/negative/degenerate groups") {
    val df = Seq(
      ("up", 1, 10), ("up", 2, 20), ("up", 3, 30),       // r = 1
      ("dn", 1, 30), ("dn", 2, 20), ("dn", 3, 10),       // r = -1
      ("flat", 1, 5), ("flat", 2, 5), ("flat", 3, 5)     // zero var → null
    ).toDF("g", "x", "y")
    val out = graft.ext.Stats
      .pearsonByGroup(df, "g", col("x"), col("y"))
      .orderBy("g").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("dn", "flat", "up"))
    // floor-truncated to 6 dp: FP noise may land one truncation ulp low
    assert(math.abs(out(0).getDouble(2) - -1.0) <= 1e-6)
    assert(out(1).isNullAt(2))
    assert(math.abs(out(2).getDouble(2) - 1.0) <= 1e-6)
  }

  test("pearson: accumulation-order independence (repartition invariant)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      ("g", rnd.nextInt(1000), rnd.nextInt(1000)))
    val df = rows.toDF("g", "x", "y")
    val r1 = graft.ext.Stats
      .pearsonByGroup(df.repartition(1), "g", col("x"), col("y"))
      .collect()(0).getDouble(2)
    val r17 = graft.ext.Stats
      .pearsonByGroup(df.repartition(17), "g", col("x"), col("y"))
      .collect()(0).getDouble(2)
    assert(r1 === r17)
  }

  // ------------------------------------------------------------------
  // Dedup.editDistanceJoin
  // ------------------------------------------------------------------

  test("editDistanceJoin: equals brute force at d=2 (ins/del/sub, mixed lengths)") {
    // 2-letter alphabet, lengths 4-8: dense pair space exercises every
    // edit kind, length-crossing pairs, and sub-(d+1)-length segments
    val rnd = new scala.util.Random(11)
    val strs = (1L to 120L).map(i => (i,
      (0 until (4 + rnd.nextInt(5))).map(_ => "ab"(rnd.nextInt(2))).mkString))
    val df = strs.toDF("id", "s")
    val got = Dedup.editDistanceJoin(df, "id", "s", d = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.s"), col("b.s")))
      .filter(col("dist") <= 2)
      .select(col("a.id"), col("b.id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty && got === brute)
  }

  test("editDistanceJoin: distance values are exact, d=1 misses d=2 pairs") {
    val df = Seq((1L, "kitten"), (2L, "sitten"), (3L, "sittin"),
      (4L, "sitting"), (5L, "kitten")).toDF("id", "s")
    val d1 = Dedup.editDistanceJoin(df, "id", "s", d = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(d1 === Set((1L, 2L, 1), (2L, 3L, 1), (3L, 4L, 1), (1L, 5L, 0),
      (2L, 5L, 1)))
    val d2 = Dedup.editDistanceJoin(df, "id", "s", d = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(d2.contains((1L, 3L, 2)) && d2.contains((2L, 4L, 2)))
  }

  test("editDistanceJoin: constant-prefix corpus stays exact (rare-gram path)") {
    // every string shares a long constant prefix — the case that
    // degenerates fixed-position segment blocking; rare-gram prefixes
    // must still find exactly the brute-force pairs
    val rnd = new scala.util.Random(17)
    val strs = (1L to 150L).map(i =>
      (i, "Customer#" + (100000 + rnd.nextInt(900)).toString))
    val df = strs.toDF("id", "s")
    val got = Dedup.editDistanceJoin(df, "id", "s", d = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.s"), col("b.s")))
      .filter(col("dist") <= 2)
      .select(col("a.id"), col("b.id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty && got === brute)
  }

  test("editDistanceJoin: long/short paths cooperate across the length cut") {
    // minLen = q(d+1) = 6 at d=1: "abcde" (5, short) vs "abcdex" (6,
    // long) is a cross-path pair and must still be found
    val df = Seq((1L, "abcde"), (2L, "abcdex"), (3L, "abcdefgh"),
      (4L, "abcdefghx")).toDF("id", "s")
    val got = Dedup.editDistanceJoin(df, "id", "s", d = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 1), (3L, 4L, 1)))
  }

  // ------------------------------------------------------------------
  // TextStats.bigramLmScore
  // ------------------------------------------------------------------

  test("bigramLmScore: hand-computed smoothed probabilities") {
    // V=3 (a,b,z); c(a)=3, c(b)=3; c(a,b)=3, c(b,a)=1
    // p(a,b)=4/6 -> 666666666; p(b,a)=2/6 -> 333333333
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "z"))
      .toDF("doc_id", "text")
    val out = TextStats.bigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc1: (2*666666666 + 333333333) div 3 = 555555555
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 555555555L)
    assert(out(1).getLong(1) === 1L && out(1).getLong(2) === 666666666L)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2))
  }

  // ------------------------------------------------------------------
  // Dedup.dupSpans
  // ------------------------------------------------------------------

  test("dupSpans: cross-doc spans, gram merging, clean docs zero") {
    val df = Seq(
      (1L, "XXABCDYY"),   // shares ABCD with doc 2
      (2L, "ZABCDQ"),
      (3L, "ABCDEF"),     // fully duplicated with doc 4 -> one merged span
      (4L, "ABCDEF"),
      (5L, "qqqqqqqq")    // clean
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(df, "doc_id", "text", g = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 1L, 4L), (2L, 1L, 4L),
      (3L, 1L, 6L), (4L, 1L, 6L), (5L, 0L, 0L)))
  }

  test("dupSpans: within-doc repetition alone does not flag") {
    val df = Seq((1L, "ABCDABCDABCD"), (2L, "zzzzzzzz"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSpans(df, "doc_id", "text", g = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("dupSpans: two separated spans stay separate") {
    // shared grams at p=0 and p=8 with a unique middle: gap 8 > g=4
    val df = Seq((1L, "AAAA1234BBBBxx"), (2L, "AAAA"), (3L, "BBBB"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSpans(df, "doc_id", "text", g = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 2L, 8L), (2L, 1L, 4L), (3L, 1L, 4L)))
  }

  // ------------------------------------------------------------------
  // Stats.paretoFrontier
  // ------------------------------------------------------------------

  test("paretoFrontier: equals brute-force dominance on random points") {
    val rnd = new scala.util.Random(13)
    val pts = (1L to 300L).map(i => (i, rnd.nextInt(30), rnd.nextInt(30)))
    val df = pts.toDF("id", "x", "y")
    val got = graft.ext.Stats.paretoFrontier(df, "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, bx, by) =>
        bx >= x && by >= y && (bx > x || by > y) }
    }.map(_._1).toSet
    assert(brute.nonEmpty && got === brute)
  }

  test("paretoFrontier: exact ties share the frontier, nulls excluded") {
    val df = Seq(
      (1L, Some(5), Some(5)), (2L, Some(5), Some(5)),  // tied corner
      (3L, Some(5), Some(4)),                          // dominated
      (4L, Some(6), Some(1)),                          // frontier
      (5L, None, Some(9)), (6L, Some(9), None)         // null criteria
    ).toDF("id", "x", "y")
    val got = graft.ext.Stats.paretoFrontier(df, "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L, 4L))
  }

  // ------------------------------------------------------------------
  // Quality.audit
  // ------------------------------------------------------------------

  test("quality audit: hand-counted violations per rule kind") {
    import graft.ext.Quality
    val ref = Seq(Tuple1(1L), Tuple1(2L)).toDF("rk")
    val df = Seq(
      (1L, Some(1L), "O", 10.0, "1-URGENT"),
      (2L, Some(2L), "F", -5.0, "5-LOW"),      // range violation
      (3L, None, "X", 20.0, "bad"),            // null fk, bad set, bad regex
      (3L, Some(9L), "P", 30.0, "2-HIGH"),     // dup key, fk orphan
      (3L, Some(1L), "O", 40.0, "3-MEDIUM")    // dup key again
    ).toDF("k", "fkc", "st", "price", "prio")
    val out = Quality.audit(df, Seq(
      Quality.NotNull("fkc"),
      Quality.InRange("price", lit(0.0), lit(100.0)),
      Quality.InSet("st", Seq("O", "F", "P")),
      Quality.MatchesRegex("prio", "^[1-5]-[A-Z]+$"),
      Quality.Unique(Seq("k")),
      Quality.ForeignKey("fkc", ref, "rk", "ref")))
      .orderBy("rule").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(
      ("fk(fkc->ref)", 1L), ("in_range(price)", 1L), ("in_set(st)", 1L),
      ("matches(prio)", 1L), ("not_null(fkc)", 1L), ("unique(k)", 2L)))
  }

  test("quality audit: clean table is all zeros (incl. empty-group sums)") {
    import graft.ext.Quality
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val out = Quality.audit(df, Seq(
      Quality.NotNull("v"), Quality.Unique(Seq("k")),
      Quality.ForeignKey("k", df.select("k"), "k", "self")))
      .collect().map(_.getLong(1)).toSeq
    assert(out === Seq(0L, 0L, 0L))
  }

  // ------------------------------------------------------------------
  // Stats.categoryDrift
  // ------------------------------------------------------------------

  test("categoryDrift: ppm shares, one-sided categories, zero drift") {
    val a = Seq("x", "x", "x", "y").map(Tuple1(_)).toDF("c")
    val b = Seq("x", "z").map(Tuple1(_)).toDF("c")
    val out = graft.ext.Stats.categoryDrift(a, b, "c")
      .orderBy("c").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // x: 750000 vs 500000; y: 250000 vs 0; z: 0 vs 500000
    assert(out === Seq(("x", 3L, 1L, 250000L), ("y", 1L, 0L, 250000L),
      ("z", 0L, 1L, 500000L)))
    val same = graft.ext.Stats.categoryDrift(a, a, "c")
      .collect().map(_.getLong(3)).toSeq
    assert(same === Seq(0L, 0L))
  }

  // ------------------------------------------------------------------
  // EventsOps.anomalies
  // ------------------------------------------------------------------

  test("anomalies: spike flags after warmup, window excludes self") {
    // 20 warmup events at 10.00, then one at 10.01 (flat window ->
    // any deviation flags), then one back at 10.00 (window now holds
    // the 10.01, variance > 0, dx small -> must NOT flag at k=3)
    val rows = (1 to 20).map(i => (i.toLong, ts(i), "a", 10.00)) ++
      Seq((21L, ts(21), "a", 10.01), (22L, ts(22), "a", 10.00))
    val df = rows.toDF("event_id", "ts", "event_type", "value")
    val out = EventsOps.anomalies(df, "event_type", n = 20, k = 3)
      .collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(21L))
    // dx = 20*1001 - 20*1000 = 20 -> dev2 400; flat window -> bound2 0
    assert(out(0).getLong(3) === 400L && out(0).getLong(4) === 0L)
  }

  test("anomalies: warmup rows never flag; keys are independent") {
    // key "b" has only 5 events with a wild jump — below n, no flags
    val rows = (1 to 20).map(i => (i.toLong, ts(i), "a", 10.00)) ++
      (1 to 5).map(i => (100L + i, ts(i), "b", if (i == 5) 999.0 else 1.0))
    val df = rows.toDF("event_id", "ts", "event_type", "value")
    val out = EventsOps.anomalies(df, "event_type", n = 20, k = 3)
      .collect()
    assert(out.isEmpty)
  }

  // ------------------------------------------------------------------
  // Stats.weightedMedianByGroup
  // ------------------------------------------------------------------

  test("weightedMedian: hand-checked, outlier-immune, tie-deterministic") {
    val df = Seq(
      // g1: values 1(w5), 2(w1), 100(w1): half of 7 is 3.5 -> median 1
      ("g1", 1L, 5L), ("g1", 2L, 1L), ("g1", 100L, 1L),
      // g2: 10(w1), 20(w1): cum at 10 is 1, 2*1 >= 2 -> lower median 10
      ("g2", 10L, 1L), ("g2", 20L, 1L),
      // g3: duplicate values combine: 7(w1),7(w1),9(w1) -> median 7
      ("g3", 7L, 1L), ("g3", 7L, 1L), ("g3", 9L, 1L)
    ).toDF("g", "v", "w")
    val out = graft.ext.Stats
      .weightedMedianByGroup(df, "g", col("v"), col("w"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(("g1", 1L, 7L), ("g2", 10L, 2L), ("g3", 7L, 3L)))
  }

  // ------------------------------------------------------------------
  // Index.phraseMatches
  // ------------------------------------------------------------------

  test("phraseMatches: exact sequences only, counts, repeated words") {
    val df = Seq(
      (1L, "x a b c y a b c"),     // "a b c" twice
      (2L, "a c b"),               // words present, order wrong -> 0
      (3L, "a b"),                 // prefix only -> 0
      (4L, "q a b a z")            // repeated-word phrase target
    ).toDF("doc_id", "text")
    val abc = Index.phraseMatches(df, "doc_id", "text", Seq("a", "b", "c"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(abc === Seq((1L, 2L)))
    val aba = Index.phraseMatches(df, "doc_id", "text", Seq("a", "b", "a"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(aba === Seq((4L, 1L)))
  }

  test("phraseMatches: overlapping occurrences all count") {
    val df = Seq((1L, "a a a a")).toDF("doc_id", "text")
    val out = Index.phraseMatches(df, "doc_id", "text", Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 3L)))
  }

  test("phraseAtRest: agrees with in-memory, probe prunes to term buckets") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ppos").toString + "/postings"
    val df = Seq(
      (1L, "x a b c y a b c"), (2L, "a c b"), (3L, "a b"),
      (4L, "c c a b c")
    ).toDF("doc_id", "text")
    Index.writePositionalPostings(df, "doc_id", "text", path)
    val atRest = Index.phraseAtRest(spark, path, Seq("a", "b", "c"))
    val got = atRest.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val mem = Index.phraseMatches(df, "doc_id", "text", Seq("a", "b", "c"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 2L), (4L, 1L)) && got === mem)
    val p = atRest.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"no bucket PartitionFilters in:\n$p")
  }

  // ------------------------------------------------------------------
  // Dedup.cdcDupStats
  // ------------------------------------------------------------------

  test("cdc: shifted copies still share chunks (content-defined cuts)") {
    val rnd = new scala.util.Random(29)
    val shared = (1 to 200).map(_ => "abcdefgh"(rnd.nextInt(8))).mkString
    val df = Seq(
      (1L, shared),
      (2L, "PREFIX-SHIFTS-EVERY-OFFSET-" + shared),  // same content, moved
      (3L, (1 to 200).map(_ => "stuvwxyz"(rnd.nextInt(8))).mkString)
    ).toDF("doc_id", "text")
    val out = Dedup.cdcDupStats(df, "doc_id", "text",
      w = 8, boundaryHexMax = "3f")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // interior chunks of the shared region are identical on both docs
    // despite the offset shift; the unique doc shares nothing
    assert(out(0)._4 > 0 && out(1)._4 > 0, s"no shared chunks: ${out.toSeq}")
    assert(out(2)._3 === 0L && out(2)._4 === 0L)
    // fixed-size blocks at any width would find NO aligned duplicates
    // for doc 2 (every offset moved) — content cuts are the point
  }

  test("cdc: short docs fall back to one whole-doc chunk") {
    val df = Seq((1L, "tiny"), (2L, "tiny"), (3L, "y")).toDF("doc_id", "text")
    val out = Dedup.cdcDupStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 1L, 1L, 4L), (2L, 1L, 1L, 4L),
      (3L, 1L, 0L, 0L)))
  }

  // ------------------------------------------------------------------
  // EventsOps.topPaths / Stats.modeByGroup
  // ------------------------------------------------------------------

  test("topPaths: paths stay within user streams, counts and ties exact") {
    val ev = Seq(
      (1L, 1L, "a", ts(10)), (2L, 1L, "b", ts(20)), (3L, 1L, "c", ts(30)),
      (4L, 1L, "b", ts(40)), (5L, 1L, "c", ts(50)),
      (6L, 2L, "b", ts(10)), (7L, 2L, "c", ts(20)),  // no 3-path alone
      (8L, 2L, "a", ts(30))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsOps.topPaths(ev, steps = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // pairs: u1 a>b b>c c>b b>c; u2 b>c c>a -> b>c x3, then a>b, c>a, c>b
    assert(out === Seq(("b>c", 3L), ("a>b", 1L), ("c>a", 1L)))
    val out3 = EventsOps.topPaths(ev, steps = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out3.contains(("a>b>c", 1L)) && out3.contains(("b>c>a", 1L)) &&
      !out3.exists(_._1.startsWith("c>b>?")))
  }

  test("modeByGroup: highest count wins, ties break on value") {
    val df = Seq(("g", "x"), ("g", "x"), ("g", "y"),
      ("h", "b"), ("h", "a")).toDF("g", "v")
    val out = graft.ext.Stats.modeByGroup(df, "g", col("v"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out === Seq(("g", "x", 2L), ("h", "a", 1L)))
  }

  // ------------------------------------------------------------------
  // Graph.kcore
  // ------------------------------------------------------------------

  test("kcore: chain peels end-first, triangle survives k=2") {
    // triangle 1-2-3 with a tail 3-4-5-6; self loop + duplicate +
    // reversed edges must not change anything
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (2L, 1L), (4L, 4L)).toDF("src", "dst")
    val out = Graph.kcore(e, "src", "dst", k = 2, rounds = 8)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // rounds semantics: one peel removes only the chain's far end; the
    // reported degree is measured WITHIN the survivor set (5 drops to 1)
    val one = Graph.kcore(e, "src", "dst", k = 2, rounds = 1)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(one === Seq((1L, 2L), (2L, 2L), (3L, 3L), (4L, 2L), (5L, 1L)))
  }

  test("kcore: k above the max degree empties the graph") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(Graph.kcore(e, "src", "dst", k = 3, rounds = 4).count() === 0L)
  }

  // ------------------------------------------------------------------
  // Layout.zoneWrite / zoneRead
  // ------------------------------------------------------------------

  test("zone map: file-level pruning, exact results, empty range") {
    val dir = java.nio.file.Files.createTempDirectory("zones").toString
    val path = s"$dir/t"
    val df = (1L to 400L).map(i => (i, i * 10L)).toDF("id", "x")
    graft.ext.Layout.zoneWrite(df, "x", 8, path)
    val all = graft.ext.Layout.zoneFiles(spark, path,
      lit(Long.MinValue), lit(Long.MaxValue))
    assert(all.size === 8)
    // a narrow range must touch strictly fewer files than exist
    val some = graft.ext.Layout.zoneFiles(spark, path, lit(1000L), lit(1400L))
    assert(some.nonEmpty && some.size < all.size)
    val got = graft.ext.Layout.zoneRead(spark, path, "x",
      lit(1000L), lit(1400L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === (100L to 140L).map(i => (i, i * 10L)))
    // a range outside every zone reads nothing but keeps the schema
    val none = graft.ext.Layout.zoneRead(spark, path, "x",
      lit(-5L), lit(-1L))
    assert(none.count() === 0L && none.columns.toSeq === Seq("id", "x"))
  }

  test("zone append + compact: delta-sized stats, selective rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("zones2").toString
    val path = s"$dir/t"
    // base: 1..400 scaled by 10 → 8 zones of ~500-wide ranges
    graft.ext.Layout.zoneWrite(
      (1L to 400L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 8, path)
    val base = graft.ext.Layout.zoneFiles(spark, path,
      lit(Long.MinValue), lit(Long.MaxValue))
    // append values that overlap ONLY the top of the range
    graft.ext.Layout.zoneAppend(
      (401L to 420L).map(i => (i, 3901L + (i - 401L) * 10L))
        .toDF("id", "x"), "x", 1, path)
    val afterAppend = graft.ext.Layout.zoneFiles(spark, path,
      lit(Long.MinValue), lit(Long.MaxValue))
    assert(afterAppend.size === base.size + 1)
    assert(base.forall(afterAppend.contains)) // append rewrote nothing
    // reads stay exact while zones overlap
    val got = graft.ext.Layout.zoneRead(spark, path, "x",
      lit(3900L), lit(3990L))
      .orderBy("x").select("x").collect().map(_.getLong(0)).toSeq
    assert(got === ((390L to 399L).map(_ * 10L) ++
      (0L to 8L).map(3901L + _ * 10L)).sorted)
    // compact: only the overlapping tail is rewritten
    graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 100L)
    val afterCompact = graft.ext.Layout.zoneFiles(spark, path,
      lit(Long.MinValue), lit(Long.MaxValue))
    val untouched = base.filter(afterCompact.contains)
    assert(untouched.nonEmpty, "compaction rewrote non-overlapping files")
    assert(!afterCompact.contains(afterAppend.diff(base).head),
      "appended overlap file survived compaction")
    // zones are now pairwise disjoint and reads still exact
    val zones = spark.read.parquet(path + ".zones")
      .select("mn", "mx").collect().map(r => (r.getLong(0), r.getLong(1)))
    zones.foreach { a => zones.foreach { b =>
      if (a != b) assert(a._2 < b._1 || a._1 > b._2,
        s"zones still overlap after compact: $a $b") } }
    val got2 = graft.ext.Layout.zoneRead(spark, path, "x",
      lit(3900L), lit(3990L))
      .orderBy("x").select("x").collect().map(_.getLong(0)).toSeq
    assert(got2 === got)
    // full-table read loses and duplicates nothing
    assert(graft.ext.Layout.zoneRead(spark, path, "x",
      lit(Long.MinValue), lit(Long.MaxValue)).count() === 420L)
  }

  test("zone compact: several disjoint overlap components, concurrent rewrite") {
    // Three appends at distant value regions create (at least) three
    // INDEPENDENT overlap components — the shape the round-8 concurrent
    // per-component rewrite exists for. Pins: every appended overlap
    // file is rewritten, untouched base files survive, zones end
    // pairwise disjoint, no rewritten file spans the inter-cluster
    // gaps (components must not bleed into each other), the data reads
    // back exactly, and a second compact is a no-op (convergence).
    val dir = java.nio.file.Files.createTempDirectory("zones3").toString
    val path = s"$dir/t"
    // base regions are written PER REGION (one zoneWrite + two
    // zoneAppends, 2 files each), so every base file is confined to
    // its region BY CONSTRUCTION — asserting gap containment against
    // zoneWrite's sampled range bounds would be environment-sensitive
    // (the sample depends on input slicing, hence on core count)
    def region(lo: Long): Seq[(Long, Long)] =
      (0L until 200L).map(i => (lo + i, lo * 10L + i * 10L))
    graft.ext.Layout.zoneWrite(
      region(0L).toDF("id", "x"), "x", 2, path)            // x 0..1990
    graft.ext.Layout.zoneAppend(
      region(1000L).toDF("id", "x"), "x", 2, path)         // x 10000..11990
    graft.ext.Layout.zoneAppend(
      region(2000L).toDF("id", "x"), "x", 2, path)         // x 20000..21990
    val base = graft.ext.Layout.zoneFiles(spark, path,
      lit(Long.MinValue), lit(Long.MaxValue))
    // one overlapping append INSIDE each region -> three independent
    // overlap components
    def app(ids: Range, x0: Long): Unit = graft.ext.Layout.zoneAppend(
      ids.map(i => (i.toLong, x0 + (i - ids.head) * 2L)).toDF("id", "x"),
      "x", 1, path)
    app(9001 to 9010, 505L)    // low region
    app(9101 to 9110, 10505L)  // middle region
    app(9201 to 9210, 20505L)  // high region
    val pre = spark.read.parquet(path + ".zones")
      .select("file", "mn", "mx").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def overlapsSome(z: (String, Long, Long)) =
      pre.exists(o => o._1 != z._1 && !(o._3 < z._2 || o._2 > z._3))
    val ov = pre.filter(overlapsSome)
    // overlaps exist in (at least) the low and high regions => the
    // compact below must handle >= 2 independent components; nothing
    // spans the inter-region gaps (guaranteed by construction)
    assert(ov.exists(_._3 < 2000L) && ov.exists(_._2 >= 20000L),
      s"expected overlap components in distant regions, got ${ov.toSeq}")
    assert(!pre.exists(z => z._2 < 2000L && z._3 >= 10000L) &&
      !pre.exists(z => z._2 < 12000L && z._3 >= 20000L))
    graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 200L)
    val post = spark.read.parquet(path + ".zones")
      .select("file", "mn", "mx").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val postFiles = post.map(_._1).toSeq
    ov.foreach(z => assert(!postFiles.contains(z._1),
      s"overlapping file ${z._1} survived compaction"))
    assert(base.exists(postFiles.contains),
      "compaction rewrote non-overlapping base files")
    post.foreach { a => post.foreach { b =>
      if (a._1 != b._1) assert(a._3 < b._2 || a._2 > b._3,
        s"zones still overlap after compact: $a $b") } }
    // rewritten files stay inside their component's region
    assert(!post.exists(z => z._2 < 2000L && z._3 >= 10000L) &&
      !post.exists(z => z._2 < 12000L && z._3 >= 20000L),
      "a rewritten file spans an inter-component gap")
    // data intact: 600 base + 30 appended rows, values exact mid-region
    assert(graft.ext.Layout.zoneRead(spark, path, "x",
      lit(Long.MinValue), lit(Long.MaxValue)).count() === 630L)
    val mid = graft.ext.Layout.zoneRead(spark, path, "x",
      lit(10500L), lit(10530L))
      .select("x").collect().map(_.getLong(0)).sorted.toSeq
    assert(mid === ((1050L to 1053L).map(_ * 10L) ++
      (0 until 10).map(10505L + _ * 2L)).sorted)
    // convergence: a second compact finds no overlaps and changes nothing
    graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 200L)
    val post2 = spark.read.parquet(path + ".zones")
      .select("file", "mn", "mx").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(post2.sortBy(_._1).toSeq === post.sortBy(_._1).toSeq,
      "second compact was not a no-op")
  }

  test("zone compact: a failed component leaves the pre-compact sidecar intact") {
    // Fault injection: delete one component's data file out from under
    // the sidecar so that component's rewrite job fails. zoneCompact
    // must (a) throw — only after awaiting every sibling rewrite — and
    // (b) leave the sidecar EXACTLY as it was (the new sidecar commits
    // only when all components succeed), so every intact region still
    // reads exactly. Sibling components may have promoted orphan part
    // files — harmless by design (reads are sidecar-driven).
    val dir = java.nio.file.Files.createTempDirectory("zones4").toString
    val path = s"$dir/t"
    def region(lo: Long): Seq[(Long, Long)] =
      (0L until 200L).map(i => (lo + i, lo * 10L + i * 10L))
    graft.ext.Layout.zoneWrite(
      region(0L).toDF("id", "x"), "x", 2, path)            // x 0..1990
    graft.ext.Layout.zoneAppend(
      region(1000L).toDF("id", "x"), "x", 2, path)         // x 10000..11990
    def app(ids: Range, x0: Long): Unit = graft.ext.Layout.zoneAppend(
      ids.map(i => (i.toLong, x0 + (i - ids.head) * 2L)).toDF("id", "x"),
      "x", 1, path)
    app(9001 to 9010, 505L)    // component in the low region
    app(9101 to 9110, 10505L)  // component in the high region
    val pre = spark.read.parquet(path + ".zones")
      .select("file", "mn", "mx", "rows").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // kill the high-region overlap file (mn == 10505)
    val victim = pre.find(_._2 == 10505L).get._1
    val vp = new org.apache.hadoop.fs.Path(new java.net.URI(victim))
    assert(vp.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(vp, false))
    assertThrows[Exception] {
      graft.ext.Layout.zoneCompact(spark, path, "x", rowsPerFile = 200L)
    }
    val post = spark.read.parquet(path + ".zones")
      .select("file", "mn", "mx", "rows").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(post.sortBy(_._1).toSeq === pre.sortBy(_._1).toSeq,
      "failed compact mutated the sidecar")
    // intact low region still reads exactly (base + appended values)
    val low = graft.ext.Layout.zoneRead(spark, path, "x",
      lit(500L), lit(530L))
      .select("x").collect().map(_.getLong(0)).sorted.toSeq
    assert(low === ((50L to 53L).map(_ * 10L) ++
      (0 until 10).map(505L + _ * 2L)).sorted)
  }

  // ------------------------------------------------------------------
  // Warehouse.aggState / mergeAggState
  // ------------------------------------------------------------------

  test("mergeAggState: incremental == full recompute, type closed") {
    import graft.etl.Warehouse
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0)).toDF("k", "v")
    val d1 = Seq(("a", 1.5), ("c", 100.0)).toDF("k", "v")   // new key c
    val d2 = Seq(("b", 50.0)).toDF("k", "v")                // absent keys
    val inc = Warehouse.mergeAggState(
      Warehouse.mergeAggState(Warehouse.aggState(base, Seq("k"), col("v")),
        d1, Seq("k"), col("v")),
      d2, Seq("k"), col("v"))
    val full = Warehouse.aggState(base.union(d1).union(d2), Seq("k"),
      col("v"))
    // closed under merges: same names and types (nullability aside —
    // count() is non-nullable, the merged sum("n") is nullable)
    assert(inc.schema.map(f => (f.name, f.dataType)) ===
      full.schema.map(f => (f.name, f.dataType)))
    val got = inc.orderBy("k").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue,
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got === Seq(("a", 3L, 31.5, 1.5, 20.0),
      ("b", 2L, 55.0, 5.0, 50.0), ("c", 1L, 100.0, 100.0, 100.0)))
    assert(full.orderBy("k").collect().toSeq ===
      inc.orderBy("k").collect().toSeq)
  }

  // ------------------------------------------------------------------
  // EventsOps.ewmaFinal / Quality.fdViolations
  // ------------------------------------------------------------------

  test("ewmaFinal: ordered integer fold, singletons, tie order") {
    // user 1: x cents = 100, 200, 300 (order by ts); alpha = 1/2
    // s0 = 100e6; s1 = (200e6 + 100e6) div 2 = 150e6
    // s2 = (300e6 + 150e6) div 2 = 225e6
    val ev = Seq(
      (1L, 1L, 1.0, ts(10)), (2L, 1L, 2.0, ts(20)), (3L, 1L, 3.0, ts(30)),
      (4L, 2L, 9.0, ts(10)),
      // user 3: same ts — event_id breaks the tie (5 before 6)
      (5L, 3L, 1.0, ts(10)), (6L, 3L, 3.0, ts(10))
    ).toDF("event_id", "user_id", "value", "ts")
    val out = EventsOps.ewmaFinal(ev, "user_id", aNum = 1, aDen = 2)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 3L, 225000000L), (2L, 1L, 900000000L),
      (3L, 2L, 200000000L)))
  }

  test("winsorizeByGroup: exact rank bounds, per-group clamping") {
    // group g: 1..10 → p20 lower-quantile = 2 (cum 2*5 >= 1*10),
    // p80 = 8 (cum*5 >= 4*10 first at v=8)
    val df = ((1L to 10L).map(v => ("g", v)) :+ (("h", 100L)))
      .toDF("g", "v")
    val out = graft.ext.Stats.winsorizeByGroup(df, "g", col("v"),
      1, 5, 4, 5)
      .select("g", "v", "qlo", "qhi", "clipped")
      .orderBy("g", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val gRows = out.filter(_._1 == "g")
    assert(gRows.forall(r => r._3 === 2L && r._4 === 8L))
    assert(gRows.map(_._5) === Seq(2L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 8L, 8L))
    // singleton group clips to itself
    assert(out.filter(_._1 == "h") === Seq(("h", 100L, 100L, 100L, 100L)))
  }

  test("robustOutliers: median/MAD flags the spike, not the bulk") {
    // x: nine values near 10, one at 1000 → med 10, MAD small, spike out
    val df = (Seq(8L, 9L, 9L, 10L, 10L, 10L, 11L, 11L, 12L, 1000L)
      .zipWithIndex.map { case (x, i) => (i.toLong, "m", x) })
      .toDF("id", "g", "x")
    val out = graft.ext.Stats.robustOutliers(df, "g", "id", col("x"),
      kNum = 5, kDen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out === Seq((9L, 1000L)))
    // MAD = 1 here: devs sorted are 0,0,0,1,1,1,1,2,2,990 → lower
    // median 1; 5*1 < |1000-10| flags only the spike
  }

  test("locf: in-bucket latest wins, gaps carry forward, leading gap null") {
    // key m, width 10s: bucket 10 has two events (latest value 5),
    // buckets 11-12 empty (carry 5), bucket 13 observed 9.
    val ev = Seq(
      (1L, "m", 3.0, ts(100)), (2L, "m", 5.0, ts(105)),
      (3L, "m", 9.0, ts(130))
    ).toDF("event_id", "event_type", "value", "ts")
    val out = EventsOps.locf(ev, "event_type", widthSec = 10L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getLong(4))).toSeq
    assert(out === Seq((10L, Some(500L), 500L), (11L, None, 500L),
      (12L, None, 500L), (13L, Some(900L), 900L)))
  }

  test("chiAssoc: exact contingency, direction, significance flag") {
    // cat A: 90 pos / 10 neg; cat B: 10 pos / 90 neg -> chi2 = 128 >> 3.84
    val rows = Seq.fill(90)(("A", true)) ++ Seq.fill(10)(("A", false)) ++
      Seq.fill(10)(("B", true)) ++ Seq.fill(90)(("B", false))
    val out = graft.ext.Stats.chiAssoc(rows.toDF("cat", "y"), "cat",
      col("y"), kNum = 384, kDen = 100)
      .orderBy("cat").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getBoolean(6))).toSeq
    assert(out === Seq(("A", 90L, 10L, 10L, 90L, 1, true),
      ("B", 10L, 90L, 90L, 10L, -1, true)))
    // balanced table: no association, no flag
    val bal = (Seq.fill(50)(("A", true)) ++ Seq.fill(50)(("A", false)) ++
      Seq.fill(50)(("B", true)) ++ Seq.fill(50)(("B", false)))
      .toDF("cat", "y")
    val out2 = graft.ext.Stats.chiAssoc(bal, "cat", col("y"), 384, 100)
      .collect().map(r => (r.getInt(5), r.getBoolean(6))).toSeq
    assert(out2 === Seq((0, false), (0, false)))
  }

  test("bfsHops: frontier layers, round bound, unreachable absent") {
    // path 1-2-3-4-5 plus isolated edge 8-9; source = 1, rounds = 3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    val out = Graph.bfsHops(e, "src", "dst", src, rounds = 3)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // node 5 is 4 hops away -> absent at rounds=3; 8/9 unreachable
    assert(out === Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
  }

  test("kmvJaccard: identical sets -> 1e6 ppm, disjoint -> 0") {
    val df = ((1 to 40).map(i => ("a", s"t$i")) ++
      (1 to 40).map(i => ("b", s"t$i")) ++
      (1 to 40).map(i => ("c", s"u$i"))).toDF("g", "v")
    val out = Sketches.kmvJaccard(df, "g", col("v"), k = 16)
      .orderBy("ga", "gb").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(("a", "b", 16L, 16L, 1000000L),
      ("a", "c", 16L, 0L, 0L), ("b", "c", 16L, 0L, 0L)))
  }

  test("equiDepthBounds: exact decile reads, top bound is the max") {
    val df = (1L to 100L).map(v => ("g", v)).toDF("g", "v")
    val out = graft.ext.Stats.equiDepthBounds(df, "g", col("v"), k = 10)
      .collect().head
    assert((1 to 10).map(i => out.getLong(i)) === (1 to 10).map(_ * 10L))
  }

  test("ohlc: open/close by (ts, event_id) order, ties deterministic") {
    // bucket 10: events at t=100 (v=3), t=105 (v=9), t=105 (v=5, higher
    // event_id) -> open=300, close=500 (event_id breaks the tie)
    val ev = Seq(
      (1L, "m", 3.0, ts(100)), (2L, "m", 9.0, ts(105)),
      (3L, "m", 5.0, ts(105)), (4L, "m", 7.0, ts(130))
    ).toDF("event_id", "event_type", "value", "ts")
    val out = EventsOps.ohlc(ev, "event_type", widthSec = 10L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(out === Seq((10L, 3L, 300L, 900L, 300L, 500L),
      (13L, 1L, 700L, 700L, 700L, 700L)))
  }

  test("slidingDistinct: a user spanning days counts once per window") {
    // user 1 active days 0 and 2; user 2 active day 2 only; 3-day window
    val ev = Seq(
      (1L, 1L, "m", ts(10)), (2L, 1L, "m", ts(2 * 86400 + 10)),
      (3L, 2L, "m", ts(2 * 86400 + 20))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsOps.slidingDistinct(ev, "event_type", windowDays = 3)
      .orderBy("day").collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSeq
    // day0: {1}; day1: {1}; day2: {1(both days, once), 2}
    assert(out === Seq((0L, 1L), (1L, 1L), (2L, 2L)))
  }

  test("labelPropagation: two cliques joined by a bridge separate") {
    // triangle {1,2,3} + triangle {5,6,7} + bridge 3-5
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L), (6L, 7L),
      (5L, 7L), (3L, 5L)).toDF("src", "dst")
    val out = Graph.labelPropagation(e, "src", "dst", rounds = 4)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // each clique converges to its min label; the bridge endpoints
    // stay with their own clique (2 in-clique neighbors beat 1)
    val byNode = out.toMap
    assert(Set(1L, 2L, 3L).map(byNode).size === 1)
    assert(Set(5L, 6L, 7L).map(byNode).size === 1)
    assert(byNode(1L) !== byNode(7L))
  }

  test("profile: nulls, exact distinct, native min/max as strings") {
    val df = Seq((1L, Some("b")), (2L, None), (3L, Some("a")),
      (3L, Some("a"))).toDF("id", "s")
    val out = graft.ext.Quality.profile(df, Seq("id", "s"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSeq
    assert(out === Seq(("id", 0L, 3L, "1", "3"), ("s", 1L, 2L, "a", "b")))
  }

  test("timeWeightedAvg: duration weighting, last reading excluded") {
    // v=10 held 30s, v=20 held 10s -> twa = (1000*30+2000*10)/40 = 1250
    val ev = Seq(
      (1L, "m", 10.0, ts(100)), (2L, "m", 20.0, ts(130)),
      (3L, "m", 99.0, ts(140)) // last: no duration, excluded
    ).toDF("event_id", "event_type", "value", "ts")
    val out = EventsOps.timeWeightedAvg(ev, "event_type").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === Seq((2L, 40L, 1250L)))
    // single-event key: no output row
    val one = Seq((1L, "x", 5.0, ts(0)))
      .toDF("event_id", "event_type", "value", "ts")
    assert(EventsOps.timeWeightedAvg(one, "event_type").count() === 0L)
  }

  test("trendByGroup: exact slope, zero-variance x -> null") {
    // y = 3x + 7 over x = 0, 10, 20 -> slope 3.0
    val df = Seq(("g", 0L, 7L), ("g", 10L, 37L), ("g", 20L, 67L),
      ("z", 5L, 1L), ("z", 5L, 9L)).toDF("g", "x", "y")
    val out = graft.ext.Stats.trendByGroup(df, "g", col("x"), col("y"))
      .orderBy("g").collect()
    assert(out(0).getDouble(2) === 3.0)
    assert(out(1).isNullAt(2)) // x has no spread
  }

  test("expirePartitions: drops only below-cutoff dirs, metadata-only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    Seq((1L, "2019"), (2L, "2020"), (3L, "2021"), (4L, "2022"))
      .toDF("id", "anio").write.partitionBy("anio")
      .parquet(s"$dir/t")
    // fingerprint surviving partition files before expiry
    def files(p: String) = {
      val d = new java.io.File(s"$dir/t/anio=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
    }
    val before = files("2021")
    val gone = graft.etl.Warehouse.expirePartitions(spark, dir, "t",
      "anio", cutoff = "2021")
    assert(gone === Seq("2019", "2020"))
    // survivors byte-untouched; reads see only the retained rows
    assert(files("2021") === before)
    val left = spark.read.parquet(s"$dir/t")
      .select("id").as[Long].collect().sorted.toSeq
    assert(left === Seq(3L, 4L))
    // idempotent: nothing left to expire
    assert(graft.etl.Warehouse.expirePartitions(spark, dir, "t",
      "anio", "2021") === Nil)
  }

  test("concurrency: sweep-line step function, exclusive end") {
    // [0,10) [5,15) [10,20): at t=10 the first closes as the third
    // opens -> still 2 active (exclusive end nets the deltas)
    val df = Seq(("g", 0L, 10L), ("g", 5L, 15L), ("g", 10L, 20L))
      .toDF("g", "st", "en")
    val out = graft.ext.Stats.concurrency(df, "g", col("st"), col("en"))
      .orderBy("t").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((0L, 1L), (5L, 2L), (10L, 2L), (15L, 1L),
      (20L, 0L)))
  }

  test("trending: adjacent-bucket lift only, min support, tie order") {
    // item a: 2 -> 6 adjacent (lift 3e6); item b: bucket gap (no row);
    // item c: below support
    val df = (Seq.fill(2)(("a", 1L)) ++ Seq.fill(6)(("a", 2L)) ++
      Seq.fill(3)(("b", 1L)) ++ Seq.fill(9)(("b", 3L)) ++
      Seq.fill(1)(("c", 1L)) ++ Seq.fill(5)(("c", 2L)))
      .toDF("i", "b")
    val out = graft.ext.Stats.trending(df, col("i"), col("b"),
      minCount = 2, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(("a", 2L, 2L, 6L, 3000000L)))
  }

  test("dict encode/decode roundtrip, deterministic value-order codes") {
    val df = Seq("m", "z", "a", "m", "z").toDF("c")
    val dict = graft.ext.Layout.dictBuild(df, "c")
    assert(dict.orderBy("code").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("m", 2L), ("z", 3L)))
    val enc = graft.ext.Layout.dictEncode(df, "c", dict)
    assert(enc.schema("c").dataType ===
      org.apache.spark.sql.types.LongType)
    val dec = graft.ext.Layout.dictDecode(enc, "c", dict)
    assert(dec.select("c").as[String].collect().sorted.toSeq ===
      Seq("a", "m", "m", "z", "z"))
  }

  test("percentileRank: ties share rank, singleton group -> 0") {
    val df = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 20L),
      ("g", 4L, 30L), ("h", 5L, 99L)).toDF("g", "id", "v")
    val out = graft.ext.Stats.percentileRank(df, "g", "id", col("v"))
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSeq
    // ranks: 1, 2, 2, 4 over n=4 -> ppm 0, 333333, 333333, 1000000
    assert(out === Seq((1L, 0L), (2L, 333333L), (3L, 333333L),
      (4L, 1000000L), (5L, 0L)))
  }

  test("giniByGroup: equal shares -> 0, total concentration -> high") {
    val eq = Seq(("e", 5L), ("e", 5L), ("e", 5L), ("e", 5L))
    val skew = Seq(("s", 0L), ("s", 0L), ("s", 0L), ("s", 100L))
    val out = graft.ext.Stats.giniByGroup(
      (eq ++ skew).toDF("g", "x"), "g", col("x"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    // skew: x=(0,0,0,100): G = (2*400 - 5*100)/(4*100) = 300/400 = .75
    assert(out === Seq(("e", 0L), ("s", 750000L)))
  }

  test("earliestArrival: time-respecting paths only, min over routes") {
    // 1-2 at t=5; 2-3 at t=3 (too early to forward) and t=9 (ok);
    // 3-4 at t=1 (arrives 9 -> cannot use) => 4 unreachable
    val e = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 3L, 9L), (3L, 4L, 1L))
      .toDF("src", "dst", "t")
    val src = Seq(1L).toDF("node")
    val out = Graph.earliestArrival(e, "src", "dst", "t", src, rounds = 4)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 0L), (2L, 5L), (3L, 9L)))
  }

  test("numericDrift: shifted distribution -> EMD equals the shift") {
    // B is A shifted by +10: EMD of two point masses {0} vs {10} = 10
    val a = Seq(0L, 0L).toDF("v")
    val b = Seq(10L, 10L).toDF("v")
    val out = graft.ext.Stats.numericDrift(a, b, col("v")).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) ===
      ((2L, 2L, 10L)))
    // identical distributions -> zero drift
    val same = graft.ext.Stats.numericDrift(
      Seq(1L, 5L).toDF("v"), Seq(1L, 5L).toDF("v"), col("v"))
      .collect().head
    assert(same.getLong(2) === 0L)
  }

  test("coOccurrence: basket-distinct pairs, support threshold, conf6") {
    val df = Seq((1L, "x"), (1L, "y"), (1L, "z"), (1L, "x"), // dup in b1
      (2L, "x"), (2L, "y"), (3L, "x")).toDF("b", "i")
    val all = graft.ext.Stats.coOccurrence(df, "b", "i", minCount = 1)
      .orderBy("item_a", "item_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // (x,y) in b1+b2; (x,z),(y,z) in b1 only; x in 3 baskets, y in 2
    assert(all === Seq(("x", "y", 2L, 3L, 666666L),
      ("x", "z", 1L, 3L, 333333L), ("y", "z", 1L, 2L, 500000L)))
    assert(graft.ext.Stats.coOccurrence(df, "b", "i", minCount = 2)
      .count() === 1L)
  }

  test("fdViolations: holding FD is empty, broken FD lists groups") {
    val df = Seq((1L, "x", "p"), (1L, "x", "q"), (1L, "x", "q"),
      (2L, "y", "p")).toDF("k", "attr", "rhs")
    // k -> attr holds
    assert(graft.ext.Quality.fdViolations(df, Seq("k"), "attr")
      .count() === 0L)
    // k -> rhs broken for k=1 (two distinct rhs over three rows)
    val bad = graft.ext.Quality.fdViolations(df, Seq("k"), "rhs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(bad === Seq((1L, 2L, 3L)))
  }

  // ------------------------------------------------------------------
  // Warehouse.applyChanges (CDC latest-wins)
  // ------------------------------------------------------------------

  test("applyChanges: upsert, delete, insert, latest sequence wins") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val changes = Seq(
      (1L, "a", 11L, "U", 1L), (1L, "a", 12L, "U", 2L), // latest wins
      (2L, "b", 99L, "U", 1L), (2L, "b", 0L, "D", 2L),  // delete wins
      (4L, "d", 40L, "I", 1L),                          // novel key
      (5L, "e", 50L, "D", 1L)                           // delete absent: no-op
    ).toDF("k", "s", "v", "op", "seq")
    val out = graft.etl.Warehouse.applyChanges(base, changes, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, "a", 12L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("applyChanges: result schema is exactly the base schema; " +
      "sequence tie breaks op-desc (U over D)") {
    val base = Seq((1L, 10L)).toDF("k", "v")
    val changes = Seq((1L, 11L, "D", 5L), (1L, 12L, "U", 5L))
      .toDF("k", "v", "op", "seq")
    val out = graft.etl.Warehouse.applyChanges(base, changes, Seq("k"))
    assert(out.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 12L)))
  }

  test("applyChanges: empty change log is the identity") {
    val base = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val changes = Seq.empty[(Long, Long, String, Long)]
      .toDF("k", "v", "op", "seq")
    assert(graft.etl.Warehouse.applyChanges(base, changes, Seq("k"))
      .orderBy("k").collect().map(_.getLong(1)).toSeq === Seq(10L, 20L))
  }

  // ------------------------------------------------------------------
  // Sampling.ppsTake (systematic PPS)
  // ------------------------------------------------------------------

  test("ppsTake: hits telescope to exactly n; all hits positive") {
    val df = (1L to 200L).map(i => (i, i % 17 + 1)).toDF("k", "w")
    val out = graft.ext.Sampling.ppsTake(df, "k", "w", n = 20).collect()
    assert(out.map(_.getAs[Long]("n_hits")).sum === 20L)
    assert(out.forall(_.getAs[Long]("n_hits") >= 1L))
  }

  test("ppsTake: a row heavier than the grid step is always selected, " +
      "with proportional replication") {
    // one row carries ~half the total weight -> ~n/2 hits
    val df = ((1L to 50L).map(i => (i, 2L)) :+ (99L, 100L)).toDF("k", "w")
    val out = graft.ext.Sampling.ppsTake(df, "k", "w", n = 10)
    val heavy = out.filter($"k" === 99L).collect()
    assert(heavy.length === 1)
    // W = 200, step = 20, weight 100 covers 5 grid points (+/- 1 for
    // alignment)
    val hits = heavy.head.getAs[Long]("n_hits")
    assert(hits >= 4L && hits <= 6L)
  }

  test("ppsTake: deterministic under repartitioning") {
    val df = (1L to 300L).map(i => (i, i % 7 + 1)).toDF("k", "w")
    def draw(d: org.apache.spark.sql.DataFrame) =
      graft.ext.Sampling.ppsTake(d, "k", "w", n = 25)
        .select("k", "n_hits").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(draw(df) === draw(df.repartition(13)))
  }

  test("ppsTake: zero-weight rows are never selected") {
    val df = Seq((1L, 0L), (2L, 5L), (3L, 0L), (4L, 5L)).toDF("k", "w")
    val ks = graft.ext.Sampling.ppsTake(df, "k", "w", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(!ks.contains(1L) && !ks.contains(3L))
  }

  // ------------------------------------------------------------------
  // Sketches.hllRegisters (portable HLL)
  // ------------------------------------------------------------------

  /** Reference registers computed independently with java.security md5. */
  private def hllExpected(values: Seq[String]): (Long, Long, BigInt) = {
    val regs = scala.collection.mutable.Map.empty[Int, Int]
    values.foreach { v =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(v.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val bucket = Integer.parseInt(hex.substring(0, 2), 16)
      val tail = java.lang.Long.parseLong(hex.substring(2, 16), 16)
      val rho = if (tail == 0L) 57 else 57 - (64 - java.lang.Long.numberOfLeadingZeros(tail))
      regs(bucket) = math.max(regs.getOrElse(bucket, 0), rho)
    }
    val used = regs.size.toLong
    val regSum = regs.values.map(_.toLong).sum
    val harm = regs.values.map(r => BigInt(1) << (60 - r)).sum +
      BigInt(256 - regs.size) * (BigInt(1) << 60)
    (used, regSum, harm)
  }

  test("hllRegisters: matches an independent md5 register computation") {
    val vals = (1 to 500).map(i => s"user-$i")
    val df = vals.map(v => ("g", v)).toDF("g", "u")
    val row = graft.ext.Sketches.hllRegisters(df, "g", $"u").collect().head
    val (used, regSum, harm) = hllExpected(vals)
    assert(row.getAs[Long]("used") === used)
    assert(row.getAs[Long]("reg_sum") === regSum)
    assert(harmOf(row) === harm)
  }

  /** Reassemble the exact numerator from the split bigint pair. */
  private def harmOf(row: org.apache.spark.sql.Row): BigInt =
    (BigInt(row.getAs[Long]("harm_hi")) << 30) +
      BigInt(row.getAs[Long]("harm_lo"))

  test("hllRegisters: duplicate values do not move the state; nulls " +
      "ignored; state merges by per-bucket max (union == max-merge)") {
    val a = (1 to 120).map(i => ("g", s"v$i"))
    val b = (80 to 240).map(i => ("g", s"v$i"))
    val dfA = a.toDF("g", "u"); val dfB = b.toDF("g", "u")
    val union = graft.ext.Sketches
      .hllRegisters(dfA.union(dfB).union(dfA), "g", $"u").collect().head
    val (used, regSum, harm) = hllExpected((a ++ b).map(_._2).distinct)
    assert((union.getAs[Long]("used"), union.getAs[Long]("reg_sum"),
      harmOf(union)) === ((used, regSum, harm)))
    val withNull = dfA.union(Seq(("g", null: String)).toDF("g", "u"))
    val nn = graft.ext.Sketches.hllRegisters(withNull, "g", $"u")
      .collect().head
    val (u2, r2, h2) = hllExpected(a.map(_._2))
    assert((nn.getAs[Long]("used"), nn.getAs[Long]("reg_sum"),
      harmOf(nn)) === ((u2, r2, h2)))
  }
}
