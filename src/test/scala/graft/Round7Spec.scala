package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Linkage, Quality}
import graft.ext.Linkage.FieldWeight

/** Round-7 operators: Fellegi-Sunter record linkage, k-anonymity /
  * l-diversity audit, containment near-dups. Hand-computed references.
  */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------
  // Linkage.neighborhoodPairs
  // ------------------------------------------------------------------

  test("neighborhoodPairs: linear candidate count, order-respecting") {
    // one block of 5 ordered rows, w=3 → each row pairs with next 2:
    // (1,2),(1,3),(2,3),(2,4),(3,4),(3,5),(4,5) = 2n-3 pairs
    val df = Seq((1L, "b", 10.0), (2L, "b", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "b", 50.0)).toDF("id", "blk", "ord")
    val pairs = Linkage.neighborhoodPairs(df, "id", "blk", "ord", 3)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 5L), (4L, 5L)))
  }

  test("neighborhoodPairs: blocks never pair across") {
    val df = Seq((1L, "x", 1.0), (2L, "x", 2.0),
      (3L, "y", 1.0), (4L, "y", 2.0)).toDF("id", "blk", "ord")
    val pairs = Linkage.neighborhoodPairs(df, "id", "blk", "ord", 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)))
  }

  // ------------------------------------------------------------------
  // Linkage.fellegiSunter
  // ------------------------------------------------------------------

  test("fellegiSunter: integer weights, null fields contribute zero") {
    // 1-2 agree on both fields (link); 2-4 disagree on both
    // (non_link); 3 has a NULL f2, so its pairs only count f1's
    // disagreement (0 for the null field → possible band).
    val df = Seq(
      (1L, "b", 1.0, "t1", Option("s1")),
      (2L, "b", 2.0, "t1", Option("s1")),
      (3L, "b", 3.0, "t2", None),
      (4L, "b", 4.0, "t9", Option("s9")))
      .toDF("id", "blk", "ord", "f1", "f2")
    val out = Linkage.fellegiSunter(df, "id", "blk", "ord", 3,
      Seq(FieldWeight("f1", 3000L, -2000L),
        FieldWeight("f2", 2000L, -1000L)),
      upperMb = 4000L, lowerMb = -2500L)
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out((1L, 2L)) === (5000L, "link"))
    assert(out((1L, 3L)) === (-2000L, "possible"))
    assert(out((2L, 3L)) === (-2000L, "possible"))
    assert(out((2L, 4L)) === (-3000L, "non_link"))
    assert(out((3L, 4L)) === (-2000L, "possible"))
  }

  // ------------------------------------------------------------------
  // Quality.kAnonymityAudit
  // ------------------------------------------------------------------

  test("kAnonymityAudit: flags small and homogeneous classes only") {
    // class (a,1): 3 rows, 3 distinct sensitive → k-violation at k=4
    // class (a,2): 4 rows, 1 distinct → l-violation at l=2
    // class (b,1): 4 rows, 2 distinct → compliant, must NOT appear
    val df = Seq(
      ("a", 1, "s1"), ("a", 1, "s2"), ("a", 1, "s3"),
      ("a", 2, "x"), ("a", 2, "x"), ("a", 2, "x"), ("a", 2, "x"),
      ("b", 1, "p"), ("b", 1, "p"), ("b", 1, "q"), ("b", 1, "q"))
      .toDF("qi1", "qi2", "sens")
    val out = Quality.kAnonymityAudit(df, Seq("qi1", "qi2"),
      col("sens"), k = 4, l = 2)
      .as[(String, Int, Long, Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(out.keySet === Set(("a", 1), ("a", 2)))
    assert(out(("a", 1)) === ((3L, 3L, 1, 0)))
    assert(out(("a", 2)) === ((4L, 1L, 0, 1)))
  }

  // ------------------------------------------------------------------
  // Dedup.containmentPairs
  // ------------------------------------------------------------------

  private val longDoc = (1 to 30).map(i => s"w$i").mkString(" ")
  // drop the last 4 tokens: shingle set is a strict subset of longDoc's
  private val subsetDoc = (1 to 26).map(i => s"w$i").mkString(" ")
  private val otherDoc = (1 to 30).map(i => s"z$i").mkString(" ")

  test("containmentPairs: subset doc scores full containment") {
    val df = Seq((1L, longDoc), (2L, subsetDoc), (3L, otherDoc))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text",
      n = 3, k = 8, bands = 4, tauNum = 3, tauDen = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val p = out.find(r => r._1 == 1L && r._2 == 2L)
    assert(p.nonEmpty, s"subset pair not found in ${out.toSeq}")
    // A ⊂ B → inter = |A|, containment exactly 1.0
    assert(p.get._5 === math.min(p.get._3, p.get._4))
    assert(p.get._6 === 1000000L)
    // the unrelated doc never pairs
    assert(out.forall(r => r._1 != 3L && r._2 != 3L))
  }

  test("containmentPairs: containment >= Jaccard on every emitted pair") {
    val docs = Seq(
      (1L, longDoc), (2L, subsetDoc),
      (3L, (5 to 30).map(i => s"w$i").mkString(" ")),
      (4L, (1 to 15).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, k = 8, bands = 4, tauNum = 0, tauDen = 1)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val jacc = r._5.toDouble / (r._3 + r._4 - r._5).toDouble
      assert(r._6.toDouble / 1e6 >= jacc - 1e-9,
        s"containment below jaccard on $r")
    }
  }

  // ------------------------------------------------------------------
  // Sampling.priorityTake
  // ------------------------------------------------------------------

  test("priorityTake: exactly n rows, certainty for dominant weights") {
    // one row with overwhelming weight must always be sampled; sample
    // size is exactly n; estimator weight >= raw weight everywhere
    val df = ((1L to 50L).map(i => (i, 10L)) :+ (99L, 1000000L))
      .toDF("k", "w")
    val out = graft.ext.Sampling.priorityTake(df, "k", "w", n = 10)
      .collect()
    assert(out.length === 10)
    assert(out.exists(_.getLong(0) == 99L), "dominant weight not sampled")
    assert(out.forall(r => r.getLong(3) >= r.getLong(1)))
  }

  test("priorityTake: when everything fits, tau is 0 and est = weight") {
    val df = (1L to 5L).map(i => (i, i * 100L)).toDF("k", "w")
    val out = graft.ext.Sampling.priorityTake(df, "k", "w", n = 10)
      .collect()
    assert(out.length === 5)
    assert(out.forall(r => r.getLong(3) === r.getLong(1)))
  }

  // ------------------------------------------------------------------
  // Sketches.cmSketch / cmEstimate
  // ------------------------------------------------------------------

  test("cmSketch: estimates upper-bound exact counts; merge = cell sum") {
    val words = Seq.fill(30)("alpha") ++ Seq.fill(12)("beta") ++
      (1 to 40).map(i => s"noise$i")
    val df = words.toDF("t")
    val sk = graft.ext.Sketches.cmSketch(df, col("t"), 4, 64)
    val est = graft.ext.Sketches.cmEstimate(sk,
      Seq("alpha", "beta", "unseen"), 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") >= 30L && est("beta") >= 12L)
    assert(est("unseen") >= 0L)
    // additivity: sketch(shard1) + sketch(shard2) == sketch(all)
    val (s1, s2) = (words.take(40), words.drop(40))
    val merged = graft.ext.Sketches.cmSketch(s1.toDF("t"), col("t"), 4, 64)
      .union(graft.ext.Sketches.cmSketch(s2.toDF("t"), col("t"), 4, 64))
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
    val whole = sk.collect().map(r =>
      (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val m = merged.collect().map(r =>
      (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m === whole)
  }

  // ------------------------------------------------------------------
  // Randomized differentials (seeded — deterministic)
  // ------------------------------------------------------------------

  test("fellegiSunter differential: random records vs brute-force scoring") {
    val rnd = new scala.util.Random(4242)
    val rows = (1L to 60L).map { id =>
      def f() = if (rnd.nextInt(10) == 0) null
        else s"v${rnd.nextInt(4)}"
      (id, s"b${rnd.nextInt(3)}", rnd.nextInt(1000).toDouble, f(), f())
    }
    val df = rows.toDF("id", "blk", "ord", "f1", "f2")
    val fields = Seq(FieldWeight("f1", 3000L, -2000L),
      FieldWeight("f2", 2000L, -1000L))
    val got = Linkage.fellegiSunter(df, "id", "blk", "ord", 4, fields,
      5000L, -2500L)
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // brute force: sort each block, pair each row with next w-1, score
    val byId = rows.map(r => r._1 -> r).toMap
    val expected = rows.groupBy(_._2).values.flatMap { blk =>
      val sorted = blk.sortBy(r => (r._3, r._1)).map(_._1)
      sorted.zipWithIndex.flatMap { case (a, i) =>
        sorted.slice(i + 1, i + 4).map(b => (a, b))
      }
    }.map { case (a, b) =>
      val (ra, rb) = (byId(a), byId(b))
      def score(x: String, y: String, ag: Long, dis: Long) =
        if (x == null || y == null) 0L else if (x == y) ag else dis
      val w = score(ra._4, rb._4, 3000L, -2000L) +
        score(ra._5, rb._5, 2000L, -1000L)
      val dec = if (w >= 5000L) "link"
        else if (w <= -2500L) "non_link" else "possible"
      (a, b) -> ((w, dec))
    }.toMap
    assert(got === expected)
  }

  test("priorityTake differential: random weights vs brute-force DLT") {
    val rnd = new scala.util.Random(777)
    val rows = (1L to 200L).map(id => (id, (rnd.nextInt(10000) + 1).toLong))
    val df = rows.toDF("k", "w")
    val n = 25
    val got = graft.ext.Sampling.priorityTake(df, "k", "w", n)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // brute force with the same md5 layout
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(k: Long): Long = {
      md.reset()
      val d = md.digest(k.toString.getBytes("UTF-8"))
      (0 until 4).foldLeft(0L)((a, i) =>
        (a << 8) | java.lang.Byte.toUnsignedLong(d(i)))
    }
    val pri = rows.map { case (k, w) =>
      (k, w, w * 4294967296L / (h32(k) + 1L))
    }.sortBy(r => (-r._3, r._1))
    val tau = pri(n)._3
    val expected = pri.take(n)
      .map(r => (r._1, r._2, r._3, math.max(r._2, tau))).sortBy(_._1)
    assert(got.toSeq === expected)
  }

  test("hllSlidingDistinct differential: every window equals batch registers") {
    val rnd = new scala.util.Random(99)
    val rows = (1 to 500).map(_ =>
      ("g", rnd.nextInt(10).toLong, rnd.nextInt(300).toLong))
    val df = rows.toDF("g", "day", "user")
    val w = 3
    val slid = graft.ext.Sketches.hllSlidingDistinct(df, "g",
      col("day"), col("user"), windowDays = w)
      .select("day", "used", "reg_sum", "harm_hi", "harm_lo")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // brute force: for each output day, batch registers over [d-w+1, d]
    slid.keys.foreach { d =>
      val in = rows.filter(r => r._2 >= d - w + 1 && r._2 <= d)
      val batch = graft.ext.Sketches.hllRegisters(
        in.toDF("g", "day", "user"), "g", col("user"))
        .select("used", "reg_sum", "harm_hi", "harm_lo")
        .as[(Long, Long, Long, Long)].collect().head
      assert(slid(d) === batch, s"window ending day $d diverges")
    }
  }

  test("abSrmAudit: unit-stable arms, duplicate events collapse, exact SRM") {
    // user 7 appears twice in exp "a" — must count once; arms are a
    // pure function of (experiment, unit), so re-runs agree
    val df = Seq(("a", 7L), ("a", 7L), ("a", 8L), ("a", 9L),
      ("b", 7L)).toDF("e", "u")
    val out = graft.ext.Sampling.abSrmAudit(df, "e", "u")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("a")._1 + out("a")._2 === 3L)
    assert(out("b")._1 + out("b")._2 === 1L)
    // SRM stat replays exactly: (n0-n1)^2 * 1e6 div n
    val (n0, n1, srm) = out("a")
    assert(srm === (n0 - n1) * (n0 - n1) * 1000000L / (n0 + n1))
    val again = graft.ext.Sampling.abSrmAudit(df, "e", "u")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(again === out)
  }

  test("abSrmAudit: balanced on many units, salt decorrelates experiments") {
    val units = (1L to 2000L)
    val df = (units.map(("x", _)) ++ units.map(("y", _))).toDF("e", "u")
    val out = graft.ext.Sampling.abSrmAudit(df, "e", "u")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // a 50/50 split within ~5 sigma on 2000 units
    out.values.foreach { case (n0, n1) =>
      assert(math.abs(n0 - n1) < 250, s"arm imbalance: $n0 vs $n1")
    }
    // the salt must give DIFFERENT assignments per experiment: if the
    // splits were identical the (x,y) arm vectors would match exactly,
    // which md5 makes astronomically unlikely — compare via counts of
    // users in arm 0 of both
    assert(out("x") !== out("y"))
  }

  test("trainingPairs: clean labels, ambiguity band excluded, deterministic") {
    // near-dup pair (1,2), clear-negative band-colliding pairs via
    // shared shingles, ambiguous pair in neither class
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, (1 to 28).map(i => s"w$i").mkString(" ")),  // J >> 1/2 with 1
      (3L, ((1 to 6).map(i => s"w$i") ++ (1 to 40).map(i => s"x$i"))
        .mkString(" ")), // small overlap with 1 → negative band
      (4L, ((1 to 14).map(i => s"w$i") ++ (1 to 20).map(i => s"y$i"))
        .mkString(" ")) // middling overlap → ambiguity band
    ).toDF("doc_id", "text")
    val out = Dedup.trainingPairs(docs, "doc_id", "text",
      negKeepPct = 100)
      .as[(Long, Long, Long, Int)].collect()
    val byPair = out.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair.get((1L, 2L)) === Some(1))
    // every positive really is >= 1/2, every negative < 1/5
    out.foreach { r =>
      if (r._4 == 1) assert(r._3 >= 500000L, s"weak positive $r")
      else assert(r._3 < 200000L, s"strong negative $r")
    }
    // deterministic: a second run is identical
    val again = Dedup.trainingPairs(docs, "doc_id", "text",
      negKeepPct = 100)
      .as[(Long, Long, Long, Int)].collect()
    assert(out.toSet === again.toSet)
    // negKeepPct = 0 drops every negative but keeps all positives
    val noNeg = Dedup.trainingPairs(docs, "doc_id", "text",
      negKeepPct = 0)
      .as[(Long, Long, Long, Int)].collect()
    assert(noNeg.forall(_._4 == 1))
    assert(noNeg.count(_._4 == 1) === out.count(_._4 == 1))
  }

  test("labelPropagation: packed argmax equals the window path on random graphs") {
    val rnd = new scala.util.Random(31337)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).distinct
    val df = edges.toDF("s", "d")
    def run(packed: Boolean) =
      graft.ext.Graph.labelPropagation(df, "s", "d", rounds = 3,
        packedArgmax = packed)
        .as[(Long, Long)].collect().toMap
    assert(run(packed = true) === run(packed = false))
  }

  // ------------------------------------------------------------------
  // Skew.joinExplosionAudit
  // ------------------------------------------------------------------

  test("joinExplosionAudit: per-key contributions equal the real join size") {
    val a = Seq(1, 1, 1, 2, 3).map(k => (k, "x")).toDF("ka", "pa")
    val b = Seq(1, 1, 2, 9).map(k => (k, "y")).toDF("kb", "pb")
    // contrib is decimal(38,0) — the long product would wrap on the
    // hot keys the audit exists to catch
    val audit = graft.ext.Skew.joinExplosionAudit(a, "ka", b, "kb", 10)
      .collect()
      .map(r => r.getInt(0) -> r.getDecimal(3).longValueExact()).toMap
    // key 1: 3·2 = 6, key 2: 1·1 = 1; keys 3 and 9 don't join
    assert(audit === Map(1 -> 6L, 2 -> 1L))
    // Σ contrib == the actual join's row count
    assert(audit.values.sum ===
      a.join(b, col("ka") === col("kb")).count())
  }

  // ------------------------------------------------------------------
  // Similarity.contaminationFlags
  // ------------------------------------------------------------------

  test("contaminationFlags: planted cross-set duplicate found with cos ~ 1") {
    // bench vector 1 and its scaled copy (train 101) have identical
    // sign pattern → same RP bucket, cosine exactly 1; train 102 is
    // the negation → cosine −1, must not flag
    val v = (0 until 64).map(i => (i % 5 - 2).toFloat + 0.5f)
    val bench = Seq((1L, v)).toDF("vec_id", "embedding")
    val train = Seq(
      (101L, v.map(x => x * 2f)),
      (102L, v.map(x => -x))).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.contaminationFlags(train, bench,
      "vec_id", "embedding", threshold = 0.25, nBits = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.keySet === Set(101L))
    assert(out(101L)._1 === 1L)
    assert(out(101L)._2 >= 999999L)
  }

  test("contaminationFlags: argmax picks highest cosine, tie to smaller id") {
    val v = (0 until 64).map(i => (i % 3).toFloat + 1f)
    // two identical bench vectors: tie on cosine, keep the smaller id
    val bench = Seq((5L, v), (2L, v)).toDF("vec_id", "embedding")
    val train = Seq((101L, v.map(x => x * 3f))).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.contaminationFlags(train, bench,
      "vec_id", "embedding", threshold = 0.25, nBits = 4)
      .collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 2L)
  }

  // ------------------------------------------------------------------
  // Sketches.cmWrite / cmAppend / cmRead
  // ------------------------------------------------------------------

  test("cm at-rest lifecycle: write+append+read equals the direct sketch") {
    val words = Seq.fill(20)("alpha") ++ (1 to 30).map(i => s"n$i")
    val dir = java.nio.file.Files.createTempDirectory("graft_cm").toString
    graft.ext.Sketches.cmWrite(words.take(25).toDF("t"), col("t"),
      4, 64, s"$dir/cm")
    graft.ext.Sketches.cmAppend(words.drop(25).toDF("t"), col("t"),
      4, 64, s"$dir/cm")
    val atRest = graft.ext.Sketches.cmRead(spark, s"$dir/cm")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val direct = graft.ext.Sketches.cmSketch(words.toDF("t"), col("t"),
      4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(atRest === direct)
  }

  // ------------------------------------------------------------------
  // Graph.personalizedPageRank
  // ------------------------------------------------------------------

  test("personalizedPageRank: hand-computed chain, unreachable gets zero") {
    // a → b, c → a; seed {a}. Round 1: r(a)=base=150e6, r(b)=17/20·1e9.
    // Round 2: r(b) = 17·150e6 div 20 = 127.5e6. c has no in-edges and
    // is not a seed → 0 forever.
    val e = Seq(("a", "b", 1L), ("c", "a", 1L)).toDF("s", "d", "w")
    val seeds = Seq("a").toDF("n")
    val r = graft.ext.Graph.personalizedPageRank(e, "s", "d", "w",
      seeds, iters = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("a") === 150000000L)
    assert(r("b") === 127500000L)
    assert(r("c") === 0L)
  }

  test("personalizedPageRank: all-nodes seed set equals plain pageRank") {
    val e = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (1L, 3L, 1L))
      .toDF("s", "d", "w")
    val seeds = Seq(1L, 2L, 3L).toDF("n")
    val ppr = graft.ext.Graph.personalizedPageRank(e, "s", "d", "w",
      seeds, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val pr = graft.ext.Graph.pageRank(e, "s", "d", "w", iters = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(ppr === pr)
  }

  // ------------------------------------------------------------------
  // Features.targetEncodeLoo
  // ------------------------------------------------------------------

  test("targetEncodeLoo: leave-one-out means, singleton gives null") {
    // cat a: targets 10, 20, 30 → LOO of 10 is (50 div 2)=25, of 20 is
    // 20, of 30 is 15; cat b: single row → null
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 99L)).toDF("id", "cat", "t")
    val out = graft.ext.Features.targetEncodeLoo(df, "id", "cat", col("t"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(1L) === Some(25L) && out(2L) === Some(20L) &&
      out(3L) === Some(15L))
    assert(out(4L) === None)
  }

  test("targetEncodeLoo: encoding never equals own target under shift") {
    // leakage check: shifting ONE row's target must change every OTHER
    // row's encoding in its category, but not its own
    val base = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L))
    def enc(rows: Seq[(Long, String, Long)]) =
      graft.ext.Features.targetEncodeLoo(
        rows.toDF("id", "cat", "t"), "id", "cat", col("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a = enc(base)
    val b = enc(base.map { case (1L, c, _) => (1L, c, 100L); case r => r })
    assert(a(1L) === b(1L))
    assert(a(2L) !== b(2L))
    assert(a(3L) !== b(3L))
  }

  // ------------------------------------------------------------------
  // Features.featureHash
  // ------------------------------------------------------------------

  test("featureHash: buckets in range, deterministic, nulls dropped") {
    val df = Seq((1L, Option("SEG1"), Option(3)),
      (2L, Option("SEG1"), None),
      (3L, None, None)).toDF("id", "seg", "nat")
    val out = graft.ext.Features.featureHash(df, "id",
      Seq("seg", "nat"), dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L).forall(b => b >= 0 && b < 64))
    assert(out(1L).size === 2 || out(1L).size === 1) // collision allowed
    // same value → same bucket: id 2 shares id 1's seg bucket
    assert(out(2L).size === 1 && out(1L).contains(out(2L).head))
    assert(out(3L).isEmpty)
    // sorted
    assert(out(1L) === out(1L).sorted)
  }

  test("featureHash: same value under different columns hashes differently") {
    // the column name is part of the key — "a=x" and "b=x" must not
    // collide by construction (they might by hash, but not for this
    // fixture)
    val df = Seq((1L, "x", "x")).toDF("id", "a", "b")
    val out = graft.ext.Features.featureHash(df, "id", Seq("a", "b"), 64)
      .head().getSeq[Long](1)
    assert(out.size === 2, s"column name not salted into the key: $out")
  }

  // ------------------------------------------------------------------
  // Sketches.hllSlidingDistinct
  // ------------------------------------------------------------------

  test("hllSlidingDistinct: window merge equals batch registers over the window") {
    // users 1..40 on day 0, 30..70 on day 3: the day-3 window [−3..3]
    // must equal hllRegisters over ALL rows (register MAX-merge ==
    // recompute on the union — the semilattice property)
    val rows = (1 to 40).map(u => ("t", 0L, u.toLong)) ++
      (30 to 70).map(u => ("t", 3L, u.toLong))
    val df = rows.toDF("g", "day", "user")
    val slid = graft.ext.Sketches.hllSlidingDistinct(df, "g",
      col("day"), col("user"), windowDays = 7)
      .filter(col("day") === 3L)
      .select("used", "reg_sum", "harm_hi", "harm_lo")
      .head()
    val batch = graft.ext.Sketches.hllRegisters(df, "g", col("user"))
      .select("used", "reg_sum", "harm_hi", "harm_lo").head()
    assert(slid === batch)
  }

  test("hllSlidingDistinct: a day outside the window does not contribute") {
    val rows = (1 to 20).map(u => ("t", 0L, u.toLong)) ++
      (100 to 120).map(u => ("t", 50L, u.toLong))
    val df = rows.toDF("g", "day", "user")
    val d50 = graft.ext.Sketches.hllSlidingDistinct(df, "g",
      col("day"), col("user"), windowDays = 7)
      .filter(col("day") === 50L).head()
    val only50 = graft.ext.Sketches.hllRegisters(
      df.filter(col("day") === 50L), "g", col("user")).head()
    // same used/reg_sum/harm_hi/harm_lo: day 0's registers aged out
    assert(d50.getLong(2) === only50.getLong(1))
    assert(d50.getLong(3) === only50.getLong(2))
    assert(d50.getLong(4) === only50.getLong(3))
    assert(d50.getLong(5) === only50.getLong(4))
  }
}
