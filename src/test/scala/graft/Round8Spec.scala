package graft

import org.apache.spark.sql.functions._

import graft.ext.Sampling

/** Round-8 operators: table-valued mixture order (the unbounded-strata
  * variant of mixOrder — zero per-strata driver state).
  */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------
  // Sampling.mixOrderByTable
  // ------------------------------------------------------------------

  private def docs4() = Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("source"))

  test("mixOrderByTable: dense 1..N positions, all rows kept") {
    val d = docs4()
    val w = d.groupBy("source").agg(lit(2L).as("weight"))
    val out = Sampling.mixOrderByTable(d, "doc_id", "source", w)
    val n = d.count()
    assert(out.count() === n)
    assert(out.agg(min("global_pos"), max("global_pos"),
      countDistinct("global_pos")).as[(Long, Long, Long)].head() ===
      ((1L, n, n)))
  }

  test("mixOrderByTable: equals mixOrder when listing order = name order") {
    // With small weights the virtual-time rationals are multiples of
    // 1/LCM >> 2^-40, so the floor-encoded keys order identically to
    // mixOrder's exact pos*(LCM/w) keys, and name-order ties match the
    // listing-order ties — the two implementations must agree exactly.
    val d = docs4()
    val weights = Seq("src0" -> 5L, "src1" -> 3L, "src2" -> 2L,
      "src3" -> 1L)
    val wDf = weights.toDF("source", "weight")
    val a = Sampling.mixOrder(d, "doc_id", "source", weights)
      .select("doc_id", "global_pos")
    val b = Sampling.mixOrderByTable(d, "doc_id", "source", wDf)
      .select("doc_id", "global_pos")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("mixOrderByTable: weight-proportional interleave in prefixes") {
    // weights 3:1 → any prefix at a multiple of 4 (while both sources
    // still have docs) holds exactly 3 of a for every 1 of b.
    val d = (1 to 40).map(i => (i.toLong, if (i <= 30) "a" else "b"))
      .toDF("id", "src")
    val w = Seq(("a", 3L), ("b", 1L)).toDF("src", "weight")
    val out = Sampling.mixOrderByTable(d, "id", "src", w)
      .orderBy("global_pos").select("src").as[String].collect()
    // both sources exhaust at 40: every 4-prefix is 3 a's + 1 b
    (1 to 10).foreach { k =>
      val prefix = out.take(4 * k)
      assert(prefix.count(_ == "a") === 3 * k,
        s"prefix ${4 * k}: ${prefix.mkString(",")}")
    }
  }

  test("mixOrderByTable: deterministic under repartitioning") {
    val d = docs4()
    val w = d.groupBy("source")
      .agg((count(lit(1)) % 7 + 1).cast("long").as("weight"))
    val a = Sampling.mixOrderByTable(d, "doc_id", "source", w)
    val b = Sampling.mixOrderByTable(d.repartition(7), "doc_id",
      "source", w)
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("mixOrderByTable: out-of-range weight fails loudly") {
    val d = Seq((1L, "a"), (2L, "b")).toDF("id", "src")
    val w = Seq(("a", 1L), ("b", 0L)).toDF("src", "weight")
    val e = intercept[Exception] {
      Sampling.mixOrderByTable(d, "id", "src", w).collect()
    }
    assert(e.getMessage.contains("mixOrderByTable") ||
      String.valueOf(e.getCause).contains("mixOrderByTable"))
  }

  // ------------------------------------------------------------------
  // Sampling.epochMixOrderByTable
  // ------------------------------------------------------------------

  test("epochMixOrderByTable: equals epochMixOrder, listing = name order") {
    val d = docs4()
    val weights = Seq("src0" -> 5L, "src1" -> 3L, "src2" -> 2L,
      "src3" -> 1L)
    val wDf = weights.toDF("source", "weight")
    val a = Sampling.epochMixOrder(d, "doc_id", "source", weights, 100L)
      .select("global_pos", "doc_id", "epoch", "pos")
    val b = Sampling.epochMixOrderByTable(d, "doc_id", "source", wDf, 100L)
      .select("global_pos", "doc_id", "epoch", "pos")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("epochMixOrderByTable: dense 1..total, small sources cycle") {
    // 4 a-docs vs 12 b-docs at weights 1:1 over 24 slots — source a
    // must appear 12 times (3 full epochs), i.e. it CYCLES rather than
    // exhausting after its 4 docs.
    val d = ((1 to 4).map(i => (i.toLong, "a")) ++
      (11 to 22).map(i => (i.toLong, "b"))).toDF("id", "src")
    val w = Seq(("a", 1L), ("b", 1L)).toDF("src", "weight")
    val out = Sampling.epochMixOrderByTable(d, "id", "src", w, 24L)
    assert(out.count() === 24L)
    assert(out.agg(min("global_pos"), max("global_pos"),
      countDistinct("global_pos")).as[(Long, Long, Long)].head() ===
      ((1L, 24L, 24L)))
    val aRows = out.filter(col("src") === "a")
    assert(aRows.count() === 12L)
    assert(aRows.agg(max("epoch")).as[Long].head() >= 2L)
  }

  test("groupedRowNumber: equals the window row_number, any group size") {
    import org.apache.spark.sql.expressions.Window
    val d = (1 to 200).map(i => (i.toLong, s"g${i % 3}", (i * 37) % 101))
      .toDF("id", "g", "v")
    val w = Window.partitionBy("g").orderBy(col("v").asc, col("id").asc)
    val expected = d.withColumn("pos", row_number().over(w).cast("long"))
      .select("id", "g", "v", "pos")
    val got = Sampling.groupedRowNumber(d, "g",
      Seq(col("v").asc, col("id").asc), "pos")
      .select("id", "g", "v", "pos")
    assert(expected.except(got).count() === 0 &&
      got.except(expected).count() === 0)
  }

  test("epochMixOrderByTable: docless weight row cannot starve output") {
    // a weight entry for a source with NO docs must not shrink the
    // epoch bound — the live source still fills all `total` slots
    val d = (1 to 5).map(i => (i.toLong, "live")).toDF("id", "src")
    val w = Seq(("live", 1L), ("ghost", 1000L)).toDF("src", "weight")
    val out = Sampling.epochMixOrderByTable(d, "id", "src", w, 30L)
    assert(out.count() === 30L)
    assert(out.agg(countDistinct("global_pos")).as[Long].head() === 30L)
  }

  // ------------------------------------------------------------------
  // functions.Log2Mu — exact integer log2 in µ-bits
  // ------------------------------------------------------------------

  test("Log2Mu: within 1 µ-bit below floor(1024*log2(x)), never above") {
    val rnd = new scala.util.Random(4242)
    val xs = Seq(1L, 2L, 3L, 7L, 1023L, 1024L, 1025L, (1L << 31) - 1,
      1L << 31, Long.MaxValue) ++
      (1 to 500).map(_ => (rnd.nextLong() & ((1L << 62) - 1)) + 1)
    xs.foreach { x =>
      val mu = graft.functions.Log2Mu.compute(x)
      val ref = 1024.0 * math.log(x.toDouble) / math.log(2.0)
      // truncation at each squaring step only loses fraction mass:
      // the integer result sits in (ref - 1.01, ref]
      assert(mu <= ref + 1e-6 && mu > ref - 1.01,
        s"x=$x mu=$mu ref=$ref")
    }
  }

  test("Log2Mu: column form matches compute, rejects non-positives") {
    import graft.functions.PairFunctions.log2Mu
    val d = Seq(1L, 5L, 1000L, 1L << 40).toDF("x")
    val got = d.select(log2Mu(col("x"))).as[Long].collect().toSeq
    assert(got === Seq(1L, 5L, 1000L, 1L << 40)
      .map(graft.functions.Log2Mu.compute))
    intercept[Exception] {
      Seq(0L).toDF("x").select(log2Mu(col("x"))).collect()
    }
    // non-long input fails at ANALYSIS, not mid-job
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(log2Mu(col("x"))).collect()
    }
    assert(e.getMessage.contains("log2mu requires BIGINT"))
  }

  // ------------------------------------------------------------------
  // TextStats.mooreLewisScore — domain-relevance selection
  // ------------------------------------------------------------------

  test("mooreLewisScore: in-domain-exclusive tokens score positive, " +
      "out-domain-exclusive negative, hand-checked weights") {
    val d = Seq(
      (1L, "aa aa aa", true), (2L, "aa aa bb", true),
      (3L, "cc cc cc", false), (4L, "cc cc bb", false))
      .toDF("id", "text", "tgt")
    val out = graft.ext.TextStats
      .mooreLewisScore(d, "id", "text", col("tgt"))
      .orderBy("id").collect()
    // target model: tokens of docs 1,2 (aa x5, bb x1, T_t=6);
    // general: all 12 tokens (aa x5, bb x2, cc x5), V=3
    def mu(x: Long) = graft.functions.Log2Mu.compute(x)
    val wAa = mu(6) - mu(9) - mu(6) + mu(15)
    val wBb = mu(2) - mu(9) - mu(3) + mu(15)
    val wCc = mu(1) - mu(9) - mu(6) + mu(15)
    assert(wAa > 0 && wCc < 0)
    assert(out.map(_.getLong(1)).toSeq === Seq(3L, 3L, 3L, 3L))
    assert(out(0).getLong(2) === (3 * wAa) / 3)
    assert(out(1).getLong(2) === (2 * wAa + wBb) / 3)
    assert(out(2).getLong(2) === (3 * wCc) / 3)
    assert(out(3).getLong(2) === (2 * wCc + wBb) / 3)
  }

  // ------------------------------------------------------------------
  // Similarity.mmrTopK — diversified retrieval
  // ------------------------------------------------------------------

  test("mmrTopK: diversifies away from a near-duplicate of the first " +
      "pick; lambda=1 degenerates to relevance order") {
    import graft.ext.Similarity
    // query q = e1; a ~ q (rel highest), a2 = near-copy of a,
    // b = orthogonal-ish but still somewhat relevant
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),          // query
      (1L, Array(0.9f, 0.1f, 0f, 0f)),      // a: most relevant
      (2L, Array(0.89f, 0.11f, 0f, 0f)),    // a2: near-dup of a
      (3L, Array(0.5f, 0f, 0.8f, 0f)))      // b: diverse
    val df = vecs.toDF("vec_id", "embedding")
    val mmr = Similarity.mmrTopK(df, "vec_id", "embedding", 0L,
      k = 2, poolSize = 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().toSeq
    // pure relevance would pick (1, 2); MMR must pick (1, 3)
    assert(mmr === Seq((1L, 1L), (2L, 3L)))
    val rel = Similarity.mmrTopK(df, "vec_id", "embedding", 0L,
      k = 3, poolSize = 3, lamNum = 1, lamDen = 1)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteTopK(df, "vec_id", "embedding", 0L, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(rel === brute)
  }

  test("mmrTopK: deterministic under repartitioning, k-bounded output") {
    import graft.ext.Similarity
    val df = Tables.embeddings(spark, sf0001)
    val a = Similarity.mmrTopK(df, "vec_id", "embedding", 0L,
      k = 5, poolSize = 12).collect().toSeq
    val b = Similarity.mmrTopK(df.repartition(7), "vec_id", "embedding",
      0L, k = 5, poolSize = 12).collect().toSeq
    assert(a === b)
    assert(a.size === 5)
    // ranks dense 1..k, scores non-increasing is NOT required (MMR
    // scores are step-local), but picks must be distinct
    assert(a.map(_.getLong(1)).distinct.size === 5)
  }

  // ------------------------------------------------------------------
  // Sampling.isqrtExact / temperatureSample
  // ------------------------------------------------------------------

  test("isqrtExact: exact at knife edges and random points") {
    val rnd = new scala.util.Random(77)
    val ks = Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 15L, 16L, 25L,
      (1L << 31) * (1L << 31) - 1, (1L << 31) * (1L << 31)) ++
      (1 to 200).map(_ => (rnd.nextLong() & ((1L << 62) - 1))) ++
      (1 to 50).map { _ =>
        val k = (rnd.nextLong() & ((1L << 30) - 1)) + 1
        k * k + (rnd.nextInt(3) - 1) // k^2-1, k^2, k^2+1
      }
    val df = ks.toDF("x")
    val got = df.select(col("x"),
      Sampling.isqrtExact(col("x")).as("s")).as[(Long, Long)]
      .collect()
    got.foreach { case (x, s) =>
      assert(s * s <= x && (s + 1) * (s + 1) > x, s"x=$x s=$s")
    }
  }

  test("temperatureSample: smallest stratum keeps all; rates are " +
      "exact sqrt ratios; deterministic under repartitioning") {
    val rows = (1 to 400).map(i => (i.toLong,
      if (i <= 16) "rare" else if (i <= 160) "mid" else "big"))
    val d = rows.toDF("id", "lang")
    val out = Sampling.temperatureSample(d, "id", "lang")
    val rates = out.select("lang", "n_s", "rate_ppm").distinct()
      .as[(String, Long, Long)].collect()
      .map { case (l, n, r) => l -> ((n, r)) }.toMap // lang -> (n, ppm)
    assert(rates("rare") === ((16L, 1000000L)))      // keeps everything
    assert(rates("mid") === ((144L, 1000000L / 3)))  // isqrt 4/12
    assert(rates("big") === ((240L, (1000000L * 4) / 15))) // isqrt 15
    // smallest stratum: every row present
    assert(out.filter(col("lang") === "rare").count() === 16L)
    val again = Sampling.temperatureSample(d.repartition(11), "id",
      "lang")
    assert(out.except(again).count() === 0 &&
      again.except(out).count() === 0)
  }

  test("temperatureSample: NULL stratum is sampled like any other; " +
      "NULL keys are excluded from counts and sample") {
    // null stratum is the SMALLEST -> sets n_min and keeps everything;
    // a plain equi-join (instead of the null-safe one) would return
    // zero null-stratum rows and fail this
    val rows = (1 to 100).map(i => (i.toLong,
      if (i <= 9) null else if (i <= 50) "a" else "b"))
    val d = rows.toDF("id", "lang")
    val out = Sampling.temperatureSample(d, "id", "lang")
    assert(out.filter(col("lang").isNull).count() === 9L)
    val rates = out.select("lang", "n_s").distinct()
      .as[(String, Long)].collect().toMap
    assert(rates(null) === 9L)
    // null keys: dropped AND not counted in n_s (they would deflate
    // the other strata's rates while never being sampled themselves)
    val withNullKeys = rows.map { case (i, l) => (Some(i), l) } ++
      (1 to 41).map(_ => (Option.empty[Long], "a"))
    val d2 = withNullKeys.toDF("id", "lang")
    val out2 = Sampling.temperatureSample(d2, "id", "lang")
    assert(out2.filter(col("id").isNull).count() === 0L)
    val rates2 = out2.select("lang", "n_s").distinct()
      .as[(String, Long)].collect().toMap
    assert(rates2("a") === 41L, "null-keyed rows must not inflate n_s")
  }

  // ------------------------------------------------------------------
  // Sketches.sampleWrite/sampleAppend/sampleRead — at-rest lifecycle
  // ------------------------------------------------------------------

  test("sample sketch at rest: sharded write+append+read equals the " +
      "single-pass sampleQuantiles, including under-k groups") {
    import graft.ext.Sketches
    val rnd = new scala.util.Random(11)
    // group g0: 300 rows (> k), g1: 40 (< k), g2: 7 rows in ONE shard
    val rows =
      (1 to 300).map(i => (i.toLong, "g0", rnd.nextInt(1000).toLong)) ++
      (301 to 340).map(i => (i.toLong, "g1", rnd.nextInt(50).toLong)) ++
      (341 to 347).map(i => (i.toLong, "g2", i.toLong))
    val df = rows.toDF("id", "grp", "v")
    val qs = Seq("p25" -> (1, 4), "p50" -> (1, 2), "p75" -> (3, 4))
    val want = Sketches.sampleQuantiles(df, "grp", "id", col("v"),
      k = 64, qs).collect().toSet
    val path = java.nio.file.Files
      .createTempDirectory("graft_qsk").toString + "/t"
    Sketches.sampleWrite(df.filter(col("id") % 3 === 0), "grp", "id",
      col("v"), 64, path)
    Sketches.sampleAppend(df.filter(col("id") % 3 === 1), "grp", "id",
      col("v"), 64, path)
    Sketches.sampleAppend(df.filter(col("id") % 3 === 2), "grp", "id",
      col("v"), 64, path)
    val got = Sketches.sampleRead(spark, path, "grp", 64, qs)
      .collect().toSet
    assert(got === want)
  }

  // ------------------------------------------------------------------
  // TextStats.bigramSurprisal — CCNet-style perplexity filter
  // ------------------------------------------------------------------

  test("bigramSurprisal: hand-checked surprisal; repeated text scores " +
      "lower (more predictable) than unique text") {
    val d = Seq(
      (1L, "a b a b a b a b"),   // one dominant bigram family
      (2L, "c d e f g h i j"))   // every bigram unique
    val df = d.toDF("id", "text")
    val out = graft.ext.TextStats.bigramSurprisal(df, "id", "text")
      .orderBy("id").collect()
    def mu(x: Long) = graft.functions.Log2Mu.compute(x)
    // corpus: tokens a..j; V = 10; c1(a)=4, c12(a,b)=4, c12(b,a)=3 ...
    val wAb = mu(4 + 10) - mu(4 + 1) // surprisal of (a,b)
    val wBa = mu(4 + 10) - mu(3 + 1) // c1(b)=4
    assert(out(0).getLong(1) === 7L)
    assert(out(0).getLong(2) === (4 * wAb + 3 * wBa) / 7)
    // doc 2: each bigram c12=1, c1=1 -> surprisal mu(11) - mu(2) each
    assert(out(1).getLong(1) === 7L)
    assert(out(1).getLong(2) === mu(11) - mu(2))
    // predictable text must score LOWER surprisal
    assert(out(0).getLong(2) < out(1).getLong(2))
  }

  test("bigramSurprisal: single-token doc gets null, repartition-stable") {
    val df = Seq((1L, "solo"), (2L, "x y z"), (3L, "x y w"))
      .toDF("id", "text")
    val out = graft.ext.TextStats.bigramSurprisal(df, "id", "text")
    val r1 = out.orderBy("id").collect()
    assert(r1(0).getLong(1) === 0L && r1(0).isNullAt(2))
    val again = graft.ext.TextStats
      .bigramSurprisal(df.repartition(5), "id", "text")
    assert(out.except(again).count() === 0 &&
      again.except(out).count() === 0)
  }

  // ------------------------------------------------------------------
  // Warehouse versioned snapshots — time travel
  // ------------------------------------------------------------------

  test("time travel: snapshots immutable, latest resolves, vacuum " +
      "keeps newest and removes dangling") {
    import graft.etl.Warehouse
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tt").toString
    val v1d = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val v2d = Seq((1L, "a2"), (3L, "c")).toDF("k", "v")
    assert(Warehouse.commitVersion(spark, v1d, dir, "t") === 1L)
    assert(Warehouse.commitVersion(spark, v2d, dir, "t") === 2L)
    assert(Warehouse.listVersions(spark, dir, "t") === Seq(1L, 2L))
    // v1 unchanged by the later commit; latest = v2
    assert(Warehouse.readVersion(spark, dir, "t", 1L)
      .orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    assert(Warehouse.readVersion(spark, dir, "t")
      .orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a2"), (3L, "c")))
    // crashed writer: v=3 without _SUCCESS is invisible, and the next
    // commit does NOT reuse its number
    val dangling = new java.io.File(s"$dir/t@versions/v=3")
    assert(dangling.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/t@versions/v=3/part-orphan"),
      Array[Byte](1))
    assert(Warehouse.listVersions(spark, dir, "t") === Seq(1L, 2L))
    assert(Warehouse.readVersion(spark, dir, "t")
      .orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a2"), (3L, "c")))
    assert(Warehouse.commitVersion(spark, v1d, dir, "t") === 4L)
    // foreign dir name (crashed copy tool): tolerated — resolve,
    // commit and vacuum all skip it rather than throwing, and vacuum
    // never deletes what it can't parse as v=<long>
    val foreign = new java.io.File(s"$dir/t@versions/v=3.tmp")
    assert(foreign.mkdirs())
    assert(Warehouse.listVersions(spark, dir, "t") === Seq(1L, 2L, 4L))
    // vacuum keep=1: drops v1, v2 and the dangling v3; keeps v4
    Warehouse.vacuumVersions(spark, dir, "t", keep = 1)
    assert(Warehouse.listVersions(spark, dir, "t") === Seq(4L))
    assert(!dangling.exists())
    assert(foreign.exists(), "vacuum must not touch foreign dir names")
    intercept[IllegalArgumentException] {
      Warehouse.readVersion(spark, dir, "t", 1L)
    }
  }

  // ------------------------------------------------------------------
  // Sampling.prioritySampleWrite/Append/Read — at-rest PPSWOR
  // ------------------------------------------------------------------

  test("priority sample at rest: sharded lifecycle equals the direct " +
      "DLT draw, tau included; under-n population gives tau = 0") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 500).map(i =>
      (i.toLong, (rnd.nextInt(1000) + 1).toLong))
    val df = rows.toDF("k", "w")
    val want = Sampling.priorityTake(df, "k", "w", n = 50)
      .collect().toSet
    val path = java.nio.file.Files
      .createTempDirectory("graft_psk").toString + "/t"
    Sampling.prioritySampleWrite(df.filter(col("k") % 3 === 0), "k",
      "w", 50, path)
    Sampling.prioritySampleAppend(df.filter(col("k") % 3 === 1), "k",
      "w", 50, path)
    Sampling.prioritySampleAppend(df.filter(col("k") % 3 === 2), "k",
      "w", 50, path)
    val got = Sampling.prioritySampleRead(spark, path, "k", "w", 50)
      .collect().toSet
    assert(got === want && want.size === 50)
    // certainty case: population <= n -> est_weight = own weight
    val tiny = rows.take(10).toDF("k", "w")
    val p2 = path + "2"
    Sampling.prioritySampleWrite(tiny.filter(col("k") <= 5), "k", "w",
      50, p2)
    Sampling.prioritySampleAppend(tiny.filter(col("k") > 5), "k", "w",
      50, p2)
    val small = Sampling.prioritySampleRead(spark, p2, "k", "w", 50)
      .collect()
    assert(small.length === 10)
    assert(small.forall(r => r.getLong(3) === r.getLong(1)))
  }

  test("idempotentAppend: null-key rows are idempotent too") {
    import graft.etl.Warehouse
    // dropDuplicates treats null keys as equal; the existence probe
    // must agree or a null-key row re-appends on every rerun
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nullkey").toString
    val d = Seq((Option(1L), "a"), (Option.empty[Long], "b"))
      .toDF("k", "v")
    Warehouse.idempotentAppend(spark, d, dir, "t", Seq("k"))
    Warehouse.idempotentAppend(spark, d, dir, "t", Seq("k"))
    Warehouse.idempotentAppend(spark, d, dir, "t", Seq("k"))
    assert(Warehouse.read(spark, dir, "t").count() === 2L)
  }

  test("tableDiff: null-keyed rows diff null-safely") {
    import graft.etl.Warehouse
    val before = Seq((Option(1L), "x"), (Option.empty[Long], "y"))
      .toDF("k", "v")
    val same = Seq((Option(1L), "x"), (Option.empty[Long], "y"))
      .toDF("k", "v")
    assert(Warehouse.tableDiff(before, same, Seq("k")).count() === 0L,
      "unchanged null-keyed row must not report added+removed")
    val changed = Seq((Option(1L), "x"), (Option.empty[Long], "z"))
      .toDF("k", "v")
    val d2 = Warehouse.tableDiff(before, changed, Seq("k")).collect()
    assert(d2.length === 1 && d2.head.getString(1) === "changed" &&
      d2.head.isNullAt(0))
  }

  // ------------------------------------------------------------------
  // Sampling.budgetTake — token-budget greedy prefix
  // ------------------------------------------------------------------

  test("budgetTake: greedy prefix by score, overflow row dropped, " +
      "repartition-invariant, zero budget empty") {
    val d = Seq(
      (1L, 40L, 0.9), (2L, 50L, 0.8), (3L, 30L, 0.7), (4L, 10L, 0.6))
      .toDF("k", "tok", "sc")
    // order: 1 (40), 2 (cum 90), 3 would hit 120 > 100 -> stops; 4
    // can never re-enter (prefix, not knapsack)
    val got = Sampling.budgetTake(d, "k", "tok", "sc", budget = 100L)
      .orderBy("k").as[(Long, Long, Double, Long)].collect().toSeq
    assert(got === Seq((1L, 40L, 0.9, 40L), (2L, 50L, 0.8, 90L)))
    val re = Sampling
      .budgetTake(d.repartition(3), "k", "tok", "sc", budget = 100L)
      .orderBy("k").as[(Long, Long, Double, Long)].collect().toSeq
    assert(re === got)
    assert(Sampling.budgetTake(d, "k", "tok", "sc", 0L).count() === 0L)
    // exact-fit boundary: budget 90 keeps both, budget 89 keeps one
    assert(Sampling.budgetTake(d, "k", "tok", "sc", 90L).count() === 2L)
    assert(Sampling.budgetTake(d, "k", "tok", "sc", 89L).count() === 1L)
    // null token counts are dropped up front — they must never reach
    // the per-partition sum pass (getLong on null would NPE the job)
    val withNulls = Seq(
      (1L, Some(40L), 0.9), (2L, None, 0.8), (3L, Some(30L), 0.7))
      .toDF("k", "tok", "sc")
    assert(Sampling.budgetTake(withNulls, "k", "tok", "sc", 100L)
      .select("k").as[Long].collect().toSeq.sorted === Seq(1L, 3L))
    // negative token counts error loudly — they would let the running
    // sum re-enter the budget and make the output partition-dependent
    val neg = Seq((1L, 60L, 0.9), (2L, -20L, 0.8)).toDF("k", "tok", "sc")
    intercept[Exception] {
      Sampling.budgetTake(neg, "k", "tok", "sc", 100L).count()
    }
  }

  // ------------------------------------------------------------------
  // Similarity.annRecallAudit
  // ------------------------------------------------------------------

  test("annRecallAudit: perfect recall when every vector shares the " +
      "query's bucket; real corpus stays in range and deterministic") {
    import graft.ext.Similarity
    // identical directions -> identical buckets -> ann sees everything
    val same = (0L until 8L).map(i =>
      (i, Array.fill(4)((i + 1).toFloat))) // colinear vectors
      .toDF("vec_id", "embedding")
    val perfect = Similarity.annRecallAudit(same, "vec_id", "embedding",
      Seq(0L), k = 3, nBits = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(perfect === Seq((0L, 3L, 1000000L)))
    val df = Tables.embeddings(spark, sf0001)
    val a = Similarity.annRecallAudit(df, "vec_id", "embedding",
      (0L until 5L).toSeq, k = 10).orderBy("qid").collect().toSeq
    assert(a.size === 5)
    assert(a.forall { r =>
      val hits = r.getLong(1); val ppm = r.getLong(2)
      hits >= 0 && hits <= 10 && ppm === hits * 1000000L / 10
    })
    val b = Similarity.annRecallAudit(df.repartition(7), "vec_id",
      "embedding", (0L until 5L).toSeq, k = 10)
      .orderBy("qid").collect().toSeq
    assert(a === b)
  }

  // ------------------------------------------------------------------
  // Dedup.appendLshIndex — at-rest index maintenance
  // ------------------------------------------------------------------

  test("appendLshIndex: append equals rebuild (index content and probe " +
      "results), existing files untouched") {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files
      .createTempDirectory("graft_lsha").toString
    val apnd = s"$base/apnd"; val rebuilt = s"$base/rebuilt"
    Dedup.writeLshIndex(docs.filter(col("doc_id") >= 100), "doc_id",
      "text", path = apnd)
    val before = new java.io.File(s"$apnd/bands").listFiles()
      .filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(f => f.getPath -> f.lastModified()).toMap
    Dedup.appendLshIndex(
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      "doc_id", "text", path = apnd)
    // existing band files are immutable under append
    before.foreach { case (p, ts) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.lastModified() === ts, s"touched: $p")
    }
    Dedup.writeLshIndex(docs.filter(col("doc_id") >= 50), "doc_id",
      "text", path = rebuilt)
    // identical index CONTENT...
    def bands(p: String) = spark.read.parquet(s"$p/bands")
      .select("doc_id", "band", "bkey")
    assert(bands(apnd).except(bands(rebuilt)).count() === 0 &&
      bands(rebuilt).except(bands(apnd)).count() === 0)
    // ...and identical probe answers
    val batch = docs.filter(col("doc_id") < 50)
    val a = Dedup.incrementalNearDups(spark, apnd, batch, "doc_id",
      "text").collect().toSet
    val r = Dedup.incrementalNearDups(spark, rebuilt, batch, "doc_id",
      "text").collect().toSet
    assert(a === r)
  }

  // ------------------------------------------------------------------
  // Similarity.centroidDrift
  // ------------------------------------------------------------------

  test("centroidDrift: identical buckets give cos6 = 1e6 - 1 boundary " +
      "or 1e6; opposite buckets negative; first bucket null; " +
      "repartition-invariant") {
    import graft.ext.Similarity
    // bucket 0 and 1 identical composition -> identical centroids ->
    // cosine exactly 1.0 -> floor(1e6) = 1000000
    val rows =
      (0L until 10L).map(i => (i, Array(1.0f, 2.0f, 0.5f, -1.0f))) ++
      (10L until 20L).map(i => (i, Array(1.0f, 2.0f, 0.5f, -1.0f))) ++
      (20L until 30L).map(i => (i, Array(-1.0f, -2.0f, -0.5f, 1.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.centroidDrift(df, "embedding",
      expr("vec_id div 10")).orderBy("bucket").collect()
    assert(out.length === 3)
    assert(out(0).isNullAt(2))
    // cos = ±1 exactly, but sqrt(aa)*sqrt(bb) can land one ulp off aa,
    // so the floored µ-value sits on the knife edge — range-assert
    // (the VALUE is still engine-deterministic; the oracle replays it)
    assert(out(1).getLong(2) >= 999999L && out(1).getLong(2) <= 1000000L)
    assert(out(2).getLong(2) >= -1000001L &&
      out(2).getLong(2) <= -999999L)
    assert(out.forall(_.getLong(1) === 10L))
    val again = Similarity.centroidDrift(df.repartition(7), "embedding",
      expr("vec_id div 10")).orderBy("bucket").collect()
    assert(out.toSeq === again.toSeq)
  }

  // ------------------------------------------------------------------
  // Dedup.lshRecallAudit
  // ------------------------------------------------------------------

  test("lshRecallAudit: found is a subset of truth (verify never adds), " +
      "recall consistent, full recall on exact duplicates") {
    import graft.ext.Dedup
    // exact duplicate pairs share every band -> banding must find all;
    // disjoint vocab across pairs keeps cross-pairs at J = 0
    val dups = (0L until 12L).map { i =>
      val g = i / 2
      (i, s"a$g b$g c$g d$g e$g f$g g$g h$g")
    }.toDF("doc_id", "text")
    val perfect = Dedup.lshRecallAudit(dups, "doc_id", "text",
      maxId = 12L).head()
    assert(perfect.getLong(0) > 0)
    assert(perfect.getLong(1) === perfect.getLong(0))
    assert(perfect.getLong(2) === 1000000L)
    // real corpus: recall in [0, 1e6], exact ppm arithmetic
    val r = Dedup.lshRecallAudit(Tables.documents(spark, sf0001),
      "doc_id", "text", maxId = 150L).head()
    val (t, f, ppm) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))
    assert(f <= t)
    if (t > 0) assert(ppm === f * 1000000L / t)
  }

  // ------------------------------------------------------------------
  // Sampling.paddingAudit
  // ------------------------------------------------------------------

  test("paddingAudit: hand-checked waste; length order never wastes " +
      "more than arrival; repartition-invariant") {
    // lengths 1..8, b = 4: length order batches (1,2,3,4)(5,6,7,8)
    //   padded 4*4 + 8*4 = 48, total 36 -> waste 12/48 = 250000 ppm
    // arrival order = same here; scramble ids so arrival differs:
    // ids map lengths (8,1,7,2,6,3,5,4) -> batches max 8 and 6 ->
    //   padded 8*4 + 6*4 = 56, waste 20/56
    val lens = Seq(8L, 1L, 7L, 2L, 6L, 3L, 5L, 4L)
    val d = lens.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "toks")
    val out = Sampling.paddingAudit(d, "id", "toks", b = 4)
      .orderBy("ordering")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("arrival", 2L, 36L, 56L, 20L * 1000000L / 56L),
      ("length", 2L, 36L, 48L, 12L * 1000000L / 48L)))
    val again = Sampling.paddingAudit(d.repartition(5), "id", "toks", 4)
      .orderBy("ordering")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(again === out)
  }

  test("mooreLewisScore: partitioning-invariant, ranks en docs first") {
    val docs = Tables.documents(spark, sf0001)
    val a = graft.ext.TextStats.mooreLewisScore(docs, "doc_id", "text",
      col("lang") === "en")
    val b = graft.ext.TextStats.mooreLewisScore(docs.repartition(13),
      "doc_id", "text", col("lang") === "en")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }
}
