package graft

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

import graft.functions.IvfKernel

/** Round-15 pins: the single-pass bounded probe selection is
  * IDENTICAL to the repeated-scan selection it replaced (including
  * exact distance ties), the IVF-PQ at-rest lifecycle equals the
  * in-memory search, the hier-index append equals a full rebuild,
  * the winnow width default reproduces the measured r14 A/B regime,
  * and the hier/flat regime diagnostic picks the right quantizer on
  * clustered vs near-orthogonal fixtures.
  */
class Round15Spec extends SparkSpec {

  // ---- bounded-selection probes() identity (r14 verdict item 2) ----

  /** The r14 probes() algorithm verbatim (repeated strict-< scans over
    * a taken mask) — the reference the rewrite must match bit-for-bit.
    */
  private def refProbes(kern: IvfKernel, v: ArrayData,
      nProbe: Int): Seq[Int] = {
    val d = kern.dists(v)
    val n = math.min(nProbe, d.length)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](d.length)
    var r = 0
    while (r < n) {
      var bi = -1
      var k = 0
      while (k < d.length) {
        if (!taken(k) &&
            (bi < 0 || java.lang.Double.compare(d(k), d(bi)) < 0)) bi = k
        k += 1
      }
      taken(bi) = true
      out(r) = bi
      r += 1
    }
    out.toSeq
  }

  private def newProbes(kern: IvfKernel, v: ArrayData,
      nProbe: Int): Seq[Int] = {
    val ad = kern.probes(v, nProbe)
    (0 until ad.numElements()).map(ad.getInt)
  }

  test("probes(): single-pass bounded selection is identical to the " +
      "repeated-scan reference on randomized inputs") {
    val rnd = new scala.util.Random(1501)
    for (trial <- 0 until 200) {
      val dim = 1 + rnd.nextInt(8)
      val nCells = 1 + rnd.nextInt(64)
      val cents = Array.fill(nCells)(
        Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
      val kern = new IvfKernel(cents)
      val v: ArrayData = new GenericArrayData(
        Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
      val nProbe = 1 + rnd.nextInt(nCells + 2) // deliberately > nCells too
      assert(newProbes(kern, v, nProbe) == refProbes(kern, v, nProbe),
        s"trial $trial: nCells=$nCells dim=$dim nProbe=$nProbe")
    }
  }

  test("probes(): exact distance ties keep the first (lowest) index, " +
      "as the reference does") {
    val rnd = new scala.util.Random(1502)
    for (trial <- 0 until 100) {
      val dim = 1 + rnd.nextInt(6)
      // few DISTINCT centroids, each duplicated several times → many
      // exact (bitwise-identical) distance ties at scattered indices
      val distinct = Array.fill(1 + rnd.nextInt(4))(
        Array.fill(dim)(rnd.nextFloat()))
      val cents = Array.fill(3 + rnd.nextInt(20))(
        distinct(rnd.nextInt(distinct.length)).clone())
      val kern = new IvfKernel(cents)
      val v: ArrayData = new GenericArrayData(Array.fill(dim)(rnd.nextFloat()))
      for (nProbe <- 1 to math.min(cents.length, 7))
        assert(newProbes(kern, v, nProbe) == refProbes(kern, v, nProbe),
          s"trial $trial nProbe=$nProbe")
    }
  }

  test("probes(): all-identical centroids degenerate to ascending " +
      "index order (every distance ties)") {
    val c = Array.fill(12)(Array(0.25f, -0.5f, 1.0f))
    val kern = new IvfKernel(c)
    val v: ArrayData = new GenericArrayData(Array(0.1f, 0.2f, 0.3f))
    assert(newProbes(kern, v, 5) == Seq(0, 1, 2, 3, 4))
    assert(newProbes(kern, v, 5) == refProbes(kern, v, 5))
  }

  // ---- IVF-PQ at rest (r14 verdict item 1) ----

  test("PqAdcKernel LUT score equals the reconstruct-then-dot cosine " +
      "to float-grouping tolerance, and is exact on dyadic inputs") {
    val rnd = new scala.util.Random(1504)
    val (m, kk, sd) = (4, 8, 4)
    val cbs: Seq[Seq[Array[Float]]] = Seq.fill(m)(
      Seq.fill(kk)(Array.fill(sd)(rnd.nextFloat() * 2f - 1f)))
    val q = Array.fill(m * sd)(rnd.nextFloat() * 2f - 1f)
    val kern = new graft.functions.PqAdcKernel(
      cbs.map(_.toArray).toArray, q)
    for (_ <- 0 until 100) {
      val codes = Array.fill(m)(rnd.nextInt(kk))
      val recon = codes.zipWithIndex.flatMap { case (c, j) => cbs(j)(c) }
      def dotd(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
        acc
      }
      val flat = dotd(recon, q) /
        (math.sqrt(dotd(recon, recon)) * math.sqrt(dotd(q, q)))
      val lut = kern.score(new GenericArrayData(codes))
      assert(math.abs(lut - flat) <= 1e-12 * math.max(1.0, math.abs(flat)),
        s"ADC $lut vs flat $flat")
    }
    // dyadic inputs: every product/sum is exact, so the two groupings
    // coincide bit-for-bit — any difference is an arithmetic bug, not
    // rounding
    val cbsD: Seq[Seq[Array[Float]]] = Seq.fill(m)(
      Seq.tabulate(kk)(c => Array.fill(sd)((c % 4) * 0.25f - 0.5f)))
    val qD = Array.tabulate(m * sd)(i => (i % 8) * 0.125f - 0.5f)
    val kernD = new graft.functions.PqAdcKernel(
      cbsD.map(_.toArray).toArray, qD)
    val codesD = Array.tabulate(m)(j => j % kk)
    val reconD = codesD.zipWithIndex.flatMap { case (c, j) => cbsD(j)(c) }
    def dotd2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    assert(kernD.score(new GenericArrayData(codesD)) ==
      dotd2(reconD, qD) /
        (math.sqrt(dotd2(reconD, reconD)) * math.sqrt(dotd2(qD, qD))))
  }

  test("ivfPqTopKAtRest: exact-rerank over a corpus-sized pool " +
      "returns the brute-force exact top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(1505)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("id", "v")
    val cents = graft.ext.Similarity.seedCentroids(df, "id", "v", 4)
    val cbs = graft.ext.Similarity.pqCodebooks(df, "id", "v", m = 4, k = 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft_r15_pq").toString + "/idx"
    graft.ext.Similarity.writeIvfPq(df, "id", "v", path, cents, cbs)
    val qVec = rows.head._2
    // nProbe = all cells + rerank pool = corpus: the ADC stage can
    // drop nothing, so the exact-rerank answer must be bruteTopK's
    val got = graft.ext.Similarity.ivfPqTopKAtRest(spark, path, "id",
      0L, qVec, k = 5, cents, cbs, nProbe = 4,
      rerank = 60, rerankFrom = Some((df, "v")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = graft.ext.Similarity.bruteTopK(df, "id", "v", 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute)
  }

  // ---- knnJoin quantizer auto-selection (r14 verdict item 5) ----

  test("hierRecommended: picks hier on a clustered corpus at " +
      "nlist >= 400 and flat on a near-orthogonal one (and always " +
      "flat below the measured nlist crossover)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1508)
    val nlist = 400
    val dim = 16
    val centers = Seq.fill(nlist)(
      Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    // clustered: center + small noise — the q232/q233 fixture shape
    val clustered = (0 until 600).map { i =>
      val c = centers(i % nlist)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("id", "v")
    assert(graft.ext.Similarity
      .hierRecommended(clustered, "id", "v", centers, sampleN = 64))
    val ratioC = graft.ext.Similarity
      .clusterAffinityRatio(clustered, "id", "v", centers, sampleN = 64)
    assert(ratioC < 0.1, s"clustered ratio $ratioC not << threshold")
    // near-orthogonal: i.i.d. vectors, seeded centroids = smallest ids
    // (the shipped-embeddings regime where hier's balance skews)
    val ortho = (0 until 600).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "v")
    val seedCents = graft.ext.Similarity
      .seedCentroids(ortho, "id", "v", nlist)
    assert(!graft.ext.Similarity
      .hierRecommended(ortho, "id", "v", seedCents, sampleN = 64))
    val ratioO = graft.ext.Similarity
      .clusterAffinityRatio(ortho, "id", "v", seedCents, sampleN = 64)
    assert(ratioO > graft.ext.Similarity.HierAffinityThreshold,
      s"near-orthogonal ratio $ratioO under threshold")
    // below the measured crossover, clustered or not -> flat
    assert(!graft.ext.Similarity
      .hierRecommended(clustered, "id", "v", centers.take(64),
        sampleN = 64))
  }

  test("knnJoinAuto: equals the explicit-hier call on a clustered " +
      "corpus and the explicit-flat call on a near-orthogonal one") {
    import spark.implicits._
    val rnd = new scala.util.Random(1509)
    val nlist = 400
    val centers = Seq.fill(nlist)(Array.fill(8)(rnd.nextFloat()))
    val clustered = (0 until 450).map { i =>
      val c = centers(i % nlist)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
    }.toDF("id", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().toSeq
    assert(rows(graft.ext.Similarity.knnJoinAuto(clustered, "id", "v",
        k = 2, centers, nProbe = 2)) ==
      rows(graft.ext.Similarity.knnJoin(clustered, "id", "v",
        k = 2, centers, nProbe = 2, hier = true)))
    val ortho = (0 until 200).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "v")
    val seedCents = graft.ext.Similarity
      .seedCentroids(ortho, "id", "v", 16)
    assert(rows(graft.ext.Similarity.knnJoinAuto(ortho, "id", "v",
        k = 2, seedCents, nProbe = 2)) ==
      rows(graft.ext.Similarity.knnJoin(ortho, "id", "v",
        k = 2, seedCents, nProbe = 2, hier = false)))
  }

  // ---- winnow width rule as code (r14 verdict item 3) ----

  test("winnowWidthFor: reproduces the r14 A/B's 256-width regime at " +
      "60x volume and leaves the graded sf0.1 config untouched") {
    import graft.ext.Dedup
    // 60x = 129.5 M grams (BUILD_NOTES r14 table): derived width must
    // land in the measured in-memory regime (>= 256, ~0.5 M grams per
    // partition), not the 32-width spill region (~4 M per partition)
    val w60 = Dedup.winnowWidthFor(129500000L, 32)
    assert(w60 >= 256 && 129500000L / w60 <= Dedup.WinnowGramBudget, s"$w60")
    // graded sf0.1 volume (~2.2 M grams) derives the session width —
    // the graded plan stays byte-identical to the pre-parameter form
    assert(Dedup.winnowWidthFor(2200000L, 32) == 32)
    assert(Dedup.winnowWidthFor(0L, 32) == 32)
  }

  test("winnowFingerprints/winnowMatches: explicit width is " +
      "result-invariant (a partition-count knob, never semantics)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1507)
    val docs = (0 until 30).map { i =>
      val base = Seq.fill(12)(rnd.alphanumeric.take(8).mkString).mkString(" ")
      (i.toLong, if (i % 3 == 0) base + " shared tail of doc" else base)
    }.toDF("doc_id", "text")
    val d1 = graft.ext.Dedup
      .winnowFingerprints(docs, "doc_id", "text", g = 8, w = 4)
      .orderBy("doc_id", "fp", "fp_pos").collect().toSeq
    val d2 = graft.ext.Dedup
      .winnowFingerprints(docs, "doc_id", "text", g = 8, w = 4, width = 7)
      .orderBy("doc_id", "fp", "fp_pos").collect().toSeq
    assert(d1 == d2)
    val m1 = graft.ext.Dedup
      .winnowMatches(docs, "doc_id", "text", g = 8, w = 4, minShared = 1L)
      .orderBy("id_a", "id_b").collect().toSeq
    val m2 = graft.ext.Dedup
      .winnowMatches(docs, "doc_id", "text", g = 8, w = 4, minShared = 1L,
        width = 11)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(m1 == m2)
  }

  // ---- hier-index append lifecycle (r14 verdict item 4) ----

  test("appendIvfHier: build+append index content equals a full " +
      "rebuild row-for-row (same ids, same sup/cell directories)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1506)
    val rows = (0 until 80).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("id", "v")
    val cents = graft.ext.Similarity.seedCentroids(df, "id", "v", 9)
    val base = java.nio.file.Files
      .createTempDirectory("graft_r15_hier").toString
    graft.ext.Similarity.writeIvfHier(
      df.filter(col("id") < 40), "id", "v", s"$base/inc", cents)
    graft.ext.Similarity.appendIvfHier(
      df.filter(col("id") >= 40), "id", "v", s"$base/inc", cents)
    graft.ext.Similarity.writeIvfHier(df, "id", "v", s"$base/full", cents)
    def content(p: String): Seq[(Long, Long, Long)] =
      spark.read.parquet(p)
        .select(col("id"), col("sup").cast("long"),
          col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    assert(content(s"$base/inc") == content(s"$base/full"))
  }

  test("appendIvfPq: build+append code-index content equals a full " +
      "rebuild row-for-row") {
    import spark.implicits._
    val rnd = new scala.util.Random(1510)
    val rows = (0 until 70).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("id", "v")
    val cents = graft.ext.Similarity.seedCentroids(df, "id", "v", 4)
    val cbs = graft.ext.Similarity.pqCodebooks(df, "id", "v", m = 4, k = 8)
    val base = java.nio.file.Files
      .createTempDirectory("graft_r15_pqapp").toString
    graft.ext.Similarity.writeIvfPq(
      df.filter(col("id") < 35), "id", "v", s"$base/inc", cents, cbs)
    graft.ext.Similarity.appendIvfPq(
      df.filter(col("id") >= 35), "id", "v", s"$base/inc", cents, cbs)
    graft.ext.Similarity.writeIvfPq(df, "id", "v", s"$base/full",
      cents, cbs)
    def content(p: String): Seq[(Long, Seq[Int], Long)] =
      spark.read.parquet(p)
        .select(col("id"), col("codes"), col("cell").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2)))
        .toSeq.sortBy(t => (t._1, t._3))
    assert(content(s"$base/inc") == content(s"$base/full"))
  }

  test("ivfPqHierTopKAtRest equals ivfPqTopKAtRest when the flat and " +
      "hier quantizers agree on the probed cells (sanity composition)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1511)
    // few, well-separated centroids: flat and hier assignment agree,
    // so the two layouts must return identical answers
    val cents = Seq.tabulate(4)(c =>
      Array.tabulate(16)(i => if (i == c) 10f else 0f))
    val rows = (0 until 60).map { i =>
      val c = cents(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val df = rows.toDF("id", "v")
    val cbs = graft.ext.Similarity.pqCodebooks(df, "id", "v", m = 4, k = 8)
    val base = java.nio.file.Files
      .createTempDirectory("graft_r15_pqhier").toString
    graft.ext.Similarity.writeIvfPq(df, "id", "v", s"$base/flat",
      cents, cbs)
    graft.ext.Similarity.writeIvfPqHier(df, "id", "v", s"$base/hier",
      cents, cbs)
    val qVec = rows.head._2
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flat = rowsOf(graft.ext.Similarity.ivfPqTopKAtRest(spark,
      s"$base/flat", "id", 0L, qVec, 5, cents, cbs, nProbe = 4))
    val hier = rowsOf(graft.ext.Similarity.ivfPqHierTopKAtRest(spark,
      s"$base/hier", "id", 0L, qVec, 5, cents, cbs, nProbe = 4))
    assert(flat == hier)
  }

  test("probes(): equals the lexicographic (distance, index) sort's " +
      "nProbe-prefix (the declared contract, independent of either " +
      "implementation)") {
    val rnd = new scala.util.Random(1503)
    for (_ <- 0 until 50) {
      val dim = 4
      val cents = Array.fill(2 + rnd.nextInt(30))(
        Array.fill(dim)(rnd.nextFloat()))
      val kern = new IvfKernel(cents)
      val v: ArrayData = new GenericArrayData(Array.fill(dim)(rnd.nextFloat()))
      val d = kern.dists(v)
      val sorted = d.zipWithIndex
        .sortWith { case ((da, ia), (db, ib)) =>
          val c = java.lang.Double.compare(da, db)
          c < 0 || (c == 0 && ia < ib)
        }
        .map(_._2).toSeq
      for (nProbe <- 1 to math.min(cents.length, 5))
        assert(newProbes(kern, v, nProbe) == sorted.take(nProbe))
    }
  }

  // ---- r15 OPTIMIZATION pin: winnowMatches single-pass bucket shape --

  test("winnowMatches bucket shape equals the fp-keyed self-join " +
      "reference (incl. maxDf cap) on a randomized near-dup corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(1515)
    val vocab = "abcdefgh".toSeq
    def txt(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString
    // near-dup-dense corpus: a few base strings, mutated copies
    val bases = Seq.fill(6)(txt(60))
    val docs = (0 until 80).map { i =>
      val b = bases(rnd.nextInt(bases.length))
      val mut = if (rnd.nextBoolean()) b
        else b.updated(rnd.nextInt(b.length),
          vocab(rnd.nextInt(vocab.length)))
      (i.toLong, mut)
    }.toDF("doc_id", "text")
    val (g, w) = (5, 3)
    // the pre-r15 join shape, verbatim, as the reference
    def joinShape(maxDf: Long): Seq[(Long, Long, Long)] = {
      val fp = graft.ext.Dedup
        .winnowFingerprints(docs, "doc_id", "text", g, w)
        .select(col("doc_id"), col("fp")).distinct()
      val kept =
        if (maxDf == Long.MaxValue) fp
        else fp.join(
          fp.groupBy("fp").agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= maxDf).select("fp"), "fp")
      kept.select(col("doc_id").as("id_a"), col("fp"))
        .join(kept.select(col("doc_id").as("id_b"), col("fp")), "fp")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    }
    def bucketShape(maxDf: Long): Seq[(Long, Long, Long)] =
      graft.ext.Dedup.winnowMatches(docs, "doc_id", "text", g, w,
        minShared = 1L, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    assert(bucketShape(Long.MaxValue) == joinShape(Long.MaxValue))
    assert(bucketShape(3L) == joinShape(3L))
    assert(bucketShape(Long.MaxValue).nonEmpty) // non-vacuous
  }

  // ---- assocRules grouped-set reshape (r15 optimization) ----

  test("assocRules grouped-set shape equals the self-join reference " +
      "(rows, supports, metrics) on randomized baskets with dups/nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(1516)
    val items = ('A' to 'J').map(_.toString)
    val rows = (0 until 1200).map { _ =>
      val b: java.lang.Long =
        if (rnd.nextInt(50) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(120).toLong)
      val i: String =
        if (rnd.nextInt(60) == 0) null
        else items(rnd.nextInt(items.length))
      (b, i)
    } // duplicates guaranteed at this density: set semantics exercised
    val df = rows.toDF("basket", "item")
    // the pre-r15 self-join shape, verbatim, as the reference
    val txns = df.select(col("basket").as("__b"), col("item").as("__i"))
      .filter(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()
    val st = txns.groupBy("__b").agg(count(lit(1)).as("__s"))
      .agg(max(col("__s")), count(lit(1))).collect().head
    val nB = st.getLong(1)
    val refPairs = txns.as("l")
      .join(txns.as("r"),
        col("l.__b") === col("r.__b") && col("l.__i") =!= col("r.__i"))
      .groupBy(col("l.__i").as("antecedent"),
        col("r.__i").as("consequent"))
      .agg(count(lit(1)).as("sup_pair"))
      .filter(col("sup_pair") >= 3)
    val sup = txns.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val ref = refPairs
      .join(sup.select(col("__i").as("antecedent"),
        col("__n").as("sup_ant")), "antecedent")
      .join(sup.select(col("__i").as("consequent"),
        col("__n").as("sup_cons")), "consequent")
      .withColumn("n_baskets", lit(nB))
      .select(col("antecedent"), col("consequent"), col("n_baskets"),
        col("sup_ant"), col("sup_cons"), col("sup_pair"),
        expr("cast((cast(sup_pair AS decimal(38,0)) * 1000000)" +
          " div sup_ant AS long)").as("conf_ppm"),
        expr("cast((cast(sup_pair AS decimal(38,0)) * n_baskets" +
          " * 1000000) div (cast(sup_ant AS decimal(38,0))" +
          " * sup_cons) AS long)").as("lift_ppm"))
      .collect().map(_.toSeq).toSeq
      .sortBy(_.take(2).mkString("|"))
    val got = graft.ext.Mining.assocRules(df, "basket", "item",
        minSupport = 3)
      .collect().map(_.toSeq).toSeq
      .sortBy(_.take(2).mkString("|"))
    assert(got == ref)
    assert(got.nonEmpty) // non-vacuous
  }

  // ---- size-gated local BPE merge loop (r15 optimization) ----

  test("bpeMerges local loop equals the distributed rounds " +
      "(threshold 0 forces distributed) incl. count ties and " +
      "early exhaustion") {
    import spark.implicits._
    val rnd = new scala.util.Random(1518)
    val vocabChars = "abcde"
    // dense tiny alphabet -> heavy pair-count ties, exercising the
    // (count desc, l asc, r asc) tie order on both paths
    val docs = (0 until 60).map { i =>
      val words = Seq.fill(3 + rnd.nextInt(5))(
        Seq.fill(1 + rnd.nextInt(4))(
          vocabChars(rnd.nextInt(vocabChars.length))).mkString)
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    def both(df: org.apache.spark.sql.DataFrame, nMerges: Int)
        : (Seq[Seq[Any]], Seq[Seq[Any]]) = (
      graft.ext.TextStats.bpeMerges(df, "text", nMerges)
        .orderBy("round").collect().map(_.toSeq).toSeq,
      graft.ext.TextStats.bpeMerges(df, "text", nMerges,
          localVocabThreshold = 0)
        .orderBy("round").collect().map(_.toSeq).toSeq)
    for (nMerges <- Seq(1, 4, 8)) {
      val (local, dist) = both(docs, nMerges)
      assert(local == dist, s"nMerges=$nMerges")
      assert(local.nonEmpty, s"nMerges=$nMerges non-vacuous")
    }
    // early exhaustion: a 2-word vocab runs out of mergeable pairs
    // well before the round budget on BOTH paths
    val tiny = Seq((1L, "ab ab b"), (2L, "ab b")).toDF("doc_id", "text")
    val (tl, td) = both(tiny, 10)
    assert(tl == td)
    assert(tl.size < 10 && tl.nonEmpty)
  }

  // ---- overlapped independent index writes (r15 optimization) ----

  test("writeLshIndex with overlapped band/shingle writes lands " +
      "exactly the rows the two pipelines define") {
    import spark.implicits._
    val docs = (0 until 40)
      .map(i => (i.toLong, s"alpha beta gamma delta tok$i epsilon zeta"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_r15_paridx").toString + "/idx"
    graft.ext.Dedup.writeLshIndex(docs, "doc_id", "text", n = 3, k = 8,
      bands = 4, path = path)
    val bandsGot = spark.read.parquet(s"$path/bands")
      .select("pdir", "band", "bkey", "doc_id")
      .collect().map(_.toSeq).toSet
    val bandsWant = graft.ext.Dedup
      .bandRows(docs, "doc_id", "text", 3, 8, 4)
      .withColumn("pdir", pmod(hash(col("bkey")), lit(64)))
      .select("pdir", "band", "bkey", "doc_id")
      .collect().map(_.toSeq).toSet
    assert(bandsGot == bandsWant)
    assert(bandsGot.nonEmpty)
    val shGot = spark.read.parquet(s"$path/shingles")
      .selectExpr("doc_id", "array_join(sh, '~')")
      .collect().map(_.toSeq).toSet
    val shWant = docs.select(col("doc_id"), array_distinct(
        graft.ext.Dedup.shingles(col("text"), 3)).as("sh"))
      .selectExpr("doc_id", "array_join(sh, '~')")
      .collect().map(_.toSeq).toSet
    assert(shGot == shWant)
  }

  test("ParJobs rethrows the original failure from a concurrent " +
      "action after all actions settle") {
    val hit = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      graft.ext.ParJobs(
        () => { Thread.sleep(50); hit.set(true) },
        () => throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(hit.get(), "the healthy action must still complete")
  }

  // ---- earliestArrival frontier-only relaxation (r15 optimization) ----

  test("earliestArrival frontier-only relaxation equals full " +
      "re-relaxation round-for-round on randomized temporal graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(1517)
    // the pre-r15 full-relaxation shape, verbatim, as the reference
    def fullRelax(edges: org.apache.spark.sql.DataFrame,
        sources: org.apache.spark.sql.DataFrame,
        rounds: Int): Seq[(Long, Long)] = {
      val dir = edges.filter(col("s") =!= col("d"))
        .select(col("s").as("u"), col("d").as("v"),
          col("t").cast("long").as("t"))
      val sym = dir.union(dir.select(col("v"), col("u"), col("t")))
        .distinct().localCheckpoint()
      var arr = sources.select(col("node")).distinct()
        .withColumn("arr", lit(0L)).localCheckpoint()
      for (_ <- 1 to rounds) {
        val cand = sym
          .join(arr.withColumnRenamed("node", "u"), "u")
          .filter(col("t") >= col("arr"))
          .select(col("v").as("node"), col("t").as("arr"))
        arr = arr.union(cand)
          .groupBy("node").agg(min(col("arr")).as("arr"))
          .localCheckpoint()
      }
      arr.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    for (trial <- 0 until 3) {
      val nNodes = 30 + rnd.nextInt(40)
      val edges = Seq.fill(300)((rnd.nextInt(nNodes).toLong,
        rnd.nextInt(nNodes).toLong, rnd.nextInt(20).toLong))
        .toDF("s", "d", "t")
      val sources = Seq.fill(3)(rnd.nextInt(nNodes).toLong).toDF("node")
      for (rounds <- Seq(1, 2, 4)) {
        val got = graft.ext.Graph
          .earliestArrival(edges, "s", "d", "t", sources, rounds)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val ref = fullRelax(edges, sources, rounds)
        assert(got == ref, s"trial $trial rounds=$rounds")
        assert(got.size > 3, s"trial $trial non-vacuous") // reaches past sources
      }
    }
  }

  test("assocRules maxBasketSize guard still fails loudly on an " +
      "oversized basket") {
    import spark.implicits._
    val df = (0 until 10).map(i => (1L, s"i$i")).toDF("b", "i")
    // r16: the guard moved INSIDE the set aggregation (it fails the
    // moment a basket crosses the cap, without assembling the set it
    // is measuring), so it surfaces from the n_baskets job wrapped in
    // Spark's task-failure chain rather than as a pre-job require
    val e = intercept[Exception] {
      graft.ext.Materialize.scope(graft.ext.Mining.assocRules(df, "b", "i",
        minSupport = 1, maxBasketSize = 5))
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msgs.contains("maxBasketSize"))
  }
}
