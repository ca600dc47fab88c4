package graft

import org.apache.spark.sql.functions._

/** Round-13 pins: the de-windowed embeddingDedupGroups rewrite
  * (groupBy + join-back) is bit-equal to the retired window form, the
  * allocation-free flat probe selection matches the boxed (distance,
  * index) sort it replaced, IvfKernel content equality enables plan
  * canonicalization across separately built kernels, and the
  * shared-constant RP family bound saturates instead of aborting.
  */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  private def randVecs(n: Int, dim: Int, seed: Int)
      : Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(k =>
      (k.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
  }

  // ---- de-windowed embeddingDedupGroups == retired window form ----

  test("embeddingDedupGroups (groupBy + join-back) is bit-equal to the " +
      "retired bucket-window form, dense hot bucket included") {
    val rnd = new scala.util.Random(13)
    val dim = 8
    val base = randVecs(50, dim, 131)
    // a dense semantic cluster: 40 jittered copies of one vector — the
    // hot-bucket case the window form serialized through one task
    val hot = (0 until 40).map { k =>
      (200L + k, base.head._2.map(x => x * (1f + rnd.nextFloat() * 1e-4f)))
    }
    val rows = base ++ hot :+ (999L, Array.fill(dim)(0f))
    val df = rows.toDF("id", "vec")
    for (thr <- Seq(0.35, 0.9); bits <- Seq(4, 8)) {
      val a = graft.ext.Dedup
        .embeddingDedupGroups(df, "id", "vec", thr, bits)
        .orderBy("id").collect().toSeq
      val b = SpecOnlyOps
        .embeddingDedupGroupsWindowed(df, "id", "vec", thr, bits)
        .orderBy("id").collect().toSeq
      assert(a == b, s"thr=$thr bits=$bits")
    }
  }

  test("embeddingDedupGroups plan has no WindowExec and partial (map-" +
      "side) rep aggregation") {
    val df = randVecs(30, 8, 132).toDF("id", "vec")
    val out = graft.ext.Dedup.embeddingDedupGroups(df, "id", "vec",
      0.9, nBits = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "window form should be gone")
    // groupBy(min(struct)) partial-aggregates before the exchange
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      s"expected a partial aggregate in:\n$plan")
  }

  // ---- flat probes(): selection scan == boxed (distance, index) sort --

  test("IvfKernel.probes selection order equals the boxed (distance, " +
      "index) sort it replaced, ties included") {
    val rnd = new scala.util.Random(133)
    val dim = 8
    val cents = Array.fill(64)(Array.fill(dim)(rnd.nextFloat()))
    // force distance TIES: duplicate some centroids exactly
    for (i <- 0 until 8) cents(32 + i) = cents(i).clone()
    val k = new graft.functions.IvfKernel(cents)
    val probeVecs = Array.fill(40)(Array.fill(dim)(rnd.nextFloat()))
    for (v <- probeVecs; nProbe <- Seq(1, 3, 8, 64)) {
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.map(x => x: Any))
      val got = k.probes(ad, nProbe).toIntArray().toSeq
      val d = k.dists(ad)
      val want = Array.range(0, d.length).map(i => (d(i), i))
        .sortBy(identity)(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
        .take(nProbe).map(_._2).toSeq
      assert(got == want, s"nProbe=$nProbe")
    }
  }

  // ---- IvfKernel content equality / hashing ----

  test("separately built IvfKernels over identical centroids compare " +
      "equal (and expressions canonicalize), different centroids don't") {
    val rnd = new scala.util.Random(134)
    val c1 = Seq.fill(8)(Array.fill(4)(rnd.nextFloat()))
    val k1 = graft.functions.IvfFunctions.kernel(c1)
    val k2 = graft.functions.IvfFunctions.kernel(c1.map(_.clone()))
    assert(k1 == k2 && k1.hashCode == k2.hashCode)
    val c2 = c1.updated(3, c1(3).map(_ + 1f))
    assert(k1 != graft.functions.IvfFunctions.kernel(c2))
    // the expression-level consequence: over the SAME child, the two
    // kernels build EQUAL expressions (Catalyst subexpression
    // elimination / canonicalization keys on this case-class equality)
    val child = org.apache.spark.sql.catalyst.expressions.Literal(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill(4)(0.5f).map(x => x: Any)),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    val e1 = graft.functions.IvfCellExpr(child, k1)
    val e2 = graft.functions.IvfCellExpr(child, k2)
    assert(e1 == e2, "equal kernels must make equal expressions")
  }

  // ---- q227: the refreshing stream's visibility boundary, proven ----

  test("q227 refreshing replay differs from the snapshot replay (q226) " +
      "by EXACTLY the bucket-0 pairs whose partner was appended " +
      "mid-stream, and bucket-1 pairs DO reach the appended window — " +
      "both branches non-vacuous on the graded fixture") {
    val d = "/root/testdata/sf0.01"
    val full = SparkEntry.queries("q226_stream_neardup")(spark, d)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val refresh = SparkEntry
      .queries("q227_stream_neardup_refresh")(spark, d)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val excluded = full.filter(p =>
      p._1 < 25 && p._2 >= 200 && p._2 < 300)
    assert(refresh == full.filterNot(excluded.contains),
      "refresh result must be the snapshot result minus the bucket-0/" +
        "appended-window pairs")
    assert(excluded.nonEmpty,
      "VACUOUS: no bucket-0 pair had its partner in the appended " +
        "window — the snapshot-per-batch branch graded nothing")
    assert(refresh.exists(p =>
        p._1 >= 25 && p._2 >= 200 && p._2 < 300),
      "VACUOUS: no bucket-1 pair reached the appended window — the " +
        "append-visibility branch graded nothing")
  }

  // ---- q228: streaming HLL state == batch finalize, engine path ----

  test("q228 streaming HLL replay equals the batch hllRegisters " +
      "finalize on (event_type, used, reg_sum)") {
    val d = sf0001
    val stream = SparkEntry.queries("q228_stream_hll")(spark, d)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val batch = SparkEntry.queries("q150_hll_distinct")(spark, d)
      .select("event_type", "used", "reg_sum")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  // ---- hier tables built once, driver-side, and shipped ----

  test("building a hier=true column prepares the kernel's two-level " +
      "tables DRIVER-side, the prepared tables survive java " +
      "serialization, and hier assignment is identical across the " +
      "round-trip") {
    val rnd = new scala.util.Random(136)
    val cents = Seq.fill(64)(Array.fill(8)(rnd.nextFloat()))
    val k = graft.functions.IvfFunctions.kernel(cents)
    assert(!k.hierPrepared)
    graft.functions.IvfFunctions.cellOf(col("v"), k, hier = true)
    assert(k.hierPrepared,
      "cellOf(hier=true) must build the tables before the plan ships — " +
        "a task rebuilding them pays O(nlist^1.5 * dim) per task " +
        "(the r13 thread-dump finding)")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(k); oos.close()
    val k2 = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[graft.functions.IvfKernel]
    assert(k2.hierPrepared, "prepared tables must ride serialization")
    val vs = Seq.fill(50)(Array.fill(8)(rnd.nextFloat()))
    vs.foreach { v =>
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.map(x => x: Any))
      assert(k.cellHier(ad) == k2.cellHier(ad))
      assert(k.cell(ad) == k2.cell(ad))
    }
  }

  // ---- shared RP family bound ----

  test("nBits saturation reads the family bound: MaxRpBits-sized and " +
      "oversized requests bucket identically, never abort") {
    val df = randVecs(20, 8, 135).toDF("id", "vec")
    val atCap = graft.ext.Dedup.embeddingDedupGroups(df, "id", "vec",
      0.9, nBits = graft.ext.Similarity.MaxRpBits).orderBy("id").collect()
    val over = graft.ext.Dedup.embeddingDedupGroups(df, "id", "vec",
      0.9, nBits = 40).orderBy("id").collect()
    assert(atCap.toSeq == over.toSeq)
    intercept[IllegalArgumentException] {
      graft.ext.Similarity.rpBucket(col("vec"),
        graft.ext.Similarity.MaxRpBits + 1)
    }
  }
}
