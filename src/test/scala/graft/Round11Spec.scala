package graft

import org.apache.spark.sql.functions._

/** Round-11 pins: the four r10 ADVICE fixes — zoneAppend finishes a
  * dead prior append at entry, so no orphan outlives it, fleissKappa
  * bounds its contract-check collect, ppsTake fails loudly
  * on fractional weights instead of silently truncating them to zero,
  * and kmvJaccard's guard message survives huge group counts.
  */
class Round11Spec extends FaultFsSpec {
  import spark.implicits._

  // ---- zoneAppend: entry recovery of a dead prior append ----

  test("zoneAppend with a pre-existing crash marker sweeps the dead " +
      "run's orphans at entry; direct directory reads stay exact") {
    // the crash marker is the dead append's aside: the next append
    // rolls it forward at entry; a crash before the commit leaves only
    // staging, which the next append overwrites
    val crashes = crashAtEachStep(
      setup = dir => graft.ext.Layout.zoneWrite(
        (1L to 100L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 4,
        s"$dir/t"),
      op = dir => graft.ext.Layout.zoneAppend(
        (101L to 120L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 1,
        s"$dir/t")) { (dir, at) =>
      val path = s"$dir/t"
      graft.ext.Layout.zoneAppend(
        (121L to 140L).map(i => (i, i * 10L)).toDF("id", "x"), "x", 2, path)
      assert(!exists(s"${path}__append_old"),
        s"$at: marker not cleared after the successful append")
      // direct directory read (no sidecar) must see exactly the live rows
      val direct = spark.read.parquet(path).count()
      assert(direct === 120L || direct === 140L, at)
      // sidecar references every live file and its row counts are exact
      val zones = spark.read.parquet(path + ".zones")
      assert(zones.agg(sum("rows")).collect().head.getLong(0) === direct, at)
      val live = localFile(path).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.getName).toSet
      val referenced = zones.select("file").collect()
        .map(r => localFile(r.getString(0)).getName).toSet
      assert(referenced === live, at)
    }
    assert(crashes > 3)
  }

  test("zoneAppend without a marker performs no sweep and no extra " +
      "listing work on the happy path (files before == files after " +
      "minus the appended batch)") {
    val dir = java.nio.file.Files.createTempDirectory("zones11b").toString
    val path = s"$dir/t"
    graft.ext.Layout.zoneWrite(
      (1L to 50L).map(i => (i, i * 3L)).toDF("id", "x"), "x", 2, path)
    val before = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    graft.ext.Layout.zoneAppend(
      (51L to 60L).map(i => (i, i * 3L)).toDF("id", "x"), "x", 1, path)
    val after = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(before.subsetOf(after), "happy-path append deleted a file")
    assert(spark.read.parquet(path).count() === 60L)
  }

  // ---- sidecar swap crash: roll-forward + reader fallback ----

  test("a crash between swapZones' two renames (no live .zones) is " +
      "survivable: readers fall back non-mutating, the next " +
      "maintenance op rolls the committed .zones.next forward") {
    // the window: the append's data files are in place and its group is
    // committed, the live sidecar is stashed in the aside, and the new
    // one (`t__append/_zones`) is not promoted yet
    var hit = 0
    crashAtEachStep(
      setup = dir => graft.ext.Layout.zoneWrite(
        (1L to 80L).map(i => (i, i * 5L)).toDF("id", "x"), "x", 4,
        s"$dir/t"),
      op = dir => graft.ext.Layout.zoneAppend(
        (81L to 90L).map(i => (i, i * 5L)).toDF("id", "x"), "x", 1,
        s"$dir/t")) { (dir, at) =>
      val path = s"$dir/t"
      if (at.split(" ").head.endsWith("/t__append/_zones")) {
        hit += 1
        val zonesDir = localFile(path + ".zones")
        assert(!zonesDir.exists())
        // reader fallback: prune still works, and the reader MUTATES
        // NOTHING (it could race a live writer's renames)
        val files = graft.ext.Layout.zoneFiles(spark, path,
          lit(0L), lit(100000L))
        assert(files.nonEmpty)
        assert(graft.ext.Layout.zoneRead(spark, path, "x", lit(0L),
          lit(100000L)).count() === 80L)
        assert(!zonesDir.exists(), "reader repaired the sidecar itself")
        // maintenance rolls forward and proceeds
        graft.ext.Layout.zoneAppend(
          (91L to 100L).map(i => (i, i * 5L)).toDF("id", "x"), "x", 1, path)
        assert(zonesDir.exists())
        assert(!exists(s"${path}__append"))
        assert(spark.read.parquet(path).count() === 100L)
        val zones = spark.read.parquet(path + ".zones")
        assert(zones.agg(sum("rows")).collect().head.getLong(0) === 100L)
      }
    }
    assert(hit == 1, "no crash hit the sidecar promote")
  }

  // ---- sign-RP hyperplane family: distinct AND balanced ----

  test("rpDot's 21 hyperplanes are pairwise distinct, antipodal-free, " +
      "each is balanced over any 7 consecutive dims, and bucket counts " +
      "GROW with nBits instead of freezing (the r11 period-7 bug and " +
      "the r12 negation-pair bug)") {
    // reconstruct the weight vectors exactly as rpDot builds them
    def weights(j: Int, dim: Int): Seq[Int] = {
      val (a, b) = (1 + j % 3, (j / 3) % 7)
      (0 until dim).map(i => ((i * a + b) % 7) - 3)
    }
    val fam = (0 until 21).map(weights(_, 64))
    assert(fam.distinct.size === 21, "duplicate hyperplanes in family")
    // r12: NO member's negation is in the family — a hyperplane and
    // its negation give complementary sign bits, so an antipodal pair
    // adds zero bucket resolution (the r11 a∈{1..6} family was 21
    // such pairs masquerading as 42 members)
    val famSet = fam.toSet
    for (j <- 0 until 21)
      assert(!famSet.contains(fam(j).map(-_)),
        s"hyperplane $j's negation is also in the family")
    // balance: any 7 consecutive weights are a permutation of -3..3
    for (j <- 0 until 21; off <- 0 until 57)
      assert(fam(j).slice(off, off + 7).sorted === (-3 to 3).toSeq,
        s"hyperplane $j unbalanced at offset $off")
    // the guard
    val v = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "vec")
    val boom = intercept[IllegalArgumentException] {
      graft.ext.Similarity.rpBucket(col("vec"), 22)
    }
    assert(boom.getMessage.contains("21"))
    // bucket resolution grows with bits on biased all-positive data
    // (the measured failure mode of both broken families)
    val rnd = new scala.util.Random(11)
    val feats = (0 until 2000).map { k =>
      (k.toLong, Array.fill(8)(50.0f + rnd.nextInt(200)))
    }.toDF("id", "vec")
    def buckets(bits: Int): Long = feats.select(
      graft.ext.Similarity.rpBucket(col("vec"), bits).as("b"))
      .distinct().count()
    val (b8, b12, b16) = (buckets(8), buckets(12), buckets(16))
    assert(b8 < b12 && b12 < b16,
      s"bucket count frozen: $b8 / $b12 / $b16")
  }

  // ---- ppsTake: loud guard on fractional weights ----

  test("ppsTake raises on fractional weights instead of silently " +
      "truncating them to zero; integral-valued doubles pass and " +
      "draw identically to their long twin") {
    val rows = (0 until 90).map(i => (s"k$i", (i % 7 + 1).toLong))
    val longDf = rows.toDF("k", "w")
    // integral-valued double weights: same draw as the long twin
    val dblDf = longDf.withColumn("w", col("w").cast("double"))
    val fromLong = graft.ext.Sampling.ppsTake(longDf, "k", "w", n = 9)
      .select("k", "n_hits").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromDbl = graft.ext.Sampling.ppsTake(dblDf, "k", "w", n = 9)
      .select("k", "n_hits").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromDbl === fromLong)
    // fractional weights (the silent-truncation hazard: 0.4 -> 0L,
    // never sampled) now fail loudly per row
    val fracDf = longDf.withColumn("w", col("w") / lit(2.5))
    val boom = intercept[Exception] {
      graft.ext.Sampling.ppsTake(fracDf, "k", "w", n = 9).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(boom).exists(_.contains("non-integer weight")),
      s"wrong failure: ${messages(boom).mkString(" | ")}")
  }

  // ---- mmrTopK: loud bound on the driver-side pool ----

  test("mmrTopK rejects a corpus-scale poolSize with the pair-count " +
      "message before touching any data") {
    val df = (0L to 5L).map(i => (i, Array(1.0f, i.toFloat)))
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      graft.ext.Similarity.mmrTopK(df, "vec_id", "embedding",
        queryId = 0L, k = 10, poolSize = 5000)
    }
    assert(err.getMessage.contains("driver-side all-pairs"))
    assert(err.getMessage.contains((BigInt(5000) * 5000).toString))
    // the bound itself is fine
    assert(graft.ext.Similarity.mmrTopK(df, "vec_id", "embedding",
      queryId = 0L, k = 2, poolSize = 4).count() === 2L)
  }

  // ---- Materialize.scope: deterministic release of operator caches ----

  test("numericDrift/ksDrift/paretoFrontier/dictBuild register their " +
      "internal caches; Materialize.scope drops every cached block " +
      "after the results are consumed") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = (0 until 400).map(i => ("a", (i % 50).toLong)).toDF("g", "x")
    val b = (0 until 400).map(i => ("b", (i % 60).toLong)).toDF("g", "x")
    // consume each operator's result fully inside the scope (the lazy
    // frames read the operator-internal caches)
    val during = graft.ext.Materialize.scope {
      graft.ext.Stats.numericDrift(a, b, col("x")).collect()
      graft.ext.Stats.ksDrift(a, b, col("x")).collect()
      graft.ext.Stats.paretoFrontier(
        (0 until 200).map(i => (i.toLong, (i * 7 % 101).toLong,
          (i * 13 % 97).toLong)).toDF("id", "x", "y"), "x", "y").collect()
      graft.ext.Layout.dictBuild(
        (0 until 300).map(i => s"v${i % 120}").toDF("c"), "c").collect()
      sc.getPersistentRDDs.keySet -- before
    }
    assert(during.size >= 4, s"registered only ${during.size} of >= 4 " +
      "op caches — either the single-agg guarantee is gone or " +
      "Materialize.memory is bypassed")
    val leftover = sc.getPersistentRDDs.keySet -- before
    assert(leftover.isEmpty,
      s"cached blocks survived the scope: $leftover")
  }

  // ---- fleissKappa: bounded contract-check collect ----

  test("fleissKappa's ragged-counts rejection happens via a bounded " +
      "collect (limit 2) and a truncated message") {
    // 3 distinct rater counts — the message must not enumerate all of
    // them (bounded collect sees at most 2)
    val ragged = Seq(
      (1L, "r0", "a"), (1L, "r1", "a"),
      (2L, "r0", "a"), (2L, "r1", "a"), (2L, "r2", "b"),
      (3L, "r0", "a"), (3L, "r1", "b"), (3L, "r2", "a"), (3L, "r3", "b"))
    val err = intercept[IllegalArgumentException] {
      graft.ext.Stats.fleissKappa(ragged.toDF("i", "r", "c"),
        "i", "r", "c")
    }
    assert(err.getMessage.contains("same rater count"))
    // the limit(2) bound: at most two example counts in the message
    val counts = Seq(2L, 3L, 4L).count(c =>
      err.getMessage.split("e\\.g\\.").last.contains(c.toString))
    assert(counts <= 2, s"unbounded enumeration: ${err.getMessage}")
  }
}
