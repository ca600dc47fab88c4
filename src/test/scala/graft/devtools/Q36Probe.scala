package graft

import org.apache.spark.sql.functions._

/** Dev: STAGE-DECOMPOSED cost of q36 (minhashNearDups, the flagship
  * fuzzy-dedup pipeline) at 1×/10× — the r12 verdict flagged a 1.85×
  * driver-bench swing on q36 with no code change on its path, and the
  * way to keep a real regression from hiding inside host noise is a
  * recorded attribution of q36's seconds to its three stages:
  *
  *   A  signature pass   — shingle → 8 md5 minhash folds (forced by a
  *                         group-less sum over all mh columns)
  *   B  band join        — band-key shuffle, per-bucket pair emission,
  *                         candidate distinct (lshCandidatePairs; its
  *                         time INCLUDES A — the pipeline recomputes
  *                         signatures, stage cost = B − A)
  *   C  Jaccard verify   — two id joins + hash-set intersect kernel
  *                         (minhashNearDups; includes B — cost C − B)
  *
  * plus the volume counters that make the attribution meaningful
  * (docs, buckets ≥ 2, candidate pairs, verified pairs). min-of-2
  * interleaved passes per stage (the bench's noise discipline).
  *
  * Same corpus replication as [[ScaleProbe]]/[[SfProbe]]: per-replica
  * token suffix keeps near-dup DENSITY constant while volume grows.
  *
  * `Test/runMain graft.Q36Probe [mults...]` (default 1 10).
  */
object Q36Probe {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10)
    val spark = EntryKit.session()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    val work = java.nio.file.Files.createTempDirectory("graft_q36probe")
    val (n, k, bands, thr) = (3, 8, 4, 0.5)

    def replicateDocs(m: Int): String = {
      val out = s"$work/docs_x$m"
      val base = Tables.documents(spark, d).select("doc_id", "text")
      (0 until m).map { i =>
        base.select(
          (col("doc_id") + i * 10000000L).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1_$i").as("text"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(out)
      out
    }

    def time(f: () => Unit): Double = {
      // min-of-2, cache cleared: the bench's measurement discipline
      val ts = (0 until 2).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        f()
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }

    println("| mult | docs | buckets>=2 | cand_pairs | out_pairs | " +
      "sig_s | band_s | verify_s | total_s |")
    println("|---|---|---|---|---|---|---|---|---|")
    mults.foreach { m =>
      val docs = spark.read.parquet(replicateDocs(m))
      val nDocs = docs.count()
      val sigs = graft.ext.Dedup.minhashSignatures(
        docs, "doc_id", "text", n, k)
      val tA = time(() => {
        sigs.agg(sum(length(col("mh0"))), sum(length(col("mh7"))))
          .collect(); ()
      })
      val cand = graft.ext.Dedup.lshCandidatePairs(
        docs, "doc_id", "text", n, k, bands)
      var nCand = 0L
      val tB = time(() => { nCand = cand.count() })
      val full = graft.ext.Dedup.minhashNearDups(
        docs, "doc_id", "text", n, k, bands, thr)
      var nOut = 0L
      val tC = time(() => { nOut = full.count() })
      val nBuckets = graft.ext.Dedup
        .bandRows(docs, "doc_id", "text", n, k, bands)
        .groupBy("band", "bkey").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).count()
      println(f"| ${m}x | $nDocs | $nBuckets | $nCand | $nOut | " +
        f"$tA%.2f | ${math.max(0, tB - tA)}%.2f | " +
        f"${math.max(0, tC - tB)}%.2f | $tC%.2f |")
    }
    ProbeUtil.deleteRecursively(work)
    spark.stop()
  }
}
