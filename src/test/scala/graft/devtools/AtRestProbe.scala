package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev: MEASURED scaling of the at-rest index operators — the round-7
  * ScaleProbe covered the candidate-volume-bound joins; this probe
  * covers the remaining plan-argued-only 100 TB claims (round-7
  * verdict item 6):
  *
  *  - LSH index lifecycle (q69/q183): build cost should grow ~linearly
  *    with the corpus, while APPEND of a fixed-size delta and the
  *    incremental PROBE of a fixed-size batch should stay delta-sized
  *    (flat) as the corpus grows — that flatness IS the reason the
  *    at-rest index exists instead of re-running minhashNearDups over
  *    corpus+batch each day.
  *  - IVF index (q73/q77 family): build cost ~linear; an at-rest probe
  *    reads only the nProbe/nCells partition-pruned slice, so probe
  *    time should grow with the probed slice (m * nProbe/nCells rows),
  *    not the corpus.
  *
  * Corpus construction matches ScaleProbe: per-replica token suffixes
  * keep near-dup density constant with zero cross-replica shingles, so
  * the fixed batch's pair count must be IDENTICAL at every multiplier
  * (printed — an invariance check, not just a timing). Embedding
  * replicas reuse the base vectors with shifted ids: probe-cell
  * occupancy then grows exactly m-fold, the realistic scale-up.
  *
  * `Test/runMain graft.AtRestProbe [multipliers...]` (default 1 10 30).
  */
object AtRestProbe {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 30)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    val work = java.nio.file.Files.createTempDirectory("graft_atrest")

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
    def replicateEmb(m: Int): String = {
      val out = s"$work/emb_x$m"
      val base = Tables.embeddings(spark, d).select("vec_id", "embedding")
      (0 until m).map { i =>
        base.select((col("vec_id") + i * 10000000L).as("vec_id"),
          col("embedding"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(out)
      out
    }
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    println("| mult | op | corpus_rows | index_rows | out | sec |")
    println("|---|---|---|---|---|---|")
    mults.foreach { m =>
      // ---- LSH index lifecycle (q69/q183 shape, growing corpus,
      // FIXED 50-doc delta and FIXED 50-doc batch: base ids 50-99 /
      // 0-49 exist only in replica 0, so their size never grows) ----
      val docs = spark.read.parquet(replicateDocs(m))
      val corpus = docs.filter(col("doc_id") >= 100)
      val delta = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      val batch = docs.filter(col("doc_id") < 50)
      val nCorpus = corpus.count()
      val idx = s"$work/lsh_x$m/idx"
      val (_, tBuild) = time(graft.ext.Dedup.writeLshIndex(
        corpus, "doc_id", "text", n = 3, k = 8, bands = 4, path = idx))
      val idxRows = spark.read.parquet(s"$idx/bands").count()
      println(f"| ${m}x | lsh_build | $nCorpus | $idxRows | - | $tBuild%.2f |")
      val (_, tApp) = time(graft.ext.Dedup.appendLshIndex(
        delta, "doc_id", "text", n = 3, k = 8, bands = 4, path = idx))
      println(f"| ${m}x | lsh_append(50) | $nCorpus | - | - | $tApp%.2f |")
      val (pairs, tProbe) = time(graft.ext.Dedup.incrementalNearDups(
        spark, idx, batch, "doc_id", "text", n = 3, k = 8, bands = 4,
        threshold = 0.5).count())
      println(f"| ${m}x | lsh_probe(50) | $nCorpus | - | $pairs | $tProbe%.2f |")

      // ---- IVF index (q73/q77 shape): centroids from the base table
      // so probe cells are identical at every multiplier ----
      val emb = spark.read.parquet(replicateEmb(m))
      val nEmb = emb.count()
      val cents = graft.ext.Similarity.seedCentroids(
        Tables.embeddings(spark, d), "vec_id", "embedding", 16)
      val ivf = s"$work/ivf_x$m"
      val (_, tIvf) = time(graft.ext.Similarity.writeIvf(
        emb, "vec_id", "embedding", ivf, cents))
      println(f"| ${m}x | ivf_build | $nEmb | - | - | $tIvf%.2f |")
      val (topk, tQ) = time(graft.ext.Similarity.ivfTopKAtRest(
        spark, ivf, "vec_id", "embedding", queryId = 0L, k = 10,
        centroids = cents, nProbe = 3).count())
      // probed slice size — what the pruned scan actually reads
      val probed = {
        val all = spark.read.parquet(ivf)
        val q = all.filter(col("vec_id") === 0L).select("embedding")
          .head().getSeq[Float](0).toArray
        def dot(a: Array[Float], b: Array[Float]): Double =
          a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        val cells = cents.zipWithIndex
          .sortBy { case (c, _) => dot(q, q) - 2 * dot(q, c) + dot(c, c) }
          .take(3).map(_._2)
        all.filter(col("cell").isin(cells: _*)).count()
      }
      println(f"| ${m}x | ivf_probe(k=$topk) | $nEmb | $probed | $topk | $tQ%.2f |")
    }
    // best-effort cleanup — the per-run corpora are sizeable at 30x
    try ProbeUtil.deleteRecursively(work)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
