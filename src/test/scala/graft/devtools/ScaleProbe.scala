package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev: MEASURED scaling of the candidate-volume-bound dedup joins
  * (q36 minhash-LSH, q37 simhash, q83 set-sim, q106 edit-distance) on
  * replicated corpora — the only operators whose 100 TB behavior is
  * plan-argued rather than oracle-bounded, so their growth curve is
  * recorded (BUILD_NOTES), not extrapolated.
  *
  * Corpus construction keeps near-dup DENSITY constant while row count
  * grows (the realistic scale-up): every token gets a per-replica
  * suffix, so each replica reproduces the original's within-replica
  * near-dup structure exactly while replicas share zero shingles —
  * pair counts should grow ~linearly in the replica count. For the
  * edit-distance join the replica suffix is a doubled digit ("00",
  * "11", ...) so cross-replica name pairs differ by >= 2 edits and
  * stay out of the d=1 result. A superlinear time or candidate curve
  * here is the first sign an operator would not survive 100 TB.
  *
  * `Test/runMain graft.ScaleProbe [multipliers...]` (default 1 3 10).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 3, 10)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    val work = java.nio.file.Files.createTempDirectory("graft_scale")

    // replicate with disjoint shingle spaces: suffix every token of
    // replica i with "_<i>"; ids shift by i * 10^7
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
    // customer names: doubled-digit replica suffix keeps cross-replica
    // edit distance >= 2 (out of the d=1 join)
    def replicateCust(m: Int): String = {
      val out = s"$work/cust_x$m"
      val base = Tables.customer(spark, d)
        .select(col("c_custkey").cast("long").as("id"),
          col("c_name").as("s"))
      (0 until m).map { i =>
        base.select((col("id") + i * 10000000L).as("id"),
          concat(col("s"), lit(s"_$i$i")).as("s"))
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

    println("| mult | op | rows_in | candidates | pairs_out | sec |")
    println("|---|---|---|---|---|---|")
    mults.foreach { m =>
      val docsPath = replicateDocs(m)
      val custPath = replicateCust(m)
      def docs: DataFrame = spark.read.parquet(docsPath)
      def cust: DataFrame = spark.read.parquet(custPath)
      val nd = docs.count(); val nc = cust.count()

      {
        val (cands, _) = time(graft.ext.Dedup.lshCandidatePairs(
          docs, "doc_id", "text", 3, 8, 4).count())
        val (out, s) = time(graft.ext.Dedup.minhashNearDups(
          docs, "doc_id", "text", n = 3, k = 8, bands = 4,
          threshold = 0.5).count())
        println(f"| ${m}x | q36_minhash | $nd | $cands | $out | $s%.2f |")
      }
      {
        val (out, s) = time(graft.ext.Dedup.simhashNearDups(
          docs, "doc_id", "text", maxHamming = 3)
          .count())
        println(f"| ${m}x | q37_simhash | $nd | - | $out | $s%.2f |")
      }
      {
        val (out, s) = time(graft.ext.Dedup.setSimJoin(
          docs, "doc_id", "text", n = 3, tauNum = 1, tauDen = 2).count())
        println(f"| ${m}x | q83_setsim | $nd | - | $out | $s%.2f |")
      }
      {
        val (out, s) = time(graft.ext.Dedup.editDistanceJoin(
          cust, "id", "s", d = 1).count())
        println(f"| ${m}x | q106_editdist | $nc | - | $out | $s%.2f |")
      }
    }
    spark.stop()
  }
}
