package graft

import org.apache.spark.sql.functions._

/** Dev (r16): stage decomposition of q183_index_append — corpus index
  * write, batch append, incremental probe — plus the bands/shingles
  * compute-only cost through the noop sink, so the write-vs-compute
  * split is measured, not guessed.
  * `Test/runMain graft.Q183Decomp [sfDir]`.
  */
object Q183Decomp {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = EntryKit.session()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, d)
    docs.count()

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"STAGE $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    def files(p: String): Int = {
      def rec(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(rec).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      val dir = new java.io.File(p)
      if (dir.exists) rec(dir) else -1
    }

    import graft.ext.Dedup
    (1 to 3).foreach { round =>
      println(s"--- round $round ---")
      val path = java.nio.file.Files
        .createTempDirectory("graft_q183d_").toString + "/idx"
      val corpus = docs.filter(col("doc_id") >= 100)
      val batch = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      // compute-only: band rows and shingle projection through noop
      spark.sparkContext.setJobDescription("bands noop")
      t("bandRows corpus (noop)") {
        Dedup.bandRows(corpus, "doc_id", "text", 3, 8, 4)
          .withColumn("pdir", pmod(hash(col("bkey")), lit(64)))
          .write.format("noop").mode("overwrite").save()
      }
      spark.sparkContext.setJobDescription("shingles noop")
      t("shingles corpus (noop)") {
        corpus.select(col("doc_id"),
            array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
          .write.format("noop").mode("overwrite").save()
      }
      spark.sparkContext.setJobDescription("q183 writeLshIndex")
      t("writeLshIndex corpus") {
        Dedup.writeLshIndex(corpus, "doc_id", "text", n = 3, k = 8,
          bands = 4, path = path)
      }
      println(s"  files: bands=${files(s"$path/bands")}" +
        s" shingles=${files(s"$path/shingles")}")
      spark.sparkContext.setJobDescription("q183 appendLshIndex")
      t("appendLshIndex batch") {
        Dedup.appendLshIndex(batch, "doc_id", "text", n = 3, k = 8,
          bands = 4, path = path)
      }
      println(s"  files: bands=${files(s"$path/bands")}" +
        s" shingles=${files(s"$path/shingles")}")
      spark.sparkContext.setJobDescription("q183 probe")
      val n = t("incrementalNearDups+count") {
        Dedup.incrementalNearDups(spark, path,
          docs.filter(col("doc_id") < 50), "doc_id", "text",
          n = 3, k = 8, bands = 4, threshold = 0.5)
          .orderBy("batch_id", "corpus_id").count()
      }
      println(s"  probe rows: $n")
    }
    spark.stop()
  }
}
