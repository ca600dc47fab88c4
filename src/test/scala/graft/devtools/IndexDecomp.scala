package graft
import org.apache.spark.sql.functions._
/** Dev (r15): stage decomposition of the at-rest LSH index lifecycle
  * (q69/q183): corpus write vs batch append vs incremental probe.
  * `Test/runMain graft.IndexDecomp`.
  */
object IndexDecomp {
  def main(args: Array[String]): Unit = {
    val spark = EntryKit.session()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    SparkEntry.entry(spark).count()
    Tables.documents(spark, d).count()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"STAGE $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    for (rep <- 1 to 2) {
      println(s"== rep $rep")
      spark.catalog.clearCache()
      val docs = Tables.documents(spark, d)
      val path = java.nio.file.Files
        .createTempDirectory("graft_idxdecomp").toString + "/idx"
      t("write corpus") {
        graft.ext.Dedup.writeLshIndex(docs.filter(col("doc_id") >= 100),
          "doc_id", "text", n = 3, k = 8, bands = 4,
          path = path)
      }
      t("append batch") {
        graft.ext.Dedup.appendLshIndex(
          docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
          "doc_id", "text", n = 3, k = 8, bands = 4,
          path = path)
      }
      t("probe") {
        graft.ext.Dedup.incrementalNearDups(spark, path,
          docs.filter(col("doc_id") < 50), "doc_id", "text",
          n = 3, k = 8, bands = 4, threshold = 0.5)
          .orderBy("batch_id", "corpus_id").count()
      }
    }
    spark.stop()
  }
}
