package graft
import org.apache.spark.sql.SparkSession
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // lshCandidatePairs WITHOUT the cache: does the banded self-join reuse
    // the signature aggregation exchange?
    val sigs = graft.ext.Dedup.minhashSignatures(
      docs.select("doc_id", "text"), "doc_id", "text", 3, 8)
    import org.apache.spark.sql.functions._
    val bandKeys = (0 until 4).map { b =>
      val slice = (b * 2 until (b + 1) * 2).map(i => col(s"mh$i"))
      concat_ws("|", lit(b.toString) +: slice: _*)
    }
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    val a = banded.select(col("band"), col("bkey"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bkey"), col("doc_id").as("id_b"))
    val joined = a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    joined.count()  // materialize with AQE so reuse is visible
    val plan = joined.queryExecution.executedPlan.toString()
    println("=== REUSED? " + (plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") || plan.contains("reused")))
    println(plan.linesIterator.filter(l => l.contains("Reused") || l.contains("Exchange") || l.contains("Scan")).mkString("\n"))
    spark.stop()
  }
}
