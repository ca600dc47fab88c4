package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev: where do the superlinear simhash pairs at m-times scale come
  * from — within-replica or cross-replica?
  */
object SimhashDiag {
  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toInt else 3
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
      .select("doc_id", "text")
    val rep = (0 until m).map { i =>
      base.select((col("doc_id") + i * 10000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_$i").as("text"))
    }.reduce(_ unionByName _)
    val pairs = graft.ext.Dedup.simhashNearDups(rep, "doc_id", "text",
      maxHamming = 3)
    val split = pairs
      .withColumn("cross",
        (expr("id_a div 10000000") =!= expr("id_b div 10000000")))
      .groupBy("cross").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
    println(s"DIAG m=$m within=${split.getOrElse(false, 0L)} " +
      s"cross=${split.getOrElse(true, 0L)}")
    pairs.filter(expr("id_a div 10000000 = id_b div 10000000"))
      .groupBy(expr("id_a div 10000000").as("rep"))
      .agg(count(lit(1)).as("n")).orderBy("rep").collect()
      .foreach(r => println(s"DIAG replica ${r.get(0)} pairs=${r.get(1)}"))
    // hamming histogram of a sample of cross pairs
    val sigs = graft.ext.Dedup.simhashSignatures(rep, "doc_id", "text")
    sigs.groupBy("sig").agg(count(lit(1)).as("c"))
      .orderBy(desc("c")).limit(5).collect()
      .foreach(r => println(s"DIAG topsig ${r.get(0)} count=${r.get(1)}"))
    spark.stop()
  }
}
