package graft

import org.apache.spark.sql.functions._

/** Dev (r15): per-stage decomposition of the graded iterative-graph
  * queries at sf0.1 — where do q146/q131/q136's ~2-3 s go? Edge build +
  * symmetrize + cut vs the per-round join/agg/cut jobs vs the final
  * sort. `Test/runMain graft.GraphDecomp`. Session config = EntryKit's.
  */
object GraphDecomp {
  def main(args: Array[String]): Unit = {
    val spark = EntryKit.session()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    SparkEntry.entry(spark).count() // warmup
    Tables.testdataNames.foreach { t =>
      try Tables.table(spark, d, t).count()
      catch { case _: Throwable => () }
    }
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"STAGE $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    for (rep <- 1 to 2) {
      println(s"== rep $rep (q146 earliestArrival decomposition)")
      spark.catalog.clearCache()
      val e = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"),
          datediff(col("l_shipdate"), lit("1970-01-01")).as("t"))
      val dir = e.filter(col("u") =!= col("v"))
      val sym = t("sym distinct+pin") {
        graft.ext.Materialize.cut(dir.union(dir.select(col("v").as("u"),
          col("u").as("v"), col("t"))).distinct())
      }
      println(s"  sym parts=${sym.rdd.getNumPartitions}")
      val sources = Tables.customer(spark, d)
        .filter(col("c_custkey") <= 5)
        .select((col("c_custkey") * 2).as("node"))
      var arr = t("sources pin") {
        graft.ext.Materialize.cut(sources.distinct().withColumn("arr", lit(0L)))
      }
      for (r <- 1 to 4) {
        arr = t(s"round $r join+agg+pin") {
          val cand = sym
            .join(arr.withColumnRenamed("node", "u"), "u")
            .filter(col("t") >= col("arr"))
            .select(col("v").as("node"), col("t").as("arr"))
          graft.ext.Materialize.cut(arr.union(cand)
            .groupBy("node").agg(min(col("arr")).as("arr")))
        }
        println(s"  arr parts=${arr.rdd.getNumPartitions}")
      }
      t("final orderBy+count") { arr.orderBy("node").count() }
    }
    spark.stop()
  }
}
