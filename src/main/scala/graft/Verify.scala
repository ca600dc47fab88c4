package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: exactly (sfDir, outDir). Any further args are a
    // dev-only query-name filter (exact names or qNN prefixes) so a
    // single query can be re-dumped without replaying the whole suite.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = EntryKit.session()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.isEmpty || only(name) || only(name.takeWhile(_ != '_'))
    }
    // each query in its own scope: what one query pins is freed before
    // the next runs, also when it throws
    selected.foreach { case (name, fn) =>
      try graft.ext.Materialize.scope(fn(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      EntryKit.oracleSqlJson)
    spark.stop()
  }
}
