package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.etl.{ParquetRead, Warehouse}

/** `ParquetRead` builds the same DataFrame as a bare
  * `spark.read.parquet` — same schema, same rows — without the bare
  * read's schema-inference job.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("graft_pread").toString

  private def rows(df: DataFrame): Seq[String] =
    df.toJSON.collect().toSeq.sorted

  /** The footer read of `paths` equals the bare read, and costs no job
    * where the bare read costs one.
    */
  private def sameAsBare(paths: String*): DataFrame = {
    var bare: DataFrame = null
    var read: DataFrame = null
    assert(jobsDuring { bare = spark.read.parquet(paths: _*) }.size == 1,
      paths)
    assert(jobsDuring { read = ParquetRead(spark, paths: _*) }.isEmpty, paths)
    assert(read.schema == bare.schema, paths)
    assert(rows(read) == rows(bare), paths)
    read
  }

  test("the ten query tables and the Normalize fixture read as the bare " +
      "read does, with no job") {
    Tables.testdataNames.foreach(t => sameAsBare(s"$sf0001/$t.parquet"))
    sameAsBare(graft.queries.CoreQueries.NormFixturePath)
    // the loader's ts mapping sees the same type either way
    assert(Tables.events(spark, sf0001).schema("ts").dataType ==
      TimestampType)
  }

  test("TIMESTAMP(NANOS) follows nanosAsLong: long in the read, " +
      "timestamp in Tables.events") {
    val d = freshDir()
    Files.copy(Paths.get(resource("events_nanos.parquet")),
      Paths.get(d, "events.parquet"))
    val read = sameAsBare(s"$d/events.parquet")
    assert(read.schema("ts").dataType == LongType)
    val ev = Tables.events(spark, d)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.orderBy("event_id").select($"ts".cast("string"))
      .as[String].collect().toSeq == Seq("2023-11-14 22:13:20.123456",
        "2023-11-14 22:13:21", "2023-11-14 22:13:22.999999"))
  }

  test("the pipeline warehouse reads as the bare read does: partitioned " +
      "obras, autores, runs and the view") {
    val dir = freshDir()
    Pipeline.runAll(spark, resource("crossref"),
      resource("ups_institucional.csv"), dir)
    val obras = sameAsBare(Warehouse.path(dir, "obras"))
    assert(obras.columns.last == "anio") // inferred from the directories
    Seq("autores", "runs", "vista_analisis")
      .foreach(t => sameAsBare(Warehouse.path(dir, t)))
  }

  test("a table of one 0-row part file and a table grown by " +
      "idempotentAppend read as the bare read does") {
    val empty = s"${freshDir()}/empty"
    Seq.empty[(Long, String)].toDF("id", "s").write.parquet(empty)
    val parts = new java.io.File(empty).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1 && parts.head.length() > 0)
    assert(sameAsBare(empty).isEmpty)

    val dir = freshDir()
    val batch = (b: Int) => (1 to 6).map(i => (b * 10 + i, 2020 + i % 3,
      s"w$b-$i")).toDF("id", "anio", "v")
    (1 to 3).foreach(b => Warehouse.idempotentAppend(spark, batch(b), dir,
      "t", Seq("id"), Seq("anio")))
    assert(sameAsBare(Warehouse.path(dir, "t")).count() == 18)
  }

  test("the footer is the first data file by full path, as Spark's " +
      "inference picks it") {
    val d = freshDir()
    // `k=a-b/…` sorts before `k=a/…` by full path ('-' < '/'), though
    // `k=a` sorts first by name
    Seq(1L).toDF("x").write.parquet(s"$d/k=a")
    Seq((1L, 2L)).toDF("x", "y").write.parquet(s"$d/k=a-b")
    // a `_` directory holds no table data
    Seq((1L, "z")).toDF("x", "z").write.parquet(s"$d/_staging")
    assert(sameAsBare(d).columns.toSeq == Seq("x", "y", "k"))
    // beside root files, only partition directories are table data
    val flat = freshDir()
    Seq(1L).toDF("x").write.mode("append").parquet(flat)
    Seq("q").toDF("q").write.parquet(s"$flat/a")
    assert(sameAsBare(flat).columns.toSeq == Seq("x"))
  }

  test("a missing path and a directory with no data file fail as the " +
      "bare read does") {
    val d = freshDir()
    Files.createDirectories(Paths.get(d, "nodata", "_temporary"))
    Files.createFile(Paths.get(d, "nodata", "_SUCCESS"))
    for (p <- Seq(s"$d/missing", s"$d/nodata")) {
      val bare = intercept[Exception](spark.read.parquet(p))
      val read = intercept[Exception](ParquetRead(spark, p))
      assert(read.getClass == bare.getClass, p)
      assert(read.getMessage == bare.getMessage, p)
    }
  }
}
