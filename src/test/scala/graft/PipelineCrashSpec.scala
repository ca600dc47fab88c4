package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.Warehouse

/** A process that dies inside a table swap — after the live table was
  * stashed aside, before the staged copy was promoted — leaves no live
  * table. The next run must roll the committed swap forward, not treat
  * the table as missing and rebuild it from its own batch alone (which
  * restarts the dimension's surrogate ids and strands every fact row
  * written against the old ones).
  */
class PipelineCrashSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pages = resource("crossref")
  private lazy val csv = resource("ups_institucional.csv")

  /** The window between the stash and the promote of a table swap:
    * a complete staged copy at `__tmp`, the live table moved to
    * `__old`, nothing at the live path.
    */
  private def crashMidSwap(dir: String, table: String): Unit = {
    Warehouse.read(spark, dir, table).write.parquet(s"$dir/${table}__tmp")
    assert(new File(s"$dir/$table").renameTo(new File(s"$dir/${table}__old")))
    assert(!new File(s"$dir/$table").exists())
  }

  test("ingest after a crash inside the autores swap keeps every " +
      "earlier author and its autorId") {
    val dir = Files.createTempDirectory("graft_crash").toString
    Pipeline.ingest(spark, pages + "/page1.jsonl", dir)
    val before = Warehouse.read(spark, dir, "autores")
      .select("nombreBusqueda", "autorId").as[(String, Long)].collect().toMap
    assert(before.nonEmpty)
    crashMidSwap(dir, "autores")
    Pipeline.ingest(spark, pages + "/page2.jsonl", dir)
    val after = Warehouse.read(spark, dir, "autores")
      .select("nombreBusqueda", "autorId").as[(String, Long)].collect().toMap
    before.foreach { case (name, id) =>
      assert(after.get(name).contains(id),
        s"author '$name' lost or renumbered (was $id, now ${after.get(name)})")
    }
    assert(!new File(s"$dir/autores__old").exists())
    assert(!new File(s"$dir/autores__tmp").exists())
  }

  test("a skipped re-run after a crash inside a table swap finishes " +
      "the swap") {
    val dir = Files.createTempDirectory("graft_crash").toString
    Pipeline.ingest(spark, pages, dir)
    def rows(t: String) =
      Warehouse.read(spark, dir, t).collect().map(_.toString).sorted.toSeq
    val tables = Seq("autores", "obra_tema")
    val before = tables.map(rows)
    // a later writer died mid-swap; the re-run of the committed batch
    // is a skip, and must leave both tables whole as a full run would
    tables.foreach(crashMidSwap(dir, _))
    val jobs = jobsDuring(Pipeline.ingest(spark, pages, dir))
    assert(jobs.size <= 6, s"not a skip: ${jobs.size} jobs")
    assert(tables.map(rows) == before)
    tables.foreach { t =>
      assert(!new File(s"$dir/${t}__old").exists())
      assert(!new File(s"$dir/${t}__tmp").exists())
    }
  }

  test("integrateCatalog after a crash inside the sedes_areas swap keeps " +
      "the catalog rows of the earlier run") {
    val dir = Files.createTempDirectory("graft_crash").toString
    Pipeline.runAll(spark, pages, csv, dir)
    // a second catalog run adds sede 5; a crash then hits the next swap
    def catalogCsv(rows: String*): String = {
      val f = Files.createTempFile("sedes", ".csv")
      Files.write(f, ("SedeID,Sede,AreaAcademica,PalabrasClave" +: rows)
        .mkString("\n").getBytes("UTF-8"))
      f.toString
    }
    Pipeline.integrateCatalog(spark,
      catalogCsv("5,Sede Loja,Ciencias Exactas,loja"), dir)
    val before = Warehouse.read(spark, dir, "sedes_areas")
      .orderBy("sedeId").collect().toSeq
    assert(before.map(_.getAs[Int]("sedeId")) == Seq(1, 2, 3, 4, 5))
    crashMidSwap(dir, "sedes_areas")
    Pipeline.integrateCatalog(spark,
      catalogCsv("6,Sede Manta,Ciencias del Mar,manta"), dir)
    val after = Warehouse.read(spark, dir, "sedes_areas")
      .orderBy("sedeId").collect().toSeq
    assert(after.map(_.getAs[Int]("sedeId")) == Seq(1, 2, 3, 4, 5, 6))
    assert(after.take(5) == before,
      "an earlier catalog row was lost or rewritten")
    assert(after.last.getAs[String]("sede") == "Sede Manta")
    assert(Warehouse.read(spark, dir, "afiliaciones")
      .filter(col("sedeId").isNull).count() == 0)
  }

  test("an append after a dead append's committed task output adds " +
      "each row once") {
    val dir = Files.createTempDirectory("graft_crash").toString
    val base = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val batch = Seq((2, "b"), (3, "c"), (4, "d")).toDF("id", "v")
    Warehouse.idempotentAppend(spark, base, dir, "t", Seq("id"))
    // the job of a process that died after its tasks committed and
    // before the job did: task output waits under `_temporary`
    batch.join(base, Seq("id"), "left_anti").write
      .parquet(s"$dir/t/_temporary/0/task_202601010000_0001_m_000000")
    Warehouse.idempotentAppend(spark, batch, dir, "t", Seq("id"))
    assert(Warehouse.read(spark, dir, "t").orderBy("id")
      .as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
  }

  test("an append after a dead append's committed task output in its " +
      "staging adds each row once") {
    val dir = Files.createTempDirectory("graft_crash").toString
    val base = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val batch = Seq((2, "b"), (3, "c"), (4, "d")).toDF("id", "v")
    Warehouse.idempotentAppend(spark, base, dir, "t", Seq("id"))
    // the same dead job, now writing where an append stages its batch:
    // complete part files and uncommitted task output beside them
    val novel = batch.join(base, Seq("id"), "left_anti")
    novel.write.parquet(s"$dir/t__append")
    novel.write
      .parquet(s"$dir/t__append/_temporary/0/task_202601010000_0001_m_000000")
    Warehouse.idempotentAppend(spark, batch, dir, "t", Seq("id"))
    assert(Warehouse.read(spark, dir, "t").orderBy("id")
      .as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    assert(!new File(s"$dir/t__append").exists())
  }
}
