package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.etl.Warehouse

/** The incremental `ingest` runs its independent actions side by side;
  * when one of them fails, or the process dies, at any rename or delete,
  * a clean re-run must still leave every dimension and fact table — ids
  * included — exactly as a run that never failed leaves it.
  */
class PipelineFaultSpec extends FaultFsSpec {

  private lazy val pages = resource("crossref")
  private val tables = Seq("autores", "afiliaciones", "sedes_areas", "obras",
    "obra_tema", "obra_autor_afiliacion")

  private def local(d: String): Path = Paths.get(new URI(d).getPath)

  /** A fresh faulty directory holding a copy of `from`'s files. */
  private def copyOf(from: String): String = {
    val to = freshDir()
    val src = local(from)
    Files.walk(src).iterator().asScala.filterNot(_ == src).foreach { p =>
      val q = local(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }
    to
  }

  private def snapshot(d: String): Map[String, Seq[String]] =
    tables.map(t => t -> Warehouse.read(spark, d, t).collect()
      .map(_.toString).sorted.toSeq).toMap

  test("a failed or crashed incremental ingest, re-run, equals the " +
      "ingest that never failed") {
    val page2 = pages + "/page2.jsonl"
    val base = freshDir()
    Pipeline.ingest(spark, pages + "/page1.jsonl", base)
    val clean = copyOf(base)
    Pipeline.ingest(spark, page2, clean)
    val expected = snapshot(clean)
    assert(expected("autores").nonEmpty &&
      expected("obra_autor_afiliacion").nonEmpty)
    assert(snapshot(base) != expected, "page2 added nothing")
    for (mode <- Seq(FaultFs.Throw, FaultFs.Crash)) {
      var k = 1
      var swept = false
      while (!swept) {
        val d = copyOf(base)
        FaultFs.arm(k, mode)
        val failed = Try(Pipeline.ingest(spark, page2, d)).isFailure
        swept = !FaultFs.fired
        FaultFs.disarm()
        val at = s"$mode at step $k"
        if (swept) assert(!failed, s"$at: failed without a fault")
        Pipeline.ingest(spark, page2, d)
        val got = snapshot(d)
        tables.foreach(t => assert(got(t) == expected(t),
          s"$at: $t differs from the run that never failed"))
        k += 1
      }
      assert(k > 3, s"$mode: the ingest made too few renames and deletes")
    }
  }
}
