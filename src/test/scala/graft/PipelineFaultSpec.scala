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

  /** Persisted RDDs `body` left behind that were not there before. */
  private def leftBy(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    sc.getPersistentRDDs.keySet.toSet -- before
  }

  test("a successful ingest, base or incremental, leaves no persisted RDD") {
    val d = freshDir()
    assert(leftBy(Pipeline.ingest(spark, pages + "/page1.jsonl", d)).isEmpty)
    assert(leftBy(Pipeline.ingest(spark, pages + "/page2.jsonl", d)).isEmpty)
  }

  test("an ingest that fails on a dimension swap leaves no persisted RDD") {
    val base = freshDir()
    Pipeline.ingest(spark, pages + "/page1.jsonl", base)
    // fail the k-th rename or delete, k = 1, 2, ..., until the failing
    // step is one of phase 2's dimension swaps; every failed ingest on
    // the way must release its pins too
    var k = 1
    var onDimension = false
    while (!onDimension) {
      val d = copyOf(base)
      FaultFs.arm(k, FaultFs.Throw)
      var failed = false
      val left = leftBy {
        failed = Try(Pipeline.ingest(spark, pages + "/page2.jsonl", d))
          .isFailure
      }
      val fired = FaultFs.fired
      val on = FaultFs.firedOn
      FaultFs.disarm()
      assert(fired, s"step $k: no dimension swap failed before the " +
        "ingest ran out of renames and deletes")
      assert(left.isEmpty, s"Throw at step $k ($on) left $left")
      onDimension = failed &&
        Seq("/autores", "/afiliaciones").exists(on.contains)
      k += 1
    }
  }

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
