package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.etl.ParquetRead` is the one Parquet reader: no other file
  * under `src/main` reads Parquet through `spark.read`, whose bare form
  * runs a schema-inference job per call. The exception reads every
  * footer on purpose.
  */
class ReadGuardSpec extends AnyFunSuite {

  /** A batch Parquet read, its options and schema spanning lines. */
  private val parquetRead =
    """\.read((\s*\.\s*(option|options|schema)\s*\([^()]*\))*)\s*\.\s*parquet\(""".r

  /** (file, text of the read's options, why it may infer) */
  private val allowed = Seq(
    ("Warehouse.scala", "\"mergeSchema\", \"true\"",
      "readMerged: the schema-evolution read merges every footer"))

  /** Every read under `root` (but `ParquetRead.scala`), as its file, its
    * options and `path:line: text`; with the exceptions used exactly
    * once.
    */
  private def offenders(root: Path): (Seq[String], Seq[String]) = {
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ParquetRead.scala")
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toSeq
        // comments blanked, so offsets still map to lines
        val code = lines.map { l =>
          val t = l.trim
          if (t.startsWith("*") || t.startsWith("/*")) ""
          else l.split("//").head
        }.mkString("\n")
        parquetRead.findAllMatchIn(code).map { m =>
          val line = code.substring(0, m.start).count(_ == '\n')
          (p.getFileName.toString, m.group(1),
            s"$p:${line + 1}: ${lines(line).trim}")
        }
      }.toList
    def excused(h: (String, String, String)) =
      allowed.exists { case (f, opts, _) => h._1 == f && h._2.contains(opts) }
    val unused = allowed.filterNot { case (f, opts, _) =>
      hits.exists(h => h._1 == f && h._2.contains(opts))
    }.map(a => s"${a._1}: ${a._2}")
    (hits.filterNot(excused).map(_._3), unused)
  }

  test("no file under src/main but ParquetRead.scala reads Parquet " +
      "through spark.read, apart from the merged-schema read") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), "run from the repository root")
    val (bad, unused) = offenders(root)
    assert(bad.isEmpty,
      "read through graft.etl.ParquetRead instead:\n" + bad.mkString("\n"))
    assert(unused.isEmpty, "stale exceptions:\n" + unused.mkString("\n"))
  }

  test("the guard flags planted bare reads, one line or several") {
    val root = Files.createTempDirectory("read_guard")
    Files.write(root.resolve("Planted.scala"), Seq(
      "object Planted {",
      "  def a(s: S) = s.read.parquet(p)",
      "  def b(s: S) = s.read",
      "    .option(\"basePath\", b)",
      "    .parquet(p)",
      "  def c(s: S) = s.readStream.schema(t).parquet(p)",
      "  // s.read.parquet(p) in a comment is fine",
      "}").asJava)
    Files.write(root.resolve("ParquetRead.scala"),
      Seq("object ParquetRead { def r = s.read.parquet(p) }").asJava)
    val (bad, _) = offenders(root)
    assert(bad.size == 2 && bad.forall(_.contains("Planted.scala")), bad)
    assert(bad.exists(_.contains("Planted.scala:2:")) &&
      bad.exists(_.contains("Planted.scala:3:")), bad)
  }
}
