package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.etl.Swap` is the one commit rule: no other file under
  * `src/main` renames a path or writes in append mode, so every at-rest
  * write lands whole or is rolled forward. The exceptions write where
  * no reader waits for a whole commit.
  */
class CommitGuardSpec extends AnyFunSuite {

  private val calls = Seq("rename(", "mode(\"append\")", "SaveMode.Append")

  /** (file, text on the line, why it may append in place) */
  private val allowed = Seq(
    ("ExtHarness.scala", "parquet(s\"$dir/in\")",
      "streamReplay's arrival replay: the file-stream source's input, " +
        "written before the stream starts"),
    ("ExtHarness.scala", "parquet(s\"$dir/out\")",
      "a foreachBatch sink, read once the stream has stopped"),
    ("ExtStreamQueries.scala", "parquet(root + \"/out\")",
      "a foreachBatch sink, read once the stream has stopped"))

  /** Every code line under `root` (but `Swap.scala`) that makes one of
    * the calls, with the exceptions each used exactly once.
    */
  private def offenders(root: Path): (Seq[String], Seq[String]) = {
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Swap.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.startsWith("*") &&
              !line.trim.startsWith("/*") &&
              calls.exists(line.split("//").head.contains) =>
            (p.getFileName.toString, s"$p:${i + 1}: ${line.trim}")
        }
      }.toList
    def excused(h: (String, String)) = allowed.exists { case (f, text, _) =>
      h._1 == f && h._2.contains(text)
    }
    val unused = allowed.filterNot { case (f, text, _) =>
      hits.exists(h => h._1 == f && h._2.contains(text))
    }.map(a => s"${a._1}: ${a._2}")
    (hits.filterNot(excused).map(_._2), unused)
  }

  test("no file under src/main but Swap.scala renames or appends in " +
      "place, apart from the named streaming exceptions") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), "run from the repository root")
    val (bad, unused) = offenders(root)
    assert(bad.isEmpty,
      "commit through graft.etl.Swap instead:\n" + bad.mkString("\n"))
    assert(unused.isEmpty, "stale exceptions:\n" + unused.mkString("\n"))
  }

  test("the guard flags a planted rename and a planted append") {
    val root = Files.createTempDirectory("commit_guard")
    Files.write(root.resolve("Planted.scala"), Seq(
      "object Planted {",
      "  def a(fs: FS) = fs.rename(from, to)",
      "  def b(df: DF) = df.write.mode(\"append\").parquet(p)",
      "  // fs.rename(x, y) in a comment is fine",
      "}").asJava)
    Files.write(root.resolve("Swap.scala"),
      Seq("object Swap { def r = fs.rename(a, b) }").asJava)
    val (bad, _) = offenders(root)
    assert(bad.size == 2 && bad.forall(_.contains("Planted.scala")), bad)
  }
}
