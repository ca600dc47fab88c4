package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.ext.{Graph, Materialize, ParJobs}

/** `Materialize` is the one lifetime API for intermediates: a scope
  * frees what was pinned inside it (also on a `ParJobs` thread, also
  * when the body throws), a pin outside any scope registers nothing,
  * and no other file under `src/main` persists or checkpoints.
  */
class MaterializeSpec extends SparkSpec {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs `body` left behind that were not there before. */
  private def leftBy(body: => Unit): Set[Int] = {
    val before = persisted
    body
    persisted -- before
  }

  test("a scope frees its memory, disk and cut frames on return and on " +
      "throw, pins made on ParJobs threads included") {
    def pinAll(): Unit = {
      Materialize.memory(spark.range(5031).toDF()).count()
      Materialize.disk(spark.range(6037).toDF()).count()
      Materialize.cut(spark.range(7043).toDF())
      ParJobs(() => Materialize.cut(spark.range(8053).toDF()).count(),
        () => Materialize.memory(spark.range(9059).toDF()).count())
    }
    assert(leftBy(Materialize.scope {
      val before = persisted
      pinAll()
      assert((persisted -- before).size == 5)
    }).isEmpty)
    assert(leftBy {
      intercept[IllegalStateException](Materialize.scope {
        pinAll()
        throw new IllegalStateException("boom")
      })
    }.isEmpty)
  }

  test("an inner scope frees only its own frames; free releases one " +
      "frame now") {
    Materialize.scope {
      val outer = Materialize.cut(spark.range(4049).toDF())
      val inner = leftBy(Materialize.scope {
        Materialize.cut(spark.range(3037).toDF())
        val gone = Materialize.cut(spark.range(2029).toDF())
        val before = persisted
        Materialize.free(gone)
        assert((before -- persisted).size == 1)
      })
      assert(inner.isEmpty)
      // the outer frame is still readable: its blocks were not freed
      assert(outer.count() == 4049)
    }
  }

  test("outside any scope a pin registers nothing: a later scope does " +
      "not free it") {
    val df = Materialize.cut(spark.range(2531).toDF())
    Materialize.scope(Materialize.cut(spark.range(1531).toDF()).count())
    assert(df.count() == 2531)
    Materialize.free(df)
  }

  test("no file under src/main but Materialize.scala persists, " +
      "unpersists or checkpoints") {
    val calls = Seq(".cache()", ".persist(", ".unpersist(",
      ".localCheckpoint(", ".checkpoint(")
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), "run from the repository root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.startsWith("*") &&
              !line.trim.startsWith("/*") &&
              calls.exists(line.split("//").head.contains) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "use graft.ext.Materialize instead:\n" + offenders.mkString("\n"))
  }
  test("Graph loops free superseded round cuts: what kcore, hits and " +
      "earliestArrival pin does not grow with the round count") {
    import spark.implicits._
    // a 40-node path loses its two endpoints per k = 2 peel, so kcore
    // is still peeling at round 6; rising edge times let earliestArrival
    // reach one node further each round
    val path = (1L until 40L).map(i => (i, i + 1, i, 1L))
      .toDF("src", "dst", "t", "w")
    val sources = Seq(1L).toDF("node")
    val ops = Seq[(String, Int => DataFrame)](
      "kcore" -> (r => Graph.kcore(path, "src", "dst", k = 2, rounds = r)),
      "hits" -> (r => Graph.hits(path, "src", "dst", "w", iters = r)),
      "earliestArrival" -> (r => Graph.earliestArrival(path, "src", "dst",
        "t", sources, rounds = r)))
    for ((name, op) <- ops) {
      def pinned(rounds: Int): Int = Materialize.scope {
        val before = persisted
        val out = op(rounds)
        val n = (persisted -- before).size
        // the result still reads what stayed pinned
        assert(out.count() > 0, s"$name rounds=$rounds")
        n
      }
      assert(pinned(2) == pinned(6), name)
    }
  }
}
