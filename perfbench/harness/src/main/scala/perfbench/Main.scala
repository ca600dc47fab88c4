package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.{EntryKit, SparkEntry}

/** One benchmark run inside one JVM. `perfbench/run.py` generates the
  * inputs, starts this main, checks what it reports and prints the result.
  *
  * Usage: perfbench.Main <workload> <passes> <trace 0|1> <inputs> <work>
  *   <out.json> [workload arguments]
  *
  *   etl_incremental: <base pages> <catalog.csv> <batch pages>...
  *   query_core:      <data dir> <oracle dump dir> <query prefix>...
  *
  * Closed loop: one operation at a time, in `passes` passes over the
  * workload's operations. With tracing on, one untraced pass is followed by
  * one traced pass.
  */
object Main {
  final case class Op(pass: Int, traced: Boolean, kind: String,
      name: String, seconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, passes, traceFlag, _, work, out) = args.take(6)
    val rest = args.drop(6).toSeq
    val spark = EntryKit.session(EntryKit.sessionBuilder()
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse"))
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val traced = traceFlag == "1"
    val run = new Run(spark, work, passes.toInt, traced, listener)
    val r = workload match {
      case "etl_incremental" =>
        run.etlIncremental(rest(0), rest(1), rest.drop(2))
      case "query_core" =>
        run.queries(rest(0), rest(1), rest.drop(2))
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(out), r)
    spark.stop()
  }

  /** Peak resident memory of this process, in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

final class Run(spark: SparkSession, work: String, passes: Int,
    traced: Boolean, listener: EngineListener) {
  import Main._

  private val ops = ArrayBuffer.empty[Op]
  private var pass = 0
  private var inTraced = false
  private val observed = ArrayBuffer.empty[String]
  private val untraced = new Trace(false, spark)
  private val trace = new Trace(true, spark)
  private var setupEndMs = 0L
  private var tracedWall, untracedWall = 0.0

  private def now(): Double = System.nanoTime() / 1e9

  private def timed[T](kind: String, name: String)(body: => T): T = {
    val s = now()
    val out = try body catch { case e: Throwable =>
      ops += Op(pass, inTraced, kind, name, now() - s, ok = false)
      System.err.println(s"[perfbench] $kind $name failed: $e")
      throw e
    }
    ops += Op(pass, inTraced, kind, name, now() - s, ok = true)
    out
  }

  /** Runs `body` with tracing off `passes` times. A traced run makes one
    * untraced pass to warm up, then the untraced pass the tracing overhead
    * is measured against, then the traced pass. `body` gets the pass index.
    */
  private def measure(body: (Trace, Int) => Unit): Unit = {
    def one(t: Trace): Double = {
      val s = now()
      inTraced = t.enabled
      try body(t, pass)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] pass $pass failed: $e") }
      pass += 1
      now() - s
    }
    if (traced) {
      one(untraced)
      untracedWall = one(untraced)
      listener.flush(spark.sparkContext)
      listener.reset()
      trace.newRun()
      tracedWall = trace.span("run")(one(trace))
    } else {
      while (pass < passes) one(untraced)
    }
  }

  private def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  // ---- workloads --------------------------------------------------------

  def etlIncremental(base: String, csv: String,
      batches: Seq[String]): String = {
    val baseWh = dir("base/wh")
    val etl0 = new Etl(spark, untraced, csv)
    val baseCharts = etl0.load(base, baseWh)
    val baseState = Etl.state(spark, baseWh, baseCharts.head)
    observe("base", baseState, None, atPass = -1)
    setupEndMs = System.currentTimeMillis()
    measure { (t, i) =>
      val etl = new Etl(spark, t, csv)
      val wh = dir(s"pass$i/wh")
      Etl.copyTree(Paths.get(baseWh), Paths.get(wh))
      var prev = baseState
      batches.zipWithIndex.foreach { case (b, k) =>
        val charts = timed("refresh", s"batch${k + 1}")(etl.load(b, wh))
        val st = state(t, wh, charts.head)
        observe(s"batch${k + 1}", st, Some(prev))
        prev = st
      }
      timed("rerun", "ingest")(etl.ingest(batches.last, wh, "stage.rerun"))
      observe("rerun", state(t, wh, Array.empty[Row]), Some(prev))
      if (t.enabled) counters ++= etl.counts
    }
    normalize(csv, batches.last)
    result()
  }

  def queries(data: String, dump: String, prefixes: Seq[String]): String = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val chosen = prefixes.map(p => all.find(_._1.takeWhile(_ != '_') == p)
      .getOrElse(sys.error(s"no query $p")))
    val module = (graft.queries.CoreQueries.defs.keySet.map(_ -> "core") ++
      graft.queries.OlapQueries.defs.keySet.map(_ -> "olap") ++
      graft.queries.ExtQueries.defs.keySet.map(_ -> "ext")).toMap
    // Untimed: each query's result for the oracle compare, which also warms
    // the JVM and the page cache.
    chosen.foreach { case (name, fn) =>
      try fn(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$dump/$name")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] dump $name failed: $e") }
    }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      EntryKit.oracleSqlJson)
    // Untimed warm-up, part of set-up: one pass run as the timed passes run
    // it, so that the JIT has seen each count() plan before timing starts.
    chosen.foreach { case (_, fn) =>
      spark.catalog.clearCache()
      try fn(spark, data).count() catch { case _: Throwable => () }
    }
    def pass(t: Trace): Unit = chosen.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      try t.span(s"queries.${module(name)}.${name.takeWhile(_ != '_')}") {
        timed("query", name)(fn(spark, data).count())
      } catch { case _: Throwable => () }
    }
    setupEndMs = System.currentTimeMillis()
    measure((t, _) => pass(t))
    result()
  }

  // ---- observations and result ------------------------------------------

  private val counters = scala.collection.mutable.Map.empty[String, Double]

  /** Traced runs only: the `Normalize` layer on its own, after the traced
    * pass so that it is not part of the traced wall time.
    */
  private def normalize(csv: String, pages: String): Unit =
    if (traced) counters("norm.strings") =
      new Etl(spark, trace, csv).normalizeStrings(pages).toDouble

  /** Warehouse state for the checks; not part of any timed operation. */
  private def state(t: Trace, wh: String, perYear: Array[Row]) =
    t.span("check.state")(Etl.state(spark, wh, perYear))

  /** Records a warehouse state for the checks in `perfbench/metrics.py`. */
  private def observe(step: String, s: Etl.State, prev: Option[Etl.State],
      atPass: Int = pass): Unit = {
    def changed(now: Map[Long, String], was: Map[Long, String]) =
      was.count { case (id, key) => !now.get(id).contains(key) }
    def counts(m: Map[String, Long]) =
      Json.obj(m.toSeq.sorted.map { case (k, v) => k -> v.toString })
    observed += Json.obj(Seq(
      "pass" -> atPass.toString, "step" -> Json.str(step),
      "vista_rows" -> s.vistaRows.toString,
      "vista_with_authors" -> s.vistaWithAuthors.toString,
      "oaa_dois" -> s.oaaDois.toString,
      "per_year" -> counts(s.perYear.map { case (y, n) => y.toString -> n }),
      "facts" -> counts(s.facts),
      "prev_facts" -> prev.map(p => counts(p.facts)).getOrElse("null"),
      "author_ids_changed" ->
        prev.map(p => changed(s.authors, p.authors)).getOrElse(0).toString,
      "affiliation_ids_changed" -> prev.map(p =>
        changed(s.affiliations, p.affiliations)).getOrElse(0).toString))
  }

  private def result(): String = {
    import Json._
    listener.flush(spark.sparkContext)
    val opsJ = ops.map(o => obj(Seq("pass" -> o.pass.toString,
      "traced" -> o.traced.toString, "kind" -> str(o.kind),
      "name" -> str(o.name), "s" -> num(o.seconds), "ok" -> o.ok.toString)))
    val spansJ = trace.spans.map(s => obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> str(s.name),
      "run" -> s.run.toString, "start" -> num(s.startNs / 1e9),
      "end" -> num(s.endNs / 1e9))))
    def nums(m: Iterable[(String, Double)]) =
      obj(m.map { case (k, v) => k -> num(v) })
    val engineJ = obj(listener.snapshot().toSeq.sortBy(_._1).map {
      case (k, c) => k.toString -> nums(c.toMap)
    })
    obj(Seq("setup_end_ms" -> setupEndMs.toString, "ops" -> arr(opsJ),
      "observed" -> arr(observed),
      "untraced_wall_s" -> num(untracedWall),
      "traced_wall_s" -> num(tracedWall), "spans" -> arr(spansJ),
      "engine" -> engineJ,
      "counters" -> nums(counters.toSeq.sorted),
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "peak_rss_mb" -> num(peakRssMb())))
  }
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = EntryKit.jsonEscape(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
