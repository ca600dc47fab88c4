package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.graft.vecDotRewrite.assumeNoNullElements", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries",
      EntryKit.CodegenCacheEntries.toLong)
    .getOrCreate()

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  lazy val sf0001 = "/root/testdata/sf0.001"

  /** The jobs `body` submits, each delivered by the listener bus. */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(js)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    jobs.asScala.toSeq
  }

  /** Partition-less window operators in a query's physical plan —
    * subqueries included. Planned with AQE OFF: under AQE the
    * executed plan is an AdaptiveSparkPlanExec LEAF, so a tree
    * collect would see nothing and the assertion would pass
    * vacuously. The DataFrame is passed by name so its (lazy)
    * physical planning happens under the flipped conf.
    */
  def partitionlessWindows(df: => org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty => w
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
