package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, start, end, run id). Names are
  * `<layer>.<call>`; the layer is the text before the first dot. Spans are
  * kept in memory and written once, when the run ends. While a span is open
  * its id is the `perfbench.span` local property, so the Spark jobs it
  * submits are attributed to it by [[EngineListener]].
  *
  * With tracing off, [[span]] only runs its body and [[force]] does nothing,
  * so the untraced run measures the program alone.
  */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  final case class Span(id: Int, parent: Int, name: String, run: Int,
      startNs: Long, var endNs: Long)

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var run = 0

  /** Starts a new run id; spans opened from now on carry it. */
  def newRun(): Unit = run += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, run,
        System.nanoTime(), -1L)
      spans += s
      stack = s.id :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** Forces a lazily planned frame inside the open span, so its work is
    * charged to the layer that planned it rather than to a later writer.
    * Cached frames are materialised into the cache; others are evaluated
    * by a no-op write.
    */
  def force(df: DataFrame): DataFrame = {
    if (enabled) {
      if (df.storageLevel.useMemory || df.storageLevel.useDisk) df.count()
      else df.write.format("noop").mode("overwrite").save()
    }
    df
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}
