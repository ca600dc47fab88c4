package graft.ext

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifetime API for intermediates: every persist and every
  * lineage cut in the program goes through here, and [[scope]] frees
  * what was pinned inside it.
  *
  *  - [[memory]]: lazy MEMORY_ONLY persist, for small support tables
  *    whose recompute is one exact aggregation pass (LRU eviction is
  *    cheap to repair; every operator is integer/decimal arithmetic,
  *    so an evicted block reproduces bit-for-bit).
  *  - [[disk]]: lazy MEMORY_AND_DISK persist, for intermediates whose
  *    recompute is a corpus-scale build: spilling to local disk beats
  *    re-running the build.
  *  - [[cut]]: eager lineage cut, for iterative loops whose plan would
  *    otherwise grow with the round count. `localCheckpoint` blocks are
  *    executor-local and have NO recompute path: on a real cluster a
  *    lost executor kills a long run. Setting a checkpoint directory on
  *    the context (`spark.sparkContext.setCheckpointDir("hdfs://…")`)
  *    turns every cut into a RELIABLE `Dataset.checkpoint()` written to
  *    that filesystem, so a lost executor re-reads instead of dying.
  *    No signature changes: the choice rides on the session, as
  *    GraphX's checkpointing does, and results are identical either
  *    way (Round10Spec pins pageRank and dedupClusters byte-equal under
  *    both modes).
  *  - [[free]]: release one frame now, for a superseded loop round.
  *  - [[scope]]: run a body, then free everything pinned inside it, on
  *    return and on throw.
  *
  * Registration. A pin made inside a scope registers with the innermost
  * open scope. The registry is inheritable, and `ParJobs` creates its
  * pool threads from the caller's thread, so a pin made by a concurrent
  * phase registers with the caller's scope too. Outside any scope a pin
  * registers nothing. There is no global release: a local checkpoint
  * cannot be recomputed, so only the code that made it knows when
  * nothing reads it any more.
  *
  * Who opens a scope. Operators return lazy frames that still read
  * their pins, so an operator opens a scope only when its result is
  * driver-local; otherwise the query or pipeline stage that consumes
  * the result does (`Bench.once`, `Pipeline.ingest`).
  *
  * Cleanup of the reliable form: releasing a cut drops its blocks, but
  * reliable checkpoint FILES outlive the run. Enable
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or manage
  * the directory's lifecycle (e.g. a per-job subdir deleted on
  * completion), as with any Spark reliable checkpoint.
  */
object Materialize {

  private final class Frames {
    val live = ConcurrentHashMap.newKeySet[DataFrame]()
    @volatile var open = true
  }

  private val current = new InheritableThreadLocal[Frames]

  /** Run `body`, then release every frame pinned inside it (and not
    * already freed). A release failure is rethrown after the others
    * ran; if `body` threw, it is attached to that throwable instead.
    */
  def scope[A](body: => A): A = {
    val outer = current.get
    val frames = new Frames
    current.set(frames)
    val result =
      try body
      catch { case t: Throwable => close(frames, outer, t); throw t }
    close(frames, outer, null)
    result
  }

  private def close(frames: Frames, outer: Frames,
      failure: Throwable): Unit = {
    current.set(outer)
    frames.open = false
    var first = failure
    frames.live.forEach { df =>
      try release(df)
      catch {
        case NonFatal(e) =>
          if (first == null) first = e else first.addSuppressed(e)
      }
    }
    frames.live.clear()
    if (failure == null && first != null) throw first
  }

  private def register(df: DataFrame): DataFrame = {
    val frames = current.get
    if (frames != null && frames.open) frames.live.add(df)
    df
  }

  /** Lazy MEMORY_ONLY persist. */
  def memory(df: DataFrame): DataFrame =
    register(df.persist(StorageLevel.MEMORY_ONLY))

  /** Lazy MEMORY_AND_DISK persist. */
  def disk(df: DataFrame): DataFrame =
    register(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Materialize `df` and cut its lineage: reliable
    * `Dataset.checkpoint()` when the session has a checkpoint dir,
    * `localCheckpoint()` otherwise. Both forms are eager.
    */
  def cut(df: DataFrame): DataFrame =
    register(
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint()
      else df.localCheckpoint())

  /** Release one frame made by [[memory]], [[disk]] or [[cut]] now.
    * Only call it once nothing can re-read the frame: a local
    * checkpoint cannot be recomputed.
    */
  def free(df: DataFrame): Unit = {
    val frames = current.get
    if (frames != null) frames.live.remove(df)
    release(df)
  }

  /** Non-blocking: a persisted frame is unpersisted; a cut frame's
    * checkpointed RDD is.
    */
  private def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
