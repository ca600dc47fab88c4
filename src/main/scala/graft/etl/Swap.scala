package graft.etl

import java.io.IOException
import java.util.UUID

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.{JobExecutionStatus, ListenerBusDrain, SparkContext}
import org.apache.spark.sql.SparkSession

/** All-or-nothing promote of staged paths over their live paths: the
  * one at-rest commit every writer goes through, for replaces and
  * appends alike. No job writes into a live directory.
  *
  * A group is a list of [[Move]]s plus one `aside` path. The caller
  * stages every staged path completely; then the aside comes into
  * existence, as an empty directory or as the first move's stash. Its
  * existence is the commit point: from then on the group ends in its
  * new state. Per move the live path is stashed and the staged path
  * promoted; last the staging root, the stashes and the aside (last of
  * all) are deleted. A failure while moving undoes every move so far
  * and deletes the aside and the staging, so the call fails with the
  * old state in place and nothing staged left; a crash leaves the
  * aside, and [[recover]] rolls the group forward. A crash before the
  * aside exists leaves the live paths as they were and at most a
  * partial staging, which the writer's next stage overwrites. One
  * writer per group: a live writer's group looks like a dead one's.
  *
  * An [[append]] is one such group: the batch is staged at
  * `<live>__append`, each of its `part-*` files goes to the same
  * relative path under `<live>`, and `<live>__append_old` is the aside.
  */
private[graft] object Swap {

  /** `staged` replaces `live`, whose current copy waits at `stash`
    * until the group finishes; `staged = None` only retires `live`.
    */
  final case class Move(staged: Option[Path], live: Path, stash: Path)

  /** One move per entry under `stage` that `leaf` accepts (descending
    * into the directories it rejects, but for `_`/`.` ones), to the
    * same relative path under `live`, stashed at that path under
    * `aside`. Nil without a stage.
    */
  def under(fs: FileSystem, stage: Path, live: Path, aside: Path)(
      leaf: FileStatus => Boolean): Seq[Move] = {
    // `_`/`.` directories are a job's scratch (`_temporary`) or a
    // writer's own staging (`_zones`), never batch data
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap(st =>
      if (leaf(st)) Seq(st.getPath)
      else if (st.isDirectory && !"_.".contains(st.getPath.getName.head))
        walk(st.getPath)
      else Nil)
    // listStatus returns qualified paths: strip the qualified stage
    val prefix = fs.makeQualified(stage).toString + "/"
    if (!fs.exists(stage)) Nil
    else walk(stage).map { p =>
      val rel = p.toString.stripPrefix(prefix)
      Move(Some(p), new Path(live, rel), new Path(aside, rel))
    }
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit = {
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to))
      throw new IOException(s"Swap: rename $from -> $to failed")
  }

  /** Run `write`, the writer's staging under `staging`; if it throws,
    * delete what it left there before rethrowing (a job commit that
    * fails late leaves complete data files). A failed job returns while
    * its other tasks may still run, and one that creates a file after
    * the delete recreates a `_temporary` skeleton: so `write`'s jobs
    * carry a tag, and on failure they are cancelled and their tasks
    * waited out first.
    */
  def stage(spark: SparkSession, fs: FileSystem, staging: Path)(
      write: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-stage-${UUID.randomUUID()}"
    sc.addJobTag(tag)
    try write
    catch {
      case e: Throwable =>
        try { sc.cancelJobsWithTag(tag); awaitTasks(sc, tag) }
        catch { case w: Throwable => e.addSuppressed(w) }
        finally Try(fs.delete(staging, true))
        throw e
    } finally sc.removeJobTag(tag)
  }

  /** Block until no job tagged `tag` runs and none of their stages has
    * a task left, as the status tracker shows once the listener bus has
    * delivered every event posted so far (the store counts a failed
    * stage's tasks until each ends). Gives up after [[TaskWaitMs]].
    */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def active: Boolean = {
      ListenerBusDrain(sc)
      st.getJobIdsForTag(tag).flatMap(st.getJobInfo).exists(j =>
        j.status == JobExecutionStatus.RUNNING ||
          j.stageIds.flatMap(st.getStageInfo).exists(_.numActiveTasks > 0))
    }
    val deadline = System.currentTimeMillis() + TaskWaitMs
    while (active && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  private val TaskWaitMs = 60000L

  /** Commit `moves` as one group. The caller [[recover]]s the group
    * before it stages, so the aside does not exist yet.
    */
  def swap(fs: FileSystem, aside: Path, moves: Seq[Move],
      staging: Option[Path] = None): Unit = {
    val had = moves.map(m => fs.exists(m.live))
    var done = List.empty[(Path, Path)] // renames made, newest first
    def move(from: Path, to: Path): Unit = {
      rename(fs, from, to); done = (from, to) :: done
    }
    try {
      if (!(moves.headOption.exists(_.stash == aside) && had.head))
        fs.mkdirs(aside)
      moves.zip(had).foreach { case (m, h) =>
        if (h) move(m.live, m.stash)
        m.staged.foreach(move(_, m.live))
      }
    } catch {
      case e: Throwable =>
        done.find { case (from, to) => Try(rename(fs, to, from)).isFailure }
          .foreach { case (_, at) =>
            throw new IOException(s"Swap: $e, and undoing it failed too: " +
              s"data is at $at; $aside is kept, so the next recover " +
              "rolls the group forward", e)
          }
        Try(fs.delete(aside, true))
        // the old state is back: the staging is garbage nothing recovers
        (moves.flatMap(_.staged) ++ staging)
          .foreach(p => Try(fs.delete(p, true)))
        throw e
    }
    finish(fs, aside, moves, staging)
  }

  /** Finish a group a dead writer left committed: promote each staged
    * path still there (stashing a live path not yet stashed), stash
    * each live path a retire-only move still finds, then delete as
    * [[swap]] does; a live path left with no copy at all gets its
    * stash back. Idempotent; one `exists` when nothing is pending.
    * `moves`, read from disk, is evaluated only when the aside exists.
    */
  def recover(fs: FileSystem, aside: Path, staging: Option[Path] = None)(
      moves: => Seq[Move]): Unit =
    if (fs.exists(aside)) {
      val ms = moves
      ms.foreach { m =>
        m.staged.filter(fs.exists) match {
          case Some(s) =>
            if (fs.exists(m.live)) rename(fs, m.live, m.stash)
            rename(fs, s, m.live)
          case None if m.staged.isEmpty =>
            if (fs.exists(m.live)) rename(fs, m.live, m.stash)
          case None =>
            if (!fs.exists(m.live) && fs.exists(m.stash))
              rename(fs, m.stash, m.live)
        }
      }
      finish(fs, aside, ms, staging)
    }

  /** Where a reader finds each move's current data, mutating nothing
    * (a reader must not race the writer's renames): the live paths,
    * but for a committed group some of whose `moves` are still staged,
    * where it is the old state — each move's stash once stashed, else
    * its live path. A group that promotes its data before the moves a
    * reader resolves (the zone sidecar after its part files) so reads
    * old data until the new data is all in place.
    */
  def resolve(fs: FileSystem, aside: Path, moves: Seq[Move]): Seq[Path] =
    if (fs.exists(aside) && moves.exists(_.staged.exists(fs.exists)))
      moves.map(m => if (fs.exists(m.stash)) m.stash else m.live)
    else moves.map(_.live)

  private val Appended = "__append"

  /** [[append]]'s group for `live`: `(staging, aside)`, both beside it. */
  def appendPaths(live: Path): (Path, Path) = (new Path(s"$live$Appended"),
    new Path(s"$live${Appended}_old"))

  /** A file [[append]] staged, named as `input_file_name()` reports
    * it, under the name it gets once promoted.
    */
  def promotedName(staged: String): String = {
    val i = staged.lastIndexOf('/')
    staged.substring(0, i).stripSuffix(Appended) + staged.substring(i)
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The staging's part files, each to its path under `live`; a first
    * write moves the whole staging in one rename, so it leaves no
    * half-filled `live` behind.
    */
  private def appendMoves(fs: FileSystem, live: Path): Seq[Move] = {
    val (stage, aside) = appendPaths(live)
    if (!fs.exists(live) && fs.exists(stage))
      Seq(Move(Some(stage), live, aside))
    else under(fs, stage, live, aside)(
      st => st.isFile && st.getPath.getName.startsWith("part-"))
  }

  /** Finish the [[append]] to `live` a dead writer left committed: its
    * staged part files, then `extra` (read from disk; evaluated only
    * when the aside exists).
    */
  def recoverAppend(spark: SparkSession, live: String,
      extra: => Seq[Move] = Nil): Unit = {
    val p = new Path(live)
    val fs = fsOf(spark, p)
    val (stage, aside) = appendPaths(p)
    recover(fs, aside, Some(stage))(appendMoves(fs, p) ++ extra)
  }

  /** Append a batch to `live` as one group. `write` writes the batch
    * with mode overwrite to the staging path it is given, and may
    * stage `extra`'s sources in it under `_`-prefixed names; then every
    * staged `part-*` file, and after them `extra`, are promoted, and
    * cached reads of `live` are refreshed. A committed append a dead
    * writer left is finished first.
    */
  def append(spark: SparkSession, live: String,
      extra: => Seq[Move] = Nil)(write: String => Unit): Unit = {
    recoverAppend(spark, live)
    val p = new Path(live)
    val fs = fsOf(spark, p)
    val (stage, aside) = appendPaths(p)
    fs.delete(stage, true) // a dead writer's partial staging
    Swap.stage(spark, fs, stage)(write(stage.toString))
    swap(fs, aside, appendMoves(fs, p) ++ extra, Some(stage))
    // Spark refreshes cached reads of the path it writes, which is the
    // staging here: refresh the live path's
    spark.catalog.refreshByPath(live)
  }

  private def finish(fs: FileSystem, aside: Path, moves: Seq[Move],
      staging: Option[Path]): Unit = {
    staging.foreach(fs.delete(_, true))
    moves.map(_.stash).filterNot(s => s == aside ||
        s.toString.startsWith(aside.toString + "/"))
      .foreach(fs.delete(_, true))
    fs.delete(aside, true)
  }
}
