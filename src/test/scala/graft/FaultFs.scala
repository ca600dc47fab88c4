package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `faulty` scheme, failing on cue:
  * the k-th rename, delete or file create outside a Spark `_temporary`
  * directory throws, returns false (a create, which has no false
  * answer, throws), or — in crash mode — throws, and so does every
  * later mutation, as if the process had died there.
  */
class FaultFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri
}) {
  override def getScheme: String = FaultFs.Uri.getScheme
  override def rename(src: Path, dst: Path): Boolean =
    FaultFs.step(src, dst)(false)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultFs.step(p)(false)(super.delete(p, recursive))
  override def mkdirs(p: Path): Boolean = { FaultFs.alive(); super.mkdirs(p) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    FaultFs.alive(); super.mkdirs(p, perm)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FaultFs.step(p)(throw new IOException(s"FaultFs: create $p refused"))(
      super.create(p, perm, overwrite, bufferSize, replication, blockSize,
        progress))
}

object FaultFs {
  val Uri: URI = URI.create("faulty:///")

  sealed trait Mode
  case object Throw extends Mode
  case object ReturnFalse extends Mode
  case object Crash extends Mode

  @volatile private var failAt = 0 // 0: disarmed
  @volatile private var mode: Mode = Throw
  @volatile private var dead = false
  @volatile var fired = false
  /** The paths of the step that failed, space-separated. */
  @volatile var firedOn = ""
  private val seen = new AtomicInteger

  def arm(k: Int, m: Mode): Unit = {
    seen.set(0); mode = m; dead = false; fired = false; failAt = k
  }
  def disarm(): Unit = { failAt = 0; dead = false }

  def alive(): Unit =
    if (dead) throw new IOException("FaultFs: the process has crashed")

  /** `op`, unless it is the armed step: then `refused` is its answer in
    * [[ReturnFalse]] mode.
    */
  def step[T](paths: Path*)(refused: => T)(op: => T): T = {
    alive()
    if (failAt > 0 && !paths.exists(_.toString.contains("/_temporary")) &&
        seen.incrementAndGet() == failAt) {
      fired = true
      firedOn = paths.mkString(" ")
      mode match {
        case ReturnFalse => return refused
        case Throw => throw new IOException(s"FaultFs: fault at step $failAt")
        case Crash =>
          dead = true
          throw new IOException(s"FaultFs: crash at step $failAt")
      }
    }
    op
  }
}

/** A spec whose directories live on [[FaultFs]]. */
trait FaultFsSpec extends SparkSpec {
  private lazy val registered = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultFs].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
    true
  }

  /** A fresh empty directory, as a `faulty://` URI. */
  def freshDir(): String = {
    assert(registered)
    "faulty://" + Files.createTempDirectory("graft_fault").toString
  }

  def exists(p: String): Boolean = new File(new URI(p).getPath).exists()

  /** A `faulty://` path as a local file. */
  def localFile(p: String): File = new File(new URI(p).getPath)

  /** `op` on a fresh `setup` fixture, crashed at its k-th rename,
    * delete or create, for k = 1, 2, ... until a run ends before its
    * k-th step; `after` then checks each fixture, given the paths the
    * crash hit ("" for the run that did not crash). Returns the crash
    * count.
    */
  def crashAtEachStep(setup: String => Unit, op: String => Unit)(
      after: (String, String) => Unit): Int = {
    var k = 0
    var crashed = true
    while (crashed) {
      k += 1
      val d = freshDir()
      setup(d)
      FaultFs.arm(k, FaultFs.Crash)
      scala.util.Try(op(d))
      crashed = FaultFs.fired
      FaultFs.disarm()
      after(d, if (crashed) FaultFs.firedOn else "")
    }
    k - 1
  }
}
