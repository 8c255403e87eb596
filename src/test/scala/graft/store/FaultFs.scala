package graft.store

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `faultfs` scheme, for crash tests:
  * every create, rename and delete is logged (a rename by its source),
  * and each armed trigger fires at the k-th call matching its predicate
  * — by default it throws, as a crash at that point would. State is
  * JVM-wide, so write tasks (local mode) see the same trigger as the
  * driver. Register with `fs.faultfs.impl = graft.store.FaultFs`.
  */
class FaultFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri
}) {
  override def getScheme: String = FaultFs.Uri.getScheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.step("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultFs.step("delete", f)
    super.delete(f, recursive)
  }
}

object FaultFs {
  val Uri: URI = URI.create("faultfs:///")

  type Op = (String, String)

  private final class Trigger(var k: Int, val matches: Op => Boolean, val action: () => Unit, val kills: Op => Boolean)

  private var log = Vector.empty[Op]
  private var triggers = List.empty[Trigger]
  // once a kill has fired: the ops that fail from then on
  private var killed: Op => Boolean = _ => false

  private def crash(): Unit = throw new IOException("injected crash")

  private def step(kind: String, p: Path): Unit = {
    val op = kind -> p.toString
    val fire = synchronized {
      log :+= op
      if (killed(op)) List(() => crash())
      else triggers.filter(_.matches(op)).flatMap { t =>
        t.k -= 1
        if (t.k >= 0) Nil
        else { triggers = triggers.filterNot(_ eq t); killed = t.kills; List(t.action) }
      }
    }
    fire.foreach(_())
  }

  /** The ops `f` performed, in order. */
  def record(f: => Unit): Vector[Op] = {
    synchronized { log = Vector.empty }
    f
    synchronized(log)
  }

  private def arm[A](t: Trigger)(f: => A): A = {
    synchronized { triggers ::= t }
    try f finally synchronized { triggers = triggers.filterNot(_ eq t); killed = _ => false }
  }

  /** Runs `f` with `action` armed at the `k`-th (from 0) op that
    * `matches`; the default action throws.
    */
  def armed[A](k: Int, matches: Op => Boolean)(action: => Unit = crash())(f: => A): A =
    arm(new Trigger(k, matches, () => action, _ => false))(f)

  /** Runs `f` with a crash at the `k`-th (from 0) op that `matches`,
    * after which every op that `dead` matches throws too, on any
    * thread, as in a killed process.
    */
  def killedAt[A](k: Int, matches: Op => Boolean, dead: Op => Boolean)(f: => A): A =
    arm(new Trigger(k, matches, () => crash(), dead))(f)
}
