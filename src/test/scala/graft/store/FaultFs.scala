package graft.store

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `faultfs` scheme, for crash tests:
  * every create, rename and delete is logged (a rename by its source),
  * and an armed trigger fires at the k-th call matching its predicate —
  * by default it throws, as a crash at that point would. State is
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

  private var log = Vector.empty[Op]
  private var trigger: Option[(Int, Op => Boolean, () => Unit)] = None

  private def step(kind: String, p: Path): Unit = {
    val op = kind -> p.toString
    val fire = synchronized {
      log :+= op
      trigger match {
        case Some((0, matches, action)) if matches(op) => trigger = None; Some(action)
        case Some((k, matches, action)) if matches(op) => trigger = Some((k - 1, matches, action)); None
        case _ => None
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

  /** Runs `f` with `action` armed at the `k`-th (from 0) op that
    * `matches`; the default action throws.
    */
  def armed[A](k: Int, matches: Op => Boolean)(
      action: => Unit = throw new IOException("injected crash"))(f: => A): A = {
    synchronized { trigger = Some((k, matches, () => action)) }
    try f finally synchronized { trigger = None }
  }
}
