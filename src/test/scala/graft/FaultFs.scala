package graft

import java.io.IOException
import java.net.URI
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** [[MockFs]] on its own scheme (`faultfs://`) that counts MUTATING calls
  * (create, rename, delete, mkdirs) and can kill the process at one of them:
  * armed with `reset(crashAt = n)`, the n-th mutating call and every later
  * one throw until the next `reset()` — a dead process, so no `finally`
  * block can tidy up after itself. Reads keep working (a dead process
  * issues none that matter; the ones it still makes change nothing).
  *
  * Only the OUTERMOST call counts (RawLocalFileSystem's `create` calls
  * `mkdirs` on the parent internally), and a `mkdirs` of a directory that
  * already exists mutates nothing, so it does not count either.
  *
  * Register with `fs.faultfs.impl` and list `faultfs` under
  * [[graft.table.TableStore.AtomicSchemesKey]]: the CAS claim inherits
  * MockFs's `O_EXCL` create.
  */
class FaultFs extends MockFs {
  override def getUri: URI = URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.step("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FaultFs.step("create", f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.step("create", f)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    FaultFs.step("rename", src)(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultFs.step("delete", p)(super.delete(p, recursive))

  override def mkdirs(p: Path): Boolean = mkdirsStep(p)(super.mkdirs(p))

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    mkdirsStep(p)(super.mkdirs(p, permission))

  private def mkdirsStep(p: Path)(body: => Boolean): Boolean =
    if (exists(p) && getFileStatus(p).isDirectory) { FaultFs.throwIfDead(); body }
    else FaultFs.step("mkdirs", p)(body)
}

object FaultFs {
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var crashAt = Int.MaxValue
  @volatile private var dead = false
  @volatile private var hook: Option[(Path => Boolean, () => Unit)] = None
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Zero the counter, revive the process, disarm any hook; the
    * `crashAt`-th mutating call from now on kills it (never, by default).
    */
  def reset(crashAt: Int = Int.MaxValue): Unit = synchronized {
    calls.clear(); dead = false; hook = None; this.crashAt = crashAt
  }

  /** Mutating calls since the last [[reset]], as `"<kind> <path>"`. */
  def trace: Seq[String] = calls.toArray(Array.empty[String]).toSeq

  def count: Int = calls.size

  /** Run `action` once, just before the next mutating call on a path that
    * matches `on` (the call itself then proceeds, and is counted).
    */
  def before(on: Path => Boolean)(action: => Unit): Unit = hook = Some((on, () => action))

  private def inside: Boolean = depth.get > 0

  private def throwIfDead(): Unit =
    if (dead) throw new IOException("FaultFs: the process is dead")

  private def step[T](kind: String, p: Path)(body: => T): T =
    if (inside) { throwIfDead(); body }
    else {
      val fire = synchronized {
        hook.collect { case (on, action) if on(p) => hook = None; action }
      }
      fire.foreach(_())
      synchronized {
        throwIfDead()
        calls.add(s"$kind ${p.toUri.getPath}")
        if (calls.size >= crashAt) {
          dead = true
          throw new IOException(s"FaultFs: process died at mutating call $crashAt ($p)")
        }
      }
      depth.set(depth.get + 1)
      try body finally depth.set(depth.get - 1)
    }
}
