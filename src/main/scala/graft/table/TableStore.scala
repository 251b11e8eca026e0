package graft.table

import java.io.IOException
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, Options, Path => HPath}

/** Storage layer for [[Icebox]] metadata and maintenance I/O, resolved from
  * the table URI through the Hadoop FileSystem API — a table lives on
  * `file://` (or a plain local path), `hdfs://`, `s3a://`, or any other
  * registered scheme (the reference's warehouse is MinIO/S3 behind the same
  * API: utils/minio_manager.py:7-44, utils/catalog_manager.py:8-26).
  *
  * All listing/reading/writing/deleting goes through the resolved
  * `FileSystem` (the checksummed local FS is unwrapped to its raw form so
  * metadata writes don't shed `.crc` sidecars). The THREE primitives the
  * commit protocol's correctness rests on are abstracted here, because
  * their atomicity is filesystem-specific:
  *
  *  - '''createNew''' — the CAS claim (lock acquisition, snapshot-id
  *    claims). Local: `O_EXCL` via java.nio `CREATE_NEW` — kernel-atomic.
  *    HDFS: `create(overwrite=false)` — atomic on the NameNode. Raw-local
  *    Hadoop and S3A check-then-create (TOCTOU): S3 deployments should
  *    enable conditional writes (`fs.s3a.create.conditional.enabled`,
  *    Hadoop 3.4.1+ If-None-Match PUT) or register a [[CasProvider]] for
  *    the scheme — the claim is then arbitrated on a mechanism that IS
  *    atomic (a lock directory on POSIX/HDFS, a lock table) and only the
  *    winner touches the weak filesystem, which is exactly how Iceberg's
  *    S3 commit works. `deleteIfExists`/`renameNoReplace` keep the
  *    provider's claim state mirrored to file existence.
  *  - '''atomicReplace''' — publish (`_current` flip, properties update,
  *    manifest rebase): write-temp + rename-overwrite. Local: nio
  *    `ATOMIC_MOVE`. Others: `FileContext.rename(OVERWRITE)` (atomic on
  *    HDFS) with a delete+rename fallback for filesystems exposing no
  *    AbstractFileSystem binding (non-atomic — the crash window leaves no
  *    `_current`, which readers surface loudly as "table missing", never as
  *    a stale-but-plausible state).
  *  - '''renameNoReplace''' — the stale-lock break protocol's grave move.
  *    Local: nio move sans REPLACE. Others: exists-check + rename
  *    (best-effort; the protocol it serves is itself a crash-recovery
  *    fallback and tolerates a lost race by retrying).
  *
  * Paths are RENDERED back to strings (for manifests, Spark reads, and
  * returned file lists) with [[render]]: a table rooted at a schemeless
  * local path keeps schemeless paths — byte-compatible with pre-round-9
  * manifests — while a URI-rooted table keeps its scheme+authority so a
  * manifest path alone resolves the right FileSystem on any reader.
  */
final class TableStore(val root: HPath, conf: Configuration) {

  private val fs: FileSystem = root.getFileSystem(conf)

  /** Metadata filesystem: the checksummed local FS writes a `.crc` sidecar
    * next to every file, which would litter `_snapshots/` and break
    * byte-parity with the nio-era layout — unwrap to the raw FS.
    */
  private val mfs: FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  // via the FS URI, not getScheme() — RawLocalFileSystem inherits the
  // base getScheme, which throws UnsupportedOperationException
  private val isLocal: Boolean = Option(mfs.getUri.getScheme).contains("file")
  private val schemeless: Boolean = root.toUri.getScheme == null

  // scheme whose create(overwrite=false) is check-then-create (TOCTOU):
  // without an external arbiter the CAS claims the commit protocol rests
  // on can double-win. A deployment whose filesystem DOES implement an
  // atomic exclusive create under a custom scheme declares it via
  // graft.cas.atomic.schemes (an assertion of atomicity — distinct from
  // graft.cas.unsafe.allow, which accepts the risk on one that doesn't).
  private def unsafeScheme: Boolean = {
    val s3Conditional = scheme.startsWith("s3") &&
      conf.getBoolean("fs.s3a.create.conditional.enabled", false)
    val declaredAtomic =
      conf.getTrimmedStrings(TableStore.AtomicSchemesKey).contains(scheme)
    !isLocal && scheme != "hdfs" && !s3Conditional && !declaredAtomic
  }

  // the class doc's atomicity caveat, surfaced at CONSTRUCTION for
  // discoverability (CAS claims on such a scheme additionally REFUSE to
  // run — see createNew — unless a CasProvider is registered by then or
  // the deployment explicitly accepts the risk)
  locally {
    if (unsafeScheme && CasProvider.forScheme(scheme).isEmpty &&
        !conf.getBoolean(TableStore.UnsafeCasAllowKey, false))
      org.slf4j.LoggerFactory.getLogger(classOf[TableStore]).warn(
        s"TableStore at $root: filesystem scheme '$scheme' has no atomic " +
        "create(overwrite=false) — concurrent writers may both win a CAS claim. " +
        "CAS claims will THROW unless you enable " +
        "fs.s3a.create.conditional.enabled (S3, Hadoop 3.4.1+), configure a " +
        s"CasProvider for this scheme, or set ${TableStore.UnsafeCasAllowKey}=true.")
  }

  private def nio(p: HPath): java.nio.file.Path = Paths.get(p.toUri.getPath)

  /** `root`/`name` (multi-segment names allowed). */
  def child(name: String): HPath = new HPath(root, name)

  /** Canonical string form of `p` for manifests and Spark reads (see class
    * doc: schemeless tables render schemeless).
    */
  def render(p: HPath): String = if (schemeless) p.toUri.getPath else p.toString

  def exists(p: HPath): Boolean = mfs.exists(p)

  def readBytes(p: HPath): Array[Byte] = {
    val in = mfs.open(p)
    try in.readAllBytes()
    finally in.close()
  }

  def mkdirs(p: HPath): Unit = mfs.mkdirs(p)

  /** Delete a file or EMPTY directory; false if absent. Any provider claim
    * on the path is released AFTER the file is gone, so the path becomes
    * claimable again (a contender racing into the gap just loses its claim
    * attempt and retries — never a double win).
    */
  def deleteIfExists(p: HPath): Boolean = {
    val r = try mfs.delete(p, false)
      catch { case _: java.io.FileNotFoundException => false }
    cas.foreach(_.release(render(p)))
    r
  }

  def mtime(p: HPath): Long = mfs.getFileStatus(p).getModificationTime

  def list(p: HPath): Seq[FileStatus] = mfs.listStatus(p).toSeq

  /** Recursive preorder listing (`p` itself first, parents before children
    * — reverse for leaf-first deletion), files and directories both.
    */
  def walk(p: HPath): Seq[FileStatus] = {
    val self = mfs.getFileStatus(p)
    if (self.isFile) Seq(self)
    else self +: list(p).flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st))
  }

  private def scheme: String = Option(mfs.getUri.getScheme).getOrElse("")

  /** The registered CAS mechanism for this filesystem, if any (per-call
    * lookup so registration after store construction still applies).
    */
  private def cas: Option[CasProvider] = CasProvider.forScheme(scheme)

  /** CAS create: write `bytes` to `p` iff `p` does not exist; false when it
    * does. When a [[CasProvider]] is registered for this filesystem's
    * scheme, the CLAIM is arbitrated there (atomic by the provider's
    * contract) and only the winner writes the file — the weak filesystem's
    * non-atomic `create(overwrite=false)` never decides a race. A claim
    * whose underlying file is missing past the abandoned-claim grace (its
    * winner died between claim and write) is released and contested once.
    * Without a provider, atomicity is per-filesystem (see class doc).
    */
  def createNew(p: HPath, bytes: Array[Byte]): Boolean = cas match {
    case Some(cp) =>
      val key = render(p)
      if (cp.claim(key, bytes)) { writeClaimed(p, bytes); true }
      else if (!exists(p) &&
          cp.claimAgeMs(key).exists(_ > CasProvider.abandonedClaimGraceMs)) {
        cp.release(key)
        if (cp.claim(key, bytes)) { writeClaimed(p, bytes); true } else false
      } else false
    case None =>
      // STRICT MODE (default): a CAS claim on a scheme that cannot
      // arbitrate it refuses to run rather than silently risking a
      // double-win — the caller registers a CasProvider, enables the
      // store's conditional-PUT, or explicitly accepts the risk
      if (unsafeScheme && !conf.getBoolean(TableStore.UnsafeCasAllowKey, false))
        throw new IllegalStateException(
          s"TableStore at $root: CAS claim on scheme '$scheme' whose " +
          "create(overwrite=false) is check-then-create — concurrent writers " +
          "could both win. Register a CasProvider for this scheme, enable " +
          "fs.s3a.create.conditional.enabled (S3, Hadoop 3.4.1+), or accept " +
          s"the risk explicitly with ${TableStore.UnsafeCasAllowKey}=true.")
      createNewDirect(p, bytes)
  }

  /** The winner's write-through behind a provider claim: plain overwrite —
    * exclusivity was already arbitrated.
    */
  private def writeClaimed(p: HPath, bytes: Array[Byte]): Unit = {
    val out = mfs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def createNewDirect(p: HPath, bytes: Array[Byte]): Boolean =
    if (isLocal) {
      try {
        Files.write(nio(p), bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = mfs.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }

  /** Atomically replace `p`'s content with `bytes` (write-temp + rename;
    * see class doc for per-filesystem atomicity).
    */
  def atomicReplace(p: HPath, bytes: Array[Byte]): Unit = {
    val tmp = new HPath(p.getParent, s".${p.getName}.tmp.${UUID.randomUUID().toString.take(8)}")
    if (isLocal) {
      Files.write(nio(tmp), bytes)
      Files.move(nio(tmp), nio(p), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = mfs.create(tmp, true)
      try out.write(bytes) finally out.close()
      try {
        val fc = FileContext.getFileContext(p.toUri, conf)
        fc.rename(tmp, p, Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // raw-local rename is POSIX rename(2) — atomic overwrite; only a
          // strict dst-exists filesystem needs the (non-atomic) delete first
          if (!mfs.rename(tmp, p)) {
            mfs.delete(p, false)
            if (!mfs.rename(tmp, p)) throw new IOException(s"rename $tmp -> $p failed")
          }
      }
    }
  }

  /** Rename `src` to `dst` iff `dst` does not exist; false on any lost
    * race (see class doc). With a provider, `dst` is claimed first (atomic)
    * and `src`'s claim is released on success, keeping claim state mirrored
    * to file existence.
    */
  def renameNoReplace(src: HPath, dst: HPath): Boolean = cas match {
    case Some(cp) =>
      val (skey, dkey) = (render(src), render(dst))
      if (!cp.claim(dkey, Array.emptyByteArray)) false
      else {
        val ok = try mfs.rename(src, dst)
          catch { case _: java.io.FileNotFoundException | _: IOException => false }
        if (ok) cp.release(skey) else cp.release(dkey)
        ok
      }
    case None =>
      if (isLocal) {
        try { Files.move(nio(src), nio(dst)); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.nio.file.NoSuchFileException => false
        }
      } else {
        // same strict gate as createNew: this fallback is check-then-rename
        // (two breakers of one stale lock could both "win"). In practice
        // strict mode already blocks the lock LIFECYCLE upstream — taking a
        // lock needs createNew — but guard the primitive itself too.
        if (unsafeScheme && !conf.getBoolean(TableStore.UnsafeCasAllowKey, false))
          throw new IllegalStateException(
            s"TableStore at $root: rename-no-replace CAS on scheme '$scheme' is " +
            "check-then-rename — register a CasProvider, declare the scheme atomic " +
            s"(${TableStore.AtomicSchemesKey}), or set ${TableStore.UnsafeCasAllowKey}=true.")
        try !mfs.exists(dst) && mfs.rename(src, dst)
        catch { case _: java.io.FileNotFoundException => false }
      }
  }
}

object TableStore {
  /** Opt-in (Hadoop conf boolean): allow CAS claims on schemes with
    * check-then-create `create(overwrite=false)` semantics anyway. Default
    * false — strict mode, claims throw (see [[TableStore.createNew]]).
    */
  val UnsafeCasAllowKey = "graft.cas.unsafe.allow"

  /** Comma-separated schemes the deployment ASSERTS implement atomic
    * `create(overwrite=false)` (e.g. a custom FileSystem backed by a
    * store with exclusive-create). Treated as safe: no warning, no strict
    * refusal. local/hdfs/conditional-PUT-S3 never need declaring.
    */
  val AtomicSchemesKey = "graft.cas.atomic.schemes"

  /** Whether `name` is an [[TableStore.atomicReplace]] temp
    * (`.<target>.tmp.<id>`): residue once its writer is gone.
    */
  private[table] def isTemp(name: String): Boolean =
    name.startsWith(".") && name.contains(".tmp.")
}
