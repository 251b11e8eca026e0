package graft.table

import java.nio.charset.StandardCharsets
import java.util.UUID
import org.apache.hadoop.fs.{Path => HPath}

/** The Icebox commit unit: every mutation of a table's metadata goes
  * through here (snapshot publication, branch advance, fast-forward,
  * property writes), and so does the reclaim of what a crashed one leaves
  * behind.
  *
  * '''One protocol.''' [[publish]] is the entry point for every commit; a
  * data or merge-on-read commit calls it after writing its data and delete
  * files through [[DataFileCommitter]], which creates each file under its
  * final name (nothing staged, marked or renamed). Its steps:
  *
  *  1. '''claim''' — resolve the file set against the parent it will land
  *     on (`resolve(parent)`, the branch head or the main head), build the
  *     manifest (a delta, or a full checkpoint whose shards are written
  *     first) and claim snapshot id `<id>` by creating `_snapshots/<id>.json`
  *     with CREATE_NEW. Ids are claimed across all lineages, so a lost claim
  *     means the head moved (re-resolve on top of it) or another lineage
  *     took the number (bump past it). Either way the loop resolves again,
  *     so a concurrent commit's files are never dropped.
  *  2. '''lock''' — claim `_properties.lock` with CREATE_NEW, carrying an
  *     owner token ([[withTableLock]]).
  *  3. '''pointer''' — under the lock, compare-and-set the head: the main
  *     head's `_current` (write-temp + rename) or a branch's
  *     `ref.branch.<name>` property, only if it still names the parent.
  *     Snapshot ids are shared by all lineages, so the id claim alone does
  *     not linearize commits on one lineage; this check does. On a mismatch
  *     nothing is written, the claimed manifest is deleted and step 1 runs
  *     again.
  *  4. '''riders''' — `riders` merge into the table properties in the same
  *     lock window, AFTER the pointer (for a branch, in the same properties
  *     write as its pointer). One commit carries both, sparing a second
  *     lock/write cycle.
  *  5. '''release''' — the lock is deleted if it still carries our token.
  *  6. '''caches''' — the manifest and file-set caches, `commitEvents`.
  *
  * [[moveHead]] (fast-forward) runs steps 2–6 for an existing snapshot;
  * [[updateProperties]] runs 2, 4 and 5.
  *
  * '''Crash residue.''' A crash at any mutating step leaves the table
  * reading the parent snapshot (up to the rename in step 3) or the new one
  * (from it on). What each step can leave behind, and what collects it:
  *  - before 1 (data files, delete files, checkpoint shards, bloom and
  *    sketch side files): files no manifest references → [[reclaim]];
  *  - after 1: a claimed manifest no head reaches → [[reclaim]] (the next
  *    claim bumps past its id);
  *  - after 2, or in 5: a `_properties.lock` whose holder is dead → the
  *    next locker breaks it once it is 10 s old; a crash while breaking it
  *    leaves a `_properties.lock.broken.*` grave → [[reclaim]];
  *  - in 3 or 4: a `.<name>.tmp.*` temp beside `_current` or
  *    `_properties.json` → [[reclaim]] (the target is intact: the rename
  *    is atomic);
  *  - between 3 and 4: properties stale relative to the published commit,
  *    which every rider tolerates (the dedup ingest's covered marker, for
  *    one, then re-bands the delta: conservative, never under-coverage).
  *
  * Reclaim is mtime-gated, so an in-flight commit's files are never
  * taken. `CrashSweepSpec` kills the process at every mutating step of the
  * table's write operations and checks all of the above.
  */
private[table] final class IceboxCommit(t: Icebox) {

  private def store: TableStore = t.store
  private def lock: HPath = store.child("_properties.lock")
  private val GravePrefix = "_properties.lock.broken."

  /** Steps 1–6 (see the class doc). `schemaJsonOf` is evaluated against
    * the parent the commit lands on, so a commit that carries the head's
    * schema forward never reverts a concurrent ALTER TABLE.
    */
  def publish(op: String, resolve: Option[Snapshot] => Seq[DataFile],
      schemaJsonOf: Option[Snapshot] => String, onBranch: Option[String] = None,
      riders: Map[String, String] = Map.empty): Snapshot = t.synchronized {
    store.mkdirs(t.snapshotsDir)
    var attempt = 0
    var bumpId = 0L
    while (attempt < 1000) {
      val parent = onBranch.fold(t.currentSnapshot)(b => Some(t.branchSnapshot(b)))
      val id = math.max(parent.map(_.id + 1).getOrElse(0L), bumpId)
      val schemaJson = schemaJsonOf(parent)
      val (m, canonical) = t.buildManifest(id, parent, op, resolve(parent), schemaJson)
      attempt += 1
      bumpId = id + 1
      if (store.createNew(t.manifestPath(id), t.manifestJson(m).getBytes(StandardCharsets.UTF_8))) {
        if (movePointer(onBranch, parent.map(_.id), id, riders)) {
          t.commitEvents.incrementAndGet()
          t.manifestCache.put(id, m)
          t.filesCache.put(id, canonical)
          return new Snapshot(id, m.parentId, m.timestampMs, op, schemaJson,
            m.fileCount, m.totalBytes, () => canonical)
        }
        store.deleteIfExists(t.manifestPath(id)) // head moved: release the claim
      }
    }
    sys.error(s"commit contention exhausted at ${t.tableDir}")
  }

  /** Fast-forward: make the existing snapshot `id` the main head if the
    * head is still `expected`; [[IceboxCommit.StaleCommitState]] if not.
    */
  def moveHead(expected: Option[Long], id: Long): Unit = {
    if (!movePointer(None, expected, id, Map.empty)) throw IceboxCommit.StaleCommitState
    t.commitEvents.incrementAndGet()
  }

  /** Locked read-merge-write of the table properties. Concurrency-safe
    * across handles and processes: two concurrent updates serialize on the
    * lock instead of losing one.
    */
  def updateProperties(f: Map[String, String] => Map[String, String]): Unit = {
    t.commitEvents.incrementAndGet()
    withTableLock(mergeProperties(f))
  }

  /** Steps 2–5: move the main head or branch `onBranch` from `expected`
    * to `id` and merge `riders`, all under the lock. False, with nothing
    * written, when the pointer no longer names `expected`.
    */
  private def movePointer(onBranch: Option[String], expected: Option[Long], id: Long,
      riders: Map[String, String]): Boolean = withTableLock {
    val branchKey = onBranch.map(t.BranchPrefix + _)
    val head = branchKey match {
      case None    => Some(t.currentSnapshotId).filter(_ >= 0)
      case Some(k) => t.properties.get(k).map(_.toLong)
    }
    head == expected && {
      if (branchKey.isEmpty)
        store.atomicReplace(t.currentPtr, id.toString.getBytes(StandardCharsets.UTF_8))
      val set = riders ++ branchKey.map(_ -> id.toString)
      if (set.nonEmpty) mergeProperties(_ ++ set)
      true
    }
  }

  /** The one properties write: `f` over the current properties, written
    * back with write-temp + rename. Callers hold the lock.
    */
  private def mergeProperties(f: Map[String, String] => Map[String, String]): Unit = {
    val node = t.mapper.createObjectNode()
    f(t.properties).toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    store.atomicReplace(t.propsPath, t.mapper.writeValueAsBytes(node))
  }

  /** Run `body` under the table's cross-process lock (steps 2 and 5),
    * claimed with CREATE_NEW. A lock left by a crashed holder is broken
    * after 10 s; it carries its owner's token, so a holder that stalled
    * past 10 s never deletes the lock a breaker has since handed on.
    */
  private def withTableLock[T](body: => T): T = t.synchronized {
    store.mkdirs(store.root)
    val myToken = UUID.randomUUID().toString
    var attempt = 0
    while (attempt < 4000) {
      if (!store.createNew(lock, myToken.getBytes(StandardCharsets.UTF_8))) {
        attempt += 1
        breakStaleLock()
        Thread.sleep(5)
      } else
        try return body
        finally {
          try {
            val owner = new String(store.readBytes(lock), StandardCharsets.UTF_8)
            if (owner == myToken) store.deleteIfExists(lock)
          } catch { case _: java.io.IOException => () }
        }
    }
    sys.error(s"table lock contention exhausted at ${t.tableDir}")
  }

  /** Break a lock whose holder appears dead (mtime >10 s old) WITHOUT the
    * check-then-delete race: the lock is first atomically renamed to a
    * unique grave name — only one contender can win the rename, and once
    * renamed no new waiter can observe it — then its owner token is compared
    * against the token read during the staleness check. A mismatch means a
    * fresh lock replaced the stale one between check and rename (we stole a
    * live lock); it is atomically restored.
    */
  private def breakStaleLock(): Unit = {
    try {
      if (!store.exists(lock) ||
          System.currentTimeMillis() - store.mtime(lock) <= 10000) return
      val observed = new String(store.readBytes(lock), StandardCharsets.UTF_8)
      val grave = store.child(GravePrefix + UUID.randomUUID().toString.take(8))
      if (!store.renameNoReplace(lock, grave)) return // lost the break race
      val moved = new String(store.readBytes(grave), StandardCharsets.UTF_8)
      if (moved == observed) store.deleteIfExists(grave) // confirmed stale — broken
      else {
        // a fresh lock slid in after the staleness check; put it back
        if (!store.renameNoReplace(grave, lock)) store.deleteIfExists(grave)
      }
    } catch { case _: java.io.IOException => () } // lost a race — retry loop handles it
  }

  /** Delete every kind of commit residue older than `cutoffMs` that the
    * `live` snapshots do not reference: manifests no live snapshot is,
    * checkpoint shards no surviving manifest names, bloom and sketch side
    * files (rollups named by `sketch.ndv.rollup.*` stay), data and delete
    * files (with the delete dirs older manifests name), and the temps and
    * lock graves of interrupted metadata writes.
    * Returns the deleted paths. Data, delete, shard and side files are
    * written BEFORE their commit's manifest, so the mtime gate is what
    * keeps an in-flight commit's files.
    */
  def reclaim(live: Seq[Snapshot], cutoffMs: Long): Seq[String] = {
    val liveIds = live.map(_.id).toSet
    val files = live.flatMap(_.files)
    def sweep(dir: HPath)(keep: String => Boolean): Seq[String] =
      if (!store.exists(dir)) Nil
      else store.list(dir)
        .filter(st => st.isFile && st.getModificationTime < cutoffMs && !keep(st.getPath.getName))
        .map { st => store.deleteIfExists(st.getPath); store.render(st.getPath) }
    val root = sweep(store.root)(n => !TableStore.isTemp(n) && !n.startsWith(GravePrefix))
    val manifests = sweep(t.snapshotsDir)(n =>
      n.endsWith(".json") && n.stripSuffix(".json").toLongOption.exists(liveIds))
    manifests.foreach { p =>
      new HPath(p).getName.stripSuffix(".json").toLongOption.foreach { id =>
        t.manifestCache.remove(id); t.filesCache.remove(id)
      }
    }
    // content-addressed shards are shared across checkpoints: one is live
    // while ANY surviving manifest (young unreachable ones included, they
    // may still publish) names it
    val liveShards: Set[String] =
      if (!store.exists(t.shardsDir)) Set.empty
      else store.list(t.snapshotsDir).flatMap { st =>
        st.getPath.getName.stripSuffix(".json").toLongOption.toSeq.flatMap(id =>
          scala.util.Try(t.manifest(id).shards.map(_.sha + ".json")).getOrElse(Nil))
      }.toSet
    val rollups = t.properties.collect {
      case (k, v) if k.startsWith("sketch.ndv.rollup.") => v.split(':').lift(1)
    }.flatten
    val liveBlooms = files.flatMap(_.blooms.values).map(_ + ".bloom").toSet
    val liveSketches = (files.flatMap(_.sketches.values) ++ rollups).map(_ + ".hll").toSet
    root ++ manifests ++ sweep(t.shardsDir)(liveShards) ++ sweep(t.bloomsDir)(liveBlooms) ++
      sweep(t.sketchesDir)(liveSketches) ++
      deleteUnreferenced(files.flatMap(f => f.path +: (f.deletes ++ f.eqDeletes)).toSet, cutoffMs)
  }

  /** Delete the files under `data/` and `deletes/` that no `live` path
    * covers, and prune the dirs this empties. A live path covers itself
    * and, when it names a dir, everything under it: manifests written
    * before delete files were single files name delete DIRS. An uncovered
    * AUXILIARY file (not `.parquet`: Hadoop `.crc` checksums, and the
    * `_SUCCESS` markers Spark's committer left in earlier versions'
    * commit and delete dirs) stays while its dir leads to a live path, so
    * a live file's checksum is never touched.
    */
  private def deleteUnreferenced(live: Set[String], cutoffMs: Long): Seq[String] = {
    val roots = Seq(t.dataDir, t.deletesDir).filter(store.exists)
    val rootStrs = roots.map(store.render)
    // a path's dirs below its root: partitioned writes put parquet in
    // data/graft_commit=<id>/part=v/ while an earlier version's _SUCCESS
    // marker sits at the commit dir
    def dirsOf(p: String): Iterator[String] =
      Iterator.iterate(new HPath(p).getParent)(_.getParent).takeWhile(_ != null)
        .map(store.render).takeWhile(d => rootStrs.exists(r => d.startsWith(r + "/")))
    val liveDirs = live.flatMap(dirsOf)
    val deleted = Seq.newBuilder[String]
    roots.zip(rootStrs).foreach { case (root, rootStr) =>
      store.walk(root).reverse.foreach { st =>
        val p = store.render(st.getPath)
        if (st.isFile && st.getModificationTime < cutoffMs) {
          val dead = !live(p) && !dirsOf(p).exists(live) &&
            (st.getPath.getName.endsWith(".parquet") || !liveDirs(store.render(st.getPath.getParent)))
          if (dead) { store.deleteIfExists(st.getPath); deleted += p }
        } else if (st.isDirectory && p != rootStr && store.list(st.getPath).isEmpty)
          store.deleteIfExists(st.getPath)
      }
    }
    deleted.result()
  }
}

private[graft] object IceboxCommit {

  /** Control signal thrown by a commit's resolve closure when the head
    * moved past the state its computation captured; [[retryingStaleHead]]
    * recomputes against the new head.
    */
  private[graft] object StaleCommitState extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Thrown by commits carrying an `expectHeadId` when the table head is no
    * longer that snapshot: the caller's whole read-compute-commit cycle was
    * superseded by a concurrent committer and must re-run from its own
    * entry point. Deliberately NOT caught by [[retryingStaleHead]] — the
    * recompute lives at the caller (e.g. a materialized-view refresh
    * re-reading its cursor, where the concurrent refresh usually makes the
    * re-run a NoOp).
    */
  private[graft] object SupersededCommit extends RuntimeException("superseded commit") {
    override def fillInStackTrace(): Throwable = this
  }

  /** Re-run `body` when it throws [[StaleCommitState]] (a cross-process
    * commit moved the head mid-computation; in-process commits serialize
    * on the handle). Each retry recomputes everything against the new
    * head; data files written by an abandoned attempt are reclaimed like
    * any crash residue. Jittered linear backoff: each recomputation is a
    * Spark job, so under a maintenance storm (compactions racing deletes)
    * immediate retries can ping-pong; the pause lets the competing
    * committer finish. Exhaustion fails LOUDLY — never with a wrong commit.
    */
  private[graft] def retryingStaleHead[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case StaleCommitState if attempt < 20 =>
          attempt += 1
          Thread.sleep(math.min(500L, 20L * attempt) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(40))
        case StaleCommitState =>
          sys.error("commit retries exhausted: the table head kept moving during " +
            "recomputation (concurrent maintenance storm) — rerun when quieter")
      }
    }
    sys.error("unreachable")
  }
}
