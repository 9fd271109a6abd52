package graft.sources

import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The metadata plane's ONE IO interface — every durable-metadata byte
  * (`metadata.json`, immutable `manifest-*.json`, the MV refresh journal
  * `mv.json`) moves through here, over the same Hadoop `FileSystem` API
  * the data files ride ([[ParquetRows]]). One code path addresses local
  * disk at gate scale and object storage (`s3a://…`) on a cluster.
  *
  * COMMIT PROTOCOL, capability-dispatched per scheme:
  *
  *  - rename-capable filesystems (`file`, `hdfs`, `viewfs`): write
  *    `<name>.tmp`, then atomically rename onto `<name>` — a reader (or
  *    a crash) never observes a torn document. This is byte-identical to
  *    the plane's historical shape, so the local hot path (one write +
  *    one rename per commit, under the table monitor) costs exactly what
  *    it did.
  *
  *  - object stores (no atomic rename-overwrite; `s3a` renames are
  *    copy+delete): the Iceberg version-hint shape — the full document
  *    lands under a WRITE-ONCE name (`<base>-<seq>-<uuid>.json`,
  *    `create(overwrite = false)`: object creation is atomic, collisions
  *    fail instead of tearing), then the tiny POINTER `<name>` is
  *    overwritten in place (a single object PUT — atomic per object-store
  *    semantics: readers see the old or the new pointer, never bytes of
  *    both). Superseded snapshots older than the previous one are deleted
  *    after the swap. Readers resolve the pointer to its snapshot; a
  *    pointer that is unreadable or names a missing snapshot (possible
  *    only on a store with NEITHER atomic rename NOR atomic PUT) falls
  *    back to the newest sequence-numbered snapshot that parses — so even
  *    there, a reader never observes a torn plane, at worst a fully
  *    written commit slightly early.
  *
  * Readers accept both forms (pointer or legacy full document), so
  * pre-existing table directories stay readable.
  */
private[sources] object MetaIO {

  /** Schemes whose `rename` atomically replaces the destination. */
  private val RenameCapable = Set("file", "hdfs", "viewfs")

  /** When set, the MUTABLE pointer plane (metadata docs + MV journals —
    * commit/readCurrent/currentGen/legacyGen/pointerExists) routes
    * through a [[CatalogClient]] to a shared [[CatalogServer]] commit
    * authority instead of the direct file protocol; immutable
    * content-named documents (manifests, DVs, data files) ALWAYS go
    * direct to storage — the REST-catalog split. Process-global: one
    * driver talks to one catalog service, like one Spark session serves
    * one `spark.sql.catalog.graft` binding.
    */
  @volatile private var restClient: Option[CatalogClient] = None

  private[sources] def useRestCatalog(uri: String): Unit =
    restClient = Some(new CatalogClient(uri))

  private[sources] def useLocalCatalog(): Unit = restClient = None

  /** Table keys the configured catalog service lists — empty in local
    * (direct-file) mode; discovery then rides the warehouse scan.
    */
  private[sources] def restListTables(): Seq[String] =
    restClient.map(_.listTables()).getOrElse(Nil)

  // template Configuration: parsing the Hadoop default XMLs costs tens of
  // ms — pay it once. file: binds the raw fork-free filesystem (no .crc
  // shadows — metadata docs carry their own JSON integrity — and no
  // `chmod` forks; see [[graft.core.LocalFs]]).
  private lazy val conf: Configuration =
    graft.core.LocalFs.useRaw(new Configuration())

  // FileSystem per scheme+authority: our conf disables the Hadoop cache
  // for file:, so cache here instead of constructing one per metadata probe
  private val fsCache = TrieMap.empty[String, FileSystem]

  private[sources] def fs(p: Path): FileSystem = {
    val uri = p.toUri
    val key = s"${uri.getScheme}|${uri.getAuthority}"
    fsCache.getOrElseUpdate(key, p.getFileSystem(new Configuration(conf)))
  }

  private def renameCapable(p: Path): Boolean = {
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    RenameCapable.contains(scheme)
  }

  private def isLocal(dir: String): Boolean = {
    val s = new Path(dir).toUri.getScheme
    s == null || s == "file"
  }

  def exists(dir: String, name: String): Boolean =
    if (isLocal(dir)) new java.io.File(new Path(dir).toUri.getPath, name).isFile
    else {
      val p = new Path(dir, name)
      fs(p).exists(p)
    }

  def delete(dir: String, name: String): Unit = {
    val p = new Path(dir, name)
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, false); () }
  }

  private def readAll(p: Path): Array[Byte] = {
    val f = fs(p)
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def writeAll(p: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = fs(p).create(p, overwrite)
    try out.write(bytes) finally out.close()
  }

  /** Write an IMMUTABLE, uniquely named document if absent (manifests):
    * an existing name is already the same content by construction. Local
    * disk writes a unique tmp then renames (a crash mid-write must not
    * park a torn file under the final name, where the existence check
    * would shield it forever); object stores create the object directly
    * (object birth is atomic — present means whole).
    */
  def writeOnce(dir: String, name: String, bytes: => Array[Byte]): Unit = {
    if (exists(dir, name)) return
    if (isLocal(dir)) {
      val localDir = new Path(dir).toUri.getPath
      val tmp = java.nio.file.Paths.get(localDir,
        name + "." + UUID.randomUUID().toString.take(8) + ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(localDir, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    } else writeAll(new Path(dir, name), bytes, overwrite = false)
  }

  /** Read one immutable document (manifest); the caller knows it exists. */
  def readBytes(dir: String, name: String): Array[Byte] =
    readAll(new Path(dir, name))

  // ------------------------------------------------- pointer-swap commits

  // base ("metadata" | "mv") -> snapshot name parts. CAS commits name
  // snapshots `base-<seq>.json` (deterministic — the write-once create at
  // a taken sequence IS the conflict signal); pre-CAS snapshots carried a
  // uuid suffix, which readers still accept.
  private def snapPattern(base: String) =
    (s"^\\Q$base\\E-(\\d{12})(?:-[0-9a-f]{12})?\\.json$$").r

  /** Thrown when the durable document moved under a committer — another
    * PROCESS committed since this one loaded its state. The in-memory
    * state derived from the superseded generation is unusable: the caller
    * must evict it, reload from disk, and retry the operation.
    */
  final class CommitConflictException(
      dir: String, name: String, expected: Long)
    extends RuntimeException(
      s"concurrent commit detected on $dir/$name (expected generation " +
        s"$expected) — another writer committed first; reload state and retry")

  /** A commit lock (or a crashed commit's snapshot) older than this is
    * considered dead and broken/adopted.
    */
  val LockStaleMs: Long = 60 * 1000L

  /** Streaming read of the document's `commit-gen` field (writers place
    * it FIRST, so this is a header read, never a full parse); 0 for an
    * absent field (legacy doc).
    */
  private def genOf(in: java.io.InputStream): Long = {
    import com.fasterxml.jackson.core.JsonToken
    val p = new com.fasterxml.jackson.core.JsonFactory().createParser(in)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return 0L
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.currentName()
        p.nextToken()
        if (f == "commit-gen") return p.getLongValue
        p.skipChildren()
      }
      0L
    } catch { case _: Exception => 0L } finally p.close()
  }

  /** Current generation of `<dir>/<name>` on a RENAME-CAPABLE scheme:
    * the doc is the target file itself. 0 = absent or legacy (pre-gen).
    */
  private def fileGen(target: Path): Long = {
    val f = fs(target)
    if (!f.exists(target)) 0L
    else {
      val in = f.open(target)
      try genOf(in) finally in.close()
    }
  }

  /** Mutual exclusion for the read-verify-swap on rename-capable schemes:
    * `<name>.lock` created atomically (create-if-absent); a lock older
    * than [[LockStaleMs]] is a crashed holder's and is broken. Thread
    * contention within one process is already excluded by the table
    * monitor — this lock serializes PROCESSES.
    */
  private def withCommitLock[A](dir: String, name: String)(body: => A): A = {
    val lockPath = new Path(dir, name + ".lock")
    val fsys = fs(lockPath)
    val localLock =
      if (isLocal(dir))
        Some(java.nio.file.Paths.get(new Path(dir).toUri.getPath, name + ".lock"))
      else None
    // the lock file CARRIES its owner's token: release deletes only a
    // lock that is provably still ours (a broken-and-reacquired name must
    // never be deleted by the previous holder's release), and breakers
    // can distinguish incarnations
    val token = UUID.randomUUID().toString.getBytes("UTF-8")
    var acquired = false
    var waitedMs = 0L
    while (!acquired) {
      try {
        localLock match {
          case Some(p) => java.nio.file.Files.write(p, token,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          case None => writeAll(lockPath, token, overwrite = false)
        }
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException | _: java.io.IOException =>
          val status = try Some(fsys.getFileStatus(lockPath))
            catch { case _: Exception => None }
          status match {
            case Some(s) if System.currentTimeMillis() - s.getModificationTime >
                LockStaleMs =>
              // crashed holder: break via ATOMIC RENAME to a unique name —
              // only one breaker's rename succeeds (a plain delete would
              // let two processes both observe staleness, one delete the
              // other's FRESH re-created lock, and both "hold" it). Rename
              // preserves mtime, so statting the renamed file re-verifies
              // staleness AFTER winning the race: a live lock grabbed in
              // the stat→rename gap (holder released + new acquire inside
              // that window) is restored instead of broken. The
              // documented residual: a re-acquire landing INSIDE that
              // microsecond gap can still briefly overlap one waiter —
              // the same residual every stale-break protocol carries.
              breakStaleLock(fsys, lockPath, localLock)
            case None =>
              // vanished between create and stat — OR the create itself
              // persistently fails (table dir dropped, permissions) with
              // no lock present: accrue toward the timeout either way so
              // a hot failure loop surfaces instead of spinning forever
              if (waitedMs > LockStaleMs * 2)
                throw new IllegalStateException(
                  s"cannot acquire commit lock $lockPath after ${waitedMs}ms")
              Thread.sleep(10); waitedMs += 10
            case _ =>
              if (waitedMs > LockStaleMs * 2)
                throw new IllegalStateException(
                  s"cannot acquire commit lock $lockPath after ${waitedMs}ms")
              Thread.sleep(10); waitedMs += 10
          }
      }
    }
    try body
    finally {
      // delete ONLY our own incarnation: a mismatching (or unreadable)
      // token means the lock was broken and re-acquired — deleting it
      // would release someone ELSE's critical section
      try {
        val mine =
          try java.util.Arrays.equals(readAll(lockPath), token)
          catch { case _: Exception => false }
        if (mine) localLock match {
          case Some(p) => java.nio.file.Files.deleteIfExists(p); ()
          case None => if (fsys.exists(lockPath)) { fsys.delete(lockPath, false); () }
        }
      } catch { case _: Exception => () }
    }
  }

  /** Break a stale commit lock atomically: rename it to a unique name
    * (exactly one racing breaker wins the rename; losers throw/return
    * false and loop back to the create race), then re-verify staleness on
    * the renamed file — rename preserves mtime, so a FRESH mtime means a
    * live holder's lock was grabbed in the stat→rename gap and is renamed
    * back. The restore must NOT clobber: `Files.move` WITHOUT
    * REPLACE_EXISTING (ATOMIC_MOVE on Linux rename(2) silently replaces —
    * it would destroy a waiter's freshly created lock). If the name was
    * re-taken, the stolen live copy is LEFT as `.broken-*` litter —
    * deleting it is never safe (its holder's release is token-checked, so
    * the litter releases nothing), and an unverifiable stat defaults to
    * LIVE, never to delete. All failures are swallowed: the caller loops
    * and re-enters the create race regardless.
    */
  private def breakStaleLock(fsys: FileSystem, lockPath: Path,
      localLock: Option[java.nio.file.Path]): Unit = {
    val brokenName = lockPath.getName + ".broken-" +
      UUID.randomUUID().toString.take(8)
    try localLock match {
      case Some(p) =>
        val broken = p.resolveSibling(brokenName)
        java.nio.file.Files.move(p, broken,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        val stale =
          try System.currentTimeMillis() -
            java.nio.file.Files.getLastModifiedTime(broken).toMillis > LockStaleMs
          catch { case _: Exception => false } // unverifiable = treat as live
        if (stale) { java.nio.file.Files.deleteIfExists(broken); () }
        else {
          // stole a LIVE lock: put it back WITHOUT replacing — if a
          // waiter already re-created the name, leave the copy as litter
          try { java.nio.file.Files.move(broken, p); () }
          catch { case _: Exception => () }
        }
      case None =>
        val broken = new Path(lockPath.getParent, brokenName)
        if (fsys.rename(lockPath, broken)) {
          val st = try Some(fsys.getFileStatus(broken)) catch { case _: Exception => None }
          val stale = st.exists(s =>
            System.currentTimeMillis() - s.getModificationTime > LockStaleMs)
          if (stale) { fsys.delete(broken, false); () }
          // this branch is hdfs/viewfs only (file: takes the nio path;
          // no-rename schemes never enter withCommitLock), where rename
          // onto an existing destination FAILS without replacing — the
          // restore itself is the atomic arbiter; on failure the copy
          // stays as litter, never deleting a live holder's lock
          else { fsys.rename(broken, lockPath); () }
        }
    } catch { case _: Exception => () }
  }

  /** Atomically publish `<dir>/<name>` (e.g. `metadata.json`) with the
    * given full-document bytes, per the scheme's commit protocol —
    * UNCONDITIONAL (last writer wins). Single-writer callers only; the
    * engine's durable planes commit through [[commitCas]].
    */
  def commit(dir: String, name: String, bytes: Array[Byte]): Unit =
    restClient match {
      case Some(c) => c.commit(dir, name, bytes, None)
      case None => doCommit(dir, name, bytes, expectedGen = None)
    }

  /** Compare-and-swap publish: succeeds only if the durable document is
    * still at `expectedGen` (callers embed `commit-gen = expectedGen + 1`
    * as the doc's FIRST field); throws [[CommitConflictException]] when
    * another process committed first — no write happens, no update is
    * lost. Protocol per scheme:
    *
    *  - rename-capable (`file`, `hdfs`): a `<name>.lock` file (atomic
    *    create-if-absent, stale-broken after [[LockStaleMs]]) brackets
    *    read-verify-swap; the verify is a header read of the doc's
    *    `commit-gen`.
    *
    *  - object stores: the snapshot name IS the CAS — `base-<gen+1>.json`
    *    is written with create-if-absent, so two writers at the same
    *    generation collide on the name and exactly one wins (the Iceberg
    *    optimistic-commit shape). A collision with a STALE orphan (a
    *    crashed commit's snapshot, pointer never advanced, older than
    *    [[LockStaleMs]]) is adopted (overwritten) rather than wedging the
    *    table. The residual hole — an in-flight foreign commit younger
    *    than the stale window whose pointer PUT races ours — is the
    *    documented limit of stores without conditional PUT; deployments
    *    on S3/GCS should use if-match/generation preconditions on the
    *    pointer PUT.
    */
  def commitCas(dir: String, name: String, bytes: Array[Byte],
      expectedGen: Long): Unit =
    restClient match {
      case Some(c) => c.commit(dir, name, bytes, Some(expectedGen))
      case None => doCommit(dir, name, bytes, Some(expectedGen))
    }

  /** The direct FILE protocol, bypassing any configured catalog service —
    * the [[CatalogServer]]'s own execution path (the service end of a
    * routed commit must not re-enter the client).
    */
  private[sources] def localCommit(dir: String, name: String,
      bytes: Array[Byte], expectedGen: Option[Long]): Unit =
    doCommit(dir, name, bytes, expectedGen)

  private def doCommit(dir: String, name: String, bytes: Array[Byte],
      expectedGen: Option[Long]): Unit = {
    val target = new Path(dir, name)
    val scheme = Option(target.toUri.getScheme).getOrElse("file")
    def renameSwap(): Unit =
      if (scheme == "file") {
        // local disk: the proven nio tmp + ATOMIC_MOVE (replace) shape.
        // The dir normalizes through Path.toUri.getPath like
        // exists/writeOnce do, so a 'file:'-schemed dir commits where
        // readers resolve
        val localDir = new Path(dir).toUri.getPath
        val tmp = java.nio.file.Paths.get(localDir, name + ".tmp")
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(localDir, name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      } else {
        // HDFS-like: FileContext exposes the atomic overwrite-rename
        val tmp = new Path(dir, name + ".tmp")
        writeAll(tmp, bytes, overwrite = true)
        org.apache.hadoop.fs.FileContext
          .getFileContext(target.toUri, new Configuration(conf))
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    if (renameCapable(target)) expectedGen match {
      case None => renameSwap()
      case Some(expected) => withCommitLock(dir, name) {
        val current = fileGen(target)
        // an ABSENT doc accepts any expectation (fresh dir / migrated
        // storage): the lock already serializes racing creators, and the
        // second one finds the doc present with the winner's generation
        if (fs(target).exists(target) && current != expected)
          throw new CommitConflictException(dir, name, expected)
        renameSwap()
      }
    } else {
      val base = name.stripSuffix(".json")
      val pat = snapPattern(base)
      val fsys = fs(target)
      val dp = new Path(dir)
      val cursorKey = s"$dir|$base"
      // COLD CURSOR (this process's first commit against this plane) or an
      // unconditional commit: one directory listing establishes max-seq
      // and sweeps legacy strays (pre-CAS uuid-suffixed snapshots, crashed
      // writers' never-pointed orphans). WARM CAS commits never list —
      // sequences are DENSE (every commit is expected+1), so the CAS
      // check is the write-once create itself plus one pointer GET, and
      // GC deletes the superseded snapshot BY ITS DETERMINISTIC NAME: a
      // metadata commit costs O(1) object ops, not O(table-dir entries).
      val coldList: Option[Map[Long, org.apache.hadoop.fs.FileStatus]] =
        if (expectedGen.isDefined && seqCursor.contains(cursorKey)) None
        else Some(
          if (!fsys.exists(dp)) Map.empty
          else fsys.listStatus(dp).iterator.flatMap { s =>
            s.getPath.getName match {
              case pat(sq) => Some(sq.toLong -> s)
              case _ => None
            }
          }.toMap)
      val seq = expectedGen match {
        case None =>
          val maxSeq = coldList.get.keysIterator.maxOption.getOrElse(0L)
          maxSeq + 1 // unconditional: fresh-listing increment
        case Some(expected) =>
          // conflict when the pointer already names a NEWER-than-expected
          // snapshot (a committed foreign write at exactly expected+1
          // must never be adopted as an orphan below), or — on the cold
          // path where the listing is in hand — any snapshot advanced
          // past our next sequence; the warm path needs neither listing
          // nor pre-check: a foreign commit past `expected` necessarily
          // wrote `expected+1` first, so the write-once create collides
          if (pointerSeq(target, base).exists(_ > expected) ||
              coldList.exists(_.keysIterator.exists(_ > expected + 1)))
            throw new CommitConflictException(dir, name, expected)
          expected + 1
      }
      val snap = f"$base-$seq%012d.json"
      val snapPath = new Path(dir, snap)
      // write-once create at the deterministic name is the swap's CAS; a
      // taken name is a concurrent commit — or a crashed one's orphan
      // (present but never pointer-named, per the check above), adopted
      // only when STALE (see commitCas)
      def adoptableOrphan: Boolean = expectedGen.isDefined && {
        val st = try Some(fsys.getFileStatus(snapPath)) catch { case _: Exception => None }
        st.exists(s => System.currentTimeMillis() - s.getModificationTime > LockStaleMs)
      }
      // OUR OWN orphan from a failed pointer PUT last attempt: the
      // snapshot landed, the pointer write threw, and the retry at the
      // same expected generation recomputes the same seq — without this
      // record the fresh orphan wedges every retry for LockStaleMs even
      // though no foreign writer exists. Process-local by design: a
      // cross-restart retry waits out the stale window as before.
      def ownOrphan: Boolean =
        expectedGen.isDefined && pendingSnap.get(cursorKey).contains(seq)
      val overwriteOrphan = coldList match {
        case Some(existing) => expectedGen.isDefined && existing.get(seq).exists(s =>
          System.currentTimeMillis() - s.getModificationTime > LockStaleMs)
        case None => false // warm path: probe only if the create collides
      }
      try writeAll(snapPath, bytes, overwrite = overwriteOrphan || ownOrphan)
      catch {
        case _: Exception if expectedGen.isDefined =>
          // warm-path collision: one stat decides crashed-orphan adoption
          // vs a genuine concurrent commit (own fresh orphans were already
          // adopted via the overwrite flag above)
          if (!overwriteOrphan && adoptableOrphan)
            writeAll(snapPath, bytes, overwrite = true)
          else throw new CommitConflictException(dir, name, expectedGen.get)
        case e: Exception => throw e
      }
      pendingSnap.put(cursorKey, seq) // snapshot durable, pointer not yet
      val ptr = s"""{"format-version":2,"pointer":"$snap"}"""
      writeAll(target, ptr.getBytes("UTF-8"), overwrite = true) // one PUT
      pendingSnap.remove(cursorKey)
      // keep current + previous; older snapshots are superseded. Cold
      // path: sweep everything the listing saw below seq-1. Warm path:
      // one delete at the dense predecessor's deterministic name.
      coldList match {
        case Some(existing) =>
          existing.foreach { case (sq, s) =>
            if (sq < seq - 1) { try { fsys.delete(s.getPath, false); () } catch { case _: Exception => () } }
          }
        case None =>
          if (seq >= 3) {
            val prev = new Path(dir, f"$base-${seq - 2}%012d.json")
            try { fsys.delete(prev, false); () } catch { case _: Exception => () }
          }
      }
      seqCursor.put(cursorKey, seq)
      ()
    }
  }

  // per-(dir, base) last-committed sequence in THIS process — a warm
  // cursor lets CAS commits skip the directory listing entirely (the
  // create-if-absent at the dense next name IS the conflict check)
  private val seqCursor = TrieMap.empty[String, Long]

  // per-(dir, base) snapshot sequence written but whose pointer PUT has
  // not (yet) succeeded — lets a retry adopt its OWN fresh orphan
  // immediately instead of waiting out the stale window
  private val pendingSnap = TrieMap.empty[String, Long]

  /** CURRENT generation of the durable document — the cross-process
    * FRESHNESS probe's one cheap read: rename-capable schemes read the
    * doc's `commit-gen` header ([[fileGen]] — writers place the field
    * first, so this never parses the body); pointer-swap schemes read
    * the tiny pointer's snapshot sequence (sequence IS the generation in
    * the CAS protocol; a legacy plane reports its pointer sequence,
    * matching [[legacyGen]]'s load-side expectation). 0 = absent/legacy.
    */
  def currentGen(dir: String, name: String): Long =
    restClient match {
      case Some(c) => c.currentGen(dir, name)
      case None => localCurrentGen(dir, name)
    }

  private[sources] def localCurrentGen(dir: String, name: String): Long = {
    val target = new Path(dir, name)
    if (renameCapable(target)) fileGen(target)
    else pointerSeq(target, name.stripSuffix(".json")).getOrElse(0L)
  }

  /** The CAS generation a caller must expect for a loaded document that
    * carries NO `commit-gen` field (a legacy, pre-CAS doc). Rename-capable
    * schemes: 0 — [[fileGen]] reads the same 0, so the first CAS commit
    * lands at generation 1. Pointer-swap schemes: the pointer's snapshot
    * SEQUENCE (sequence IS the generation in the CAS protocol — every
    * commit writes `base-<gen>.json`); expecting 0 there would trip the
    * `pointerSeq > expected` conflict check on every commit and wedge the
    * table permanently, since eviction + reload re-derives 0 forever.
    * The first CAS commit against such a table lands at legacy-seq + 1.
    */
  def legacyGen(dir: String, name: String): Long =
    restClient match {
      case Some(c) => c.legacyGen(dir, name)
      case None => localLegacyGen(dir, name)
    }

  private[sources] def localLegacyGen(dir: String, name: String): Long = {
    val target = new Path(dir, name)
    if (renameCapable(target)) 0L
    else pointerSeq(target, name.stripSuffix(".json")).getOrElse(0L)
  }

  /** Existence of a MUTABLE pointer document (metadata doc / MV
    * journal) — routed like the other pointer-plane reads; immutable
    * documents keep probing storage directly via [[exists]].
    */
  def pointerExists(dir: String, name: String): Boolean =
    restClient match {
      case Some(c) => c.pointerExists(dir, name)
      case None => exists(dir, name)
    }

  /** The sequence number the pointer file currently names — None when the
    * pointer is absent, torn, or a legacy full document.
    */
  private def pointerSeq(target: Path, base: String): Option[Long] = {
    val f = fs(target)
    if (!f.exists(target)) return None
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readAll(target))
      if (root != null && root.isObject && root.has("pointer")) {
        val pat = snapPattern(base)
        root.get("pointer").asText match {
          case pat(sq) => Some(sq.toLong)
          case _ => None
        }
      } else None
    } catch { case _: Exception => None }
  }

  /** Read the CURRENT document behind `<dir>/<name>`: a legacy full
    * document returns directly; a pointer resolves to its snapshot; an
    * unreadable pointer or missing snapshot falls back to the newest
    * snapshot that exists. None = no document (table/journal not durable
    * yet — an absent pointer is NOT recovered from stray snapshots: a
    * crash before the first pointer write means the commit never
    * happened).
    */
  def readCurrent(dir: String, name: String): Option[Array[Byte]] =
    restClient match {
      case Some(c) => c.readCurrent(dir, name)
      case None => localReadCurrent(dir, name)
    }

  private[sources] def localReadCurrent(dir: String, name: String): Option[Array[Byte]] = {
    val target = new Path(dir, name)
    val f = fs(target)
    if (!f.exists(target)) {
      if (isLocal(dir)) return None
      // an object store CAN lose the tiny pointer to a partial failure
      // after snapshots exist — treat exactly like a torn pointer
      return newestSnapshot(dir, name.stripSuffix(".json")).map(readAll)
        .filter(_ => hadPointerEver(dir, name))
    }
    val bytes = readAll(target)
    // empty bytes (a truncate-then-write PUT caught at zero) parse to
    // Jackson's MissingNode, not an exception — both are TORN here
    val parsed =
      try Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes))
        .filter(r => bytes.nonEmpty && !r.isMissingNode && r.isObject)
      catch { case _: Exception => None }
    parsed match {
      case Some(root) if root.has("pointer") =>
        val sp = new Path(dir, root.get("pointer").asText)
        if (f.exists(sp)) Some(readAll(sp))
        else newestSnapshot(dir, name.stripSuffix(".json")).map(readAll)
      case Some(_) => Some(bytes) // legacy full document
      case None =>
        // TORN bytes (a store with neither atomic rename nor atomic
        // PUT): never surface them — serve the newest whole snapshot
        newestSnapshot(dir, name.stripSuffix(".json")).map(readAll)
    }
  }

  // a crash before the FIRST pointer write means the commit never became
  // visible — stray snapshots alone must not resurrect it. GC keeps ≥2
  // snapshots once a second commit landed, so ">1 snapshot" or "pointer
  // present at some point" distinguishes the cases; with exactly one
  // snapshot and no pointer, the only consistent history is "first commit
  // never finished".
  private def hadPointerEver(dir: String, name: String): Boolean = {
    val pat = snapPattern(name.stripSuffix(".json"))
    val dp = new Path(dir)
    val f = fs(dp)
    f.exists(dp) && f.listStatus(dp).count(s => pat.findFirstIn(s.getPath.getName).isDefined) > 1
  }

  private def newestSnapshot(dir: String, base: String): Option[Path] = {
    val pat = snapPattern(base)
    val dp = new Path(dir)
    val f = fs(dp)
    if (!f.exists(dp)) return None
    f.listStatus(dp).iterator
      .map(_.getPath)
      .flatMap(p => p.getName match {
        case pat(seq) => Some((seq.toLong, p))
        case _ => None
      })
      .toSeq.sortBy(-_._1)
      .collectFirst { case (_, p) if parses(p) => p }
  }

  private def parses(p: Path): Boolean =
    try {
      val bytes = readAll(p)
      bytes.nonEmpty &&
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes).isObject
    } catch { case _: Exception => false }
}
