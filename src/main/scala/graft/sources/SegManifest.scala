package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The two filesystem primitives the commit protocol's safety leans
  * on, extracted so an OBJECT STORE can supply them differently:
  *
  *  - [[createExclusive]] — create-iff-absent, the lock acquisition.
  *    POSIX: `CREATE_NEW` (O_EXCL). S3-class stores: a conditional
  *    PUT (`If-None-Match: *`); stores without conditional writes
  *    need an external lock service (the DynamoDB pattern Delta's
  *    S3 LogStore documents).
  *  - [[publish]] — all-or-nothing content swap at a path: readers
  *    see the old bytes or the new bytes, NEVER a mixture or a
  *    prefix. POSIX: fsync'd temp + atomic rename. Object stores:
  *    a single PUT (per-object atomicity is the store's contract).
  *
  * Everything else in the protocol (CAS generation check, token'd
  * release, expiry, retry loop) is pure logic over these two. The
  * provider is injectable ([[SegManifest.commitProvider]]) so the
  * fault-injection spec can prove the DETECTION story: on a
  * filesystem whose publish is secretly non-atomic, a torn manifest
  * is rejected loudly by the framing checks (header-declared count
  * vs body) on every read and every subsequent commit — damage is
  * bounded to loud errors, never a silently wrong file set. */
private[sources] trait CommitProvider {
  /** Create `path` with `body` iff absent; throw
    * [[java.nio.file.FileAlreadyExistsException]] when present. */
  def createExclusive(path: Path, body: Array[Byte]): Unit
  /** Atomically replace (or create) `path` with `body`; `dir` is the
    * parent, for implementations that stage temps or fsync it. */
  def publish(dir: Path, path: Path, body: Array[Byte]): Unit
}

private[sources] object PosixCommitProvider extends CommitProvider {
  override def createExclusive(path: Path, body: Array[Byte]): Unit =
    Files.write(path, body,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
  override def publish(dir: Path, path: Path, body: Array[Byte]): Unit = {
    val tmp = dir.resolve(
      s".manifest.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(body))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Per-table GENERATION MANIFEST: one small dot-file naming the live
  * segment set, so every commit to a gseg directory is a single
  * atomic pointer swap instead of a delete-then-rename choreography.
  *
  * Why it exists (the 100 TB durability argument): a copy-on-write
  * DML rewrites thousands of files per commit. Any protocol that
  * mutates the DIRECTORY as its source of truth has a window — after
  * the first delete, before the last rename — where a driver crash
  * leaves the table serving a partial generation with no recovery
  * pointer. The manifest closes it the way every lakehouse format
  * does (Iceberg snapshots, Delta's log): stage the whole new
  * generation under names no reader resolves, fsync, then swap ONE
  * file with an atomic rename. A crash strictly before the swap
  * leaves the old generation fully live (the staged files are
  * invisible orphans, reclaimed by [[vacuum]]); a crash strictly
  * after serves the new generation completely (the old files are
  * orphans, same reclaim). There is no intermediate state.
  *
  * Scope and migration: every gseg directory is a manifest table,
  * catalog table or plain path (`format("gseg").save(dir)`). A
  * directory without a manifest (fresh, or written by an older build
  * that published by renaming files in) becomes one at its first
  * commit: [[commitStaged]], like [[ensure]] (which
  * `SegCatalog.loadTable` calls), takes the directory's LISTED
  * segments as the base and commits generation 0 with the CAS on "no
  * manifest". Until then such a directory still reads:
  * [[SegSource.resolveSegments]] keeps one read-only listing
  * fallback, so a read never writes. A file dropped into a manifest
  * directory by hand is not part of the table.
  *
  * Concurrency contract: the swap is OPTIMISTIC — a committer reads
  * the generation it is replacing and passes it as `expectGen`; the
  * swap re-checks under a per-table lock and throws a retryable
  * [[SegManifest.CommitConflictException]] if the live pointer moved
  * in between, so two racing committers can never silently
  * last-swap-wins each other's files out of the table. The lock is
  * JVM-wide (all Spark drivers in local mode share it); a
  * multi-driver deployment would route the same compare-and-swap
  * through its metastore — the protocol shape here is exactly that
  * CAS, with the filesystem rename as the publish step.
  *
  * Format v3 (text, one token per line — segment names are this
  * writer's own `[A-Za-z0-9._-]` names, and [[swap]] rejects anything
  * that could break line framing; base64 has no newlines):
  * {{{
  *   gseg-manifest-v3
  *   <generation counter>
  *   <commit epoch millis>       (the embedded commit clock)
  *   <segment count>             (torn-write detector)
  *   <meta64 | ->                (base64'd table metadata pinned at
  *                                commit — as-of-schema time travel)
  *   <segment file name>         (exactly count lines, sorted)
  * }}}
  * v2 files (no pinned metadata) and v1 files (no clock, no count)
  * remain readable: time travel falls back to the current sidecar
  * schema, the clock to file mtime — strictly the old guarantees for
  * old files, never a refusal to read them.
  *
  * Commit protocol: every commit kind, the prefix its new files take,
  * the ref it lands on and what it does when another commit moved
  * that ref first. Branch-scoped commits land on the session's WAP
  * branch when the table carries it ([[commitTarget]], the rule table
  * reads follow too); every other commit moves MAIN and is refused
  * while the session names a WAP branch. A commit that commutes
  * re-reads its base and retries a lost CAS ([[withConflictRetry]]); a
  * commit that replaces is single-shot. Staged segments become a
  * generation through [[commitStaged]] only.
  * {{{
  *   commit kind             prefix             target         lost CAS
  *   append                  part-<stamp>-      branch-scoped  commutes (retry)
  *   overwrite               part-<stamp>-      branch-scoped  replaces (single-shot)
  *   copy-on-write rewrite   rlo-<stamp>-       branch-scoped  commutes (retry)
  *   vector delete           dlt-<stamp>-       branch-scoped  commutes (retry)
  *   stream epoch, append    str-<epoch>-       main-only      commutes (retry)
  *   stream epoch, Complete  str-<epoch>-       main-only      replaces (single-shot)
  *   CTAS / RTAS             .ctas-<stamp>-     main-only      replaces (single-shot)
  *   compact                 cmp-<stamp>-       main-only      replaces (single-shot)
  *   clone                   .ctas-cl-<stamp>-  main-only      replaces (single-shot)
  *   rollback                (no new files)     main-only      replaces (single-shot)
  *   truncate                (no new files)     main-only      replaces (single-shot)
  * }}}
  * Clone hard-links its files rather than staging them; it, rollback
  * and truncate call [[swap]] directly. An overwrite or Complete-mode
  * epoch on a plain path dir (no sidecar) retires the superseded
  * generation at commit ([[commitWrite]]). */
object SegManifest {
  private[sources] val FileName = ".manifest"

  /** The commit primitives in force — POSIX by default; tests inject
    * fault providers, an object-store build would inject its
    * conditional-PUT implementation. Volatile, not per-table: the
    * provider models the FILESYSTEM, which is process-global. */
  @volatile private[sources] var commitProvider: CommitProvider =
    PosixCommitProvider

  /** A racing writer moved the live pointer between this committer's
    * read and its swap. Retryable: re-read the manifest, re-resolve
    * conflicts, commit again. */
  class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Run a read-validate-swap `body` again when its swap loses the
    * CAS — the optimistic-concurrency retry loop of every commit that
    * commutes (its files are fresh names no other committer
    * references, so a lost race costs one re-read, never
    * correctness). The body must RE-READ the live manifest each
    * attempt and re-validate its own preconditions. Only
    * [[CommitConflictException]] retries; a body whose own
    * preconditions no longer hold (the `require` guards in the DML
    * commits) throws IllegalArgumentException and fails SINGLE-SHOT,
    * loudly — deliberate: a precondition that a racing commit
    * invalidated (a segment the body meant to mask no longer exists)
    * is a semantic conflict the caller must re-plan, not a CAS loss
    * this loop can paper over by re-running the same stale plan. */
  private[sources] def withConflictRetry[T](what: String,
      maxRetries: Int = 10)(body: => T): T = {
    var n = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          n += 1
          if (n > maxRetries) throw e
          graft.Counters.add("gseg_commit_retries", 1L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Parsed manifest/snapshot body. `commitMs` is None for v1 files
    * (callers fall back to file mtime); `meta64` is the base64'd
    * table-metadata JSON pinned at commit time (v3 — as-of-schema
    * time travel), absent in v1/v2 files; `dvs` maps segment name →
    * deletion-vector file name (v4 — merge-on-read DELETE; empty
    * for v1–v3 files and for generations with no vectored segment). */
  private[sources] case class Manifest(gen: Long, commitMs: Option[Long],
      names: Seq[String], meta64: Option[String] = None,
      dvs: Map[String, String] = Map.empty)

  // per-table commit lock: closes the read-check-rename window for
  // same-JVM committers (local mode = every committer); see the
  // concurrency contract above
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: String): Object =
    locks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)

  // ---------------- cross-process commit lock ----------------

  /** `.commit-lock`: an O_EXCL lock FILE taken around every
    * read-check-swap (and vacuum's read-retire-delete), closing the
    * CAS window BETWEEN PROCESSES on a shared filesystem — the JVM
    * monitor above serializes committers within one driver; two
    * separate driver processes race through the filesystem, and
    * `Files.createFile`-with-CREATE_NEW is the one primitive POSIX
    * makes atomic. Body = `<epoch millis> <uuid>`.
    *
    * Liveness: a holder that crashed leaves a stale lock; acquirers
    * EXPIRE locks whose embedded clock is older than [[lockExpiryMs]]
    * (delete, then re-race the create). The expiry is best-effort —
    * the delete+create pair is not itself atomic, so for one expiry
    * period after a crash two expiring processes can both enter; the
    * trade every lock-file protocol on a rename-only filesystem
    * makes, strictly narrower than the no-lock status quo, and the
    * inner CAS still bounds the damage to a loud conflict. A held,
    * FRESH lock makes the acquirer spin up to [[lockWaitMs]] (the
    * swap is milliseconds; a healthy holder releases long before)
    * then throw [[CommitConflictException]] — retryable, exactly
    * like a CAS miss. Same-JVM committers never contend here: the
    * monitor is taken first, so the file is only ever observed held
    * by a FOREIGN process. */
  private val LockFile = ".commit-lock"
  @volatile private[sources] var lockExpiryMs: Long = 60000L
  @volatile private[sources] var lockWaitMs: Long = 2000L

  private def lockPath(dir: String): Path = Paths.get(dir).resolve(LockFile)

  /** Returns the TOKEN this acquisition wrote — [[releaseProcessLock]]
    * deletes the lock only while it still holds that token, so a
    * holder stalled past [[lockExpiryMs]] (GC pause, NFS stall) whose
    * lock was expired and re-taken by another committer cannot, on
    * release, delete the NEW holder's lock and let a third committer
    * enter mid-swap (ADVICE r14) — the expiry race stays bounded to
    * the one documented delete+create window. */
  private[sources] def acquireProcessLock(dir: String): String = {
    val lock = lockPath(dir)
    Files.createDirectories(Paths.get(dir))
    val token = s"${System.currentTimeMillis} ${java.util.UUID.randomUUID}"
    val deadline = System.nanoTime + lockWaitMs * 1000000L
    while (true) {
      try {
        commitProvider.createExclusive(lock, token.getBytes(UTF_8))
        return token
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try {
              val ts = new String(Files.readAllBytes(lock), UTF_8)
                .trim.split(' ').head.toLong
              System.currentTimeMillis - ts > lockExpiryMs
            } catch {
              case _: java.nio.file.NoSuchFileException => false // released
              case _: Exception => true // torn/foreign body: expire it
            }
          if (stale) Files.deleteIfExists(lock)
          else if (System.nanoTime > deadline)
            throw new CommitConflictException(
              s"gseg: another committer process holds the commit lock " +
                s"$lock — retry the commit (stale locks expire after " +
                s"${lockExpiryMs}ms)")
          else Thread.sleep(5)
      }
    }
    throw new IllegalStateException("unreachable") // loop returns or throws
  }
  /** Delete the lock ONLY while it still carries `token` — if another
    * process already expired and re-took it, the lock is theirs now;
    * deleting it would reopen the swap window they hold. */
  private[sources] def releaseProcessLock(dir: String, token: String): Unit = {
    val lock = lockPath(dir)
    val mine =
      try new String(Files.readAllBytes(lock), UTF_8).trim == token
      catch { case _: Exception => false } // gone or unreadable: not ours
    if (mine) Files.deleteIfExists(lock)
  }

  def manifestPath(dir: String): Path = Paths.get(dir).resolve(FileName)
  def exists(dir: String): Boolean = Files.exists(manifestPath(dir))

  /** Parse a manifest body, v1 or v2. Throws loudly on a torn or
    * foreign file — a v2 body whose name count disagrees with its
    * header is a detected partial write, never a partial read. */
  private[sources] def parse(lines: Seq[String], where: String): Manifest = {
    require(lines.nonEmpty, s"gseg: empty manifest $where")
    def genOf(line: String): Long =
      try line.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"gseg: bad generation line '$line' in manifest $where")
      }
    lines.head match {
      case "gseg-manifest-v1" =>
        require(lines.length >= 2, s"gseg: truncated manifest $where")
        Manifest(genOf(lines(1)), None, lines.drop(2).filter(_.nonEmpty))
      case "gseg-manifest-v2" =>
        require(lines.length >= 4, s"gseg: truncated manifest $where")
        val names = lines.drop(4).filter(_.nonEmpty)
        val declared = lines(3).toInt
        require(names.length == declared,
          s"gseg: torn manifest $where — header declares $declared " +
            s"segment(s), body carries ${names.length}")
        Manifest(genOf(lines(1)), Some(lines(2).toLong), names)
      case "gseg-manifest-v3" =>
        require(lines.length >= 5, s"gseg: truncated manifest $where")
        val names = lines.drop(5).filter(_.nonEmpty)
        val declared = lines(3).toInt
        require(names.length == declared,
          s"gseg: torn manifest $where — header declares $declared " +
            s"segment(s), body carries ${names.length}")
        Manifest(genOf(lines(1)), Some(lines(2).toLong), names,
          Some(lines(4)).filter(_ != "-"))
      case "gseg-manifest-v4" =>
        // v4 = v3 whose segment lines may carry a second token: the
        // segment's deletion-vector file name (merge-on-read DELETE)
        require(lines.length >= 5, s"gseg: truncated manifest $where")
        val entries = lines.drop(5).filter(_.nonEmpty).map { l =>
          l.split(' ') match {
            case Array(n) => (n, None)
            case Array(n, dv) => (n, Some(dv))
            case _ => throw new IllegalArgumentException(
              s"gseg: bad v4 segment line '$l' in manifest $where")
          }
        }
        val declared = lines(3).toInt
        require(entries.length == declared,
          s"gseg: torn manifest $where — header declares $declared " +
            s"segment(s), body carries ${entries.length}")
        Manifest(genOf(lines(1)), Some(lines(2).toLong), entries.map(_._1),
          Some(lines(4)).filter(_ != "-"),
          entries.collect { case (n, Some(dv)) => n -> dv }.toMap)
      case other => throw new IllegalArgumentException(
        s"gseg: unrecognized manifest header '$other' in $where")
    }
  }

  private def parseFile(p: Path): Manifest =
    parse(Files.readAllLines(p, UTF_8).asScala.toSeq, p.toString)

  private[sources] def readManifest(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    if (Files.exists(p)) Some(parseFile(p)) else None
  }

  /** (generation, segment file NAMES) — None when the dir carries no
    * manifest yet (see "Scope and migration" above). */
  def read(dir: String): Option[(Long, Seq[String])] =
    readManifest(dir).map(m => (m.gen, m.names))

  /** The live generation as absolute segment paths, sorted. */
  def segments(dir: String): Option[Seq[String]] =
    read(dir).map(_._2.sorted.map(n => s"$dir/$n"))

  /** THE commit point: write the next generation to a hidden temp,
    * fsync it, and atomically rename it over the manifest. Returns
    * the new generation number. Readers see the old set or the new
    * set, never a mixture. A SNAPSHOT copy (`.manifest.v<gen>`) is
    * written (same tmp + ATOMIC_MOVE discipline — a crash can strand
    * a stale temp for vacuum, never a torn snapshot) BEFORE the
    * pointer moves, so every committed generation is time-travelable
    * until [[vacuum]] retires it; a crash between snapshot and swap
    * leaves a never-committed snapshot for gen = live+1, which every
    * resolution path rejects (gen above the live pointer) and the
    * retried commit overwrites under the same generation number.
    *
    * `expectGen` is the optimistic-concurrency check: the generation
    * this committer READ when it started (None = a fresh table with
    * no manifest yet). A mismatch under the lock throws
    * [[CommitConflictException]] and writes nothing.
    *
    * `dvs` is the new generation's deletion-vector map (segment name
    * → vector file name). None — the default every append / rewrite /
    * CTAS path takes — CARRIES FORWARD the live generation's vectors
    * for segments that survive into `names`: a commit that doesn't
    * think about vectors can never resurrect rows (replaced segments
    * shed their vectors with their names; surviving segments keep
    * theirs). Some(m) REPLACES the map wholesale — the DELETE commit
    * (merged vectors), rollback (the restored generation's own map). */
  def swap(dir: String, names: Seq[String],
      expectGen: Option[Option[Long]] = None,
      metaOverride: Option[Array[Byte]] = None,
      dvs: Option[Map[String, String]] = None): Long = {
    names.foreach(n => require(
      n.nonEmpty && !n.exists(c => c == '\n' || c == '\r' || c == '/' ||
        c == ' '),
      s"gseg: segment name breaks manifest framing: '$n'"))
    dvs.foreach(_.foreach { case (seg, dv) =>
      require(dv.nonEmpty && !dv.exists(c => c == '\n' || c == '\r' ||
        c == '/' || c == ' '),
        s"gseg: dv name breaks manifest framing: '$dv'")
      require(names.contains(seg),
        s"gseg: dv entry for '$seg' which is not in the new generation")
    })
    refuseMainUnderWap(dir)
    lockFor(dir).synchronized {
      val token = acquireProcessLock(dir)
      try swapLocked(dir, names, expectGen, metaOverride, dvs)
      finally releaseProcessLock(dir, token)
    }
  }

  private def swapLocked(dir: String, names: Seq[String],
      expectGen: Option[Option[Long]],
      metaOverride: Option[Array[Byte]],
      dvs: Option[Map[String, String]] = None): Long = {
    {
      val liveM = readManifest(dir)
      val live = liveM.map(_.gen)
      expectGen.foreach { e =>
        if (e != live) throw new CommitConflictException(
          s"gseg: concurrent commit on $dir — this committer read " +
            s"generation ${e.getOrElse("<none>")} but the live " +
            s"generation is now ${live.getOrElse("<none>")}; " +
            "re-read the table and retry the commit")
      }
      // next generation: one past the live pointer AND past every
      // branch head — generation numbers are globally monotone across
      // refs, so a main commit can never overwrite a branch snapshot
      val gen = math.max(live.map(_ + 1).getOrElse(0L),
        refs(dir).values.map(_._1 + 1).maxOption.getOrElse(0L))
      val body = snapshotBody(dir, gen, names, liveM, metaOverride, dvs)
      // the PUBLISH primitive (fsync'd temp + atomic rename on POSIX,
      // one conditional PUT on an object store) — see CommitProvider
      commitProvider.publish(Paths.get(dir), snapshotPath(dir, gen), body)
      commitProvider.publish(Paths.get(dir), manifestPath(dir), body)
      // best-effort directory fsync so the rename itself is durable
      try {
        val dch = java.nio.channels.FileChannel.open(Paths.get(dir),
          StandardOpenOption.READ)
        try dch.force(true) finally dch.close()
      } catch { case _: Exception => () }
      gen
    }
  }

  /** One snapshot body, shared by main commits ([[swapLocked]]) and
    * branch commits ([[branchSwap]]). `baseM` is the generation whose
    * deletion vectors carry forward for surviving names when `dvs` is
    * not explicit — the live manifest for main commits, the branch
    * head for branch commits. The table metadata current at commit
    * time is pinned into line 5 (v3 — as-of-schema time travel);
    * callers that commit before their sidecar lands (CTAS) pass the
    * bytes explicitly. v3 header when no segment carries a vector
    * (byte-identical to the pre-DV format), v4 binds `segment
    * dv-file` on the vectored lines only. */
  private def snapshotBody(dir: String, gen: Long, names: Seq[String],
      baseM: Option[Manifest], metaOverride: Option[Array[Byte]],
      dvs: Option[Map[String, String]]): Array[Byte] = {
    val sorted = names.sorted
    val dvMap: Map[String, String] = dvs.getOrElse(
      baseM.map(_.dvs.filter { case (seg, _) => names.contains(seg) })
        .getOrElse(Map.empty))
    val meta64 = metaOverride
      .orElse {
        val sc = SegMeta.path(Paths.get(dir))
        if (Files.exists(sc)) Some(Files.readAllBytes(sc)) else None
      }
      .map(java.util.Base64.getEncoder.encodeToString)
      .getOrElse("-")
    val segLines =
      if (dvMap.isEmpty) sorted
      else sorted.map(n => dvMap.get(n).map(dv => s"$n $dv").getOrElse(n))
    val header = if (dvMap.isEmpty) "gseg-manifest-v3" else "gseg-manifest-v4"
    (header +: gen.toString +:
      System.currentTimeMillis.toString +:
      sorted.length.toString +: meta64 +: segLines)
      .mkString("\n").getBytes(UTF_8)
  }

  // ---------------- snapshots (time travel) ----------------

  private[sources] def snapshotPath(dir: String, gen: Long): Path =
    Paths.get(dir).resolve(s".manifest.v$gen")

  /** Segment NAMES of a COMMITTED generation, if its snapshot is
    * still retained (vacuum retires snapshots whose files it
    * reclaims). Generations above the live pointer are rejected as
    * never-committed even when a snapshot file exists — the artifact
    * a crash between snapshot write and manifest swap strands. Torn
    * snapshot bodies throw (v2 count check), never partial-read. */
  def readSnapshot(dir: String, gen: Long): Option[Seq[String]] = {
    val p = snapshotPath(dir, gen)
    if (!Files.exists(p)) return None
    if (!readManifest(dir).exists(_.gen >= gen)) return None
    Some(parseFile(p).names)
  }

  /** A generation is RESOLVABLE when its snapshot exists and it
    * committed: at-or-below the live pointer, or published through a
    * branch ref's CAS (heads/bases sit ABOVE live until
    * fast_forward). Anything else above live is a crash-staged
    * orphan and stays invisible. */
  private def genCommitted(dir: String, gen: Long): Boolean =
    readManifest(dir).exists(_.gen >= gen) ||
      refsFull(dir).values.exists { case (h, b, c) =>
        h == gen || b == gen || c.contains(gen) }

  /** The full parsed snapshot of a COMMITTED retained generation —
    * names AND deletion-vector map (time travel, rollback and the
    * changefeed need both; [[readSnapshot]] keeps the names-only
    * shape its callers pin). Same phantom/retention gates. */
  private[sources] def readSnapshotManifest(dir: String,
      gen: Long): Option[Manifest] = {
    val p = snapshotPath(dir, gen)
    if (!Files.exists(p)) return None
    if (!genCommitted(dir, gen)) return None
    Some(parseFile(p))
  }

  /** A committed generation's manifest: its retained snapshot, or the
    * live manifest when `gen` is live. Loud past the vacuum retention
    * window; `op` prefixes the message. */
  private[sources] def retained(dir: String, gen: Long, op: String): Manifest =
    readSnapshotManifest(dir, gen)
      .orElse(readManifest(dir).filter(_.gen == gen))
      .getOrElse(throw new IllegalArgumentException(
        s"gseg $op: generation $gen of $dir is not retained — never " +
          "committed, or retired by vacuum, which keeps the newest " +
          "keep_last generations and those younger than older_than_ms " +
          "(raise them, or vacuum less often)"))

  /** The table metadata PINNED in a committed generation's snapshot
    * (v3), parsed — as-of-schema time travel's source of truth. None
    * for v1/v2 legacy snapshots (reads fall back to the CURRENT
    * sidecar schema — strictly the pre-r14 behavior), for unretained
    * generations, and for snapshots whose embedded body fails to
    * parse (never let a torn pin block the read path; the caller's
    * fallback is the current schema, which is what v2 always served). */
  def readSnapshotMeta(dir: String, gen: Long): Option[SegMeta.TableMeta] = {
    val p = snapshotPath(dir, gen)
    if (!Files.exists(p)) return None
    if (!genCommitted(dir, gen)) return None
    parseFile(p).meta64.flatMap { b64 =>
      scala.util.Try(SegMeta.parseJson(new String(
        java.util.Base64.getDecoder.decode(b64), UTF_8))).toOption
    }
  }

  /** Commit clock (epoch millis) of a retained committed generation:
    * the snapshot's embedded v2/v3 clock, file mtime for v1 legacy,
    * the live manifest's clock for the current generation when its
    * snapshot is already gone. None for unretained/phantom gens. */
  def commitClock(dir: String, gen: Long): Option[Long] = {
    val live = readManifest(dir).getOrElse(return None)
    // committed = at-or-below live OR published through a branch ref
    // (head/base/chain — a branch-scoped changefeed reads the clocks
    // of commits that sit ABOVE the main pointer)
    if (gen > live.gen && !genCommitted(dir, gen)) return None
    val p = snapshotPath(dir, gen)
    if (Files.exists(p))
      scala.util.Try(parseFile(p)).toOption.map(m =>
        m.commitMs.getOrElse(Files.getLastModifiedTime(p).toMillis))
    else if (gen == live.gen)
      Some(live.commitMs.getOrElse(
        Files.getLastModifiedTime(manifestPath(dir)).toMillis))
    else None
  }

  /** Retained COMMITTED (generation, commit-clock millis), ascending —
    * the TIMESTAMP AS OF / history resolution table. The clock is the
    * v2 snapshot's embedded commit timestamp (file mtime for v1
    * legacy snapshots); staged-but-never-swapped generations (above
    * the live pointer) and unreadable snapshots are excluded. */
  def listSnapshots(dir: String): Seq[(Long, Long)] = {
    val live = readManifest(dir).map(_.gen).getOrElse(return Nil)
    // committed = at-or-below the live pointer, OR a branch head/base
    // (those committed through the refs CAS — only crash-staged
    // orphans stay invisible)
    val refGens = refsFull(dir).values
      .flatMap { case (h, b, c) => c ++ Seq(h, b) }.toSet
    rawSnapshotGens(dir).filter(g => g <= live || refGens.contains(g))
      .flatMap { g =>
        val p = snapshotPath(dir, g)
        scala.util.Try(parseFile(p)).toOption.map(m =>
          (g, m.commitMs.getOrElse(Files.getLastModifiedTime(p).toMillis)))
      }.sortBy(_._1)
  }

  /** EVERY `.manifest.v<gen>` on disk, committed or not, readable or
    * not — the reclaim-side view ([[vacuum]] judges each one). */
  private def rawSnapshotGens(dir: String): Seq[Long] = {
    val l = Files.list(Paths.get(dir))
    try l.iterator().asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith(".manifest.v") && !n.contains("tmp"))
        scala.util.Try(n.stripPrefix(".manifest.v").toLong).toOption
      else None
    }.toSeq.sorted
    finally l.close()
  }

  /** The base a dir without a manifest commits over: its listed
    * segments, as an older build that renamed files in left them
    * (none for a fresh dir). */
  private def listed(dir: String): Manifest =
    Manifest(-1L, None, SegSource.listSegments(dir)
      .map(f => Paths.get(f).getFileName.toString))

  /** Commit generation 0 over the [[listed]] segments if the dir has
    * no manifest yet — what a dir's first [[commitStaged]] does, for
    * a dir that `SegCatalog.loadTable` serves before any write. */
  def ensure(dir: String, metaOverride: Option[Array[Byte]] = None): Unit =
    lockFor(dir).synchronized {
      if (!exists(dir))
        swap(dir, listed(dir).names, expectGen = Some(None),
          metaOverride = metaOverride)
    }

  /** Does `dir` hold a table: a sidecar, a manifest, or listed
    * segments an older build left? The existence test of CREATE,
    * CTAS, clone and the metadata tables. */
  private[sources] def isTable(dir: Path): Boolean =
    Files.isDirectory(dir) && (SegMeta.exists(dir) ||
      exists(dir.toString) || SegSource.listSegments(dir.toString).nonEmpty)

  /** Staging temps younger than this survive vacuum: the per-table
    * lock covers only the SWAP, not a staging lifetime, so a vacuum
    * racing an in-flight CTAS/compact/batch write must not delete its
    * temp dir mid-stage (ADVICE r13). A crashed commit's strands are
    * hours old by the time anyone vacuums; 20 minutes bounds the live
    * window without delaying real reclaim. Spec-tunable. */
  @volatile private[sources] var tempReclaimGraceMs: Long = 20L * 60 * 1000

  /** Reclaim storage outside the RETAINED time-travel window. The
    * PROTECTED set is the live generation plus the `keepLast - 1`
    * most recent committed generations before it (default 1 = live
    * only); every segment file no protected generation references is
    * reclaimed: superseded generations past the window, the orphans
    * a crashed commit strands on either side of its swap
    * (staged-but-unswapped files, phantom snapshots above the live
    * pointer), stale `.tmp-` / `.manifest.tmp-` staging temps, and
    * `.compact-tmp-` directories a driver crash stranded mid-CALL
    * compact. Snapshots retire only when a file they reference is
    * reclaimed (a snapshot whose files are all still live costs one
    * small file and stays travelable — the copy-on-write sharing
    * model), when they are phantom (gen above the live pointer), or
    * when they are unreadable — torn legacy snapshots are DELETED,
    * not thrown on: the reclaim procedure must never be blocked by
    * the very corruption it exists to clean up. Snapshots retire
    * BEFORE their files go, so no retained snapshot ever references
    * a deleted file. Returns the reclaimed names, sorted.
    *
    * `olderThanMs` is the TIME retention horizon (operators schedule
    * by time, not commit count): a committed generation younger than
    * the horizon — judged by the commit clock EMBEDDED in its v2
    * snapshot, never file mtime, so a restored/copied table still
    * retains by its real history — is protected even when it falls
    * outside `keepLast`. The two compose as retention floors:
    * protected = live ∪ (keepLast newest) ∪ (younger than horizon).
    *
    * `dryRun` reports what a real run WOULD reclaim (same
    * computation under the same locks) without deleting anything —
    * the operator's look-before-you-leap on a retention change. */
  def vacuum(dir: String, keepLast: Int = 1,
      olderThanMs: Option[Long] = None,
      dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, s"gseg vacuum: keep_last $keepLast < 1")
    olderThanMs.foreach(h => require(h >= 0,
      s"gseg vacuum: older_than_ms $h < 0"))
    lockFor(dir).synchronized {
      if (readManifest(dir).isEmpty) return Nil // no generation yet
      // lock FIRST, then read the manifest INSIDE it (mirroring
      // swap/swapLocked): a foreign-process commit landing between a
      // pre-lock read and the lock would make the just-committed
      // generation look phantom — its snapshot doomed (gen > stale
      // live) and its fresh files outside protectedNames — and vacuum
      // would delete live, committed data (ADVICE r14)
      val token = acquireProcessLock(dir)
      try {
        val live = readManifest(dir) match {
          case Some(m) => m
          case None => return Nil
        }
        vacuumLocked(dir, keepLast, olderThanMs, live, dryRun)
      } finally releaseProcessLock(dir, token)
    }
  }

  private def vacuumLocked(dir: String, keepLast: Int,
      olderThanMs: Option[Long], live: Manifest,
      dryRun: Boolean): Seq[String] = {
    {
      val raw = rawSnapshotGens(dir)
      val readable: Map[Long, Manifest] =
        raw.flatMap(g => scala.util.Try(parseFile(snapshotPath(dir, g)))
          .toOption.map(g -> _)).toMap
      val committed = readable.keys.filter(_ <= live.gen).toSeq
      val horizonKept: Set[Long] = olderThanMs match {
        case None => Set.empty
        case Some(h) =>
          val cut = System.currentTimeMillis - h
          committed.filter { g =>
            val clock = readable(g).commitMs.getOrElse(
              // v1 legacy snapshot: no embedded clock — file mtime is
              // the only signal, strictly the old guarantees
              scala.util.Try(Files.getLastModifiedTime(
                snapshotPath(dir, g)).toMillis).getOrElse(Long.MaxValue))
            clock > cut
          }.toSet
      }
      // tagged generations are retention FLOORS exactly like the
      // horizon: a named audit pin outranks keep_last until untagged
      // (read INSIDE the same locks as everything else here)
      val taggedKept: Set[Long] =
        tags(dir).values.toSet.intersect(readable.keySet)
          .filter(_ <= live.gen)
      // branch refs are retention floors on BOTH ends — the head (the
      // branch's own latest data, possibly ABOVE the live pointer)
      // and the base (fast_forward's ancestry witness) — plus the
      // whole commit CHAIN between them, so a branch-scoped
      // changefeed mid-audit never loses a step it hasn't consumed
      val refKept: Set[Long] = refsFull(dir).values
        .flatMap { case (h, b, c) => c ++ Seq(h, b) }.toSet
        .intersect(readable.keySet)
      val keptGens = ((committed :+ live.gen)
        .distinct.sorted.takeRight(keepLast).toSet ++ horizonKept ++
        taggedKept ++ refKept + live.gen)
      // deletion vectors are generation data exactly like segments:
      // protected while any kept generation references them
      val protectedNames = live.names.toSet ++ live.dvs.values ++
        keptGens.flatMap(g => readable.get(g).map(m =>
          m.names ++ m.dvs.values).getOrElse(Nil))
      // reclaim-side listing: files outside every protected
      // generation, plus stranded staging temps/dirs
      val l = Files.list(Paths.get(dir))
      // temps younger than the grace window may belong to an in-flight
      // commit on this table — skip them this pass (ADVICE r13)
      def pastGrace(p: Path): Boolean =
        try System.currentTimeMillis -
          Files.getLastModifiedTime(p).toMillis >= tempReclaimGraceMs
        catch { case _: Exception => true } // vanished: nothing to skip
      val junk =
        try l.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          (n.endsWith(".gseg") && !n.startsWith(".") &&
            !protectedNames.contains(n)) ||
            // deletion vectors outside every kept generation:
            // superseded (a later DELETE merged them), rolled back
            // past, or stranded by a crashed DELETE commit
            (n.endsWith(".gdv") && !n.startsWith(".") &&
              !protectedNames.contains(n)) ||
            // CTAS/RTAS/clone publish dot-hidden names through the
            // manifest; unprotected ones are crashed-commit strands
            (n.startsWith(".ctas-") &&
              (n.endsWith(".gseg") || n.endsWith(".gdv")) &&
              !protectedNames.contains(n)) ||
            // every metadata sidecar (manifest, snapshots, .tags,
            // .refs) publishes through commitProvider.publish, whose
            // POSIX temps are all named '.manifest.tmp-*' — one temp
            // prefix, one reclaim rule
            ((n.startsWith(".tmp-") || n.startsWith(".manifest.tmp-") ||
              n.startsWith(".compact-tmp-") || n.startsWith(".ctas-tmp-")) &&
              pastGrace(p))
        }.toList
        finally l.close()
      val junkNames = junk.map(_.getFileName.toString).toSet
      if (dryRun) return junkNames.toSeq.sorted
      // retire doomed snapshots BEFORE any file goes
      raw.foreach { g =>
        // above-live snapshots are crash-staged orphans UNLESS a
        // branch ref committed them (kept: they are that branch's
        // history)
        val doomed = (g > live.gen && !refKept.contains(g)) ||
          !readable.contains(g) ||
          readable(g).names.exists(junkNames.contains) ||
          readable(g).dvs.values.exists(junkNames.contains)
        if (doomed && g != live.gen && !refKept.contains(g))
          Files.deleteIfExists(snapshotPath(dir, g))
      }
      junk.foreach { p =>
        if (Files.isDirectory(p)) graft.Fs.deleteRecursively(p)
        else Files.deleteIfExists(p)
      }
      junkNames.toSeq.sorted
    }
  }

  // ---------------- named snapshot refs (tags) ----------------

  private def tagsPath(dir: String): Path = Paths.get(dir, ".tags")

  /** Named snapshot refs: `tag name → generation`, stored in a
    * `.tags` sidecar (one `name<TAB>gen` line each, sorted; tmp +
    * ATOMIC_MOVE swap like every other metadata file here). A tagged
    * generation is a RETENTION FLOOR: [[vacuum]] keeps its snapshot,
    * segments and deletion vectors regardless of `keep_last` /
    * `older_than_ms` until the tag is removed — the "hold this
    * snapshot for the audit" workflow WITHOUT forking history the way
    * clone does. `VERSION AS OF '<tag>'` and `CALL clone(tag => ...)`
    * resolve through this map (Iceberg's tag refs, the
    * non-advancing half of its branch/tag model). */
  def tags(dir: String): Map[String, Long] = {
    val p = tagsPath(dir)
    if (!Files.exists(p)) Map.empty
    else try
      Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        require(i > 0, s"gseg: unrecognized tags line in $p: '$l'")
        l.substring(0, i) -> l.substring(i + 1).toLong
      }.toMap
    catch {
      // a concurrent untag that empties the map DELETES the sidecar
      // (writeTags), so the exists→read window can see the file
      // vanish — that race means "no tags", same as no file at all
      case _: java.nio.file.NoSuchFileException => Map.empty
    }
  }

  private def writeTags(dir: String, m: Map[String, Long]): Unit = {
    val p = tagsPath(dir)
    if (m.isEmpty) { Files.deleteIfExists(p); return }
    val body = m.toSeq.sorted
      .map { case (n, g) => s"$n\t$g" }.mkString("", "\n", "\n")
    commitProvider.publish(Paths.get(dir), p, body.getBytes(UTF_8))
  }

  /** Pin `name` to a COMMITTED, still-retained generation. Rejects
    * all-digit names (a `VERSION AS OF` operand that parses as a
    * number resolves as a generation, so such a tag would be
    * unreachable) and re-pointing a live tag (untag first — a
    * silently moved audit pin is worse than a loud one). */
  def setTag(dir: String, name: String, gen: Long): Unit =
    lockFor(dir).synchronized {
      val token = acquireProcessLock(dir)
      try {
        // charset, numeric-parse (the resolver's own toLong — '-5'
        // included) and tag/branch cross-collision gates, shared with
        // createBranch: one VERSION AS OF namespace, one rule.
        // Re-pointing an existing tag is checked separately below so
        // the same-gen idempotent case stays allowed.
        if (!tags(dir).contains(name))
          validateRefName(dir, name, "tag")
        val live = readManifest(dir).map(_.gen).getOrElse(
          throw new IllegalArgumentException(
            s"gseg tag: no generation manifest at $dir"))
        require(gen <= live,
          s"gseg tag: generation $gen is above the live pointer $live")
        require(readSnapshotManifest(dir, gen).isDefined,
          s"gseg tag: no snapshot for generation $gen — never " +
            "committed, or retired by vacuum")
        val cur = tags(dir)
        cur.get(name).foreach(g => require(g == gen,
          s"gseg tag: '$name' already pins generation $g (untag first)"))
        writeTags(dir, cur + (name -> gen))
      } finally releaseProcessLock(dir, token)
    }

  /** Remove `name`, returning the generation it pinned — which
    * becomes reclaimable by the NEXT vacuum unless another floor
    * (keep_last, horizon, live, another tag) still covers it. */
  def removeTag(dir: String, name: String): Long =
    lockFor(dir).synchronized {
      // a typo'd table must fail loudly, not mint an empty dir via
      // the lock's createDirectories
      require(Files.isDirectory(Paths.get(dir)),
        s"gseg untag: no table directory at $dir")
      val token = acquireProcessLock(dir)
      try {
        val cur = tags(dir)
        val g = cur.getOrElse(name, throw new IllegalArgumentException(
          s"gseg untag: no tag '$name' at $dir"))
        writeTags(dir, cur - name)
        g
      } finally releaseProcessLock(dir, token)
    }

  // ---------------- writable branch refs (WAP) ----------------

  /** While this session conf names a branch, EVERY gseg write lands
    * on that branch and main-pointer commits are refused loudly —
    * the write-audit-publish workflow: write to the branch, audit
    * `VERSION AS OF '<branch>'`, then `CALL fast_forward` publishes
    * (Iceberg's `spark.wap.branch` contract). */
  val WapBranchConf = "spark.gseg.wap.branch"

  /** The branch the active session stages writes to, if any. */
  private def wapBranch(): Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.conf.get(WapBranchConf, "")).filter(_.nonEmpty)

  /** THE main-or-branch rule: the session's WAP branch when it names
    * one and the table at `dir` carries that ref, otherwise main
    * (None). Reads and branch-scoped commits both resolve through it. */
  private def sessionBranch(dir: String): Option[String] =
    wapBranch().filter(b => refs(dir).contains(b))

  /** While the session names a WAP branch, moving MAIN would leak
    * unaudited rows past the audit gate: refused, with one message for
    * main-only commits and for branch-scoped writes to a table (or
    * path dir) without the branch. */
  private def refuseMainUnderWap(dir: String): Unit =
    wapBranch().foreach { b =>
      throw new UnsupportedOperationException(
        s"gseg: $WapBranchConf='$b' is set, and this commit would move " +
          s"MAIN of $dir: the operation is main-only, or the table has " +
          s"no branch '$b' (CALL branch first). Unset the conf to commit " +
          "to main (publish via CALL fast_forward first)")
    }

  /** Where a commit to `dir` lands: the branch a branch-scoped commit
    * goes to under [[sessionBranch]], or None for main. A main commit
    * under WAP fails here, before the writer has moved a file. */
  private[sources] def commitTarget(dir: String,
      branchScoped: Boolean): Option[String] = {
    val branch = if (branchScoped) sessionBranch(dir) else None
    if (branch.isEmpty) refuseMainUnderWap(dir)
    branch
  }

  /** The manifest a TABLE READ under this session resolves: the WAP
    * branch's HEAD under [[sessionBranch]] — Iceberg's
    * `spark.wap.branch` read semantics, so the staged data audits
    * through PLAIN reads of the table (and row-level DML's rewrite
    * scan sees the branch state it will commit against). Tables
    * WITHOUT the ref — join and MERGE sources, the index tables a gate
    * consults — resolve the live manifest, unaffected. */
  private[sources] def readManifestForSession(dir: String): Option[Manifest] =
    sessionBranch(dir).flatMap(b => refs(dir).get(b)) match {
      case Some((head, _)) => readSnapshotManifest(dir, head)
      case None => readManifest(dir)
    }

  // ---------------- the commit path of staged segments ----------------

  /** Staged segment files, each with the name it takes after the
    * writer's prefix. */
  private[sources] case class Staged(files: Seq[(String, String)])
  private[sources] object Staged {
    /** Task temps as `<partition>-<i>.gseg`: the sorted manifest keeps
      * the write's partition order (the limit/TopN front-take reads it). */
    def byTask(msgs: Seq[SegCommitMessage]): Staged =
      Staged(msgs.flatMap(m => m.tmpFiles.zipWithIndex.map { case (t, i) =>
        t -> f"${m.partitionId}%05d-$i%03d.gseg" }))
    /** One ordered list as `<i>.gseg`. */
    def flat(files: Seq[String]): Staged =
      Staged(files.zipWithIndex.map { case (t, i) => t -> f"$i%05d.gseg" })
  }

  /** `<kind>-<8 random chars>-`: fresh names that can never collide
    * with (and replace) a live segment. */
  private[sources] def stampedPrefix(kind: String): String =
    s"$kind-${java.util.UUID.randomUUID.toString.take(8)}-"

  /** Rename staged files into `dir` under `prefix`; returns the new
    * names. They stay invisible until the swap names them. */
  private def renameStaged(dir: String, prefix: String,
      staged: Staged): Seq[String] =
    staged.files.map { case (tmp, suffix) =>
      val name = prefix + suffix
      Files.move(Paths.get(tmp), Paths.get(dir, name),
        StandardCopyOption.REPLACE_EXISTING)
      name
    }

  /** Delete the staged temps of an aborted (or replayed) write. */
  private[sources] def discard(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit =
    messages.iterator.flatMap {
      case m: SegCommitMessage => m.tmpFiles
      case m: SegDvCommitMessage => m.tmpFiles
      case _ => Nil
    }.foreach(t => Files.deleteIfExists(Paths.get(t)))

  /** What a commit keeps of its base generation: the surviving names
    * (the staged ones are added to them) and, for a commit that
    * rewrites deletion vectors, the new map — None carries the base's
    * vectors forward for the surviving names. */
  private[sources] case class Kept(names: Seq[String],
      dvs: Option[Map[String, String]] = None)

  /** THE commit of staged segments (see the commit protocol table):
    * resolve the target once ([[commitTarget]] — a refused commit
    * fails before any file moves), rename the staged files once, then
    * read the base (the branch head or the live manifest), ask the
    * writer what it `keep`s of it, and publish through [[branchSwap]]
    * or [[swap]] with the CAS on that base. `keep` carries the
    * writer's own validation; it throws to abort the commit. A commit
    * that `commutes` re-reads and retries a lost CAS; one that
    * replaces is single-shot, CAS'd on `expectGen` when the writer
    * pinned its base earlier (at stage or plan time). A dir without a
    * manifest commits generation 0 over its [[listed]] segments, with
    * the CAS on "no manifest". Returns the new generation. */
  private[sources] def commitStaged(dir: String, prefix: String,
      staged: Staged, commutes: Boolean, branchScoped: Boolean = true,
      expectGen: Option[Option[Long]] = None,
      metaOverride: Option[Array[Byte]] = None)(
      keep: Manifest => Kept): Long = {
    val branch = commitTarget(dir, branchScoped)
    val added = renameStaged(dir, prefix, staged)
    def attempt(): Long = branch match {
      case Some(b) =>
        val head = refs(dir).getOrElse(b, throw new IllegalStateException(
          s"gseg: branch '$b' of $dir was dropped mid-commit"))._1
        val base = readSnapshotManifest(dir, head).getOrElse(
          throw new IllegalStateException(
            s"gseg: no snapshot for head $head of branch '$b' at $dir"))
        val k = keep(base)
        branchSwap(dir, b, k.names ++ added, Some(head), k.dvs)
      case None =>
        val live = readManifest(dir)
        val k = keep(live.getOrElse(listed(dir)))
        // a listing taken after the rename holds `added` already, and
        // so may a racing first commit's generation 0
        swap(dir, (k.names ++ added).distinct,
          Some(expectGen.getOrElse(live.map(_.gen))), metaOverride, k.dvs)
    }
    if (commutes) withConflictRetry(prefix)(attempt()) else attempt()
  }

  /** [[commitStaged]] for the Spark writers ([[SegBatchWrite]],
    * [[SegStreamingWrite]]) of rows with `schema`: an append keeps its
    * base, a write that `replaces` (overwrite, a Complete-mode epoch)
    * keeps nothing of it. A dir with no SegMeta sidecar has never
    * been a catalog table: each generation pins the written schema
    * (as `SegCatalog.loadTable` pins the inferred one), and a replacing
    * commit retires the superseded generation right after the swap.
    * Such a dir has no branches or tags to pin old generations, and
    * path overwrites have always deleted the old files, so no reader
    * loses a guarantee and reruns into one dir pile up nothing. */
  private[sources] def commitWrite(dir: String, prefix: String,
      staged: Staged, schema: org.apache.spark.sql.types.StructType,
      replaces: Boolean, branchScoped: Boolean,
      expectGen: Option[Option[Long]] = None): Unit = {
    val pathDir = !SegMeta.exists(Paths.get(dir))
    // nullable, as segment headers (and so the inferred schema) are
    val pin = if (!pathDir) None else Some(SegMeta.render(SegMeta.TableMeta(
      org.apache.spark.sql.types.StructType(
        schema.map(_.copy(nullable = true))), Set.empty, Map.empty)))
    commitStaged(dir, prefix, staged, commutes = !replaces, branchScoped,
      expectGen, pin) { base =>
      Kept(if (replaces) Nil else base.names)
    }
    if (replaces && pathDir) vacuum(dir)
  }

  private def refsPath(dir: String): Path = Paths.get(dir, ".refs")

  /** Writable branch refs: `branch name → (head, base)`, in a `.refs`
    * sidecar (one `name<TAB>head<TAB>base` line each, sorted; temp +
    * atomic publish like every metadata file here). `head` is the
    * branch's OWN latest generation — it ADVANCES with each branch
    * commit, the half of the Iceberg branch/tag model tags left out —
    * and `base` is the MAIN generation the branch forked from, the
    * ancestry witness [[fastForward]] checks so a publish can never
    * silently drop main commits that landed since the fork. Branch
    * snapshots share the table's single generation number line
    * ([[swapLocked]] allocates past every head), so branching moves
    * ZERO data: a branch is one sidecar line, its commits are
    * ordinary snapshots, and the publish is one pointer swap —
    * constant-cost at any table size. Both refs of a branch are
    * vacuum retention floors until the branch is dropped. */
  def refs(dir: String): Map[String, (Long, Long)] =
    refsFull(dir).view.mapValues { case (h, b, _) => (h, b) }.toMap

  /** `branch name → (head, base, chain)` where `chain` is the
    * branch's own committed generations since the fork base,
    * ASCENDING (last = head when non-empty; empty right after
    * branch/fast_forward). The chain is the branch's COMMIT LINEAGE —
    * what a branch-scoped changefeed steps through per-commit, and
    * what vacuum floors while an audit is mid-flight. Stored as an
    * optional comma-joined 4th field; 3-field lines (pre-lineage
    * files) read as an empty chain — strictly the old guarantees. */
  private[sources] def refsFull(dir: String)
      : Map[String, (Long, Long, Seq[Long])] = {
    val p = refsPath(dir)
    if (!Files.exists(p)) Map.empty
    else try
      Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map { l =>
        val parts = l.split('\t')
        require(parts.length == 3 || parts.length == 4,
          s"gseg: unrecognized refs line in $p: '$l'")
        try {
          val chain = if (parts.length == 4 && parts(3).nonEmpty)
            parts(3).split(',').toSeq.map(_.toLong) else Seq.empty[Long]
          parts(0) -> ((parts(1).toLong, parts(2).toLong, chain))
        } catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"gseg: unrecognized refs line in $p: '$l'")
        }
      }.toMap
    catch { // dropped-last-branch race: delete means no refs
      case _: java.nio.file.NoSuchFileException => Map.empty
    }
  }

  private def writeRefs(dir: String,
      m: Map[String, (Long, Long, Seq[Long])]): Unit = {
    val p = refsPath(dir)
    if (m.isEmpty) { Files.deleteIfExists(p); return }
    val body = m.toSeq.sortBy(_._1)
      .map { case (n, (h, b, c)) =>
        if (c.isEmpty) s"$n\t$h\t$b" else s"$n\t$h\t$b\t${c.mkString(",")}" }
      .mkString("", "\n", "\n")
    commitProvider.publish(Paths.get(dir), p, body.getBytes(UTF_8))
  }

  /** Shared ref-name gate: tags and branches resolve through the one
    * `VERSION AS OF` namespace, so names must be non-numeric (the
    * resolver parses numbers as generations) and unique ACROSS both
    * kinds. */
  private def validateRefName(dir: String, name: String, kind: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"gseg $kind: illegal name '$name' ([A-Za-z0-9._-] only)")
    require(scala.util.Try(name.toLong).isFailure,
      s"gseg $kind: name '$name' parses as a number and would be " +
        "read as a generation by VERSION AS OF")
    require(!tags(dir).contains(name),
      s"gseg $kind: '$name' is already a tag of this table")
    require(!refs(dir).contains(name),
      s"gseg $kind: '$name' is already a branch of this table")
  }

  /** Fork a branch at the live generation. One sidecar line — no
    * snapshot written, no file copied. */
  def createBranch(dir: String, name: String): Long =
    lockFor(dir).synchronized {
      val token = acquireProcessLock(dir)
      try {
        validateRefName(dir, name, "branch")
        val live = readManifest(dir).map(_.gen).getOrElse(
          throw new IllegalArgumentException(
            s"gseg branch: no generation manifest at $dir"))
        writeRefs(dir, refsFull(dir) + (name -> ((live, live, Seq.empty))))
        live
      } finally releaseProcessLock(dir, token)
    }

  /** Drop a branch, returning its head. The head's snapshot and files
    * lose their retention floor — the NEXT vacuum may reclaim them
    * (the abandon-the-audit path of WAP). */
  def dropBranch(dir: String, name: String): Long =
    lockFor(dir).synchronized {
      require(Files.isDirectory(Paths.get(dir)),
        s"gseg drop_branch: no table directory at $dir")
      val token = acquireProcessLock(dir)
      try {
        val cur = refsFull(dir)
        val (h, _, _) = cur.getOrElse(name,
          throw new IllegalArgumentException(
            s"gseg drop_branch: no branch '$name' at $dir"))
        writeRefs(dir, cur - name)
        h
      } finally releaseProcessLock(dir, token)
    }

  /** THE branch commit point: publish `names` as the branch's next
    * generation and advance its head — the MAIN pointer does not
    * move (main readers are byte-unaffected). Same optimistic-CAS
    * discipline as [[swap]]: `expectHead` is the head this committer
    * read; a mismatch throws [[CommitConflictException]] for
    * [[withConflictRetry]]. Deletion vectors carry forward from the
    * branch head for surviving names. */
  def branchSwap(dir: String, branch: String, names: Seq[String],
      expectHead: Option[Long] = None,
      dvs: Option[Map[String, String]] = None): Long =
    lockFor(dir).synchronized {
      val token = acquireProcessLock(dir)
      try {
        val cur = refsFull(dir)
        val (head, base, chain) = cur.getOrElse(branch,
          throw new IllegalArgumentException(
            s"gseg: no branch '$branch' at $dir — CALL branch first"))
        expectHead.foreach { e =>
          if (e != head) throw new CommitConflictException(
            s"gseg: concurrent branch commit on $dir@$branch — read " +
              s"head $e, now $head; re-read and retry")
        }
        val headM = readSnapshotManifest(dir, head)
        val live = readManifest(dir).map(_.gen)
        val gen = math.max(live.map(_ + 1).getOrElse(0L),
          cur.values.map(_._1 + 1).max)
        val body = snapshotBody(dir, gen, names, headM, None, dvs)
        commitProvider.publish(Paths.get(dir), snapshotPath(dir, gen), body)
        writeRefs(dir, cur + (branch -> ((gen, base, chain :+ gen))))
        gen
      } finally releaseProcessLock(dir, token)
    }

  /** REBASE a branch onto the current live generation — the
    * non-fast-forward WAP path. When main advanced past the fork
    * base, [[fastForward]] refuses; instead of discarding the staged
    * audit, rebase re-applies the branch's base→head delta on top of
    * main's commits since the fork:
    *
    *   new head names = (live − branchRemoved) ∪ branchAdded
    *
    * under the SAME file-grain lost-update validation branch-scoped
    * DML runs: a file the branch rewrote/deleted or re-vectored that
    * MAIN also rewrote/deleted/re-vectored since the fork is a
    * semantic conflict — the branch's row edits were computed against
    * bytes main has since replaced — and the rebase fails LOUDLY
    * listing the overlapping files (re-plan the branch DML against
    * live). Disjoint histories merge cleanly: main's new appends ride
    * into the rebased head, branch deletions/additions re-apply, and
    * deletion vectors carry per-file from whichever side last touched
    * the file. One new branch snapshot + one refs line — main's
    * pointer never moves; the next [[fastForward]] publishes both
    * sides' changes in one swap. Returns (old base, new base = live,
    * new head). */
  def rebase(dir: String, branch: String): (Long, Long, Long) =
    lockFor(dir).synchronized {
      val token = acquireProcessLock(dir)
      try {
        val cur = refsFull(dir)
        val (head, base, _) = cur.getOrElse(branch,
          throw new IllegalArgumentException(
            s"gseg rebase: no branch '$branch' at $dir"))
        val live = readManifest(dir).getOrElse(
          throw new IllegalArgumentException(
            s"gseg rebase: no generation manifest at $dir"))
        if (live.gen == base) return (base, base, head) // nothing to do
        val baseM = readSnapshotManifest(dir, base).getOrElse(
          throw new IllegalStateException(
            s"gseg rebase: fork-base snapshot v$base of '$branch' is " +
              "gone (vacuumed?) — cannot validate; recreate the branch"))
        val headM = readSnapshotManifest(dir, head).getOrElse(
          throw new IllegalStateException(
            s"gseg rebase: head snapshot v$head of '$branch' is gone"))
        val baseNames = baseM.names.toSet
        val headNames = headM.names.toSet
        val liveNames = live.names.toSet
        val branchRemoved = baseNames -- headNames
        val branchAdded = headNames -- baseNames
        val branchRevectored = (baseNames & headNames)
          .filter(n => headM.dvs.get(n) != baseM.dvs.get(n))
        val mainRemoved = baseNames -- liveNames
        val mainRevectored = (baseNames & liveNames)
          .filter(n => live.dvs.get(n) != baseM.dvs.get(n))
        val conflicts = (branchRemoved ++ branchRevectored) &
          (mainRemoved ++ mainRevectored)
        require(conflicts.isEmpty,
          s"gseg rebase: branch '$branch' and main both rewrote " +
            s"${conflicts.toSeq.sorted.mkString(", ")} since the fork " +
            "— lost-update conflict; re-plan the branch DML against " +
            "the live table")
        val newNames = (liveNames -- branchRemoved) ++ branchAdded
        // vectors: live's map for files main owns, the branch's for
        // files IT last touched (re-vectored survivors + its own adds)
        val dvs = live.dvs.filter { case (n, _) => newNames.contains(n) } ++
          headM.dvs.filter { case (n, _) =>
            newNames.contains(n) &&
              (branchRevectored.contains(n) || branchAdded.contains(n)) }
        val gen = math.max(live.gen + 1, cur.values.map(_._1 + 1).max)
        val body = snapshotBody(dir, gen, newNames.toSeq.sorted,
          Some(live), None, Some(dvs))
        commitProvider.publish(Paths.get(dir), snapshotPath(dir, gen), body)
        // like git: rebase REWRITES the branch lineage — the old
        // chain's diffs described pre-rebase state; the new history
        // is one commit on top of live
        writeRefs(dir, cur + (branch -> ((gen, live.gen, Seq(gen)))))
        (base, live.gen, gen)
      } finally releaseProcessLock(dir, token)
    }

  /** Publish a branch: fast-forward MAIN to the branch head. Legal
    * only while main still sits at the branch's fork base — if main
    * advanced since, the merge is not a fast-forward and the publish
    * fails loudly (recreate the branch from the new live to rebase).
    * Returns (previous live, new live). The branch stays, re-based at
    * its own head, ready for the next WAP cycle. */
  def fastForward(dir: String, branch: String): (Long, Long) =
    lockFor(dir).synchronized {
      val token = acquireProcessLock(dir)
      try {
        val cur = refsFull(dir)
        val (head, base, _) = cur.getOrElse(branch,
          throw new IllegalArgumentException(
            s"gseg fast_forward: no branch '$branch' at $dir"))
        val live = readManifest(dir).map(_.gen).getOrElse(
          throw new IllegalArgumentException(
            s"gseg fast_forward: no generation manifest at $dir"))
        require(live == base,
          s"gseg fast_forward: main advanced from $base to $live since " +
            s"'$branch' forked — not a fast-forward; CALL " +
            "rebase(table, branch) to re-apply the staged changes " +
            "onto the live generation, then fast_forward again")
        if (head != live) {
          // the branch head's snapshot IS the next manifest, verbatim
          val body = Files.readAllBytes(snapshotPath(dir, head))
          commitProvider.publish(Paths.get(dir), manifestPath(dir), body)
        }
        // published: the lineage is main's history now — chain resets
        writeRefs(dir, cur + (branch -> ((head, head, Seq.empty))))
        (live, head)
      } finally releaseProcessLock(dir, token)
    }
}
