package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Optimistic concurrency: commutable commits (appends, vector
  * deletes) RETRY a lost CAS and land; non-commutable interleavings
  * (a candidate file replaced or re-vectored mid-DML) fail loudly
  * with the lost-update guard instead of silently undoing the foreign
  * commit. The commit hook is the deterministic interleaving seam. */
class SegConcurrencySpec extends SparkSpec {

  private def cat(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_concspec_$tag").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    (iso, wh)
  }

  /** Fire `foreign` exactly once, at the named commit stage. */
  private def onceAtStaged(foreign: () => Unit): Unit = {
    val fired = new AtomicBoolean(false)
    SegDml.commitHook = stage =>
      if (stage == "staged" && fired.compareAndSet(false, true)) foreign()
  }

  test("withConflictRetry: retries CAS losses, propagates past the " +
      "budget") {
    graft.Counters.clear()
    var n = 0
    val out = SegManifest.withConflictRetry("t") {
      n += 1
      if (n < 3) throw new SegManifest.CommitConflictException("lost")
      42
    }
    assert(out == 42 && n == 3)
    assert(graft.Counters.peek("gseg_commit_retries") == 2L)
    intercept[SegManifest.CommitConflictException] {
      SegManifest.withConflictRetry("t", maxRetries = 2) {
        throw new SegManifest.CommitConflictException("always")
      }
    }
  }

  test("parallel appenders all land: no lost updates, one generation " +
      "per commit") {
    val (iso, wh) = cat("par")
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT, src INT) USING gseg")
    val dir = s"$wh/ns/t"
    val g0 = SegManifest.read(dir).get._1
    val threads = (0 until 6).map { i =>
      new Thread(() =>
        iso.range(100).select(col("id"), lit(i).as("src"))
          .repartition(2).writeTo("tc.ns.t").append())
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(iso.table("tc.ns.t").count() == 600L)
    assert(iso.table("tc.ns.t").groupBy("src").count().count() == 6L)
    assert(SegManifest.read(dir).get._1 == g0 + 6,
      "each append must commit exactly one generation")
  }

  test("COW UPDATE retries across a foreign APPEND (commutes) and " +
      "keeps both commits") {
    val (iso, wh) = cat("upapp")
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT, v BIGINT) USING gseg")
    iso.range(100).select(col("id"), col("id").as("v"))
      .writeTo("tc.ns.t").append()
    val dir = s"$wh/ns/t"
    graft.Counters.clear()
    onceAtStaged { () =>
      // a foreign append lands between the UPDATE's read and its swap
      iso.range(100, 110).select(col("id"), lit(-1L).as("v"))
        .writeTo("tc.ns.t").append()
    }
    try iso.sql("UPDATE tc.ns.t SET v = v + 1000 WHERE id < 50")
    finally SegDml.commitHook = _ => ()
    assert(graft.Counters.peek("gseg_commit_retries") >= 1L,
      "the UPDATE's commit must have retried the lost CAS")
    // both commits visible: the update applied AND the append kept
    assert(iso.table("tc.ns.t").count() == 110L)
    assert(iso.sql("SELECT count(*) FROM tc.ns.t WHERE v >= 1000")
      .head().getLong(0) == 50L)
    assert(iso.sql("SELECT count(*) FROM tc.ns.t WHERE v = -1")
      .head().getLong(0) == 10L)
  }

  test("COW UPDATE fails LOUDLY when a foreign DELETE re-vectors a " +
      "candidate mid-DML (lost-update guard)") {
    val (iso, wh) = cat("updv")
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT, v BIGINT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.range(100).select(col("id"), col("id").as("v"))
      .repartition(1).writeTo("tc.ns.t").append()
    val dir = s"$wh/ns/t"
    onceAtStaged { () =>
      // a foreign merge-on-read DELETE vectors the UPDATE's candidate
      // segment: the rewrite (computed under the old mask) would
      // resurrect these rows if it committed
      val live = SegManifest.readManifest(dir).get
      val seg = live.names.head
      val dv = SegDv.freshName()
      SegDv.write(Paths.get(dir), dv, Array(0, 1, 2))
      SegManifest.swap(dir, live.names,
        expectGen = Some(Some(live.gen)), dvs = Some(Map(seg -> dv)))
    }
    val ex = try intercept[Exception] {
      iso.sql("UPDATE tc.ns.t SET v = v + 1000 WHERE id >= 0")
    } finally SegDml.commitHook = _ => ()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("deletion vector mid-DML")),
      s"wanted the lost-update guard, got: ${messages(ex)}")
    // the foreign DELETE survives; the UPDATE did not half-apply
    assert(iso.table("tc.ns.t").count() == 97L)
    assert(iso.sql("SELECT count(*) FROM tc.ns.t WHERE v >= 1000")
      .head().getLong(0) == 0L)
  }

  test("vector DELETE retries across a foreign APPEND; fails loudly " +
      "when its segment was replaced") {
    val (iso, wh) = cat("dvapp")
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT, v BIGINT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.range(100).select(col("id"), col("id").as("v"))
      .repartition(1).writeTo("tc.ns.t").append()
    graft.Counters.clear()
    onceAtStaged { () =>
      iso.range(100, 120).select(col("id"), col("id").as("v"))
        .writeTo("tc.ns.t").append()
    }
    try iso.sql("DELETE FROM tc.ns.t WHERE id < 10")
    finally SegDml.commitHook = _ => ()
    assert(graft.Counters.peek("gseg_commit_retries") >= 1L)
    assert(iso.table("tc.ns.t").count() == 110L)

    // now a foreign COMPACTION replaces the vectored segment mid-DELETE
    onceAtStaged { () => iso.sql("CALL tc.compact('ns.t', 1)") }
    val ex = try intercept[Exception] {
      iso.sql("DELETE FROM tc.ns.t WHERE id >= 110")
    } finally SegDml.commitHook = _ => ()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("retry the DELETE")),
      s"wanted the replaced-segment guard, got: ${messages(ex)}")
    // the compaction won; nothing was deleted by the failed DELETE
    assert(iso.table("tc.ns.t").count() == 110L)
    // and the retried DELETE (fresh scan against the compacted table)
    // succeeds
    iso.sql("DELETE FROM tc.ns.t WHERE id >= 110")
    assert(iso.table("tc.ns.t").count() == 100L)
  }

  /** Run `body` under an injected [[CommitProvider]], always
    * restoring POSIX — the provider models the filesystem and is
    * process-global. */
  private def withProvider[T](p: CommitProvider)(body: => T): T =
    try { SegManifest.commitProvider = p; body }
    finally SegManifest.commitProvider = PosixCommitProvider

  test("CommitProvider seam: transient exclusive-create failures " +
      "retry through; commits land unchanged") {
    val (iso, wh) = cat("cpflaky")
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT) USING gseg")
    // the store's conditional PUT flakes (spurious precondition
    // failure, the eventual-consistency shape) twice per acquisition
    // — the lock loop's spin-and-recreate must ride over it
    val flakes = new java.util.concurrent.atomic.AtomicInteger(0)
    val p = new CommitProvider {
      override def createExclusive(path: java.nio.file.Path,
          body: Array[Byte]): Unit = {
        if (flakes.getAndIncrement() % 3 != 2)
          throw new java.nio.file.FileAlreadyExistsException(path.toString)
        PosixCommitProvider.createExclusive(path, body)
      }
      override def publish(dir: java.nio.file.Path,
          path: java.nio.file.Path, body: Array[Byte]): Unit =
        PosixCommitProvider.publish(dir, path, body)
    }
    withProvider(p) {
      iso.range(50).writeTo("tc.ns.t").append()
      iso.range(50, 100).writeTo("tc.ns.t").append()
    }
    assert(iso.table("tc.ns.t").count() == 100L)
    assert(SegManifest.read(s"$wh/ns/t").get._1 == 2L)
  }

  test("CommitProvider seam: a NON-ATOMIC publish (torn mid-write " +
      "crash) is detected loudly, never served silently") {
    val (iso, wh) = cat("cptorn")
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT) USING gseg")
    iso.range(100).repartition(4).writeTo("tc.ns.t").append()
    val dir = s"$wh/ns/t"
    assert(iso.table("tc.ns.t").count() == 100L)
    // a fake FS whose second publish of the commit (the LIVE manifest
    // pointer; the first is the snapshot copy) writes a PREFIX
    // in place — no temp, no rename — then dies: the torn-rename
    // shape POSIX forbids and a misconfigured store might not
    var calls = 0
    val p = new CommitProvider {
      override def createExclusive(path: java.nio.file.Path,
          body: Array[Byte]): Unit =
        PosixCommitProvider.createExclusive(path, body)
      override def publish(dir: java.nio.file.Path,
          path: java.nio.file.Path, body: Array[Byte]): Unit = {
        calls += 1
        if (calls == 2) {
          java.nio.file.Files.write(path,
            java.util.Arrays.copyOf(body, (body.length * 3) / 4))
          throw new java.io.IOException("fake store died mid-PUT")
        }
        PosixCommitProvider.publish(dir, path, body)
      }
    }
    withProvider(p) {
      intercept[Exception](
        iso.range(100, 200).repartition(4).writeTo("tc.ns.t").append())
    }
    assert(calls == 2, s"expected the tear on publish #2, saw $calls")
    // the damage is LOUD everywhere downstream: the framing checks
    // (declared count vs body) reject the torn manifest on every
    // read and every subsequent commit — never a silent subset
    val read = intercept[Exception](SegManifest.read(dir))
    assert(read.getMessage.contains("torn manifest"),
      s"got: ${read.getMessage}")
    val commit = intercept[Exception](
      iso.range(200, 300).writeTo("tc.ns.t").append())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(commit).exists(_.contains("torn manifest")),
      s"got: ${messages(commit)}")
    // operator repair: the snapshot copy published ATOMICALLY before
    // the pointer tore — restoring it recovers the committed history
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, ".manifest.v1"),
      java.nio.file.Paths.get(dir, ".manifest"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(iso.table("tc.ns.t").count() == 100L)
  }

  test("branch commit crash seams: a death on either publish strands " +
      "only invisible orphans; vacuum reclaims, a retry lands") {
    val (iso, wh) = cat("brcrash")
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT) USING gseg")
    iso.range(50).writeTo("tc.ns.t").append() // gen 1
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    val dir = s"$wh/ns/t"
    val mainBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ".manifest"))
    def dieOn(prefix: String): CommitProvider = new CommitProvider {
      override def createExclusive(path: java.nio.file.Path,
          body: Array[Byte]): Unit =
        PosixCommitProvider.createExclusive(path, body)
      override def publish(d: java.nio.file.Path,
          path: java.nio.file.Path, body: Array[Byte]): Unit = {
        if (path.getFileName.toString.startsWith(prefix))
          throw new java.io.IOException(s"fake store died on $prefix")
        PosixCommitProvider.publish(d, path, body)
      }
    }
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try {
      // seam 1: die on the SNAPSHOT publish — no snapshot, no ref
      // move; only unreferenced final-named segments strand
      withProvider(dieOn(".manifest.v")) {
        intercept[Exception](
          iso.range(50, 80).writeTo("tc.ns.t").append())
      }
      assert(SegManifest.refs(dir)("wap") == ((1L, 1L)),
        "a failed snapshot publish must not move the ref")
      assert(iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 'wap'")
        .count() == 50)
      // seam 2: die on the REF CAS (.refs) — the snapshot exists but
      // is ref-less: above live, not a head ⇒ invisible everywhere
      withProvider(dieOn(".refs")) {
        intercept[Exception](
          iso.range(50, 80).writeTo("tc.ns.t").append())
      }
      assert(SegManifest.refs(dir)("wap") == ((1L, 1L)))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, ".manifest.v2")),
        "seam-2 fixture: the orphan snapshot must exist")
      intercept[Exception](
        iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 2").collect())
      assert(iso.sql("CALL tc.history('ns.t')").collect()
        .forall(_.getLong(0) != 2L),
        "a ref-less above-live snapshot is not history")
      // main never moved a byte through either crash
      assert(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, ".manifest"))
        .sameElements(mainBytes))
      // vacuum reclaims both strand kinds (orphan segments + the
      // doomed snapshot), keeping gen 1 and the branch intact
      iso.conf.unset(SegManifest.WapBranchConf)
      iso.sql("CALL tc.vacuum('ns.t', keep_last => 1)")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, ".manifest.v2")),
        "vacuum must reclaim the ref-less snapshot")
      assert(iso.table("tc.ns.t").count() == 50)
      // the RETRIED branch commit lands cleanly after the crashes
      iso.conf.set(SegManifest.WapBranchConf, "wap")
      iso.range(50, 80).writeTo("tc.ns.t").append()
      assert(iso.table("tc.ns.t").count() == 80) // branch view
      assert(SegManifest.refs(dir)("wap")._2 == 1L &&
        SegManifest.refs(dir)("wap")._1 > 1L)
    } finally iso.conf.unset(SegManifest.WapBranchConf)
    iso.sql("CALL tc.fast_forward('ns.t', 'wap')")
    assert(iso.table("tc.ns.t").count() == 80)
  }

  // ---------------- one commit path: routing under WAP ----------------

  /** Every name in `dir`, dot-files included. */
  private def listing(dir: String): Seq[String] = {
    val l = Files.list(Paths.get(dir))
    try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally l.close()
  }

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)

  /** The one message of a commit that would move MAIN under WAP. */
  private val MovesMain = "would move MAIN"

  /** INSERT, INSERT OVERWRITE, a copy-on-write UPDATE and a
    * merge-on-read DELETE against `t`. */
  private def fourWrites(iso: SparkSession, t: String): Seq[(String, () => Unit)] =
    Seq(
      "INSERT" -> (() => iso.sql(s"INSERT INTO $t VALUES (100, 100)")),
      "INSERT OVERWRITE" -> (() =>
        iso.sql(s"INSERT OVERWRITE $t SELECT id, id FROM range(0, 20)")),
      "UPDATE" -> (() => iso.sql(s"UPDATE $t SET v = -1 WHERE id < 5")),
      "DELETE" -> (() => iso.sql(s"DELETE FROM $t WHERE id >= 7")))

  private def dmlTable(iso: SparkSession): Unit = {
    iso.sql("CREATE TABLE tc.ns.t (id BIGINT, v BIGINT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.range(10).select(col("id"), col("id").as("v"))
      .writeTo("tc.ns.t").append()
  }

  test("under WAP every branch-scoped write lands on the branch and " +
      "main's manifest keeps its bytes") {
    val (iso, wh) = cat("waproute")
    dmlTable(iso)
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    val dir = s"$wh/ns/t"
    val manifest = Paths.get(dir, ".manifest")
    val mainBytes = Files.readAllBytes(manifest)
    // branch row count after each write: 11 after the INSERT, 20
    // after the OVERWRITE, the UPDATE keeps 20, the DELETE leaves 7
    val counts = Seq(11L, 20L, 20L, 7L)
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try fourWrites(iso, "tc.ns.t").zip(counts).foreach {
      case ((what, write), n) =>
        val head = SegManifest.refs(dir)("wap")._1
        write()
        assert(SegManifest.refs(dir)("wap")._1 > head,
          s"$what must advance the branch head")
        assert(Files.readAllBytes(manifest).sameElements(mainBytes),
          s"$what must not move main")
        assert(iso.table("tc.ns.t").count() == n, what)
    } finally iso.conf.unset(SegManifest.WapBranchConf)
    assert(iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 'wap' " +
      "WHERE v = -1").count() == 5L)
    assert(iso.table("tc.ns.t").count() == 10L) // main
  }

  test("under WAP a table without the branch and a plain path dir " +
      "refuse every write with one message, before anything moves") {
    val (iso, wh) = cat("wapnoref")
    dmlTable(iso)
    val dir = s"$wh/ns/t"
    // a plain path dir: segments only, no manifest and no sidecar
    val pdir = s"$wh/ns/p"
    val rows = iso.range(10).select(col("id"), col("id").as("v"))
    SegSource.write(rows, pdir)
    val before = (listing(dir), listing(pdir))
    def refused(what: String)(write: => Any): Unit = {
      val e = intercept[Exception](write)
      assert(chain(e).exists(_.contains(MovesMain)),
        s"$what: ${chain(e).mkString("; ")}")
    }
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try {
      fourWrites(iso, "tc.ns.t").foreach { case (what, write) =>
        refused(what)(write())
      }
      // path writes commit through `commitStaged` and have no WAP
      // branch; the catalog's DML first migrates the dir to a
      // manifest, a main commit
      refused("path INSERT")(
        rows.write.format("gseg").mode("append").save(pdir))
      refused("path INSERT OVERWRITE")(
        rows.write.format("gseg").mode("overwrite").save(pdir))
      refused("path UPDATE")(
        iso.sql("UPDATE tc.ns.p SET v = -1 WHERE id < 5"))
      refused("path DELETE")(iso.sql("DELETE FROM tc.ns.p WHERE id >= 5"))
    } finally iso.conf.unset(SegManifest.WapBranchConf)
    // the aborted writes' temps are gone, and nothing else moved
    assert(listing(dir) == before._1)
    assert(listing(pdir) == before._2)
    assert(iso.table("tc.ns.t").count() == 10L)
  }

  test("an aborted write leaves no staged temp, whichever writer staged it") {
    val (iso, wh) = cat("abort")
    dmlTable(iso)
    val dir = s"$wh/ns/t"
    val schema = iso.table("tc.ns.t").schema
    var n = 0
    def staged(): SegCommitMessage = {
      n += 1
      val tmp = s"$dir/.tmp-$n.gseg"
      SegSource.writeSegment(IndexedSeq(Array[AnyRef](
        java.lang.Long.valueOf(n), java.lang.Long.valueOf(n))), schema, tmp)
      SegCommitMessage(0, Seq(tmp))
    }
    def temps: Seq[String] = listing(dir).filter(_.startsWith(".tmp-"))
    val settings = SegSettings()
    val update = org.apache.spark.sql.connector.write.RowLevelOperation
      .Command.UPDATE
    val aborts: Seq[(String, Array[
        org.apache.spark.sql.connector.write.WriterCommitMessage] => Unit)] =
      Seq(
        "batch" -> (m => SegBatchWrite(dir, schema, false, settings).abort(m)),
        "stream" -> (m => SegStreamingWrite(dir, schema, false).abort(0L, m)),
        "copy-on-write" -> (m => new SegReplaceDataWrite(dir, schema,
          new SegRowLevelOperation(dir, schema, update, settings), update,
          settings).abort(m)),
        "vector delete" -> (m => new SegDvDeltaWrite(dir, schema, null,
          settings).abort(m)))
    aborts.foreach { case (what, abort) =>
      val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
        if (what == "vector delete")
          Array(SegDvCommitMessage(Map.empty, staged().tmpFiles))
        else Array(staged(), staged())
      assert(temps.nonEmpty)
      abort(msgs)
      assert(temps.isEmpty, s"$what abort left ${temps.mkString(", ")}")
    }
    // a stream epoch commits to MAIN: refused under WAP even on a
    // table carrying the branch, before its temps move
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    val before = listing(dir)
    val epoch = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      staged())
    val active = SparkSession.getActiveSession
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    SparkSession.setActiveSession(iso)
    try {
      val e = intercept[Exception](
        SegStreamingWrite(dir, schema, false).commit(1L, epoch))
      assert(chain(e).exists(_.contains(MovesMain)), chain(e).mkString("; "))
    } finally {
      active.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
      iso.conf.unset(SegManifest.WapBranchConf)
    }
    SegStreamingWrite(dir, schema, false).abort(1L, epoch)
    assert(listing(dir) == before)
  }

  test("src/main keeps the commit path in SegManifest: no other file " +
      "resolves the WAP branch, swaps a branch or renames staged segments") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = Files.walk(root)
    val lines =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "SegManifest.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.map {
          case (l, i) => (p, i + 1, l) })
        .toList
      finally walk.close()
    val wap = lines.collect {
      case (p, n, l) if l.contains("branchSwap(") || l.contains("wapBranch(") ||
          (l.contains("WapBranchConf") && l.contains("conf.get")) => s"$p:$n"
    }
    assert(wap.isEmpty, s"main-or-branch decisions outside SegManifest: " +
      wap.mkString(", "))
    // the one move each of these files makes is not a staged segment
    val otherMoves = Map(
      "SegMeta.scala" -> "the sidecar's atomic publish",
      "SegDv.scala" -> "a deletion vector's atomic publish",
      "SegDml.scala" -> "RENAME TABLE moves the table directory")
    val moves = lines.filter(_._3.contains("Files.move("))
      .groupBy(_._1.getFileName.toString)
    val offenders = moves.toSeq.flatMap { case (f, ls) =>
      if (otherMoves.contains(f) && ls.size == 1) Nil
      else ls.map { case (p, n, _) => s"$p:$n" }
    }
    assert(offenders.isEmpty, "file moves outside SegManifest that may " +
      s"rename staged segments: ${offenders.mkString(", ")}")
  }

  test("src/main lists a directory's segments only in SegManifest and " +
      "SegSource.resolveSegments") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = Files.walk(root)
    val calls =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "SegManifest.scala")
        .flatMap { p =>
          val ls = Files.readAllLines(p).asScala.toIndexedSeq
          // SegSource: the definition itself, and the read-only
          // fallback in the two lines after `def resolveSegments(`
          val resolve = ls.indexWhere(_.contains("def resolveSegments("))
          ls.zipWithIndex.collect {
            case (l, i) if l.contains("listSegments(") &&
                !l.contains("def listSegments(") &&
                !(p.getFileName.toString == "SegSource.scala" &&
                  resolve >= 0 && i > resolve && i <= resolve + 2) =>
              (p.getFileName.toString, s"$p:${i + 1}")
          }
        }.toList
      finally walk.close()
    // the one listing each of these files makes is of a staging temp
    // dir the write just filled, never of a table
    val stagingTemps = Map(
      "SegDml.scala" -> "CTAS publishes the segments its staging dir holds",
      "SegProcedures.scala" -> "compact publishes its rewrite's staging dir")
    val offenders = calls.groupBy(_._1).toSeq.flatMap { case (f, cs) =>
      if (stagingTemps.contains(f) && cs.size == 1) Nil else cs.map(_._2)
    }
    assert(offenders.isEmpty, "segment listings outside SegManifest and " +
      s"resolveSegments: ${offenders.mkString(", ")}")
  }
}
