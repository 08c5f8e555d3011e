package graft

/** Tiny filesystem helpers shared across the engine's scratch-dir
  * lifecycles (format-roundtrip queries, streaming gates, specs) so
  * the repo carries ONE recursive delete instead of per-site copies
  * that drift on symlink/error handling. */
object Fs {
  /** Best-effort recursive delete: children before parents, individual
    * failures swallowed (scratch cleanup must never fail the caller —
    * a half-deleted temp dir is strictly better than a crashed gate or
    * shutdown hook). Missing paths are a no-op. Does not follow
    * symlinks (Files.walk default). */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => try java.nio.file.Files.delete(f)
          catch { case _: Throwable => () })
      finally walk.close()
    }

  def deleteRecursively(dir: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(dir))

  // per-JVM tag on scratch dirs: a concurrent second JVM on the same sf
  // dir (Verify overlapping Bench on a contended box) must not overwrite
  // files the first is mid-scan on
  private val jvmTag =
    Integer.toHexString(java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName.hashCode)

  /** Scratch dir for write-then-read-back queries, keyed by
    * (prefix, dataset, JVM, SESSION): two sessions in one JVM running
    * the same query concurrently get disjoint dirs (an overwrite would
    * race a scan already planned on the other session), while same-
    * session reruns reuse one dir instead of accreting a copy per run
    * (Bench passes the suite multiple times). Registered for deletion
    * on JVM exit — no reads can be in flight once the JVM is down. */
  def scratchDir(s: org.apache.spark.sql.SparkSession, prefix: String,
      d: String): String = {
    // r18: scratch rides the tmpfs base (same rationale as the stream
    // gates' fastTempDir) — these dirs hold THROWAWAY write-then-read
    // tables whose lifetime is one query, so the gseg commit
    // protocol's per-commit fsyncs (3 per commit) and the data-file
    // writeback land on memory instead of the host disk. Measured at
    // sf0.1: cold roundtrip 3.4 s -> 0.9 s, warm ~5-10% — and it
    // removes the ext4-writeback collapse (PERF_COMPARE.md §r16's
    // documented host-degradation mechanism) from every scratch-table
    // query's failure surface. Durable user tables are unaffected
    // (their location is the caller's; this is scratch only).
    // -Dgraft.scratch.disk=1 restores the disk-backed behavior.
    val base =
      if (sys.props.get("graft.scratch.disk").contains("1"))
        java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      else fastTmpBase
    val dir = base.toString + s"/${prefix}_" +
      d.replaceAll("[^A-Za-z0-9.]", "_") + "_" + jvmTag + "_" +
      Integer.toHexString(System.identityHashCode(s))
    cleanupOnExit(dir)
    dir
  }

  /** tmpfs-backed base for KB-scale gate scaffolding (stream-gate
    * inputs, checkpoints, external state stores): each micro-batch
    * writes offset/commit logs and state files whose fsync latency on
    * a disk-backed /tmp dominates the gates' fixed floor; on /dev/shm
    * it's a memory write. Falls back to java.io.tmpdir when no
    * writable tmpfs exists. Production checkpoints belong on durable
    * storage — this is for the parity gates' throwaway dirs only,
    * which are deleted within the query that made them. */
  lazy val fastTmpBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    base
  }

  /** Temp dir on the fast base (see [[fastTmpBase]]). */
  def fastTempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(fastTmpBase, prefix)

  /** Temp dir on the fast base that lives until JVM exit: the home of
    * per-JVM caches of prebuilt files. */
  def jvmLifetimeDir(prefix: String): java.nio.file.Path = {
    val dir = fastTempDir(prefix)
    cleanupOnExit(dir.toString)
    dir
  }

  private val exitCleanup =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
  private def cleanupOnExit(dir: String): Unit =
    if (exitCleanup.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(dir)))
    }
}
