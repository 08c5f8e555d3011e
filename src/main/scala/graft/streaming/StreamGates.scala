package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.Gates.{sealGate, symDiffEmpty}
import graft.operators.{Changelog, EventOps}

/** Driver-visible correctness gate for the streaming surface (§2.7) —
  * same pattern as [[graft.functions.Gates]]: the streaming engine's
  * output has no SQL oracle (DuckDB can't run a watermark), so the gate
  * runs REAL streaming queries (file source, micro-batches, append
  * mode, watermarks, EventTimeTimeout) over the events table and
  * checks stream==batch equivalence inside Spark, returning one row of
  * booleans a constant oracle verifies.
  *
  * Mechanics: the events table is materialized to a temp dir and
  * streamed back; two sentinel files (far-future timestamps, filtered
  * out of the comparison) then arrive as extra micro-batches — the
  * first advances the watermark past every real window, the second
  * gives the engine a batch in which window finalization and session
  * EventTimeTimeouts actually fire (watermark updates take effect one
  * batch after the data that moved them).
  *
  * SESSION ISOLATION: stateful streaming allocates one state-store
  * partition per shuffle partition PER MICRO-BATCH, so the [[gate]]
  * harness pins shuffle partitions to 1 — on a gate-private child
  * session, never the caller's. The pin lives and dies with the child
  * (shared SparkContext, own SQLConf/temp views), so a concurrent
  * query on the caller's session can never observe it and there is no
  * save/restore to race. The returned frame is re-created on the
  * CALLER's session so downstream writes behave as expected.
  */
object StreamGates {

  /** One gate's resources, handed to the body by [[gate]]: the
    * gate-private child session, a temp root that lives as long as the
    * gate, and trackers for the queries the body starts and the frames
    * it caches. The trackers are thread-safe: Overlap referees cache on
    * their own thread. */
  private[streaming] final class Gate(val iso: SparkSession, val root: String) {
    private val queries =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    private val cached =
      new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

    /** Starts `w` and tracks the query. */
    def start(w: DataStreamWriter[_]): StreamingQuery = track(w.start())

    /** Starts `w` into catalog table `table` and tracks the query. */
    def start(w: DataStreamWriter[_], table: String): StreamingQuery =
      track(w.toTable(table))

    /** Persists `ds` at MEMORY_AND_DISK and tracks it. */
    def cache[T](ds: Dataset[T]): Dataset[T] = {
      cached.add(ds)
      ds.persist(StorageLevel.MEMORY_AND_DISK)
    }

    private def track(q: StreamingQuery): StreamingQuery = {
      queries.add(q)
      q
    }

    /** Stops, releases and deletes everything; never throws, so a
      * failing gate's own exception is the one that surfaces. */
    private[StreamGates] def close(): Unit = {
      queries.forEach(q => try q.stop() catch { case _: Throwable => () })
      cached.forEach(ds => try ds.unpersist() catch { case _: Throwable => () })
      graft.Fs.deleteRecursively(root)
    }
  }

  /** Runs one gate. `body` states the gate's slice, streams, referee
    * and booleans; the harness owns the rest of the lifecycle:
    *  - a gate-private child session (see below) and a fresh temp root;
    *  - on every exit path, success or throw: stop the queries the body
    *    started, unpersist the frames it cached, delete the root;
    *  - on success, collect the body's frame and re-create it on the
    *    caller's session `s` ([[graft.functions.Gates.sealGate]]).
    *
    * The child session inherits the context's defaults (UTC, codegen,
    * etc.) but owns its SQLConf and temp-view catalog. The shuffle
    * width is deliberately MINIMAL (1): stateful streaming allocates
    * one state-store instance per shuffle partition PER MICRO-BATCH
    * (each with its own checkpoint files; a stream-stream join runs
    * FOUR stores per partition, RocksDB gates pay a native instance
    * init each), so gate cost scales with width × batches while the
    * gate data is KB-sized — measured 2→1 partitions: stream family
    * 27.1 s → 23.9 s at identical per-gate job counts. Width is a
    * gate-harness knob, not an operator property: the operators'
    * multi-partition behavior is what the full-width bench queries and
    * specs exercise. */
  private[streaming] def gate(s: SparkSession)(body: Gate => DataFrame): DataFrame = {
    val iso = s.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", "1")
    // AQE is a pure fixed cost at gate scale: every shuffle becomes
    // its own query-stage JOB (plan, schedule, drain — tens of ms
    // each), re-optimized to learn what is already known (the data is
    // KB-sized). The gates' cost is job COUNT, not data; the bench
    // queries proper keep AQE on.
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    // the engine's automatic no-data batches re-run every stateful
    // operator once more after each data batch that moves the
    // watermark; the gates already deliver EXPLICIT finalization
    // batches (the sentinel files), so the automatic ones only double
    // the per-drain batch count
    iso.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val g = new Gate(iso, graft.Fs.fastTempDir("graft_gate").toString)
    try sealGate(s, body(g)) finally g.close()
  }

  /** Pins the RocksDB state-store provider — the backend whose
    * disk-bounded (not heap-bounded) state is the 100 TB default — on
    * a gate's session. [[rocksdbStateAt]] proves it served a run. */
  private def pinRocksDB(g: Gate): Unit =
    g.iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Registers the gate-private gseg catalog `name`, warehoused under
    * the gate's root; returns the warehouse path. */
  private def privateCatalog(g: Gate, name: String): String = {
    val wh = s"${g.root}/wh"
    g.iso.conf.set(s"spark.sql.catalog.$name", "graft.sources.SegCatalog")
    g.iso.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  /** Writes `df` as ONE parquet part under `dir` and returns that
    * part file, ready to be copied into a stream's input dir. */
  private def writePart(df: DataFrame, dir: Path): Path = {
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val l = Files.list(dir)
    try l.iterator().asScala
      .find(f => f.toString.endsWith(".parquet") &&
        !f.getFileName.toString.startsWith("."))
      .getOrElse(throw new IllegalStateException(s"$dir: parquet part missing"))
    finally l.close()
  }

  /** Cap on the near-dup gate's corpus (id-prefix slice; see
    * [[streamNearDupParity]]). */
  private[streaming] val GateDocCap = 2000L

  /** The tws/stateful gates' shared user slice width: every gate that
    * filters `user_id < TwsUsers` AND every derived constant (the
    * lastk tail cut, the oracle SQL's `WHERE user_id < 60`) must agree
    * — a one-sided edit would silently shrink cross-batch coverage to
    * whatever the anti-vacuity counters still tolerate. */
  private[streaming] val TwsUsers = 60L

  /** Per-JVM prebuilt sentinel micro-batch files. A sentinel's only
    * job is to carry an event time far past every real row (so the
    * watermark jumps) and to BE a batch (so the jumped watermark takes
    * effect) — it does not need a data-dependent timestamp, so the
    * 1-row parquet is built ONCE per (JVM, ts) through Spark and then
    * dropped into gate input dirs with a ~1 ms file copy instead of a
    * ~250 ms single-row write job per sentinel per gate per pass.
    * Fixed times sit in 2100, beyond any test corpus. */
  private[streaming] val Sentinel1Ms = 4102444800000L // 2100-01-01 UTC
  private[streaming] val Sentinel2Ms = Sentinel1Ms + 60000L
  private val sentinelCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Path]()
  private def dropSentinel(s: SparkSession, tsMs: Long, inDir: String): Unit = {
    val part = sentinelCache.computeIfAbsent(tsMs, _ => {
      import s.implicits._
      writePart(Seq((-1L, new Timestamp(tsMs), -1L, "sentinel", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        graft.Fs.jvmLifetimeDir("graft_sentinel"))
    })
    Files.copy(part, Paths.get(inDir, s"sentinel-$tsMs-${System.nanoTime()}.parquet"))
    ()
  }

  /** TRUE iff the checkpoint's state directory holds RocksDB's
    * on-disk shapes (`<v>.zip` full snapshots / `<v>.changelog`
    * increments) and none of HDFSBackedStateStore's `<v>.delta` —
    * EVIDENCE the pinned providerClass actually served the run, read
    * back from disk rather than echoed from the conf (a typo'd
    * provider class name would silently fall back; this doesn't). */
  private def rocksdbStateAt(ckpt: String): Boolean = {
    val st = Paths.get(ckpt, "state")
    if (!Files.isDirectory(st)) return false
    val w = Files.walk(st)
    try {
      val names = w.iterator().asScala
        .map(_.getFileName.toString).toSeq
      names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")) &&
        !names.exists(_.endsWith(".delta"))
    } finally w.close()
  }

  /** The join gates' shared time-bound window. */
  private[streaming] val JoinWindow = "2 hours"

  /** Per-JVM cache of the two join gates' identical source layout:
    * the user<200 view/click slices, each time-split into two
    * single-file chunks (the sentinel-cache discipline — build the
    * parquet ONCE per (corpus dir, JVM) through Spark, then populate
    * each gate's private input dirs with ~1 ms file copies instead of
    * four write jobs per gate per pass).
    *
    * The cut is NOT a blind midpoint: it is placed strictly BETWEEN
    * the earliest matched pair's view and click timestamps (view ≤
    * cut < click), so at least one match is GUARANTEED to span the
    * micro-batch boundary — the view must survive in join state
    * across the batch for its click to find it. A blind midpoint
    * measured ZERO straddling pairs on this corpus
    * (sjp_cross_batch_pairs), making the cross-batch-state claim
    * vacuously true; the pair-anchored cut makes it load-bearing.
    * Falls back to the midpoint when no strictly-later pair exists.
    * Returns (viewChunks, clickChunks, cutMs); empty chunk lists
    * signal an empty slice. */
  private case class JoinSlices(viewFiles: Seq[Path],
      clickFiles: Seq[Path], cutMs: Long)
  private val joinSliceCache =
    new java.util.concurrent.ConcurrentHashMap[String, JoinSlices]()
  private def joinSlicesOf(iso: SparkSession, d: String): JoinSlices =
    joinSliceCache.computeIfAbsent(d, _ => {
      val ev = Tables.events(iso, d)
        .filter(col("user_id") < 200 &&
          col("event_type").isin("view", "click"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
        if (mm.isNullAt(0)) JoinSlices(Nil, Nil, 0L)
        else {
          val vs = ev.filter(col("event_type") === "view")
          val cs = ev.filter(col("event_type") === "click")
          val firstPair = vs.as("v").join(cs.as("c"),
              col("v.user_id") === col("c.user_id") &&
                col("c.ts") > col("v.ts") &&
                col("c.ts") <= col("v.ts") + expr(s"INTERVAL $JoinWindow"))
            .select(unix_millis(col("v.ts")).as("vms"),
              unix_millis(col("c.ts")).as("cms"),
              col("v.event_id").as("vid"), col("c.event_id").as("cid"))
            .orderBy(col("vms"), col("cms"), col("vid"), col("cid"))
            .limit(1).collect()
          val cutMs =
            if (firstPair.nonEmpty)
              (firstPair(0).getLong(0) + firstPair(0).getLong(1)) / 2
            else
              (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2
          val root = graft.Fs.jvmLifetimeDir("graft_joinslice")
          def halves(df: DataFrame, tag: String): Seq[Path] = Seq(
            writePart(df.filter(unix_millis(col("ts")) <= cutMs), root.resolve(s"$tag-a")),
            writePart(df.filter(unix_millis(col("ts")) > cutMs), root.resolve(s"$tag-b")))
          JoinSlices(halves(vs, "v"), halves(cs, "c"), cutMs)
        }
      } finally ev.unpersist()
    })
  /** Drop the cached chunk files into a gate-private dir, in order
    * (earlier names list first — FileStreamSource takes oldest/first,
    * so chunk A stays micro-batch 1). */
  private def dropChunks(files: Seq[Path], inDir: String): Unit = {
    Files.createDirectories(Paths.get(inDir))
    // FileStreamSource orders by mtime (ties broken by listing order);
    // copies land ~1ms apart, so ties are real. Stamp strictly increasing
    // mtimes 1s apart so "oldest first" deterministically equals chunk
    // index — otherwise a reordered pair on both sources can jump the
    // global watermark past a pre-cut chunk and late-drop it.
    val base = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = Files.copy(f, Paths.get(inDir, f"chunk-$i%02d.parquet"))
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Per-JVM cache of the tws-family gates' shared source layout —
    * the [[joinSlicesOf]] discipline extended to the `user_id <
    * TwsUsers` slice all six tws/state gates stream: build the slice
    * parquet ONCE per (corpus dir, JVM), pre-split at the oracle's
    * midpoint, then populate each gate's private input dir with ~1 ms
    * file copies. Before this cache, each tws gate re-derived the
    * slice with its own scan + min/max agg + 1-2 write jobs — the
    * stream family's single largest fixed cost (r10: four gates ×
    * ~4 jobs/pass).
    *
    * Layout: `full` carries the slice in [[Streams.eventSchema]]
    * column order (so a gate can file-copy it straight into a
    * readEventStream dir, sentinel-style); the halves split at cutUs
    * = (MIN(us)+MAX(us))/2 — the SAME integer arithmetic as the
    * init/restart oracles' `(MIN+MAX)//2` — and carry
    * (event_id, user_id, event_type, value, us) so both the 3-column
    * tws streams and the static-join gate (which needs event_id) read
    * them with their own pruned schemas. nB is halfB's row count,
    * cached so the restart gate's reprocessed-nothing check costs no
    * extra job per pass. None = empty slice (tiny SF): gates return
    * their all-false rows without starting a stream. */
  private case class TwsSlice(full: Path, halfA: Path, halfB: Path,
      cutUs: Long, nB: Long)
  /** The cache stores a LAZY holder so the Spark jobs of the build
    * run under the holder's own init monitor, not the
    * ConcurrentHashMap bin lock (computeIfAbsent pins the bin for
    * its function's whole duration — ADVICE r11); a failed build
    * leaves the lazy unset (Scala retries on next access) and
    * [[buildTwsSlice]] deletes its partial temp root on the way out
    * instead of leaving it for the shutdown hook. */
  private final class TwsSliceHolder(iso: SparkSession, d: String) {
    lazy val value: Option[TwsSlice] = buildTwsSlice(iso, d)
  }
  private val twsSliceCache =
    new java.util.concurrent.ConcurrentHashMap[String, TwsSliceHolder]()
  private def twsSliceOf(iso: SparkSession, d: String): Option[TwsSlice] =
    twsSliceCache.computeIfAbsent(d, _ => new TwsSliceHolder(iso, d)).value
  private def buildTwsSlice(iso: SparkSession, d: String)
      : Option[TwsSlice] = {
      val ev = Tables.events(iso, d)
        .filter(col("user_id") < TwsUsers)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"),
          unix_micros(col("ts")).as("us"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val mm = ev.agg(min(col("us")), max(col("us"))).head()
        if (mm.isNullAt(0)) None
        else {
          val cutUs = (mm.getLong(0) + mm.getLong(1)) / 2
          val nB = ev.filter(col("us") > cutUs).count()
          val root = graft.Fs.jvmLifetimeDir("graft_twsslice")
          val halfCols = Seq(col("event_id"), col("user_id"),
            col("event_type"), col("value"), col("us"))
          // a failed build must not strand a partial temp root until
          // JVM exit: delete eagerly, rethrow (the lazy holder retries)
          try Some(TwsSlice(
            writePart(ev.select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"), col("props")), root.resolve("full")),
            writePart(ev.filter(col("us") <= cutUs).select(halfCols: _*), root.resolve("a")),
            writePart(ev.filter(col("us") > cutUs).select(halfCols: _*), root.resolve("b")),
            cutUs, nB))
          catch { case e: Throwable => graft.Fs.deleteRecursively(root); throw e }
        }
      } finally ev.unpersist()
  }
  /** Copy one cached slice file into a gate-private input dir. */
  private def dropFile(f: Path, inDir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(inDir))
    Files.copy(f, Paths.get(inDir, name))
    ()
  }

  /** The tws gates' stream over `inDir`: (user_id, event_type, value)
    * rows, one file per micro-batch when `oneFilePerTrigger`. */
  private def twsStream(iso: SparkSession, inDir: String,
      oneFilePerTrigger: Boolean): Dataset[(Long, String, Double)] = {
    val r = iso.readStream.schema(StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType))))
    (if (oneFilePerTrigger) r.option("maxFilesPerTrigger", "1") else r)
      .parquet(inDir)
      .as[(Long, String, Double)](Encoders.product[(Long, String, Double)])
  }

  /** The tws family's batch referee: per-user event count `nb`, the
    * DECIMAL-routed value sum `sum_b`, and (when `types`) the distinct
    * event-type count `ntb`. */
  private def userTotals(ev: DataFrame, types: Boolean): DataFrame = {
    val aggs = Seq(count(lit(1)).as("nb"),
      sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_b")) ++
      (if (types) Seq(countDistinct(col("event_type")).as("ntb")) else Nil)
    ev.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The stream side of the same totals. Update-mode tws output
    * re-emits touched users per batch; the count is monotone, so
    * max(n) and max_by(sum, n) per user are the final fold: `n`,
    * `sum_v` and (when `types`) `nt`. */
  private def foldedTotals(out: Dataset[_], types: Boolean): DataFrame = {
    val aggs = Seq(max(col("n_events")).as("n"),
      max_by(col("sum_value"), col("n_events")).as("sum_v")) ++
      (if (types) Seq(max(col("n_types")).as("nt")) else Nil)
    out.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** TRUE for a user whose fold (n, sum_v, nt) disagrees with the
    * referee (nb, sum_b, ntb) after a join on user_id: missing on
    * either side, a count or (when `types`) type-count mismatch, or a
    * sum drift. The drift bound is RELATIVE: the stream side folds
    * doubles in arrival order over the user's whole slice, so
    * accumulated rounding grows with per-user event count and
    * magnitude — an absolute 1e-6 bound would flake at larger corpora
    * while 1e-9·|sum| tracks double precision (~1e-16/op × thousands
    * of ops) with 6 orders of headroom. */
  private def misfolded(types: Boolean): Column = {
    val counts = col("n").isNull || col("nb").isNull || col("n") =!= col("nb")
    (if (types) counts || col("nt") =!= col("ntb") else counts) ||
      abs(col("sum_v") - col("sum_b")) >= greatest(abs(col("sum_b")), lit(1.0)) * 1e-9
  }

  /** Number of [[misfolded]] users in a joined fold/referee frame. */
  private def misfoldCount(types: Boolean): Column =
    sum(when(misfolded(types), 1L).otherwise(0L))

  /** The gseg gates' slice — users < 40, cached for the gate — and its
    * even/odd event_id halves, the two arriving increments. */
  private def gsegSlice(g: Gate, d: String): (DataFrame, DataFrame, DataFrame) = {
    val ev = g.cache(Tables.events(g.iso, d).filter(col("user_id") < 40)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value")))
    (ev, ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 === 1))
  }

  /** Per-event-type count and DECIMAL value sum (exact under any
    * partitioning) — the gseg gates' parity aggregate. */
  private def typeTotals(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))

  /** A [[typeTotals]]-shaped frame collected as event_type → (n, sv). */
  private def typeMap(df: DataFrame): Map[String, (Long, java.math.BigDecimal)] =
    df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap

  /** The rows a changefeed batch leaves live: the latest change per
    * `key` decides (an update's postimage outranks its preimage; a
    * later delete outranks both), kept when it is an insert or a
    * postimage. The index-maintenance gates apply this per batch. */
  private def liveAfter(batch: DataFrame, key: String): DataFrame =
    batch.withColumn("__rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col(key))
        .orderBy(col("_commit_generation").desc,
          when(col("_change_type") === "update_postimage", 1)
            .otherwise(0).desc)))
      .filter(col("__rk") === 1)
      .filter(col("_change_type").isin("insert", "update_postimage"))

  /** (vec_id, embedding as doubles): the ANN gates' vector input. */
  private def vectorsOf(df: DataFrame): Dataset[(Long, Array[Double])] =
    df.select(col("vec_id").cast("bigint").as("_1"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("_2"))
      .as[(Long, Array[Double])](Encoders.product[(Long, Array[Double])])

  /** Gate query [stream_dedup_parity]: dropDuplicatesWithinWatermark
    * really deduplicates ACROSS micro-batches while keeping only
    * watermark-bounded state. A user slice streams through the dedup
    * (batch 1: all originals), then a duplicate file arrives as a
    * second micro-batch — only events from the last 10 minutes of the
    * slice, so every duplicate's key-state is still inside the 30-min
    * watermark horizon and must be dropped (duplicates of expired keys
    * are exactly what the operator does NOT promise to drop — that's
    * the bounded-state contract, pinned by StreamsSpec). Parity =
    * the appended stream output is set-identical to the slice's
    * distinct event_ids; n_rows gives the oracle a relational check. */
  def streamDedupParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val inDir = s"${g.root}/in"
    // the slice is re-scanned by the write, the dup filter, and the
    // compare mirrors — cache it for the gate's lifetime (KB-sized)
    val ev = g.cache(Tables.events(iso, d)
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")))
    val maxRow = ev.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0)) Seq((false, 0L)).toDF("dedup_parity", "n_rows")
    else {
      ev.write.mode("overwrite").parquet(inDir)
      val maxMs = maxRow.getTimestamp(0).getTime
      val dups = ev.filter(unix_millis(col("ts")) >= maxMs - 10L * 60 * 1000)

      val q = g.start(Streams.dedupedEvents(Streams.readEventStream(iso, inDir))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("sdp_dedup")
        .option("checkpointLocation", s"${g.root}/ckpt"))
      q.processAllAvailable()
      // duplicates arrive as their own micro-batch: per-key state must
      // have survived the first batch boundary for these to be dropped
      dups.write.mode("append").parquet(inDir)
      q.processAllAvailable()
      q.stop()

      val streamIds = iso.table("sdp_dedup").select(col("event_id"))
      val batchIds = ev.select(col("event_id")).distinct()
      symDiffEmpty(streamIds, batchIds, Seq("event_id"))
        .crossJoin(streamIds.agg(count(lit(1)).as("n_stream")))
        .crossJoin(dups.agg(count(lit(1)).as("n_dups")))
        .select(
          (col("l_only") === 0 && col("r_only") === 0 && col("n_dups") > 0)
            .as("dedup_parity"),
          col("n_stream").as("n_rows"))
    }
  }

  /** Gate query [stream_batch_parity]: booleans proving
    *  - the file-stream tumbling-window pipeline (append mode, 30-min
    *    watermark) emits exactly the batch tumbling aggregation, and
    *  - closedSessionsFlushed (flatMapGroupsWithState +
    *    EventTimeTimeout) emits exactly the batch sessionization,
    *    INCLUDING each user's final dangling session — the flush the
    *    NoTimeout variant loses. */
  def streamBatchParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val inDir = s"${g.root}/in"
    // parity holds per event, so a deterministic user slice proves the
    // same engine property at a fraction of the micro-batch/state cost
    // (full-corpus streaming dominated the bench at larger SFs); the
    // identical filter is applied to the batch mirrors below
    val ev = g.cache(Tables.events(iso, d) // 4 compare mirrors re-scan it
      .filter(col("user_id") < 60)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")))
    // an empty slice (tiny SF, reshaped events) must fail the gate as
    // data, not NPE on max(ts): return the all-false row the n_win>0 /
    // n_sess>0 terms would have produced, before any stream starts
    val maxRow = ev.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0))
      Seq((false, false)).toDF("tumbling_parity", "sessions_flushed_parity")
    else {
      ev.write.mode("overwrite").parquet(inDir)
      // tumbling windows: decimal-summed on both sides, so sum_value is
      // bit-exact and can be part of the set-equality key
      val winCols = Seq("win_start", "event_type", "n_events", "sum_value")
      // both batch referees read only the CACHED slice (the sentinels
      // land in the stream dir, never the cache)
      val ((batchWin, batchSess), _) = graft.Overlap.run(iso) {
        val bw = g.cache(EventOps.tumblingWindowOf(ev).select(winCols.map(col): _*))
        bw.count()
        val bs = g.cache(EventOps.sessionizeOf(ev)
          .select(col("user_id"), col("start_us"), col("end_us"),
            col("n_events"), col("sum_value").as("batch_sum")))
        bs.count()
        (bw, bs)
      } {
        val tq = g.start(Streams.tumblingCounts(Streams.readEventStream(iso, inDir))
          .writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName("sbp_tumbling")
          .option("checkpointLocation", s"${g.root}/ckpt_t"))
        val sq = g.start(Streams.closedSessionsFlushed(
            Streams.readEventStream(iso, inDir)
              .select("event_id", "ts", "user_id", "event_type", "value")
              .as[Streams.EventRow])
          .writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName("sbp_sessions")
          .option("checkpointLocation", s"${g.root}/ckpt_s"))
        def drain(): Unit = { tq.processAllAvailable(); sq.processAllAvailable() }
        drain()
        dropSentinel(iso, Sentinel1Ms, inDir); drain()
        dropSentinel(iso, Sentinel2Ms, inDir); drain()
        tq.stop(); sq.stop()
      }

      val streamWin = iso.table("sbp_tumbling")
        .filter(col("event_type") =!= "sentinel").select(winCols.map(col): _*)
      val winParity = symDiffEmpty(streamWin, batchWin, winCols)
        .crossJoin(streamWin.agg(count(lit(1)).as("n_win")))
        .select((col("l_only") === 0 && col("r_only") === 0 && col("n_win") > 0)
          .as("tumbling_parity"))

      // sessions: identity on (user, bounds, count) is exact; the value
      // sum is folded in arrival order as doubles stream-side vs decimal
      // batch-side, so it is compared within an ulp tolerance instead
      val sessKeys = Seq("user_id", "start_us", "end_us", "n_events")
      val streamSess = iso.table("sbp_sessions").filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"), col("sum_value"))
      val sessParity = symDiffEmpty(streamSess, batchSess, sessKeys)
        .crossJoin(streamSess.join(batchSess, sessKeys)
          .agg(coalesce(max(abs(col("sum_value") - col("batch_sum"))), lit(0.0))
            .as("max_diff"),
            count(lit(1)).as("n_sess")))
        .select((col("l_only") === 0 && col("r_only") === 0 &&
          col("max_diff") < 1e-6 && col("n_sess") > 0)
          .as("sessions_flushed_parity"))

      winParity.crossJoin(sessParity)
    }
  }

  /** Gate query [stream_upsert_parity]: the foreachBatch CDC-sink
    * pattern — every micro-batch is compacted and MERGED into a
    * persistent keyed state (alternating parquet dirs: read current,
    * merge, write the other — never overwrite what a plan may still
    * read), and the final state must equal the one-shot batch
    * compaction of the whole input. That equality is exactly the
    * semilattice law [[graft.operators.Changelog.mergeCompacted]]
    * documents, here proven across REAL micro-batch boundaries: the
    * input arrives as three single-file chunks with maxFilesPerTrigger
    * = 1, so at least two incremental merges actually run. At scale
    * the same loop writes to a keyed table (the state is one row per
    * live key, not history), which is how a streaming upsert sink
    * works on any immutable-file table format. */
  def streamUpsertParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val inDir = s"${g.root}/in"
    val ev = g.cache(Tables.events(iso, d)
      .filter(col("user_id") < 60)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")))
    if (ev.head(1).isEmpty) Seq((false, 0L)).toDF("upsert_parity", "n_rows")
    else {
      // two single-file chunks -> two micro-batches at one file each —
      // the minimum where an INCREMENTAL merge actually runs (the gate
      // pins nBatches >= 2); the third chunk of earlier rounds only
      // added fixed micro-batch latency
      (0 until 2).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(2)) === i)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val states = Seq(s"${g.root}/state0", s"${g.root}/state1")
      Changelog.latestByKeyOf(ev.limit(0))
        .write.mode("overwrite").parquet(states(0))
      @volatile var cur = 0
      @volatile var nBatches = 0L
      // the one-shot batch referee reads only the cached slice
      val (oneShot, finalState) = graft.Overlap.run(iso) {
        val b = g.cache(Changelog.latestByKeyOf(ev))
        b.count()
        b
      } {
        val q = g.start(iso.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val merged = Changelog.mergeCompacted(
              iso.read.parquet(states(cur)), Changelog.latestByKeyOf(batch))
            merged.write.mode("overwrite").parquet(states(1 - cur))
            cur = 1 - cur
            nBatches += 1
          }
          .option("checkpointLocation", s"${g.root}/ckpt"))
        q.processAllAvailable()
        q.stop()
        iso.read.parquet(states(cur))
      }
      val cols = Seq("user_id", "ts_us", "event_id", "event_type", "value")
      symDiffEmpty(finalState, oneShot, cols)
        .crossJoin(finalState.agg(count(lit(1)).as("n_state")))
        .select(
          (col("l_only") === 0 && col("r_only") === 0 &&
            lit(nBatches) >= 2 && col("n_state") > 0).as("upsert_parity"),
          col("n_state").as("n_rows"))
    }
  }

  /** Gate query [stream_availablenow_parity]: Trigger.AvailableNow —
    * the batch-over-stream mode a SCHEDULED incremental job runs:
    * start, drain everything new, self-terminate. The gate runs the
    * drain TWICE over a growing directory with one shared checkpoint:
    * run 1 sees only chunk A; chunk B lands while nothing is running;
    * run 2 restarts from the checkpoint and must pick up EXACTLY the
    * new files (no re-read — the file-sink output would double — and
    * no gap), self-terminating again. Final sink contents must equal
    * the one-shot batch read of the whole input, set-identical on
    * event_id AND count-identical (the count catches duplicates that
    * a set comparison would forgive). This is the operational
    * completion of the streaming story: the other three gates prove
    * state semantics inside one run; this one proves incremental
    * exactly-once ACROSS runs, which is how 100 TB ingest actually
    * operates (a cron'd AvailableNow drain into a keyed table). */
  def streamAvailableNowParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val inDir = s"${g.root}/in"
    val outDir = s"${g.root}/out"
    val ckpt = s"${g.root}/ckpt"
    val ev = g.cache(Tables.events(iso, d)
      .filter(col("user_id") < 80)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")))
    if (ev.head(1).isEmpty) Seq((false, 0L)).toDF("availablenow_parity", "n_rows")
    else {
      // one incremental drain: AvailableNow must terminate on its own
      def drainOnce(): Boolean = {
        val q = g.start(iso.readStream.schema(ev.schema).parquet(inDir)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append))
        val done = q.awaitTermination(180000)
        q.stop()
        done
      }
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .write.mode("append").parquet(inDir)
      val done1 = drainOnce()
      // chunk B arrives BETWEEN runs — the restart, not a running
      // query, must discover it from the checkpointed file log
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .write.mode("append").parquet(inDir)
      val done2 = drainOnce()

      val streamed = iso.read.schema(ev.schema).parquet(outDir)
      symDiffEmpty(streamed.select(col("event_id")),
          ev.select(col("event_id")), Seq("event_id"))
        .crossJoin(streamed.agg(count(lit(1)).as("n_out")))
        .crossJoin(ev.agg(count(lit(1)).as("n_in")))
        .select(
          (col("l_only") === 0 && col("r_only") === 0 &&
            col("n_out") === col("n_in") && lit(done1) && lit(done2))
            .as("availablenow_parity"),
          col("n_out").as("n_rows"))
    }
  }

  /** Gate query [stream_neardup_parity]: incremental MinHash-LSH
    * near-dup detection over a document STREAM — the capability a
    * training-data ingest pipeline actually needs (batch corpus dedup
    * answers "is this corpus clean"; this answers "is the document
    * that just arrived a near-dup of anything we already accepted").
    *
    * Pattern: foreachBatch against an ACCUMULATING EXTERNAL STORE of
    * band keys + shingle sets (two append-only parquet dirs). Each
    * micro-batch (1) shingles + bands its docs with the same kernels
    * as the batch path, (2) finds candidates by equi-joining its band
    * keys against the store (earlier docs) and itself (within-batch,
    * smaller id first), (3) exact-Jaccard-verifies candidates against
    * the shingle store, (4) appends decisions, bands and shingles.
    * This is the production shape at 100 TB: the state is an
    * addressable, compactable table (restart-safe, shareable across
    * jobs), every join is equi-keyed on (band, bh) or doc_id, and the
    * per-batch cost scales with batch×collisions, never corpus².
    * In-operator state (mapGroupsWithState keyed by band) would bury
    * the same data in a state store that can't be compacted or read
    * by the next pipeline over.
    *
    * Parity: a doc is a near-dup iff it collides-and-verifies (j ≥
    * 0.6) with ANY doc that arrived strictly before it (earlier
    * batch, or same batch with smaller doc_id). The referee reruns
    * the BATCH LSH over the whole corpus and re-orients each pair by
    * the RECORDED arrival order — so the gate is deterministic even
    * if the file source reorders the chunks. Stream dup set
    * must equal the referee's exactly (set equality, not recall). */
  def streamNearDupParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    import graft.functions.Dedup
    val inDir = s"${g.root}/in"
    // Gate corpus cap: parity is a correctness contract, so its cost
    // should be CONSTANT in corpus size, not proportional — unbounded
    // LSH scale is dedup_minhash_lsh's job. doc_ids are dense from 0,
    // so an id-prefix slice keeps ≤2000 docs at any SF (the whole
    // corpus at sf≤0.01; planted near-dups are ~5% of docs, so the
    // slice always retains pairs), same discipline as the event
    // gates' user_id slices.
    val docs = g.cache(Tables.documents(iso, d) // chunk cuts, chunk writes
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < GateDocCap))
    // two id-range chunks → two micro-batches (range split keeps
    // arrival order ≈ id order; the referee doesn't depend on it).
    // Two is the minimum that exercises BOTH candidate sources —
    // store-join (cross-batch) and within-batch — at one less batch
    // of fixed micro-batch latency than the earlier 3-chunk split.
    // The cut is the id-range MIDPOINT from the same min/max agg
    // (chunk balance is not a correctness input — both chunks are
    // non-empty for any ≥2 distinct ids — and the former
    // approxQuantile charged a dedicated sketch job for balance
    // nothing consumed). A null min doubles as the emptiness probe —
    // no separate head(1) job.
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (mm.isNullAt(0))
      Seq((false, false, 0L)).toDF("neardup_parity", "incremental_stream", "n_rows")
    else {
      val cut = mm.getLong(0) / 2 + mm.getLong(1) / 2
      Seq(
        docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut))
        .foreach(_.coalesce(1).write.mode("append").parquet(inDir))

      val bandStore = s"${g.root}/bands"
      val shingleStore = s"${g.root}/shingles"
      val decisionStore = s"${g.root}/decisions"
      // stores materialize lazily: batch 1 reads the typed EMPTY frame
      // (no priming write jobs), later batches read the parquet the
      // earlier ones appended
      val empty = Dedup.shingleHashesOf(docs.limit(0))
      def readStore(path: String, orElse: DataFrame): DataFrame =
        if (Files.isDirectory(Paths.get(path))) iso.read.parquet(path)
        else orElse

      val q = g.start(iso.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val sh = Dedup.shingleHashesOf(batch)
            .persist(StorageLevel.MEMORY_AND_DISK)
          val bands = Dedup.minhashBandsOf(sh).toDF()
          val seenBands = readStore(bandStore, Dedup.minhashBandsOf(empty).toDF())
          val candStore = bands.as("x").join(seenBands.as("y"),
              col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
            .select(col("y.doc_id").as("doc_a"), col("x.doc_id").as("doc_b"))
          val candBatch = bands.as("x").join(bands.as("y"),
              col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
                col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          val allSh = readStore(shingleStore, empty.toDF()).union(sh.toDF())
          val dupIds = candStore.union(candBatch).distinct()
            .join(allSh.select(col("doc_id").as("doc_a"), col("sh").as("sa")),
              Seq("doc_a"))
            .join(sh.toDF().select(col("doc_id").as("doc_b"), col("sh").as("sb")),
              Seq("doc_b"))
            .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
            .as[(Long, Long, Array[Long], Array[Long])]
            .mapPartitions(_.flatMap { case (_, db, sa, sb) =>
              val common = Dedup.intersectSize(sa, sb)
              val j = common.toDouble / (sa.length + sb.length - common).toDouble
              if (j >= 0.6) Iterator.single(db) else Iterator.empty
            })
            .toDF("doc_id").distinct()
          // decisions are batch-keyed and overwritten (not appended)
          // so a micro-batch retry / checkpoint replay can't
          // duplicate rows — same idempotence discipline as the
          // quantile gate's grid store
          batch.select(col("doc_id"))
            .withColumn("batch_no", lit(bid))
            .join(dupIds.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
            .na.fill(false, Seq("is_dup"))
            .write.mode("overwrite").parquet(s"$decisionStore/batch=$bid")
          bands.write.mode("append").parquet(bandStore)
          sh.toDF().write.mode("append").parquet(shingleStore)
          sh.unpersist()
          ()
        }
        .option("checkpointLocation", s"${g.root}/ckpt"))
      q.processAllAvailable()
      q.stop()

      // batch referee: same LSH over the whole gate corpus, each pair
      // re-oriented by recorded (batch_no, doc_id) arrival — the later
      // endpoint is the duplicate. Shingles come from the stream's own
      // store (every doc passed through exactly one batch, which wrote
      // its shingles) — re-shingling the corpus was the referee's
      // single biggest CPU line and proved nothing extra: shingle
      // correctness is DedupSpec's job, this gate proves the
      // incremental LSH decisions match the batch LSH over the SAME
      // shingles.
      val decisions = iso.read.parquet(decisionStore)
        .select(col("doc_id"), col("batch_no"), col("is_dup"))
      val arrival = decisions.select(col("doc_id"), col("batch_no"))
      val shAll = g.cache(iso.read.parquet(shingleStore)
        .as[Dedup.DocShingles](Encoders.product[Dedup.DocShingles]))
      val refDups = Dedup.minhashLshOf(shAll, 0.6)
        .join(arrival.select(col("doc_id").as("doc_a"), col("batch_no").as("ba")),
          Seq("doc_a"))
        .join(arrival.select(col("doc_id").as("doc_b"), col("batch_no").as("bb")),
          Seq("doc_b"))
        .select(when(col("bb") > col("ba") ||
            (col("bb") === col("ba") && col("doc_b") > col("doc_a")),
          col("doc_b")).otherwise(col("doc_a")).as("doc_id"))
        .distinct()
      val streamDups = decisions.filter(col("is_dup")).select(col("doc_id"))
      // batch count from the store's distinct batch ids (replay-proof),
      // not a driver-side counter
      symDiffEmpty(streamDups, refDups, Seq("doc_id"))
        .crossJoin(decisions.agg(count(lit(1)).as("n_decided"),
          countDistinct(col("batch_no")).as("n_batches")))
        .crossJoin(streamDups.agg(count(lit(1)).as("n_dups")))
        .select(
          (col("l_only") === 0 && col("r_only") === 0 && col("n_dups") > 0)
            .as("neardup_parity"),
          (col("n_batches") === 2L).as("incremental_stream"),
          col("n_decided").as("n_rows"))
    }
  }

  /** Gate query [stream_session_parity]: the NATIVE session_window
    * streaming aggregate — merging per-key session state across
    * events, finalized in append mode only when the watermark passes a
    * session's close — emits exactly the batch session_window
    * aggregation over the same slice. Completes the stateful-operator
    * gate set: tumbling (stream_batch_parity), dedup, upsert,
    * flatMapGroupsWithState sessions — this one exercises the
    * session-merge state store itself. Per-session sums are
    * decimal-routed on both sides, so sum_value participates in the
    * set-equality key bit-exactly; the oracle recomputes the session
    * count via the lag/cumsum formulation (the gap comparator parity
    * — exact gap merges — is pinned by EventOpsSpec). */
  def streamSessionParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val inDir = s"${g.root}/in"
    // slice pinned to the oracle's WHERE user_id < 60 (SparkEntry)
    val ev = g.cache(Tables.events(iso, d)
      .filter(col("user_id") < 60)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")))
    val maxRow = ev.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0)) Seq((false, 0L)).toDF("session_parity", "n_sessions")
    else {
      ev.write.mode("overwrite").parquet(inDir)

      val cols = Seq("sess_start", "sess_end", "user_id", "n_events",
        "sum_value")
      // the batch referee reads only the cached slice
      val (batchSess, _) = graft.Overlap.run(iso) {
        val b = g.cache(ev
          .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast("double").as("sum_value"))
          .select(col("session_window.start").as("sess_start"),
            col("session_window.end").as("sess_end"),
            col("user_id"), col("n_events"), col("sum_value")))
        b.count()
        b
      } {
        val q = g.start(Streams.sessionWindows(Streams.readEventStream(iso, inDir))
          .writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName("ssp_sessions")
          .option("checkpointLocation", s"${g.root}/ckpt"))
        q.processAllAvailable()
        // first sentinel advances the watermark past every real
        // session; the second gives the engine the batch in which
        // finalization actually fires
        dropSentinel(iso, Sentinel1Ms, inDir); q.processAllAvailable()
        dropSentinel(iso, Sentinel2Ms, inDir); q.processAllAvailable()
        q.stop()
      }

      val streamSess = iso.table("ssp_sessions")
        .filter(col("user_id") >= 0).select(cols.map(col): _*)
      symDiffEmpty(streamSess, batchSess, cols)
        .crossJoin(streamSess.agg(count(lit(1)).as("n_sess")))
        .select(
          (col("l_only") === 0 && col("r_only") === 0 && col("n_sess") > 0)
            .as("session_parity"),
          col("n_sess").as("n_sessions"))
    }
  }

  /** Gate query [stream_join_parity]: the watermarked STREAM-STREAM
    * inner join — the last stateful streaming operator without a
    * driver row (tumbling agg, dedup, sessions ×2, upsert, quantile
    * merge, neardup store all have gates; joins lived only in
    * StreamsSpec's MemoryStream tests). Two REAL file streams — the
    * slice's view events and click events in separate dirs, each
    * time-split into two files with maxFilesPerTrigger=1 at a cut
    * placed BETWEEN a matched pair's view and click (see
    * [[joinSlicesOf]]) — so at least one match GENUINELY spans the
    * micro-batch boundary: the view must survive in join state across
    * the batch for its later click to find it (with click ≥ view and
    * time-ordered chunks, that is the only direction a straddle can
    * take; the counter pins it non-vacuous). The watermark (45 days)
    * exceeds the corpus span, so no state is evicted mid-drain and
    * stream==batch equality is exact; the time-bound join condition
    * is still what makes the state provably prunable at production
    * watermarks (eviction semantics are StreamsSpec's left-outer
    * coverage). Parity: the appended (view_id, click_id) pair set
    * equals the BATCH join of the same slices through the identical
    * declarative plan (withWatermark is a no-op in batch execution —
    * one definition, two engines); n_rows anchors relationally via
    * the oracle's self-join count. Slice capped at user_id < 200
    * (dense ids ⇒ constant gate cost at any SF, the GateDocCap
    * discipline); cross-midpoint matches land in bench counters as
    * sjp_cross_batch_pairs — diagnostic, not oracle-gated, because
    * their existence depends on the corpus, not the engine. */
  def streamJoinParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    // join state under RocksDB; the gate VERIFIES it served the run
    // from the checkpoint's on-disk shapes (rocksdbStateAt), not the
    // conf echo
    pinRocksDB(g)
    val viewDir = s"${g.root}/views"
    val clickDir = s"${g.root}/clicks"
    // source layout from the per-JVM cache (shared with the outer
    // gate — identical slices, built once); batch mirrors read the
    // same files, so stream and referee see byte-identical input
    val sl = joinSlicesOf(iso, d)
    if (sl.viewFiles.isEmpty)
      Seq((false, 0L, false)).toDF("join_parity", "n_rows", "rocksdb_state")
    else {
      val cutMs = sl.cutMs
      dropChunks(sl.viewFiles, viewDir)
      dropChunks(sl.clickFiles, clickDir)
      val views = iso.read.parquet(viewDir)
      val clicks = iso.read.parquet(clickDir)
      val schema = views.schema
      val pairCols = Seq("view_id", "click_id")

      // the batch referee reads only the dropped chunk files
      val (batchPairs, _) = graft.Overlap.run(iso) {
        val b = g.cache(Streams.viewClickJoin(views, clicks,
          watermark = "45 days", window = JoinWindow))
        b.count()
        b
      } {
        val q = g.start(Streams.viewClickJoin(
            iso.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(viewDir),
            iso.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(clickDir),
            watermark = "45 days", window = JoinWindow)
          .writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName("sjp_join")
          .option("checkpointLocation", s"${g.root}/ckpt"))
        q.processAllAvailable()
        q.stop()
      }

      val streamPairs = iso.table("sjp_join")
      // cross-batch pair count rides the gate's own collect (one job,
      // not a separate count() action); harvested into Counters below
      val rows = sealGate(iso, symDiffEmpty(streamPairs.select(pairCols.map(col): _*),
          batchPairs.select(pairCols.map(col): _*), pairCols)
        .crossJoin(streamPairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(unix_millis(col("view_ts")) <= cutMs &&
            unix_millis(col("click_ts")) > cutMs, 1L).otherwise(0L))
            .as("n_cross")))
        .select(
          (col("l_only") === 0 && col("r_only") === 0 && col("n_pairs") > 0)
            .as("join_parity"),
          col("n_pairs").as("n_rows"),
          col("n_cross")))
      rows.collect().headOption.filterNot(_.isNullAt(2))
        .foreach(r => graft.Counters.add("sjp_cross_batch_pairs", r.getLong(2)))
      rows.select(col("join_parity"), col("n_rows"),
        lit(rocksdbStateAt(s"${g.root}/ckpt")).as("rocksdb_state"))
    }
  }

  /** Gate query [stream_outer_join_parity]: the LEFT OUTER
    * stream-stream join — the delayed-null semantics the inner gate
    * can't exercise: an unmatched view may only emit (with null click
    * columns) once the WATERMARK has passed its entire join window,
    * because until then a matching click could still arrive. Same
    * two-dirs / pair-anchored time split / maxFilesPerTrigger=1
    * arrival as [stream_join_parity] but with the production-shaped
    * 30-minute watermark, so state eviction is LIVE during the run (a
    * batch-1
    * view is evictable only once no batch-2 click could match it —
    * the time-bound condition makes that provable, which is the whole
    * contract). Sentinels then push the watermark past every real
    * view's window and flush the unmatched rows, one finalization
    * batch later. The global watermark is the min across sources, so
    * each sentinel must reach BOTH dirs in one batch: the query stops
    * after the data batches, both sentinel pairs land, and the query
    * restarts from its checkpoint, taking one view/click pair per
    * batch (a running query could start a batch between two copies).
    * The memory sink cannot restart in Append mode, so the rows land
    * in the parquet file sink. Parity: the appended (view_id,
    * click_id|null) set equals the batch LEFT join from the identical
    * declarative definition; n_rows anchors via the oracle's
    * left-join count (≥ the view count — every view survives). */
  def streamOuterJoinParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    // RocksDB join state with LIVE eviction (30-min watermark): the
    // provider's remove path runs here, not just put/get — verified
    // from the checkpoint's on-disk shapes like the inner gate
    pinRocksDB(g)
    val viewDir = s"${g.root}/views"
    val clickDir = s"${g.root}/clicks"
    val outDir = s"${g.root}/out"
    val ckpt = s"${g.root}/ckpt"
    // same cached source layout as the inner gate
    val sl = joinSlicesOf(iso, d)
    if (sl.viewFiles.isEmpty)
      Seq((false, 0L, false)).toDF("outer_join_parity", "n_rows", "rocksdb_state")
    else {
      dropChunks(sl.viewFiles, viewDir)
      dropChunks(sl.clickFiles, clickDir)
      // the batch mirrors read the CHUNK FILES by explicit path (not
      // the dirs): the referee below overlaps the stream, and the gate
      // drops sentinel files into the dirs mid-run — a dir-level read
      // racing those copies could list a half-written file. Explicit
      // paths make the referee's input set immutable; the user -1
      // filter stays as belt-and-braces (sentinels never exist in the
      // chunk files).
      def chunkPaths(dir: String, n: Int): Seq[String] =
        (0 until n).map(i => f"$dir/chunk-$i%02d.parquet")
      val views = iso.read
        .parquet(chunkPaths(viewDir, sl.viewFiles.size): _*)
        .filter(col("user_id") >= 0)
      val clicks = iso.read
        .parquet(chunkPaths(clickDir, sl.clickFiles.size): _*)
        .filter(col("user_id") >= 0)
      val schema = iso.read.parquet(viewDir).schema
      val joined = Streams.viewClickLeftOuter(
        iso.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(viewDir),
        iso.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(clickDir),
        watermark = "30 minutes", window = JoinWindow)
      // the run restarts from its checkpoint, which the memory sink
      // refuses in Append mode — rows land in the parquet file sink
      def run(): Unit = {
        val q = g.start(joined.writeStream.outputMode(OutputMode.Append)
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt))
        q.processAllAvailable()
        q.stop()
      }

      val (batchRows, _) = graft.Overlap.run(iso) {
        val b = g.cache(Streams.viewClickLeftOuter(views, clicks,
            watermark = "30 minutes", window = JoinWindow)
          .select(col("view_id"),
            coalesce(col("click_id"), lit(-1L)).as("ck")))
        b.count()
        b
      } {
        run()
        // watermark must pass every view's [ts, ts+2h] window before
        // its unmatched null row may emit; the second sentinel gives
        // the engine the batch where the jumped watermark takes effect.
        // The global watermark is the min across the two sources, so a
        // sentinel must reach both in ONE batch: they land while no
        // query runs, and the restarted query (maxFilesPerTrigger=1
        // per source) takes one view/click pair per batch
        dropSentinel(iso, Sentinel1Ms, viewDir)
        dropSentinel(iso, Sentinel1Ms, clickDir)
        dropSentinel(iso, Sentinel2Ms, viewDir)
        dropSentinel(iso, Sentinel2Ms, clickDir)
        run()
      }

      // sentinel rows (user -1) ride the streams only to move the
      // watermark; they never compare
      val key = Seq("view_id", "ck")
      val streamRows = iso.read.schema(joined.schema).parquet(outDir)
        .filter(col("user_id") >= 0)
        .select(col("view_id"), coalesce(col("click_id"), lit(-1L)).as("ck"))
      symDiffEmpty(streamRows, batchRows, key)
        .crossJoin(streamRows.agg(count(lit(1)).as("n_rows"),
          sum(when(col("ck") === -1L, 1L).otherwise(0L)).as("n_null")))
        .select(
          (col("l_only") === 0 && col("r_only") === 0 &&
            col("n_rows") > 0 && col("n_null") > 0)
            .as("outer_join_parity"),
          col("n_rows"))
        .withColumn("rocksdb_state", lit(rocksdbStateAt(ckpt)))
    }
  }

  /** Gate query [stream_tws_parity]: the transformWithState
    * arbitrary-stateful API (Spark 4's successor to
    * mapGroupsWithState: typed state variables, timers, TTL, and the
    * RocksDB state-store backend this gate PINS — changelog-
    * checkpointed state bounded by disk, not executor heap). Per-user
    * running (n, Σvalue) totals accumulate across two micro-batches
    * (time-midpoint file split, maxFilesPerTrigger=1 — most users have
    * events in both halves, so ValueState genuinely carries across the
    * batch boundary and a state-reset bug can't pass). Update-mode
    * output re-emits touched users per batch; the count is monotone,
    * so max_by(n) per user is the final total — it must equal the
    * batch aggregate: n exactly, the double sum within the same ulp
    * tolerance as the session gate (stream folds arrival-order
    * doubles, batch sums DECIMAL). The processor carries TWO
    * independently-typed state variables per key — ValueState totals
    * plus a MapState of per-event-type tallies (its key count must
    * equal the batch countDistinct exactly) — the multi-variable
    * layout GroupState's single blob can't express. n_users anchors
    * relationally. */
  def streamTwsParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    pinRocksDB(g)
    val inDir = s"${g.root}/in"
    // source layout from the per-JVM slice cache: the two midpoint
    // halves become the two micro-batches, and the batch mirror
    // reads the cached full file instead of re-scanning the corpus
    twsSliceOf(iso, d) match {
      case None => Seq((false, 0L, false)).toDF("tws_parity", "n_users", "rocksdb_state")
      case Some(sl) =>
        dropChunks(Seq(sl.halfA, sl.halfB), inDir)
        val ev = iso.read.parquet(sl.full.toString)

        // the batch referee reads only the cached slice file
        val (batchTotals, _) = graft.Overlap.run(iso) {
          val b = g.cache(userTotals(ev, types = true))
          b.count()
          b
        } {
          val q = g.start(Streams.runningTotalsTws(
              twsStream(iso, inDir, oneFilePerTrigger = true))
            .writeStream.outputMode(OutputMode.Update())
            .format("memory").queryName("stw_totals")
            .option("checkpointLocation", s"${g.root}/ckpt"))
          q.processAllAvailable()
          q.stop()
        }

        foldedTotals(iso.table("stw_totals"), types = true)
          .join(batchTotals, Seq("user_id"), "full_outer")
          .agg(count(lit(1)).as("n_users"), misfoldCount(types = true).as("bad"))
          .select((col("bad") === 0 && col("n_users") > 0).as("tws_parity"),
            col("n_users"))
          // the pinned provider, PROVEN from the checkpoint's on-disk
          // shapes (RocksDB .zip/.changelog, no HDFSBacked .delta) —
          // a typo'd providerClass would silently fall back; this won't
          .withColumn("rocksdb_state", lit(rocksdbStateAt(s"${g.root}/ckpt")))
    }
  }

  /** Gate query [tws_batch_unified]: the SAME StatefulProcessor as
    * [[streamTwsParity]], executed as a BATCH operator — Spark 4
    * routes transformWithState on a batch relation through
    * `TransformWithStateExec.generateSparkPlanForBatchQueries`, so
    * state logic written once runs under both execution modes (the
    * unified-API claim, executed rather than cited; the backfill /
    * reprocess-history path every production streaming job eventually
    * needs). Here each user's full slice arrives in ONE
    * handleInputRows call over an ephemeral per-partition state
    * store: the emitted totals must equal the relational aggregate —
    * n and the MapState distinct-type count exactly, the double fold
    * within the family's relative tolerance (batch tws folds doubles
    * in partition iteration order, the referee sums DECIMAL).
    * Output is aggregated with the stream gate's max/max_by shape so
    * a mode that re-emitted per-row instead of per-key would also be
    * caught by n (monotone count) disagreeing with the referee.
    * n_users is oracle-pinned to the slice's COUNT(DISTINCT user). */
  def twsBatchUnified(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    pinRocksDB(g)
    // batch-mode stateful execution still resolves its ephemeral
    // stores through the driver's StateStoreCoordinator endpoint,
    // which Spark only materializes when a STREAMING query manager's
    // lazy coordinator is first touched — force it here so this gate
    // doesn't depend on a streaming gate having run earlier in the
    // JVM (guarded: a Spark bump that renames the private accessor
    // degrades loudly to a public-API no-op-stream warmup)
    Streams.ensureStateStoreCoordinator(iso)
    twsSliceOf(iso, d) match {
      case None => Seq((false, 0L)).toDF("tws_batch_parity", "n_users")
      case Some(sl) =>
        val ev = iso.read.parquet(sl.full.toString)
        val batchTws = Streams.runningTotalsTws(
          ev.select(col("user_id"), col("event_type"), col("value"))
            .as[(Long, String, Double)](Encoders.product[(Long, String, Double)]))
        foldedTotals(batchTws, types = true)
          .join(userTotals(ev, types = true), Seq("user_id"), "full_outer")
          .agg(count(lit(1)).as("n_users"), misfoldCount(types = true).as("bad"))
          .select((col("bad") === 0 && col("n_users") > 0)
            .as("tws_batch_parity"), col("n_users"))
    }
  }

  /** Gate query [stream_tws_timer_parity]: transformWithState
    * EVENT-TIME TIMERS — the one arbitrary-state surface
    * [[streamTwsParity]] leaves unexercised (its processor runs
    * TimeMode.None: no timers, no watermark coupling), and the one a
    * production tws sessionizer needs: the engine fires
    * handleExpiredTimer when the watermark proves a session
    * unextendable, flushing the per-user dangling final session that
    * gap-closure alone would hold in state forever. The whole slice
    * arrives as micro-batch 1, so every registered timer CROSSES a
    * batch boundary by construction: it fires in the sentinel batches
    * (2–3), whose watermark advance is the only thing that can flush.
    * Three claims, all load-bearing:
    *  - the emitted session set (gap-closed ∪ timer-flushed) equals
    *    the batch sessionization exactly on (user, bounds, count),
    *    sums within per-session double-fold tolerance;
    *  - the timer-flushed subset is EXACTLY the per-user last session
    *    (a premature firing would flush a non-final session and break
    *    this; the processor's watermark re-check is what's tested);
    *  - n_timer_flushed is pinned RELATIONALLY by the oracle to
    *    COUNT(DISTINCT user_id) — every user has exactly one dangling
    *    session, so the non-vacuity count is oracle-exact, not just
    *    spec-asserted ≥ 1 (stt_timer_flushed also lands in bench
    *    metrics). */
  def streamTwsTimerParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    // tws state variables + timers are column families — RocksDB-only
    // (HDFSBackedStateStoreProvider cannot create them), and the
    // backend a production tws deployment runs anyway
    pinRocksDB(g)
    val inDir = s"${g.root}/in"
    // whole slice as micro-batch 1 via a file copy of the cached
    // full-slice parquet (eventSchema column order — the stream
    // reads it like any other events dir); batch mirrors read the
    // same file
    twsSliceOf(iso, d) match {
      case None =>
        Seq((false, 0L, 0L)).toDF("timer_parity", "n_timer_flushed", "n_sessions")
      case Some(sl) =>
        dropFile(sl.full, inDir, "slice.parquet")
        val ev = iso.read.parquet(sl.full.toString)

        // the batch referee is a sessionize of the cached slice
        val (batchSess, _) = graft.Overlap.run(iso) {
          val b = g.cache(EventOps.sessionizeOf(ev)
            .select(col("user_id"), col("start_us"), col("end_us"),
              col("n_events"), col("sum_value").as("batch_sum")))
          b.count()
          b
        } {
          val q = g.start(Streams.sessionsTwsTimers(
              Streams.readEventStream(iso, inDir)
                .select("event_id", "ts", "user_id", "event_type", "value")
                .as[Streams.EventRow])
            .writeStream.outputMode(OutputMode.Append)
            .format("memory").queryName("stt_sessions")
            .option("checkpointLocation", s"${g.root}/ckpt"))
          q.processAllAvailable()
          dropSentinel(iso, Sentinel1Ms, inDir); q.processAllAvailable()
          dropSentinel(iso, Sentinel2Ms, inDir); q.processAllAvailable()
          q.stop()
        }

        val sessKeys = Seq("user_id", "start_us", "end_us", "n_events")
        val streamSess = g.cache(iso.table("stt_sessions").filter(col("user_id") >= 0))
        // claim 1: full session-set parity (exact keys, tolerant sums)
        val setPar = symDiffEmpty(streamSess, batchSess, sessKeys)
          .crossJoin(streamSess.join(batchSess, sessKeys)
            .agg(coalesce(max(abs(col("sum_value") - col("batch_sum"))), lit(0.0))
              .as("max_diff"),
              count(lit(1)).as("n_sess")))
          .select((col("l_only") === 0 && col("r_only") === 0 &&
            col("max_diff") < 1e-6).as("set_ok"), col("n_sess"))
        // claim 2: the timer-flushed subset is exactly each user's LAST
        // session of the batch mirror
        val flushed = streamSess.filter(col("by_timer"))
          .select(col("user_id"), col("end_us"))
        val lastPerUser = batchSess.groupBy(col("user_id"))
          .agg(max(col("end_us")).as("end_us"))
        val flushPar = symDiffEmpty(flushed, lastPerUser, Seq("user_id", "end_us"))
          .crossJoin(flushed.agg(count(lit(1)).as("n_flushed")))
          .select((col("l_only") === 0 && col("r_only") === 0).as("flush_ok"),
            col("n_flushed"))
        val rows = sealGate(iso, setPar.crossJoin(flushPar)
          .select(
            (col("set_ok") && col("flush_ok") && col("n_flushed") > 0)
              .as("timer_parity"),
            col("n_flushed").as("n_timer_flushed"),
            col("n_sess").as("n_sessions")))
        rows.collect().headOption.foreach(r => graft.Counters.add("stt_timer_flushed",
          if (r.isNullAt(1)) 0L else r.getLong(1)))
        rows
    }
  }

  /** Gate query [stream_tws_init_parity]: transformWithState
    * INITIAL-STATE BOOTSTRAP — the third arbitrary-state capability
    * (after state variables and event-time timers) and the one every
    * production migration needs: seed the new stateful job's state
    * from a batch table so only the increment replays, not history.
    * The user<60 slice splits at its time midpoint: half A becomes a
    * BATCH per-user (n, Σvalue) aggregate handed to
    * StatefulProcessorWithInitialState.handleInitialState; ONLY half
    * B streams. Parity: the stream's final per-user totals must equal
    * the batch aggregate over the WHOLE slice for every emitting user
    * — which can only hold if the bootstrap landed (half A's
    * contribution never streamed) AND the fold continued from it.
    * Non-vacuity is relational: n_boot_users (emitting users that
    * also have half-A events — each one proves seeded-then-extended
    * state) is oracle-pinned via the same midpoint arithmetic in SQL,
    * as is n_users (distinct post-cut users). */
  def streamTwsInitParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    pinRocksDB(g)
    val inDir = s"${g.root}/in"
    // cached slice halves: the cache's cut uses the SAME integer
    // arithmetic as the oracle's (MIN+MAX)//2; only half B streams
    // (a ~1 ms file copy), half A seeds the bootstrap state
    twsSliceOf(iso, d) match {
      case None => Seq((false, 0L, 0L)).toDF("init_parity", "n_users", "n_boot_users")
      case Some(sl) =>
        dropFile(sl.halfB, inDir, "half-b.parquet")
        val halfA = iso.read.parquet(sl.halfA.toString)
        val halfB = iso.read.parquet(sl.halfB.toString)
        val ev = iso.read.parquet(sl.full.toString)

        // the batch past: one (n, Σ) row per half-A user
        val initState = userTotals(halfA, types = false)
          .as[(Long, Long, Double)]
          .groupByKey(_._1).mapValues(t => (t._2, t._3))

        // the whole-slice batch referee overlaps the stream; the
        // bootstrap aggregate above must stay up front — it is a stream
        // INPUT
        val (batchTotals, _) = graft.Overlap.run(iso) {
          val b = g.cache(userTotals(ev, types = false))
          b.count()
          b
        } {
          val q = g.start(Streams.bootstrappedTotalsTws(
              twsStream(iso, inDir, oneFilePerTrigger = false), initState)
            .writeStream.outputMode(OutputMode.Update())
            .format("memory").queryName("sti_totals")
            .option("checkpointLocation", s"${g.root}/ckpt"))
          q.processAllAvailable()
          q.stop()
        }

        val bootUsers = halfB.select(col("user_id")).distinct()
          .join(halfA.select(col("user_id")).distinct(), Seq("user_id"),
            "left_semi")
        // only emitting users are checked: half-A-only users never
        // stream, so their referee rows have no stream-side fold
        foldedTotals(iso.table("sti_totals"), types = false)
          .join(batchTotals, Seq("user_id"), "full_outer")
          .agg(
            count(lit(1)).as("n_all"),
            sum(when(col("n").isNotNull, 1L).otherwise(0L)).as("n_users"),
            sum(when(col("n").isNotNull && misfolded(types = false), 1L)
              .otherwise(0L)).as("bad"))
          .crossJoin(bootUsers.agg(count(lit(1)).as("n_boot")))
          .select(
            (col("bad") === 0 && col("n_users") > 0 && col("n_boot") > 0)
              .as("init_parity"),
            col("n_users"), col("n_boot").as("n_boot_users"))
    }
  }

  /** Gate query [stream_lastk_parity]: the first stream gate whose
    * ENTIRE output is relational — no parity booleans; the returned
    * per-user relation itself meets the DuckDB oracle row-for-row.
    * [[Streams.OrderedLastKProcessor]] maintains each user's last-K
    * events BY EVENT TIME in a tws ListState (exact integer cents, so
    * no fold-order drift), which a SQL row_number window can state
    * exactly. The input splits at a TAIL cut — the ~(2·|users|+1)-th
    * event from the end — so micro-batch 2 holds ~2 events per user:
    * most users' K=5 window MUST pull values buffered from batch 1,
    * making ListState persistence across the batch boundary
    * load-bearing for nearly every output row (a midpoint cut would
    * leave every user ≥K post-cut events and the buffer handoff
    * untested — the last-K window concentrates at the end).
    * Provably-cross-batch users (0 < post-cut < K ≤ total) land in
    * bench counters; StreamsSpec pins the trim/append mechanics. */
  def streamLastKParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val K = 5
    pinRocksDB(g)
    val inDir = s"${g.root}/in"
    // slice from the per-JVM cache (the cached emptiness probe also
    // replaces the old head(1) job); this gate re-splits at its own
    // TAIL cut, so only the two half writes below are gate-private
    twsSliceOf(iso, d) match {
      case None =>
        Seq.empty[(Long, Long, Long)].toDF("user_id", "lastk_n", "lastk_cents")
      case Some(sl) =>
        val ev = g.cache(iso.read.parquet(sl.full.toString)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents")))
        // tail width rides the shared slice constant: ~2 events per user
        // land in batch 2 (the oracle SQL's `user_id < 60` is the same
        // TwsUsers — a one-sided edit would silently shrink coverage)
        val tailN = 2 * TwsUsers.toInt + 1
        val cutUs = ev.orderBy(col("ts_us").desc, col("event_id").desc)
          .limit(tailN).agg(min(col("ts_us"))).head().getLong(0)
        val halfA = ev.filter(col("ts_us") <= cutUs)
        val halfB = ev.filter(col("ts_us") > cutUs)
        dropChunks(Seq(writePart(halfA, Paths.get(g.root, "a")),
          writePart(halfB, Paths.get(g.root, "b"))), inDir)

        // provably cross-batch rows: batch 2 touched the user with too
        // few post-cut events to fill K alone — diagnostic, spec-pinned;
        // it reads only the cached slice
        val (nCross, rows) = graft.Overlap.run(iso) {
          halfB.groupBy(col("user_id"))
            .agg(count(lit(1)).as("nb"))
            .join(ev.groupBy(col("user_id")).agg(count(lit(1)).as("nt")),
              Seq("user_id"))
            .filter(col("nb") > 0 && col("nb") < K && col("nt") >= K)
            .count()
        } {
          val q = g.start(Streams.orderedLastK(
              iso.readStream
                .schema(StructType(Seq(
                  StructField("user_id", LongType),
                  StructField("ts_us", LongType),
                  StructField("event_id", LongType),
                  StructField("cents", LongType))))
                .option("maxFilesPerTrigger", "1").parquet(inDir)
                .as[(Long, Long, Long, Long)](Encoders.product[(Long, Long, Long, Long)]),
              K)
            .writeStream.outputMode(OutputMode.Update())
            .format("memory").queryName("slk_lastk")
            .option("checkpointLocation", s"${g.root}/ckpt"))
          q.processAllAvailable()
          q.stop()
          sealGate(iso, iso.table("slk_lastk")
            .groupBy(col("user_id"))
            .agg(max_by(col("lastk_n"), col("n_seen")).as("lastk_n"),
              max_by(col("lastk_cents"), col("n_seen")).as("lastk_cents")))
        }
        graft.Counters.add("lastk_cross_batch_users", nCross)
        rows
    }
  }

  /** Gate query [stream_tws_restart_parity]: tws STATE RECOVERY
    * ACROSS QUERY RESTARTS — the crash-recovery claim no other gate
    * makes. [stream_availablenow_parity] proves exactly-once file
    * ingest across runs, but its pipeline is STATELESS; this gate
    * stops a transformWithState query after the slice's first half,
    * then starts a NEW StreamingQuery on the same checkpoint for the
    * second half: the RocksDB ValueState AND MapState written by run
    * 1 must be restored for run 2's emitted totals to match the
    * whole-slice batch aggregate — and the recovery path is the one a
    * real deployment runs: CHANGELOG CHECKPOINTING is enabled, so run
    * 2 rebuilds state by replaying per-batch changelog files against
    * the last snapshot instead of uploading/downloading full RocksDB
    * snapshots per batch (the at-scale default; snapshot-only replay
    * is the fallback this gate deliberately does not exercise).
    * Anti-vacuity on two axes:
    *  - a fresh-start bug that re-read ALL files with empty state
    *    would accidentally produce correct totals — excluded by
    *    asserting run 2's total input rows equal the second half's
    *    count (the file-source offset log is what's being trusted);
    *    counted by a StreamingQueryListener keyed on run 2's runId
    *    (recentProgress is a ring buffer capped at
    *    numRecentProgressUpdates — a >100-batch run would undercount
    *    there), read only after the terminated event (the bus is
    *    FIFO, so every progress event has landed by then);
    *  - a state-loss bug yields half-B-only counts for every seeded
    *    user — n/n_types/sum all mismatch; n_boot_users (users with
    *    events in BOTH halves) is oracle-pinned via the same
    *    (MIN+MAX)//2 midpoint arithmetic as the init gate.
    * A degenerate slice (min ts == max ts ⇒ empty half B) returns the
    * all-false row up front instead of failing on an empty-run read. */
  def streamTwsRestartParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    pinRocksDB(g)
    iso.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    val inDir = s"${g.root}/in"
    twsSliceOf(iso, d).filter(_.nB != 0L) match {
      case None =>
        Seq((false, 0L, 0L)).toDF("restart_parity", "n_users", "n_boot_users")
      case Some(sl) =>
        val halfA = iso.read.parquet(sl.halfA.toString)
        val halfB = iso.read.parquet(sl.halfB.toString)
        val ev = iso.read.parquet(sl.full.toString)
        dropFile(sl.halfA, inDir, "half-a.parquet")

        // per-run input-row counts land in a runId-keyed map via the
        // listener; progress events carry their runId, so registering
        // before start() can't miss an early first batch
        val inputRows =
          new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
        val terminated =
          java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
        val lis = new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
            inputRows.merge(e.progress.runId, e.progress.numInputRows,
              (a, b) => a + b)
            ()
          }
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
            terminated.add(e.runId); ()
          }
        }
        iso.streams.addListener(lis)
        // the memory sink refuses checkpoint recovery (it is not
        // fault-tolerant) — the restart story needs a recoverable sink,
        // so each run's emissions land via foreachBatch in run-tagged,
        // batch-keyed parquet (overwrite per batch id = idempotent
        // under replay, the quantile/neardup gates' store discipline)
        val outStore = s"${g.root}/out"
        def runOnce(tag: String): Long = {
          val q = g.start(Streams.runningTotalsTws(
              twsStream(iso, inDir, oneFilePerTrigger = false))
            .writeStream.outputMode(OutputMode.Update())
            .foreachBatch { (batch: DataFrame, bid: Long) =>
              batch.write.mode("overwrite")
                .parquet(s"$outStore/run=$tag/batch=$bid")
              ()
            }
            .option("checkpointLocation", s"${g.root}/ckpt"))
          q.processAllAvailable()
          q.stop()
          // FIFO bus: once the terminated event is visible, every
          // progress event for this run has already been delivered
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!terminated.contains(q.runId) && System.nanoTime() < deadline)
            Thread.sleep(10)
          inputRows.getOrDefault(q.runId, 0L)
        }
        val run2Rows = try {
          runOnce("r1")
          // the "crash": run 1's StreamExecution is gone; new data lands
          dropFile(sl.halfB, inDir, "half-b.parquet")
          // run 2 = a NEW query on the same checkpoint: offsets say "skip
          // half A", the state store says "here are run 1's totals"
          runOnce("r2")
        } finally iso.streams.removeListener(lis)

        // run 2's store holds only batch-2 emissions: the users half B
        // touched, each with totals that must already INCLUDE half A
        val bootUsers = halfB.select(col("user_id")).distinct()
          .join(halfA.select(col("user_id")).distinct(), Seq("user_id"),
            "left_semi")
        foldedTotals(iso.read.parquet(s"$outStore/run=r2"), types = true)
          .join(userTotals(ev, types = true), Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_users"), misfoldCount(types = true).as("bad"))
          .crossJoin(bootUsers.agg(count(lit(1)).as("n_boot")))
          .select(
            (col("bad") === 0 && col("n_users") > 0 && col("n_boot") > 0 &&
              lit(run2Rows) === sl.nB).as("restart_parity"),
            col("n_users"), col("n_boot").as("n_boot_users"))
    }
  }

  /** Gate query [stream_quantile_parity]: quantile summaries MERGE
    * across micro-batches — the last sketch family (after HLL a15,
    * count-min a18, percentile_approx a14) proven mergeable across the
    * batch/stream boundary. Each micro-batch reduces to a k-point
    * quantile GRID (percentile_approx at i/k, i=1..k, plus the batch
    * count) appended to an external parquet state store — a classic
    * mergeable summary: a batch's grid pins every batch-local rank to
    * within n_b·(1/k + 1/acc), so the union of grids pins global ranks
    * to within Σ n_b·(1/k + 1/acc) = N·ε. The merged p-quantile
    * estimate is the first grid value whose cumulative weight (each
    * point carries n_b/k) reaches p·N — one sort over ≤ 3k rows, NOT
    * over data. The gate then computes the estimate's TRUE rank
    * against every value (exact lt/le counts, a14's rank-error
    * contract) and requires it inside p·N ± εN with ε = 2/k + 1/acc
    * (2/k: one 1/k for the grid's rank uncertainty, one for the
    * crossing-point discretization). Rank-error, never value-error:
    * sketch VALUES legitimately move with batch boundaries; ranks are
    * the contract. State is O(k·batches) regardless of N — the shape
    * that lets a 100 TB stream keep running percentiles without
    * holding data. */
  def streamQuantileParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    import org.apache.spark.sql.expressions.Window
    val k = 100
    val acc = 10000
    val inDir = s"${g.root}/in"
    val vals = g.cache(Tables.orders(iso, d) // quantile cut, 2 chunk writes, exact-rank referee
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_totalprice").isNotNull))
    // two key-range chunks → two micro-batches (maxFilesPerTrigger=1).
    // Two is the minimal count that proves a cross-batch MERGE; the
    // third chunk of earlier rounds only re-proved it at +1 batch of
    // fixed micro-batch latency. An empty sketch doubles as the
    // emptiness probe — no separate head(1) job.
    val cuts = vals.stat
      .approxQuantile("o_orderkey", Array(0.5), 0.001)
    if (cuts.isEmpty)
      Seq((false, 0L, 0L)).toDF("quantile_parity", "n_batches", "n_rows")
    else {
      Seq(
        vals.filter(col("o_orderkey") <= cuts(0)),
        vals.filter(col("o_orderkey") > cuts(0)))
        .foreach(_.coalesce(1).write.mode("append").parquet(inDir))

      val gridStore = s"${g.root}/grid"
      val probes = array((1 to k).map(i => lit(i.toDouble / k)): _*)
      val q = g.start(iso.readStream.schema(vals.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          // idempotent under micro-batch retry / checkpoint replay:
          // each batch's grid lands in its OWN batch-keyed partition
          // dir, overwritten (not appended) on re-execution — a
          // replayed batch can never double its grid weights
          batch
            .agg(percentile_approx(col("o_totalprice"), probes, lit(acc))
              .as("g"), count(lit(1)).as("n_b"))
            .select(posexplode(col("g")).as(Seq("i", "v")), col("n_b"),
              lit(bid).as("batch_id"))
            .write.mode("overwrite").parquet(s"$gridStore/batch=$bid")
        }
        .option("checkpointLocation", s"${g.root}/ckpt"))
      q.processAllAvailable()
      q.stop()

      // merged estimate per probe p: cumulative-weight crossing point.
      // The single-partition window runs over <= k*batches grid rows
      // (200 here) — state-sized, never data-sized. n_batches derives
      // from the store's distinct batch ids, not a driver-side counter
      // a checkpoint replay could double-increment.
      // root-path read (the store root holds only batch=N partition
      // dirs): a batch=* glob would make FileStreamSink's literal-path
      // metadata probe log a scary-but-benign FileNotFoundException
      val grid0 = iso.read.parquet(gridStore)
      val nBatches = grid0.select(col("batch_id")).distinct().count()
      val grid = grid0
        .withColumn("w", col("n_b").cast("double") / k)
      val cum = grid.withColumn("cum",
        sum(col("w")).over(Window.orderBy(col("v"), col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val total = grid.agg(sum(col("w")).as("n_total"))
      val ps = Seq(0.25, 0.5, 0.75).toDF("p")
      val est = cum.crossJoin(total).crossJoin(ps)
        .groupBy(col("p"), col("n_total"))
        .agg(min(when(col("cum") >= col("p") * col("n_total"), col("v")))
          .as("est"))
      // exact rank referee: a14's lt/le contract with eps = 2/k + 1/acc
      val eps = 2.0 / k + 1.0 / acc
      vals.crossJoin(broadcast(est))
        .groupBy(col("p"), col("est"), col("n_total"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") < col("est"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("o_totalprice") <= col("est"), 1L).otherwise(0L)).as("le"))
        .select(((col("lt") <= col("p") * col("n") + lit(eps) * col("n") + 1) &&
          (col("le") >= col("p") * col("n") - lit(eps) * col("n") - 1))
          .as("ok"))
        .agg(coalesce(expr("bool_and(ok)"), lit(false)).as("qp"))
        .crossJoin(vals.agg(count(lit(1)).as("n_rows")))
        .select((col("qp") && lit(nBatches) === 2L).as("quantile_parity"),
          lit(nBatches).as("n_batches"), col("n_rows"))
    }
  }

  /** Gate query [stream_dsv2_parity]: the gseg DataSourceV2 connector
    * serves MICRO-BATCH reads through the same scan stack as batch —
    * segments arrive (committed by the V2 batch writer, renamed into
    * the stream directory under monotone names), each name range
    * becomes exactly one micro-batch, and checkpointed offsets replan
    * identical file sets. Booleans:
    *  - first_batch_parity: after only generation-0 segments exist,
    *    the complete-mode aggregate equals the batch aggregate of
    *    slice A alone — the stream really consumed ONE increment;
    *  - final_parity: after generation-1 arrives, the aggregate
    *    equals the full slice's (and sums ride DECIMAL, so equality
    *    is exact under any partitioning). Both true together prove
    *    the source planned the two name ranges as two increments.
    * n_types anchors the oracle relationally. */
  def streamSegParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import g.iso
    val streamDir = s"${g.root}/stream"
    Files.createDirectories(Paths.get(streamDir))
    // cached: two generation writes + two batch referees
    val (ev, halfA, halfB) = gsegSlice(g, d)

    // stage a generation through the V2 writer, then rename its
    // committed segments into the stream dir under a monotone prefix
    def arrive(df: DataFrame, gen: Int): Unit = {
      val tmp = s"${g.root}/gen$gen"
      graft.sources.SegSource.write(df, tmp)
      val listing = Files.list(Paths.get(tmp))
      try listing.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".gseg")).sortBy(_.toString)
        .foreach { f =>
          Files.move(f, Paths.get(
            f"$streamDir/b$gen%04d-${f.getFileName.toString}"))
        }
      finally listing.close()
    }

    arrive(halfA, 0)
    val q = g.start(typeTotals(iso.readStream.format("gseg")
        .schema(ev.schema).load(streamDir))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("seg_stream")
      .option("checkpointLocation", s"${g.root}/ckpt"))
    q.processAllAvailable()
    val got1 = typeMap(iso.table("seg_stream"))
    val firstOk = got1 == typeMap(typeTotals(halfA)) && got1.nonEmpty
    arrive(halfB, 1)
    q.processAllAvailable()
    q.stop()

    val streamAgg = iso.table("seg_stream")
      .select(col("event_type"), col("n"), col("sv"))
    symDiffEmpty(streamAgg, typeTotals(ev), Seq("event_type", "n", "sv"))
      .crossJoin(streamAgg.agg(count(lit(1)).as("n_types")))
      .select(
        lit(firstOk).as("first_batch_parity"),
        (col("l_only") === 0 && col("r_only") === 0).as("final_parity"),
        col("n_types"))
  }

  /** Gate query [stream_gseg_gen_parity]: the GENERATION-OFFSET
    * streaming source over a gseg CATALOG table — the r13 stream
    * semantics that replace the name watermark wherever a manifest
    * exists: offsets are committed generation numbers, the first
    * batch is the complete live generation (initial-snapshot
    * semantics), and each later batch is the per-generation APPEND
    * diff derived from retained snapshot manifests — never the
    * directory listing, so retained history, rewrite names and
    * epoch replacement cannot double- or under-read. Booleans:
    *  - first_batch_parity: with the table at generation 0, the
    *    complete-mode aggregate equals slice A's batch aggregate —
    *    the initial snapshot arrived as ONE batch;
    *  - final_parity: after a catalog INSERT commits generation 1,
    *    the aggregate equals the whole slice's (DECIMAL sums,
    *    exact);
    *  - increment_exact: the per-batch input-row counts from the
    *    query's own progress are EXACTLY (|A|, |B|) — the second
    *    batch read precisely the appended generation's rows, a
    *    rescan or double-read cannot produce that ledger.
    * n_types anchors the oracle relationally. */
  def streamSegGenParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import g.iso
    val wh = privateCatalog(g, "gseg_gen")
    val (ev, halfA, halfB) = gsegSlice(g, d)
    val dir = s"$wh/ns/t"
    graft.sources.SegSource.write(halfA, dir)
    iso.table("gseg_gen.ns.t").count() // manifest: generation 0
    val q = g.start(typeTotals(iso.readStream.format("gseg")
        .schema(ev.schema).load(dir))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("gen_stream")
      .option("checkpointLocation", s"${g.root}/ckpt"))
    q.processAllAvailable()
    val got1 = typeMap(iso.table("gen_stream"))
    val firstOk = got1 == typeMap(typeTotals(halfA)) && got1.nonEmpty
    // generation 1: an APPEND commit through the catalog
    halfB.createOrReplaceTempView("graft_genstream_src")
    iso.sql(
      "INSERT INTO gseg_gen.ns.t SELECT * FROM graft_genstream_src")
    q.processAllAvailable()
    // the query's own progress ledger: one batch per generation,
    // each reading exactly its generation's rows
    val perBatch = q.recentProgress.toSeq.map(_.numInputRows)
      .filter(_ > 0)
    val incrementExact =
      perBatch == Seq(halfA.count(), halfB.count())
    q.stop()
    val streamAgg = iso.table("gen_stream")
      .select(col("event_type"), col("n"), col("sv"))
    symDiffEmpty(streamAgg, typeTotals(ev), Seq("event_type", "n", "sv"))
      .crossJoin(streamAgg.agg(count(lit(1)).as("n_types")))
      .select(
        lit(firstOk).as("first_batch_parity"),
        (col("l_only") === 0 && col("r_only") === 0).as("final_parity"),
        lit(incrementExact).as("increment_exact"),
        col("n_types"))
  }

  /** Gate query [stream_gseg_cdf_parity]: the STREAMING row-level
    * changefeed — `readStream.format("gseg")` with `read_changefeed`
    * — the surface that makes a DML commit ARRIVE as its
    * update_preimage/update_postimage rows instead of killing the
    * generation stream (fail) or vanishing from it
    * (skip_change_commits). Lifecycle, across a REAL restart:
    * initial snapshot (slice A as inserts) → an UPDATE commit
    * (value+1 for the low-user half) consumed as pre/post pairs →
    * STOP → restart from the checkpoint → an INSERT commit (slice B
    * as inserts) → stop. Claims:
    *  - first_parity: the initial batch is exactly |A| insert rows;
    *  - update_exactly_once: across the restart the change log holds
    *    exactly one pre and one post row per updated key (a replayed
    *    or double-planned diff cannot produce that), and the
    *    post−pre value delta is exactly n_update_pairs × 1.0 under
    *    DECIMAL;
    *  - replay_parity: applying the change log to empty state
    *    (inserts + postimages keyed by event_id, preimages/deletes
    *    retired) reproduces the live table EXACTLY — the property
    *    that makes a CDC feed a faithful replication stream.
    * The relational columns (n_initial, n_update_pairs,
    * n_late_inserts) are oracle-recomputed from events with the same
    * halving arithmetic. */
  def streamSegCdfParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val wh = privateCatalog(g, "gseg_cdf")
    val (_, halfA, halfB) = gsegSlice(g, d)
    val dir = s"$wh/ns/t"
    graft.sources.SegSource.write(halfA, dir)
    iso.table("gseg_cdf.ns.t").count() // manifest: generation 0
    val outDir = s"${g.root}/out"
    val ckpt = s"${g.root}/ckpt"
    def startFeed(): StreamingQuery =
      g.start(iso.readStream.format("gseg").schema(halfA.schema)
        .option(graft.sources.SegCdf.ReadChangefeedOption, "true")
        .option(graft.sources.SegCdf.KeysOption, "event_id")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir))
    val q1 = startFeed()
    q1.processAllAvailable()
    val initial = iso.read.parquet(outDir)
    val firstParity = initial.count() == halfA.count() &&
      initial.filter(col("_change_type") =!= "insert").count() == 0
    // generation 1: a DML change commit — must arrive as pre/post
    iso.sql("UPDATE gseg_cdf.ns.t SET value = value + 1.0 " +
      "WHERE user_id < 20")
    q1.processAllAvailable()
    q1.stop()
    // REAL restart from the checkpoint, then a late append commit
    val q2 = startFeed()
    halfB.createOrReplaceTempView("graft_cdf_late")
    iso.sql("INSERT INTO gseg_cdf.ns.t SELECT * FROM graft_cdf_late")
    q2.processAllAvailable()
    q2.stop()

    val log = iso.read.parquet(outDir)
    val updated = halfA.filter(col("user_id") < 20)
    val nUpd = updated.count()
    val pre = log.filter(col("_change_type") === "update_preimage")
    val post = log.filter(col("_change_type") === "update_postimage")
    // per-key pairing: each updated key appears exactly once per
    // side, and post.value is EXACTLY pre.value + 1.0 (the same
    // double op the UPDATE computed — bit-identical)
    val pairs = pre.select(col("event_id"), col("value").as("pv"))
      .join(post.select(col("event_id"), col("value").as("qv")),
        "event_id")
      .filter(col("qv") === col("pv") + lit(1.0))
    val updateExactlyOnce =
      pre.count() == nUpd && post.count() == nUpd &&
        pre.select(col("event_id")).distinct().count() == nUpd &&
        pairs.count() == nUpd
    // replay: inserts + postimages, latest state per key, equals
    // the live table exactly (set identity on all columns)
    val replayed = log
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_id"))
          .orderBy(col("_commit_generation").desc)))
      .filter(col("__rank") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val live = iso.table("gseg_cdf.ns.t")
    val sym = symDiffEmpty(replayed, live,
      Seq("event_id", "user_id", "event_type", "value")).head()
    val replayParity = sym.getLong(0) == 0 && sym.getLong(1) == 0
    Seq((firstParity, updateExactlyOnce, replayParity,
      halfA.count(), nUpd, halfB.count())).toDF(
      "first_parity", "update_exactly_once", "replay_parity",
      "n_initial", "n_update_pairs", "n_late_inserts")
  }

  /** Gate query [stream_dv_cdf_parity]: a MERGE-ON-READ DELETE
    * (positional deletion vectors — no file replaced) arriving
    * through the STREAMING changefeed. Lifecycle across a REAL
    * restart: initial snapshot (slice A as inserts) → a vector-DELETE
    * commit (user_id < 20) consumed as `delete` rows → STOP → restart
    * from the checkpoint → an INSERT commit (slice B) → stop. Claims:
    *  - first_parity: the initial batch is exactly |A| insert rows;
    *  - delete_exactly_once: exactly one delete row per deleted key
    *    across the restart, and NO update pre/post rows anywhere (a
    *    vector commit is pure deletes);
    *  - dv_commit: the DELETE replaced NO segment (name-set identity
    *    across the commit, vectors in the manifest) — the
    *    merge-on-read proof at the stream surface, where the diff
    *    reader classified by ORDINALS, one pruned pass per touched
    *    segment, never a rewrite join;
    *  - replay_parity: inserts minus deletes (latest generation per
    *    key) reproduces the live table exactly.
    * Cardinalities (n_initial, n_deleted, n_late_inserts) are
    * oracle-recomputed from events with the same slice arithmetic. */
  def streamDvCdfParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val wh = privateCatalog(g, "gseg_dvc")
    val (_, halfA, halfB) = gsegSlice(g, d)
    iso.sql("CREATE TABLE gseg_dvc.ns.t (event_id BIGINT, " +
      "user_id BIGINT, event_type STRING, value DOUBLE) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    halfA.createOrReplaceTempView("graft_dvcdf_a")
    iso.sql("INSERT INTO gseg_dvc.ns.t SELECT * FROM graft_dvcdf_a")
    val dir = s"$wh/ns/t"
    val outDir = s"${g.root}/out"
    val ckpt = s"${g.root}/ckpt"
    def startFeed(): StreamingQuery =
      g.start(iso.readStream.format("gseg").schema(halfA.schema)
        .option(graft.sources.SegCdf.ReadChangefeedOption, "true")
        .option(graft.sources.SegCdf.KeysOption, "event_id")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir))
    val q1 = startFeed()
    q1.processAllAvailable()
    val initial = iso.read.parquet(outDir)
    val firstParity = initial.count() == halfA.count() &&
      initial.filter(col("_change_type") =!= "insert").count() == 0
    // the change commit: a VECTOR delete — segments untouched
    // (name-set identity via the manifest, vector presence via
    // the table's SHOW TBLPROPERTIES observability surface)
    val before = graft.sources.SegManifest.read(dir).get._2.sorted
    iso.sql("DELETE FROM gseg_dvc.ns.t WHERE user_id < 20")
    val after = graft.sources.SegManifest.read(dir).get._2.sorted
    val nDvs = iso.sql("SHOW TBLPROPERTIES gseg_dvc.ns.t")
      .filter(col("key") === "deletion_vectors")
      .collect().headOption.map(_.getString(1).toLong).getOrElse(0L)
    val dvCommit = after == before && nDvs >= 1L
    q1.processAllAvailable()
    q1.stop()
    // REAL restart from the checkpoint, then a late append commit
    val q2 = startFeed()
    halfB.createOrReplaceTempView("graft_dvcdf_b")
    iso.sql("INSERT INTO gseg_dvc.ns.t SELECT * FROM graft_dvcdf_b")
    q2.processAllAvailable()
    q2.stop()

    val log = iso.read.parquet(outDir)
    val deletedKeys = halfA.filter(col("user_id") < 20)
    val nDel = deletedKeys.count()
    val dels = log.filter(col("_change_type") === "delete")
    val deleteExactlyOnce =
      dels.count() == nDel &&
        dels.select(col("event_id")).distinct().count() == nDel &&
        dels.join(deletedKeys.select(col("event_id")), "event_id")
          .count() == nDel &&
        log.filter(col("_change_type")
          .isin("update_preimage", "update_postimage")).count() == 0
    // replay: inserts, minus keys whose LATEST change is a delete.
    // Within-generation tie-break prefers INSERT: a merge-on-read
    // UPDATE emits a delete AND an insert for the same key in ONE
    // generation, and ranking the delete first would drop updated
    // keys — this recipe is therefore safe to reuse on mor-update
    // tables, not just this gate's delete-only history
    val replayed = log
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_id"))
          .orderBy(col("_commit_generation").desc,
            col("_change_type").desc)))
      .filter(col("__rank") === 1 && col("_change_type") === "insert")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val live = iso.table("gseg_dvc.ns.t")
    val sym = symDiffEmpty(replayed, live,
      Seq("event_id", "user_id", "event_type", "value")).head()
    val replayParity = sym.getLong(0) == 0 && sym.getLong(1) == 0
    Seq((firstParity, deleteExactlyOnce, dvCommit,
      replayParity, halfA.count(), nDel, halfB.count())).toDF(
      "first_parity", "delete_exactly_once", "dv_commit",
      "replay_parity", "n_initial", "n_deleted", "n_late_inserts")
  }

  /** Gate query [stream_cdf_index_parity]: the NORTH-STAR payoff the
    * r13/r14 table-format work built toward — a downstream MinHash-LSH
    * dedup INDEX maintained INCREMENTALLY from the row-level
    * changefeed instead of rebuilt from the corpus. The docs table
    * takes a mixed history (snapshot → late INSERT → UPDATE → DELETE,
    * with the stream STOPPED across the DML commits and RESTARTED from
    * its checkpoint); a `read_changefeed` stream tails it, and
    * foreachBatch applies each commit's row changes to a persisted
    * gseg index table of (doc_id, band, bh) LSH bucket keys — the
    * engine maintaining its own dedup infrastructure through its own
    * DML surface. The per-batch apply is the standard exactly-once
    * foreachBatch recipe: MERGE-delete every TOUCHED doc's band rows,
    * then re-insert bands for rows live after the batch (latest
    * generation per key wins within the batch), so a replayed
    * micro-batch converges instead of duplicating. Claims:
    *  - index_matches_rebuild: the incrementally-maintained index is
    *    SET-IDENTICAL to a from-scratch rebuild over the live table
    *    (same [[graft.functions.Dedup.minhashBandsOf]] kernel) —
    *    inserts, update pre/post pairs and deletes all landed exactly
    *    once, across the restart;
    *  - incremental_applied: the index was built by >= 2 separate
    *    batch applications (counter evidence — the parity really came
    *    from incremental maintenance, not one bootstrap);
    *  - n_docs / n_index_rows anchor the final state relationally:
    *    the index carries exactly 32 bands per >= 3-token live doc,
    *    which DuckDB recomputes from the documents table.
    * At 100 TB: each index update costs the COMMIT'S CHURN (CDF rows →
    * band rows of touched docs), never the corpus — the difference
    * between a minutes-long maintenance tick and a daily full rebuild
    * of a dedup index. */
  def streamCdfIndexParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val wh = privateCatalog(g, "gseg_idx")
    val docs = Tables.documents(iso, d).select(col("doc_id"), col("text"))
    val dir = s"$wh/ns/docs"
    graft.sources.SegSource.write(
      docs.filter(col("doc_id") % 4 === 0)
        .repartitionByRange(4, col("doc_id")), dir)
    iso.table("gseg_idx.ns.docs").count() // manifest: generation 0
    iso.sql("CREATE TABLE gseg_idx.ns.idx " +
      "(doc_id BIGINT, band INT, bh BIGINT) USING gseg")
    val ckpt = s"${g.root}/ckpt"
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      if (batch.isEmpty) return
      val ss = batch.sparkSession // foreachBatch runs in a clone:
      val b = batch.persist()     // views and SQL must use ITS session
      try {
        graft.Counters.add("gseg_idx_batches_applied", 1L)
        // 1. clear every touched doc's band rows (idempotent under
        //    replay; covers delete, update and re-insert alike)
        b.select(col("doc_id")).distinct()
          .createOrReplaceTempView("graft_idx_touched")
        ss.sql("MERGE INTO gseg_idx.ns.idx t USING graft_idx_touched s " +
          "ON t.doc_id = s.doc_id WHEN MATCHED THEN DELETE")
        // 2. rows LIVE after this batch
        val latest = liveAfter(b, "doc_id").select(col("doc_id"), col("text"))
        graft.functions.Dedup.minhashBandsOf(
          graft.functions.Dedup.shingleHashesOf(latest)).toDF()
          .createOrReplaceTempView("graft_idx_new")
        ss.sql("INSERT INTO gseg_idx.ns.idx " +
          "SELECT doc_id, band, bh FROM graft_idx_new")
      } finally { b.unpersist(); () }
    }
    def start(): StreamingQuery =
      g.start(iso.readStream.format("gseg")
        .schema(iso.table("gseg_idx.ns.docs").schema)
        .option(graft.sources.SegCdf.ReadChangefeedOption, "true")
        .option(graft.sources.SegCdf.KeysOption, "doc_id")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(applyBatch _))
    graft.Counters.drain()
    val q1 = start()
    q1.processAllAvailable() // initial snapshot bootstraps the index
    docs.filter(col("doc_id") % 4 === 1)
      .createOrReplaceTempView("graft_idx_late")
    iso.sql(
      "INSERT INTO gseg_idx.ns.docs SELECT * FROM graft_idx_late")
    q1.processAllAvailable() // generation 1 applied incrementally
    q1.stop()
    // mutate while the stream is DOWN; the restart must catch up
    // from the checkpoint and apply both commits exactly once
    iso.sql("UPDATE gseg_idx.ns.docs " +
      "SET text = concat(text, ' touched') WHERE doc_id % 10 = 3")
    iso.sql("DELETE FROM gseg_idx.ns.docs WHERE doc_id % 10 = 7")
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val applied =
      graft.Counters.drain().getOrElse("gseg_idx_batches_applied", 0L)
    val idx = g.cache(iso.table("gseg_idx.ns.idx"))
    val rebuild = graft.functions.Dedup.minhashBandsOf(
      graft.functions.Dedup.shingleHashesOf(iso.table("gseg_idx.ns.docs")
        .select(col("doc_id"), col("text")))).toDF()
    val sym = symDiffEmpty(idx.toDF(), rebuild,
      Seq("doc_id", "band", "bh")).head()
    val matches = sym.getLong(0) == 0 && sym.getLong(1) == 0
    val nDocs = iso.table("gseg_idx.ns.docs").count()
    val nIdx = idx.count()
    Seq((nDocs, nIdx, matches, applied >= 3L))
      .toDF("n_docs", "n_index_rows", "index_matches_rebuild",
        "incremental_applied")
  }

  /** Gate query [stream_gseg_sink_parity]: the gseg STREAMING SINK —
    * `writeStream.toTable` onto a gseg CATALOG table, each epoch an
    * idempotent manifest-swap commit under an epoch-prefixed name
    * (the WRITE half of the connector's streaming story; the READ
    * half is stream_dsv2_parity). Claims:
    *  - first_batch_parity: after the first arrival the table equals
    *    slice A's aggregate exactly — one epoch, one commit;
    *  - final_parity: after the second arrival the table's rows are
    *    SET-IDENTICAL to the whole slice (event_id is unique, sums
    *    ride DECIMAL);
    *  - multi_epoch: the live manifest carries ≥2 distinct epoch
    *    prefixes — the parity really came from two commits, not one;
    *  - dml_ok: the sunk table is a FIRST-CLASS table — a DELETE of
    *    one event type through the row-level rewrite leaves exactly
    *    the relational remainder (sink output feeding DML is the
    *    bronze→silver handoff every 100 TB ingest pipeline runs).
    * n_types anchors the oracle relationally. */
  def streamSegSinkParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val inDir = s"${g.root}/in"
    val wh = privateCatalog(g, "gseg_sink")
    val (ev, halfA, halfB) = gsegSlice(g, d)
    iso.sql(
      """CREATE TABLE gseg_sink.ns.sunk (
        |  event_id BIGINT, user_id BIGINT,
        |  event_type STRING, value DOUBLE) USING gseg""".stripMargin)
    def agg(df: DataFrame) = typeMap(typeTotals(df))
    halfA.coalesce(1).write.mode("append").parquet(inDir)
    val q = g.start(iso.readStream.schema(ev.schema).parquet(inDir)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", s"${g.root}/ckpt"), "gseg_sink.ns.sunk")
    q.processAllAvailable()
    val firstOk = {
      val got = agg(iso.table("gseg_sink.ns.sunk"))
      got == agg(halfA) && got.nonEmpty
    }
    halfB.coalesce(1).write.mode("append").parquet(inDir)
    q.processAllAvailable()
    q.stop()
    val sunk = iso.table("gseg_sink.ns.sunk")
    val sym = symDiffEmpty(sunk.select(col("event_id")),
      ev.select(col("event_id")), Seq("event_id")).head()
    val finalOk = sym.getLong(0) == 0 && sym.getLong(1) == 0 &&
      agg(sunk) == agg(ev)
    val multiEpoch = graft.sources.SegManifest
      .read(s"$wh/ns/sunk").get._2
      .filter(_.startsWith("str-")).map(_.take(17)).distinct.size >= 2
    // bronze→silver: the sunk table takes DML like any other
    val delType = ev.agg(min(col("event_type"))).head().getString(0)
    iso.sql(
      s"DELETE FROM gseg_sink.ns.sunk WHERE event_type = '$delType'")
    val dmlOk = iso.table("gseg_sink.ns.sunk").count() ==
      ev.filter(col("event_type") =!= delType).count()
    val nTypes = ev.select(col("event_type")).distinct().count()
    Seq((firstOk, finalOk, multiEpoch, dmlOk, nTypes)).toDF(
      "first_batch_parity", "final_parity", "multi_epoch", "dml_ok",
      "n_types")
  }

  /** Gate query [stream_static_join_parity]: the STREAM-STATIC
    * enrichment join — [[Streams.enrichedByUser]], the join shape a
    * 100 TB ingest pipeline runs most (every micro-batch enriched
    * against a reference dim) and the one streaming helper that had
    * no driver row (spec-only until r11). Unlike the stream-stream
    * gates there is NO state and NO watermark: the dim is a batch
    * frame broadcast-replanned per micro-batch, which is exactly the
    * property under test — two micro-batches (the cached midpoint
    * halves) must each join against the same static customer dim and
    * together emit exactly the batch join of the whole slice.
    * Parity: the appended (event_id, segment) set equals the batch
    * left join through the identical declarative definition (every
    * slice user has a customer row here, but left-outer is the
    * production contract — an unmatched event must survive, not
    * vanish). n_rows is relational (left join against the unique-key
    * dim preserves event count); n_multi_batch_users (users with
    * events in BOTH halves — each proves the dim served more than
    * one batch) is oracle-pinned via the same (MIN+MAX)//2 midpoint
    * arithmetic as the init/restart gates. */
  def streamStaticJoinParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    val inDir = s"${g.root}/in"
    twsSliceOf(iso, d) match {
      case None =>
        Seq((false, 0L, 0L)).toDF("static_join_parity", "n_rows", "n_multi_batch_users")
      case Some(sl) =>
        dropChunks(Seq(sl.halfA, sl.halfB), inDir)
        val dim = Tables.customer(iso, d)
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType)))

        val q = g.start(Streams.enrichedByUser(
            iso.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(inDir),
            dim)
          .select(col("event_id"), col("user_id"), col("segment"))
          .writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName("ssj_enriched")
          .option("checkpointLocation", s"${g.root}/ckpt"))
        q.processAllAvailable()
        q.stop()

        // unmatched rows keep a sentinel segment so nulls participate in
        // the set equality instead of collapsing under the join keys
        val key = Seq("event_id", "seg")
        val streamRows = iso.table("ssj_enriched")
          .select(col("event_id"), coalesce(col("segment"), lit("∅")).as("seg"))
        val batchRows = Streams.enrichedByUser(
            iso.read.parquet(sl.full.toString).select(col("event_id"),
              col("user_id")), dim)
          .select(col("event_id"), coalesce(col("segment"), lit("∅")).as("seg"))
        val multiBatch = iso.read.parquet(sl.halfB.toString)
          .select(col("user_id")).distinct()
          .join(iso.read.parquet(sl.halfA.toString)
            .select(col("user_id")).distinct(), Seq("user_id"), "left_semi")
        symDiffEmpty(streamRows, batchRows, key)
          .crossJoin(streamRows.agg(count(lit(1)).as("n_rows")))
          .crossJoin(multiBatch.agg(count(lit(1)).as("n_multi")))
          .select(
            (col("l_only") === 0 && col("r_only") === 0 &&
              col("n_rows") > 0 && col("n_multi") > 0)
              .as("static_join_parity"),
            col("n_rows"),
            col("n_multi").as("n_multi_batch_users"))
    }
  }

  /** Gate query [stream_state_reader]: the `statestore` BATCH data
    * source — Spark 4's state reader — makes checkpointed streaming
    * state itself a queryable relation. This is the strongest
    * possible recovery claim (the restart gate proves state survives
    * only through OUTPUT parity; this reads the state files directly)
    * and the operational tool every production stateful job
    * eventually needs: inspect a live checkpoint's per-key state
    * without replaying the stream. A tws running-totals query
    * consumes the whole cached slice as one micro-batch and stops;
    * then BOTH state variables are read back from the retained
    * checkpoint by name and compared against batch aggregates of the
    * same input:
    *  - ValueState `totals` (key.value, value._1, value._2) must
    *    equal the per-user (count, Σvalue) — counts exact, the
    *    arrival-order double fold within the tws gates' relative
    *    tolerance;
    *  - MapState `types` rows (key, map key, map value) must equal
    *    the per-(user, event_type) counts EXACTLY — one state-store
    *    row per map entry, the layout the processor's scaladoc
    *    claims.
    * n_users (ValueState row count) and n_type_entries (MapState row
    * count) are oracle-pinned: COUNT(DISTINCT user_id) and the
    * distinct (user, type) pair count — so the state tables' very
    * CARDINALITIES meet DuckDB, not just in-engine booleans. */
  def streamStateReader(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    pinRocksDB(g)
    val inDir = s"${g.root}/in"
    val ckpt = s"${g.root}/ckpt"
    twsSliceOf(iso, d) match {
      case None =>
        Seq((false, 0L, 0L)).toDF("state_reader_parity", "n_users", "n_type_entries")
      case Some(sl) =>
        dropFile(sl.full, inDir, "slice.parquet")
        val ev = iso.read.parquet(sl.full.toString)
        val q = g.start(Streams.runningTotalsTws(
            twsStream(iso, inDir, oneFilePerTrigger = false))
          .writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName("ssr_totals")
          .option("checkpointLocation", ckpt))
        q.processAllAvailable()
        q.stop()

        // state AS a relation: one row per key (ValueState), one row
        // per (key, map key) (MapState) out of the last committed batch
        val vState = iso.read.format("statestore")
          .option("stateVarName", "totals").load(ckpt)
          .select(col("key.value").as("user_id"),
            col("value._1").as("n"), col("value._2").as("sum_v"))
        val mState = iso.read.format("statestore")
          .option("stateVarName", "types").load(ckpt)
          .select(col("key.value").as("user_id"),
            col("user_map_key.value").as("event_type"),
            col("user_map_value.value").as("n"))
        val batchTypes = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val vOk = vState.join(userTotals(ev, types = false), Seq("user_id"), "full_outer")
          .agg(count(lit(1)).as("n_users"), misfoldCount(types = false).as("v_bad"))
        val mOk = symDiffEmpty(mState, batchTypes,
            Seq("user_id", "event_type", "n"))
          .crossJoin(mState.agg(count(lit(1)).as("n_type_entries")))
          .select((col("l_only") === 0 && col("r_only") === 0).as("m_ok"),
            col("n_type_entries"))
        vOk.crossJoin(mOk)
          .select(
            (col("v_bad") === 0 && col("m_ok") && col("n_users") > 0 &&
              col("n_type_entries") > 0).as("state_reader_parity"),
            col("n_users"), col("n_type_entries"))
    }
  }

  /** Gate query [stream_state_changefeed]: the statestore source's
    * CHANGE FEED — `readChangeFeed=true` replays the per-batch state
    * CHANGELOG (what RocksDB changelog checkpointing actually writes
    * at scale) instead of the latest snapshot. Where
    * [[streamStateReader]] proves final state is a relation, this
    * proves state HISTORY is one: every (batch, key) delta the store
    * committed is observable, ordered, and reconciles both ways. A
    * tws running-totals query consumes the cached slice as TWO
    * micro-batches (the oracle-midpoint halves); then the ValueState
    * `totals` feed from batch 0 is checked on three axes:
    *  - INTERMEDIATE truth: batch-0 rows must equal half-A-only
    *    per-user aggregates (counts exact, sums within the family
    *    tolerance) — a reader that served final state under a
    *    change-feed label would fail here on every straddler;
    *  - FINAL truth: the last change per key must equal the
    *    full-slice aggregates — changelog replay converges to the
    *    snapshot the plain reader serves;
    *  - SHAPE: each batch's updated-key set must equal that half's
    *    distinct users (an Update-mode tws commits exactly the keys
    *    it saw), and every change_type must be "update" (this
    *    processor never clears state).
    * n_changes (= |users(A)| + |users(B)|) and n_straddlers (users
    * updated in BOTH batches — each one a key whose two feed rows
    * differ, so the feed provably carries per-batch deltas) are
    * oracle-pinned via the family's (MIN+MAX)//2 midpoint
    * arithmetic. */
  def streamStateChangefeed(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import s.implicits._
    import g.iso
    pinRocksDB(g)
    iso.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    val inDir = s"${g.root}/in"
    val ckpt = s"${g.root}/ckpt"
    twsSliceOf(iso, d).filter(_.nB != 0L) match {
      case None =>
        Seq((false, 0L, 0L)).toDF("changefeed_parity", "n_changes", "n_straddlers")
      case Some(sl) =>
        // both halves land BEFORE the query starts; maxFilesPerTrigger=1
        // still yields two micro-batches, and dropChunks stamps strictly
        // increasing mtimes so "oldest first" deterministically means
        // half A = batch 0 (same-ms copies tie otherwise) — one drain
        // cycle replaces the drop/drain/drop/drain round-trip
        dropChunks(Seq(sl.halfA, sl.halfB), inDir)
        val q = g.start(Streams.runningTotalsTws(
            twsStream(iso, inDir, oneFilePerTrigger = true))
          .writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName("scf_totals")
          .option("checkpointLocation", ckpt))
        q.processAllAvailable() // batch 0 = half A, batch 1 = half B
        q.stop()

        // the changelog as a relation: one row per (batch, key) commit
        val feed = g.cache(iso.read.format("statestore") // ≤ 2×TwsUsers rows, read by six branches below
          .option("stateVarName", "totals")
          .option("readChangeFeed", "true")
          .option("changeStartBatchId", "0")
          .load(ckpt)
          .select(col("batch_id"), col("change_type"),
            col("key.value").as("user_id"),
            col("value._1").as("n"), col("value._2").as("sum_v")))
        feed.count() // materialize NOW: the branches share one collect job,
        // and an unmaterialized cache recomputes the changelog replay per
        // branch (the persisted-frame-in-one-job trap)
        def misfolds(state: DataFrame, ref: DataFrame): DataFrame =
          state.join(userTotals(ref, types = false), Seq("user_id"), "full_outer")
            .agg(misfoldCount(types = false))
        val halfA = iso.read.parquet(sl.halfA.toString)
        val halfB = iso.read.parquet(sl.halfB.toString)
        val batch0 = feed.filter(col("batch_id") === 0)
        val interBad = misfolds(batch0, halfA).toDF("b0_bad")
        val lastPer = feed.groupBy(col("user_id")).agg(
          max_by(col("n"), col("batch_id")).as("n"),
          max_by(col("sum_v"), col("batch_id")).as("sum_v"))
        val finalBad = misfolds(lastPer, iso.read.parquet(sl.full.toString))
          .toDF("fin_bad")
        val set0 = symDiffEmpty(batch0.select(col("user_id")),
            halfA.select(col("user_id")).distinct(), Seq("user_id"))
          .toDF("a_l", "a_r")
        val set1 = symDiffEmpty(
            feed.filter(col("batch_id") === 1).select(col("user_id")),
            halfB.select(col("user_id")).distinct(), Seq("user_id"))
          .toDF("b_l", "b_r")
        val meta = feed.agg(count(lit(1)).as("n_changes"),
          sum(when(col("change_type") =!= "update", 1L).otherwise(0L))
            .as("n_nonupdate"))
        val straddle = feed.groupBy(col("user_id"))
          .agg(countDistinct(col("batch_id")).as("nbat"))
          .agg(sum(when(col("nbat") === 2, 1L).otherwise(0L))
            .as("n_straddlers"))
        interBad.crossJoin(finalBad).crossJoin(set0)
          .crossJoin(set1).crossJoin(meta).crossJoin(straddle)
          .select(
            (col("b0_bad") === 0 && col("fin_bad") === 0 &&
              col("a_l") === 0 && col("a_r") === 0 &&
              col("b_l") === 0 && col("b_r") === 0 &&
              col("n_nonupdate") === 0 && col("n_changes") > 0 &&
              col("n_straddlers") > 0).as("changefeed_parity"),
            col("n_changes"), col("n_straddlers"))
    }
  }

  /** Gate query [sim_ivf_indexed]: the DECLARATIVE ANN-INDEX
    * LIFECYCLE — `CALL create_index(method => 'ivf')` persists
    * centroid + assignment gseg tables under the table's own commit
    * protocol; a `read_changefeed` stream then maintains the
    * assignment table INCREMENTALLY through a mixed DML history
    * (late INSERT of a held-out slice → stream STOPPED → mor DELETE +
    * label UPDATE → RESTART from checkpoint), per-batch cost = commit
    * churn, never corpus. Claims:
    *  - index_matches_rebuild: the maintained assignment table is
    *    SET-IDENTICAL to a from-scratch assignment of the live table
    *    under the SAME persisted centroids — inserts, update
    *    pre/post pairs and deletes landed exactly once across the
    *    restart;
    *  - incremental_applied: >= 2 separate batch applications
    *    (counter evidence the parity came from maintenance);
    *  - full_probe_exact / recall_ok: searching THROUGH the index
    *    (stored cids prune candidates — [[graft.functions.Ivf
    *    .ivfTopKIndexed]] recomputes nothing) is exact at
    *    nprobe = nlist and >= 60% recall at nprobe = 4 against the
    *    brute-force top-k over the live table;
    *  - search_file_pruned: the assignment table is
    *    identity-CLUSTERED by cid, and the search is
    *    assignment-FIRST — the probe set pushes as `cid IN (...)`,
    *    so at nprobe < nlist whole files of unprobed cells are
    *    dropped at planning time (`gseg_files_skipped` delta > 0:
    *    the index prunes I/O, not just compute);
    *  - n_vectors / n_cells anchor the final state relationally.
    * At 100 TB: the search reads nprobe/nlist of the INDEX FILES
    * (not a full scan filtered after the fact), and the index
    * follows every DML commit for the cost of that commit's churn. */
  def simIvfIndexed(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import g.iso
    import iso.implicits._
    val wh = privateCatalog(g, "gseg_ann")
    iso.sql("CREATE TABLE gseg_ann.ns.vec " +
      "(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    val emb = Tables.embeddings(iso, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    emb.filter(col("vec_id") % 10 =!= 9)
      .repartition(4).writeTo("gseg_ann.ns.vec").append()
    val idxRow = iso.sql("CALL gseg_ann.create_index('ns.vec', " +
      "'embedding', 'vec_id', method => 'ivf', cells => 16)").head()
    val nCells = idxRow.getInt(3)
    // centroids as persisted — the index table, not a driver copy
    val cents = iso.table("gseg_ann.ns.vec__idx_embedding_cent")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val dir = s"$wh/ns/vec"
    val ckpt = s"${g.root}/ckpt"
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      if (batch.isEmpty) return
      val ss = batch.sparkSession // foreachBatch runs in a clone
      val b = batch.persist()
      try {
        graft.Counters.add("gseg_ann_batches_applied", 1L)
        // 1. clear every touched key's assignment (idempotent under
        //    replay; covers delete, update and re-insert alike)
        b.select(col("vec_id").as("key")).distinct()
          .createOrReplaceTempView("graft_ann_touched")
        ss.sql("MERGE INTO gseg_ann.ns.vec__idx_embedding_assign t " +
          "USING graft_ann_touched s ON t.key = s.key " +
          "WHEN MATCHED THEN DELETE")
        // 2. re-assign rows LIVE after the batch
        graft.functions.Ivf.assignOn(vectorsOf(liveAfter(b, "vec_id")), cents)
          .createOrReplaceTempView("graft_ann_new")
        ss.sql("INSERT INTO gseg_ann.ns.vec__idx_embedding_assign " +
          "SELECT key, cid FROM graft_ann_new")
      } finally { b.unpersist(); () }
    }
    def start(): StreamingQuery =
      g.start(iso.readStream.format("gseg")
        .schema(iso.table("gseg_ann.ns.vec").schema)
        .option(graft.sources.SegCdf.ReadChangefeedOption, "true")
        .option(graft.sources.SegCdf.KeysOption, "vec_id")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(applyBatch _))
    graft.Counters.drain()
    val q1 = start()
    q1.processAllAvailable() // snapshot bootstrap (MERGE converges)
    emb.filter(col("vec_id") % 10 === 9)
      .createOrReplaceTempView("graft_ann_late")
    iso.sql("INSERT INTO gseg_ann.ns.vec SELECT * FROM graft_ann_late")
    q1.processAllAvailable() // the held-out slice, incrementally
    q1.stop()
    // mutate while the stream is DOWN; the restart catches up from
    // the checkpoint and applies both commits exactly once
    iso.sql("DELETE FROM gseg_ann.ns.vec WHERE vec_id % 7 = 3")
    iso.sql("UPDATE gseg_ann.ns.vec SET label = label + 100 " +
      "WHERE vec_id % 5 = 0")
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val applied =
      graft.Counters.drain().getOrElse("gseg_ann_batches_applied", 0L)
    val live = g.cache(vectorsOf(iso.table("gseg_ann.ns.vec")))
    val nVectors = live.count() // materialize ONCE before all consumers
    // the assignment table stays UNCACHED through the whole tail:
    // every consumer (the parity anti-joins, all three searches)
    // replans a fresh scan, so the prune counters always measure the
    // PLANNER, never block storage — and with no shared cache to
    // protect, the independent checks overlap: the brute referee,
    // the full-probe exactness search and the nprobe=4 recall search
    // each run on their own thread while this thread drives the
    // rebuild parity. Searches go
    // assignment-FIRST: the probe set is a pushed `cid IN (...)` on
    // the cid-clustered assignment table, so unprobed cells' files
    // never become read tasks — the index prunes I/O, not just
    // compute. Only the pruning-EVIDENCE search stays serial, after
    // every other search has finished, so its counter delta is
    // attributable to it alone.
    val assignT = iso.table("gseg_ann.ns.vec__idx_embedding_assign")
    val ((brute, total), (full, (part, parity))) = graft.Overlap.run(iso) {
      val b = g.cache(graft.functions.Similarity
        .cosineTopKOf(iso, live.toDF("vec_id", "v"), 20, 5)
        .select(col("query_id"), col("vec_id")))
      (b, b.count())
    } {
      graft.Overlap.run(iso) {
        val f = g.cache(graft.functions.Ivf
          .ivfTopKIndexed(assignT, live, cents, 20, 5, nprobe = nCells)
          .select(col("query_id"), col("vec_id")))
        f.count(); f
      } {
        graft.Overlap.run(iso) {
          val p = g.cache(graft.functions.Ivf
            .ivfTopKIndexed(assignT, live, cents, 20, 5, nprobe = 4)
            .select(col("query_id"), col("vec_id")))
          p.count(); p
        } {
          val rebuilt = graft.functions.Ivf.assignOn(live, cents)
          val sym = symDiffEmpty(assignT, rebuilt,
            Seq("key", "cid")).head()
          sym.getLong(0) == 0 && sym.getLong(1) == 0
        }
      }
    }
    val fullSym = symDiffEmpty(full, brute.toDF(),
      Seq("query_id", "vec_id")).head()
    val fullExact = fullSym.getLong(0) == 0 && fullSym.getLong(1) == 0
    val hits = part.join(brute, Seq("query_id", "vec_id"), "left_semi")
      .count()
    // STORAGE-LEVEL PRUNING EVIDENCE at nprobe < nlist: a 2-query,
    // 2-probe search touches <= 4 of the nCells cells, so the
    // cid-clustered layout must drop the other cells' files at
    // planning time (counter delta, same pin as s38/s49; every
    // other search completed above, so the window is clean)
    val f0 = graft.Counters.peek("gseg_files_skipped")
    graft.functions.Ivf
      .ivfTopKIndexed(assignT, live, cents, 2, 5, nprobe = 2).count()
    val searchPruned = graft.Counters.peek("gseg_files_skipped") > f0
    Seq((nVectors, nCells, parity, applied >= 2L, fullExact,
      hits >= total * 0.6, searchPruned))
      .toDF("n_vectors", "n_cells", "index_matches_rebuild",
        "incremental_applied", "full_probe_exact", "recall_ok",
        "search_file_pruned")
  }

  /** Gate query [stream_wap_cdf_parity]: BRANCH-SCOPED CHANGEFEED —
    * `read_changefeed` with `changefeed_branch` follows a WAP
    * branch's committed LINEAGE (the `.refs` chain) instead of main,
    * so the incremental-maintenance recipe can run against a staged
    * audit BEFORE publish (r17 verdict #6). Lifecycle: initial
    * snapshot at the fork → branch-scoped append (stream catches it
    * live) → stream STOPPED → branch-scoped mor DELETE + cow UPDATE
    * (two lineage commits, one dv-only) + a FOREIGN MAIN APPEND
    * mid-audit → checkpoint RESTART catches up the branch steps.
    * Claims:
    *  - mirror_matches_branch: the foreachBatch-maintained mirror is
    *    set-identical to `VERSION AS OF 'wap'` — every branch commit
    *    landed exactly once across the restart, values included
    *    (sum_qty recomputes relationally in the oracle);
    *  - main_commit_invisible: the poison rows main took mid-audit
    *    never reach the mirror — the stream follows the BRANCH;
    *  - incremental_applied: >= 3 separate batch applications.
    * At 100 TB: each step costs the branch commit's churn; main's
    * traffic — however heavy — is never read. */
  def streamWapCdfParity(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import g.iso
    import iso.implicits._
    val wh = privateCatalog(g, "gseg_wcdf")
    iso.sql("CREATE TABLE gseg_wcdf.ns.t (k BIGINT, qty DOUBLE) " +
      "USING gseg TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.sql("CREATE TABLE gseg_wcdf.ns.m (k BIGINT, qty DOUBLE) " +
      "USING gseg")
    val ord = Tables.orders(iso, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("qty"))
    ord.filter(col("k") % 2 === 0)
      .repartition(4).writeTo("gseg_wcdf.ns.t").append()
    iso.sql("CALL gseg_wcdf.branch('ns.t', 'wap')")
    val dir = s"$wh/ns/t"
    val ckpt = s"${g.root}/ckpt"
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      if (batch.isEmpty) return
      val ss = batch.sparkSession
      val b = batch.persist()
      try {
        graft.Counters.add("gseg_wap_batches_applied", 1L)
        b.select(col("k")).distinct()
          .createOrReplaceTempView("graft_wap_touched")
        ss.sql("MERGE INTO gseg_wcdf.ns.m t USING graft_wap_touched s " +
          "ON t.k = s.k WHEN MATCHED THEN DELETE")
        liveAfter(b, "k").select(col("k"), col("qty"))
          .createOrReplaceTempView("graft_wap_new")
        ss.sql("INSERT INTO gseg_wcdf.ns.m SELECT k, qty FROM " +
          "graft_wap_new")
      } finally { b.unpersist(); () }
    }
    def start(): StreamingQuery =
      g.start(iso.readStream.format("gseg")
        .schema(iso.table("gseg_wcdf.ns.t").schema)
        .option(graft.sources.SegCdf.ReadChangefeedOption, "true")
        .option(graft.sources.SegCdf.KeysOption, "k")
        .option(graft.sources.SegCdf.BranchOption, "wap")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(applyBatch _))
    graft.Counters.drain()
    val wapConf = graft.sources.SegManifest.WapBranchConf
    val q1 = start()
    q1.processAllAvailable() // initial snapshot = the fork state
    // branch-scoped staged append, caught live
    ord.filter(col("k") % 2 === 1)
      .createOrReplaceTempView("graft_wap_odd")
    iso.conf.set(wapConf, "wap")
    try iso.sql("INSERT INTO gseg_wcdf.ns.t SELECT * FROM " +
      "graft_wap_odd")
    finally iso.conf.unset(wapConf)
    q1.processAllAvailable()
    q1.stop()
    // stream DOWN: two more branch commits (mor DELETE = dv-only
    // lineage step; cow UPDATE = rewrite step)...
    iso.conf.set(wapConf, "wap")
    try {
      iso.sql("DELETE FROM gseg_wcdf.ns.t WHERE k % 10 = 3")
      iso.sql("UPDATE gseg_wcdf.ns.t SET qty = qty + 1.0 " +
        "WHERE k % 7 = 1")
    } finally iso.conf.unset(wapConf)
    // ...and a FOREIGN MAIN COMMIT mid-audit: poison keys the
    // branch stream must never surface
    iso.range(1, 4).select(($"id" * -1L).as("k"), lit(0.0).as("qty"))
      .createOrReplaceTempView("graft_wap_poison")
    iso.sql("INSERT INTO gseg_wcdf.ns.t SELECT * FROM graft_wap_poison")
    val q2 = start()
    q2.processAllAvailable() // catch up the branch lineage only
    q2.stop()
    val applied =
      graft.Counters.drain().getOrElse("gseg_wap_batches_applied", 0L)
    val mirror = g.cache(iso.table("gseg_wcdf.ns.m"))
    // materialize the cache with the poison check FIRST so the two
    // consumers below don't race a cold cache; then the branch-audit
    // parity (two anti-joins against the VERSION AS OF read) overlaps
    // the mirror aggregate — independent reads of the same final state
    val poisonSeen = mirror.filter(col("k") < 0).count()
    val audit = iso.sql(
      "SELECT k, qty FROM gseg_wcdf.ns.t VERSION AS OF 'wap'")
    val (sym, r) = graft.Overlap.run(iso) {
      symDiffEmpty(mirror.toDF(), audit, Seq("k", "qty")).head()
    } {
      mirror
        .agg(count(lit(1)).as("n_rows"),
          sum(col("qty").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .head()
    }
    val parity = sym.getLong(0) == 0 && sym.getLong(1) == 0
    Seq((r.getLong(0), r.getDouble(1), parity, poisonSeen == 0L,
      applied >= 3L))
      .toDF("n_rows", "sum_qty", "mirror_matches_branch",
        "main_commit_invisible", "incremental_applied")
  }

  /** Gate query [sim_lsh_indexed]: the PERSISTED LSH INDEX searched
    * THROUGH — `CALL create_index(method => 'lsh')` persists the
    * (key, bucket) table bucket-CLUSTERED; the same changefeed
    * lifecycle as [[simIvfIndexed]] (late INSERT → stream stop → mor
    * DELETE + UPDATE → checkpoint restart) maintains it
    * incrementally; and the search ([[graft.functions.Ivf
    * .lshTopKIndexed]]) reads the STORED buckets assignment-first —
    * each query's multiprobe set (radius-3 bit flips of its own
    * sign-projection signature) pushes as `bucket IN (...)`, so
    * unprobed buckets' files are dropped at planning time. Claims:
    *  - index_matches_rebuild: maintained (key, bucket) table is
    *    set-identical to a from-scratch hash of the live table
    *    (deterministic splitmix64 planes — no plane table to drift);
    *  - incremental_applied: >= 2 batch applications (counter);
    *  - recall_ok: >= 70% of the brute-force cosine top-5 recovered
    *    through the single stored signature at radius 3;
    *  - search_file_pruned: a radius-1 single-query search probes
    *    nbits+1 of the populated buckets — `gseg_files_skipped`
    *    delta > 0 on the bucket-clustered layout.
    * At 100 TB: one stored signature per key, maintenance = commit
    * churn, search I/O = the probed buckets' files only. */
  def simLshIndexed(s: SparkSession, d: String): DataFrame = gate(s) { g =>
    import g.iso
    import iso.implicits._
    val nbits = 6
    val wh = privateCatalog(g, "gseg_lsh")
    iso.sql("CREATE TABLE gseg_lsh.ns.vec " +
      "(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    val emb = Tables.embeddings(iso, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    emb.filter(col("vec_id") % 10 =!= 9)
      .repartition(4).writeTo("gseg_lsh.ns.vec").append()
    iso.sql("CALL gseg_lsh.create_index('ns.vec', 'embedding', " +
      s"'vec_id', method => 'lsh', cells => $nbits)")
    val dir = s"$wh/ns/vec"
    val ckpt = s"${g.root}/ckpt"
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      if (batch.isEmpty) return
      val ss = batch.sparkSession
      val b = batch.persist()
      try {
        graft.Counters.add("gseg_lsh_batches_applied", 1L)
        b.select(col("vec_id").as("key")).distinct()
          .createOrReplaceTempView("graft_lsh_touched")
        ss.sql("MERGE INTO gseg_lsh.ns.vec__idx_embedding_assign t " +
          "USING graft_lsh_touched s ON t.key = s.key " +
          "WHEN MATCHED THEN DELETE")
        graft.functions.Ivf.lshAssignOn(vectorsOf(liveAfter(b, "vec_id")), nbits)
          .createOrReplaceTempView("graft_lsh_new")
        ss.sql("INSERT INTO gseg_lsh.ns.vec__idx_embedding_assign " +
          "SELECT key, bucket FROM graft_lsh_new")
      } finally { b.unpersist(); () }
    }
    def start(): StreamingQuery =
      g.start(iso.readStream.format("gseg")
        .schema(iso.table("gseg_lsh.ns.vec").schema)
        .option(graft.sources.SegCdf.ReadChangefeedOption, "true")
        .option(graft.sources.SegCdf.KeysOption, "vec_id")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(applyBatch _))
    graft.Counters.drain()
    val q1 = start()
    q1.processAllAvailable()
    emb.filter(col("vec_id") % 10 === 9)
      .createOrReplaceTempView("graft_lsh_late")
    iso.sql("INSERT INTO gseg_lsh.ns.vec SELECT * FROM graft_lsh_late")
    q1.processAllAvailable()
    q1.stop()
    iso.sql("DELETE FROM gseg_lsh.ns.vec WHERE vec_id % 7 = 3")
    iso.sql("UPDATE gseg_lsh.ns.vec SET label = label + 100 " +
      "WHERE vec_id % 5 = 0")
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val applied =
      graft.Counters.drain().getOrElse("gseg_lsh_batches_applied", 0L)
    val live = g.cache(vectorsOf(iso.table("gseg_lsh.ns.vec")))
    val nVectors = live.count() // materialize ONCE before all consumers
    // same overlap shape as simIvfIndexed: the assignment table
    // stays UNCACHED (every consumer replans, so the prune counters
    // always measure the planner), and the two independent reads of
    // the final state — the brute referee and the radius-3
    // multiprobe search — run on their own threads while this thread
    // drives the rebuild parity. The pruning-evidence search stays
    // serial, after every other search, so its counter delta is
    // attributable to it alone.
    val assignT = iso.table("gseg_lsh.ns.vec__idx_embedding_assign")
    val ((brute, total), (idx, parity)) = graft.Overlap.run(iso) {
      val b = g.cache(graft.functions.Similarity
        .cosineTopKOf(iso, live.toDF("vec_id", "v"), 20, 5)
        .select(col("query_id"), col("vec_id")))
      (b, b.count())
    } {
      graft.Overlap.run(iso) {
        val i = g.cache(graft.functions.Ivf
          .lshTopKIndexed(assignT, live, nbits, 20, 5, radius = 3)
          .select(col("query_id"), col("vec_id")))
        i.count(); i
      } {
        val rebuilt = graft.functions.Ivf.lshAssignOn(live, nbits)
        val sym = symDiffEmpty(assignT, rebuilt,
          Seq("key", "bucket")).head()
        sym.getLong(0) == 0 && sym.getLong(1) == 0
      }
    }
    val hits = idx.join(brute, Seq("query_id", "vec_id"), "left_semi")
      .count()
    val f0 = graft.Counters.peek("gseg_files_skipped")
    graft.functions.Ivf
      .lshTopKIndexed(assignT, live, nbits, 1, 5, radius = 1).count()
    val searchPruned = graft.Counters.peek("gseg_files_skipped") > f0
    Seq((nVectors, nbits, parity, applied >= 2L,
      hits >= total * 0.7, searchPruned))
      .toDF("n_vectors", "n_bits", "index_matches_rebuild",
        "incremental_applied", "recall_ok", "search_file_pruned")
  }
}
