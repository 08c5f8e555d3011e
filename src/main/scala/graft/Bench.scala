package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main. Stdout carries exactly ONE program line — the
  * compact {"metric","value","queries",...} summary, printed last.
  * The per-query execution detail from a SparkListener (jobs, stages,
  * tasks, shuffle bytes, spill, GC, executor time, per-query seconds)
  * goes to `target/bench_metrics.json` and stderr, never stdout.
  *
  * THE SUMMARY LINE MUST FIT THE CONSUMER'S TAIL WINDOW. The harness
  * that records the bench keeps only the last 2000 characters of
  * stdout (BENCH_r01–r03 all have `"tail"` of exactly that length)
  * and parses the summary out of THAT. In rounds 1–2 the summary
  * line outgrew the window and was clipped from the front; in round 3
  * the then-stdout metrics detail line displaced it entirely — every
  * round's `"parsed"` came back null. Hence two rules: (1) nothing
  * else is ever printed to stdout, and (2) [[summaryLine]] enforces a
  * hard byte budget: failures are always shown, the slowest queries
  * are kept largest-first, and however many of the fastest queries
  * don't fit are OMITTED from the map but summarized exactly
  * (`omitted` count + `omitted_sec` sum, so `value` remains the full
  * suite total). Their individual timings still live in the
  * bench_metrics detail file (sec/exec_ms) and in BASELINE.md. The
  * builder is a pure function; BenchSummarySpec pins the budget, the
  * parseability, and the never-hide-a-failure rule.
  *
  * Wall-clock alone can't distinguish "the plan
  * regressed" from "the box was contended" — after two rounds of
  * driver-vs-local bench mysteries on dedup_corpus (and a controlled
  * reproduction in PERF_COMPARE.md: the same binary 21.6 s settled vs
  * 163 s under ext4 writeback), the metrics make a divergence
  * diagnosable in-round: same jobs/shuffle-bytes but inflated
  * wall-clock and GC = contention; more jobs or spill = a real plan
  * regression.
  *
  * The whole suite runs SPARK_GRAFT_BENCH_RUNS times (default 2) and
  * each query reports its MINIMUM — a transient load spike during one
  * pass doesn't misprice the engine — while `totals_per_run` preserves
  * the raw per-pass totals so variance itself stays visible. Reported
  * metrics come from each query's best pass. */
object Bench {
  /** Spark local property naming the driver query a job belongs to.
    * Spark copies local properties into the threads a query starts —
    * Overlap referees, broadcast and subquery threads, a stream's
    * micro-batch thread — so every job of the query carries it. */
  private[graft] val QueryProperty = "graft.query"

  /** Per-query execution counters, attributed via [[QueryProperty]]. */
  private final class QMetrics {
    var jobs, stages, tasks = 0L
    var shuffleRead, shuffleWrite, memSpill, diskSpill = 0L
    var gcMs, execMs = 0L
  }

  /** Query-name family: the prefix before the first '_' with trailing
    * digits stripped — "dedup_corpus"→"dedup", "q17_small_qty"→"q",
    * "a10_median"→"a". Groups the suite into a few dozen stable
    * buckets for the summary rollup. */
  private[graft] def familyOf(name: String): String = {
    val head = name.takeWhile(_ != '_')
    val stripped = head.reverse.dropWhile(_.isDigit).reverse
    if (stripped.isEmpty) head else stripped
  }

  /** Build the final summary line under a hard byte budget (default
    * 1700 — the consumer's 2000-char tail minus sbt's ~75-char
    * `[success]` epilogue, a possible `[info] ` prefix, and slack).
    * Failed queries (elapsed < 0) are ALWAYS in the map; successful
    * ones are kept slowest-first until the budget is hit; the rest are
    * folded into `omitted`/`omitted_sec` so the map never lies by
    * silence and `value` stays the exact full-suite total.
    *
    * `families` is the scale valve: a COMPLETE {family:[n, sec,
    * n_failed]} rollup whose size depends on the number of families
    * (a few dozen, stable) rather than the number of queries — so at
    * 250+ queries, when most per-query timings fall to the omission
    * cut, the line still reports where every second went and where
    * every failure sits. Only a pathological name set could blow the
    * budget on the rollup itself; then it gives way (last) while
    * per-query failure entries never do. */
  private[graft] def summaryLine(times: Seq[(String, Double)], sfName: String,
      budget: Int = 1700, sigChanged: Seq[String] = Nil,
      hostFaultMs: Seq[Long] = Nil): String = {
    def r2(d: Double): Double = math.round(d * 100) / 100.0
    def fmt(v: Double): String =
      if (v < 0) "-1" else if (v >= 100) f"$v%.1f" else f"$v%.2f"
    val (fail, ok) = times.partition(_._2 < 0)
    // stable, fully deterministic keep order: slowest first, name ties
    val ordered = fail.sortBy(_._1) ++ ok.sortBy { case (n, t) => (-t, n) }
    val total = r2(ok.map(_._2).sum)
    val famStr = times.groupBy(t => familyOf(t._1)).toSeq.sortBy(_._1)
      .map { case (f, ts) =>
        val oks = ts.filter(_._2 >= 0)
        "\"" + f + "\":[" + ts.size + "," + r2(oks.map(_._2).sum) + "," +
          (ts.size - oks.size) + "]"
      }.mkString("{", ",", "}")
    // plan-drift self-report: the count is exact, the name list is
    // capped (first 3, sorted) so the field has a fixed byte ceiling
    // and can't displace failure entries from the budget. Full list
    // in TRENDS.json.
    val sigStr =
      if (sigChanged.isEmpty) ""
      else {
        val names = sigChanged.sorted.take(3)
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        s""""sig_changed":${sigChanged.size},"sig_changed_names":$names,"""
      }
    // host-state self-label: per-pass fresh-page-fault probe times
    // (see main's hostFaultProbe) so a recorded BENCH artifact says
    // whether the box was degraded WITHOUT TRENDS forensics. Fixed
    // byte ceiling (a handful of numbers), so it never displaces
    // failure entries from the budget.
    val hostStr =
      if (hostFaultMs.isEmpty) ""
      else hostFaultMs.mkString(""""host_fault_ms":[""", ",", "],")
    def line(kept: Seq[(String, Double)], omitted: Seq[(String, Double)],
        fams: String) = {
      val qs = kept.map { case (n, v) => "\"" + n + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","families":$fams,"queries":$qs,""" +
        s""""n_queries":${times.size},$sigStr$hostStr""" +
        s""""omitted":${omitted.size},"omitted_sec":${r2(omitted.map(_._2).sum)},""" +
        s""""value":$total,"unit":"sec","sf":"$sfName"}"""
    }
    var k = ordered.size
    var out = line(ordered, Nil, famStr)
    while (out.length > budget && k > fail.size) {
      k -= 1
      out = line(ordered.take(k), ordered.drop(k), famStr)
    }
    if (out.length > budget)
      out = line(ordered.take(k), ordered.drop(k), "{}")
    out
  }

  /** Accepted-signature sets from the LAST 8 ledger entries at the
    * same sf (an sf0.001 smoke entry must not flag every sf0.1 query
    * as changed). A set, not just the latest entry: queries whose
    * plan sits near an AQE runtime threshold legitimately flip
    * between two physical variants run-to-run (r10: dedup_simhash's
    * exchange-reuse flip, 13:13:58 ↔ 12:12:44, driver-only) —
    * against a single previous signature such a query flags FOREVER,
    * drowning the drift signal. Against the set, each genuinely new
    * signature flags exactly once and then becomes accepted; a
    * benign A↔B oscillation goes quiet after both variants have been
    * seen. The window bounds memory of retired plans so a regression
    * to a months-old shape still flags. Both halves of the contract
    * (flip-goes-quiet AND novel-shape-still-flags) are pinned in
    * BenchSummarySpec. */
  private[graft] def acceptedSigSets(
      root: com.fasterxml.jackson.databind.node.ArrayNode,
      sfName: String): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    (root.size() - 1 to 0 by -1).iterator
      .map(root.get)
      .filter(e => e.get("sf") != null && e.get("sf").asText() == sfName)
      .take(8)
      .flatMap(e => Option(e.get("signatures")).iterator
        .flatMap(_.properties().asScala.iterator
          .map(en => en.getKey -> en.getValue.asText())))
      .toSeq
      .groupMap(_._1)(_._2)
      .view.mapValues(_.distinct).toMap
  }

  /** Signature = jobs:stages:shuffleKB (raw). Task counts are
    * excluded and the shuffle term compares under a ±50% RATIO
    * tolerance rather than equality: exact bytes jitter run-to-run
    * under AQE (measured: profile_orders 3926 vs 4220 KB on
    * identical binaries, which also straddles any fixed rounding
    * boundary) while real plan changes move volume by integer
    * factors. Job/stage counts compare exactly. */
  private[graft] def sigChanged(prev: String, cur: String): Boolean = {
    val (p, c) = (prev.split(':'), cur.split(':'))
    if (p.length != 3 || c.length != 3) return prev != cur
    if (p(0) != c(0) || p(1) != c(1)) return true
    val (pk, ck) = (p(2).toDouble max 1.0, c(2).toDouble max 1.0)
    ck / pk > 1.5 || pk / ck > 1.5
  }

  /** Changed = differs from EVERY accepted variant (a genuinely new
    * plan shape); a query with no history never flags. */
  private[graft] def flagsAsChanged(prevSigSets: Map[String, Seq[String]],
      name: String, sig: String): Boolean =
    prevSigSets.get(name).exists(_.forall(sigChanged(_, sig)))

  /** Host fresh-page-fault probe: malloc `bytes` OFF-HEAP (the JVM
    * heap is -Xms=-Xmx -XX:+AlwaysPreTouch, so on-heap allocation
    * reuses already-faulted pages and would measure nothing), touch
    * one byte per 4 KiB page, free, and report wall ms. Healthy box:
    * ~0.4 s/GiB; the degraded state PERF_COMPARE.md §Round-16
    * measured is a >50× collapse on exactly this path — so the probe
    * runs before each timed pass and its times ride the summary line
    * (`host_fault_ms`), making every BENCH artifact self-label its
    * host state instead of requiring TRENDS forensics. glibc munmaps
    * blocks this large on free, so each pass's probe faults fresh
    * pages again. */
  private def hostFaultProbeMs(bytes: Long = 1L << 30): Long = {
    import org.apache.spark.unsafe.Platform
    val t0 = System.nanoTime()
    val addr = Platform.allocateMemory(bytes)
    try {
      var off = 0L
      while (off < bytes) { Platform.putByte(null, addr + off, 1); off += 4096 }
    } finally Platform.freeMemory(addr)
    (System.nanoTime() - t0) / 1000000
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // SPARK_GRAFT_BENCH_FAST=1: contention-diagnosis mode — ONE pass
    // instead of min-of-two, and no TRENDS.json append (a diagnostic
    // run must not enter the signature ledger). Roughly halves a
    // full-suite cycle so A/B bisection iterates faster; the driver
    // never sets it, so recorded BENCH numbers stay full-mode.
    // (Trigger counts per stream gate stay untouched: they are
    // already the minimum — two chunks — that makes each gate's
    // cross-batch state claim non-vacuous.)
    val fast = sys.env.get("SPARK_GRAFT_BENCH_FAST").contains("1")
    val nRuns = if (fast) 1 else math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan-diversity-sized codegen class cache (GraftSession has
      // the measurements): one sweep of the suite generates ~3.4k
      // codegen units; the 100-entry default recompiles all of them
      // on EVERY pass, so min-of-passes never sees a warm query
      .config("spark.sql.codegen.cache.maxEntries", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val metrics = new ConcurrentHashMap[String, QMetrics]()
    val stageOwner = new ConcurrentHashMap[Int, String]()
    @volatile var current = "warmup"
    def forQuery(name: String): QMetrics =
      metrics.computeIfAbsent(name, _ => new QMetrics)
    // jobs carry the query name in the QueryProperty local property;
    // stages inherit it through the job that submitted them. Spark
    // copies local properties into every thread a query starts,
    // including a stream's micro-batch thread (built by start() on
    // the query's thread) — where the job group is overwritten with
    // the stream's runId. So attribution survives listener-bus lag: a
    // gate's last micro-batch events can land after `current` has
    // moved to the next query (the r9 driver run's phantom
    // stream_session_parity signature change). Only a job without the
    // property falls back to the current query.
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val name = Option(j.properties)
          .flatMap(p => Option(p.getProperty(QueryProperty)))
          .getOrElse(current)
        val m = forQuery(name)
        m.synchronized { m.jobs += 1 }
        j.stageInfos.foreach(si => stageOwner.put(si.stageId, name))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = forQuery(stageOwner.getOrDefault(si.stageId, current))
        val tm = si.taskMetrics
        if (tm != null) m.synchronized {
          m.stages += 1
          m.tasks += si.numTasks
          m.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          m.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          m.memSpill += tm.memoryBytesSpilled
          m.diskSpill += tm.diskBytesSpilled
          m.gcMs += tm.jvmGCTime
          m.execMs += tm.executorRunTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // observed metrics (capBaskets' `*_capped_baskets`) stay on the
    // plan that computed them: each successful action's are added to
    // the registry, and so to the query that is running
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (n, row) =>
          if (row.length > 0) row.get(0) match {
            case v: Long => Counters.add(n, v)
            case _ =>
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })

    // listener events are delivered async; wait until the counters
    // stop moving before reading — a fixed sleep undercounts exactly
    // when the box is contended, which is when these numbers matter
    // most. Two call sites: a thorough end-of-pass drain (two stable
    // snapshots) and a short between-query drain so jobs completing
    // just after fn(...).count() returns aren't charged to the NEXT
    // query once `current` moves on — the short one runs AFTER the
    // wall-clock is recorded, so query timings are unaffected.
    def drain(stableNeeded: Int, stepMs: Int, capMs: Int): Unit = {
      def snapshot(): (Long, Long) = {
        var j = 0L; var st = 0L
        metrics.forEach { (_, m) => m.synchronized { j += m.jobs; st += m.stages } }
        (j, st)
      }
      var prev = snapshot()
      var stable = 0
      var waited = 0
      while (stable < stableNeeded && waited < capMs) {
        Thread.sleep(stepMs); waited += stepMs
        val cur = snapshot()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    }
    def drainStable(): Unit = drain(2, 250, 15000)
    def drainShort(): Unit = drain(1, 100, 1500)

    // absorb one-time JVM/codegen/reader init so the first timed query
    // isn't charged for session warmup
    SparkEntry.queries.get("a5_global_agg").foreach(_(spark, sfDir).count())
    // same for the streaming engine: the first StreamingQuery of a JVM
    // pays StreamExecution/state-store/offset-log class init (~1 s)
    // that belongs to the session, not to whichever stream gate runs
    // first — one 3-row micro-batch query absorbs it
    try {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      ms.addData(1, 2, 3)
      val wq = ms.toDS().groupBy().count()
        .writeStream.outputMode("complete").format("noop").start()
      wq.processAllAvailable(); wq.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream warmup skipped: ${e.getMessage}") }

    // dev-only subset knob (the driver never sets it): comma-separated
    // name PREFIXES — "stream,dedup" benches just those families while
    // iterating on them
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.exists(n.startsWith)) }

    // b1's bucketed warehouse tables are one-time SESSION setup (the
    // in-memory catalog forgets them across JVMs): create them here
    // so both timed passes run the identical 4-job read-join plan.
    // Without this, pass 1 carries the two saveAsTable writes (8
    // jobs) and pass 2 doesn't — and since metrics come from the
    // MIN-time pass, a degraded host that slows pass 2 past pass 1
    // flips the recorded signature 4:4:3 → 8:8:3 (BENCH_r16's only
    // sig_changed entry, adjudicated r17).
    if (selected.contains("b1_bucketed_join"))
      selected("b1_bucketed_join")(spark, sfDir).count()

    // a failed query records -1, never a bogus elapsed time
    def onePass(): (Map[String, Double], Map[String, QMetrics],
        Map[String, Map[String, Long]]) = {
      val counters = scala.collection.mutable.Map[String, Map[String, Long]]()
      val results = selected.map { case (name, fn) =>
        // queries that persist intermediates (dedup/LSH) must not leak
        // cached blocks into later queries: a full storage pool evicts
        // blocks mid-query and recompute cascades (round-1 dedup_corpus)
        spark.catalog.clearCache()
        Counters.clear()
        current = name
        spark.sparkContext.setLocalProperty(QueryProperty, name)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(QueryProperty, null)
        drainShort()
        // operator-emitted loop/path counters (cc_rounds, fuzzy path,
        // gseg pruning and commits) record during fn, on its threads;
        // observed metrics arrive on the listener bus, which
        // drainShort's stability wait has just let settle — hence
        // drain AFTER it. That wait polls the SPARK listener's counters
        // as a PROXY for the ExecutionListenerBus having drained, so an
        // observed metric delivered later lands in the next query's
        // counters: they are diagnostics. No gate reads this registry;
        // gates read their evidence from their own action's plan
        val snap = Counters.drain()
        if (snap.nonEmpty) counters(name) = snap
        name -> (if (ok) elapsed else -1.0)
      }
      drainStable()
      import scala.jdk.CollectionConverters._
      val snap = metrics.asScala.toMap // materialized before the clear
      metrics.clear(); stageOwner.clear()
      (results.toMap, snap, counters.toMap)
    }
    val faultMs = scala.collection.mutable.ArrayBuffer[Long]()
    val basePasses = (1 to nRuns).map { _ =>
      faultMs += hostFaultProbeMs()
      onePass()
    }
    // Probe-gated recovery pass (r17 verdict #5): when EVERY timed
    // pass ran on a degraded host (BENCH_r17: probes [117923, 60803]
    // vs ~400 healthy), min-of-N cannot recover an engine-
    // representative number — so back off once, re-probe, and run ONE
    // extra pass only if the box actually recovered. Budget stays
    // bounded: one sleep + one probe always, one pass at most; the
    // artifact then either carries a healthy pass or >= 3 probe
    // entries proving the box never came back.
    val DegradedProbeMs = 6000L // ~10x the healthy ~0.4 s/GiB probe
    val recoveryPass =
      if (fast || faultMs.exists(_ < DegradedProbeMs)) None
      else {
        System.err.println(s"[bench] every pass degraded (probe " +
          s"${faultMs.mkString("[", ",", "]")} ms/GiB) — 60 s backoff, " +
          "re-probe, one recovery pass if healthy")
        Thread.sleep(60000)
        val p = hostFaultProbeMs()
        faultMs += p
        if (p < DegradedProbeMs) Some(onePass())
        else { System.err.println(
          s"[bench] host still degraded ($p ms/GiB) — no extra pass"); None }
      }
    val passes = basePasses ++ recoveryPass

    val names = selected.keys.toSeq
    // per query: min over successful passes; metrics + counters from
    // that pass
    val best: Map[String, (Double, QMetrics, Map[String, Long])] = names.map { n =>
      val timed = passes.map { case (r, m, c) =>
        (r(n), m.getOrElse(n, new QMetrics), c.getOrElse(n, Map.empty[String, Long]))
      }
      val ok = timed.filter(_._1 >= 0)
      n -> (if (ok.isEmpty) (-1.0, new QMetrics, Map.empty[String, Long])
            else ok.minBy(_._1))
    }.toMap

    def mb(b: Long): Double = math.round(b / 1048.576) / 1000.0
    val ms = names.map { n =>
      val m = best(n)._2
      val ctr = best(n)._3
      val ctrStr = if (ctr.isEmpty) ""
        else ctr.toSeq.sorted
          .map { case (k, v) => "\"" + k + "\":" + v }
          .mkString(""","counters":{""", ",", "}")
      s""""$n":{"sec":${math.round(best(n)._1 * 1000) / 1000.0},""" +
        s""""jobs":${m.jobs},"stages":${m.stages},"tasks":${m.tasks},""" +
        s""""shuffle_read_mb":${mb(m.shuffleRead)},"shuffle_write_mb":${mb(m.shuffleWrite)},""" +
        s""""spill_mem_mb":${mb(m.memSpill)},"spill_disk_mb":${mb(m.diskSpill)},""" +
        s""""gc_ms":${m.gcMs},"exec_ms":${m.execMs}$ctrStr}"""
    }.mkString("{", ",", "}")
    val perRun = passes.map(_._1.values.filter(_ >= 0).sum)
      .map(t => math.round(t * 100) / 100.0).mkString("[", ",", "]")
    // The full per-query detail goes to a FILE (and stderr), never to
    // stdout: rounds 1-3 proved the consumer keeps only the last ~2 KB
    // of stdout, and anything printed near the summary can push it out
    // of that window. Stdout carries exactly ONE program line — the
    // budgeted summary — emitted last, after spark.stop(), so no
    // shutdown logging can trail it.
    val fault = faultMs.mkString("[", ",", "]")
    // exec_ms is NOT CPU when the host is in its fault-path state: a
    // wide stage can report 10-20x the healthy executor time at the
    // SAME wall (measured: profile_orders 3.2 vs 78 exec-s). Stamp the
    // caveat into the artifact whenever any probe of this run crossed
    // the degraded threshold, so a reader classifying wall-vs-exec
    // doesn't mistake contention for compute.
    val execNote =
      if (faultMs.exists(_ >= DegradedProbeMs))
        """"exec_ms_caveat":"host fault probe degraded during this run; """ +
          """wide-stage exec_ms can inflate 10-20x at unchanged wall — """ +
          """contention, not CPU","""
      else ""
    val detail =
      s"""{"metric":"bench_metrics","runs":$nRuns,"totals_per_run":$perRun,""" +
        s"""$execNote"host_fault_ms":$fault,"metrics":$ms}"""
    val detailPath = java.nio.file.Paths.get("target", "bench_metrics.json")
    try {
      java.nio.file.Files.createDirectories(detailPath.getParent)
      java.nio.file.Files.write(detailPath, detail.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // diagnostics only, never fatal

    val sfName = new java.io.File(sfDir).getName
    // TRENDS.json: machine-readable per-round ledger (one array entry
    // per full-suite bench run) so a round-over-round wall-clock
    // uptick is classifiable WITHOUT judge-side diffing of bench
    // JSONs: per query it records seconds plus an execution SIGNATURE
    // (jobs:stages:tasks:shuffleKB) — same signature + higher wall =
    // box noise; changed signature = a real plan change, listed in
    // `signature_changed`. Skipped for SPARK_GRAFT_BENCH_ONLY subset
    // runs (a partial suite would poison the ledger).
    var changedNames: Seq[String] = Nil
    if (only.isEmpty && !fast) try {
      import com.fasterxml.jackson.databind.ObjectMapper
      import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
      val mapper = new ObjectMapper()
      val trendPath = java.nio.file.Paths.get("TRENDS.json")
      val root: ArrayNode =
        if (java.nio.file.Files.exists(trendPath))
          mapper.readTree(trendPath.toFile) match {
            case a: ArrayNode => a
            case _ => mapper.createArrayNode()
          }
        else mapper.createArrayNode()
      // compare against the ACCEPTED-SIGNATURE SET from the last 8
      // entries at the SAME sf (an sf0.001 smoke entry must not flag
      // every sf0.1 query as changed). A set, not just the latest
      // entry: queries whose plan sits near an AQE runtime threshold
      // legitimately flip between two physical variants run-to-run
      // (r10: dedup_simhash's exchange-reuse flip, 13:13:58 ↔
      // 12:12:44, driver-only) — against a single previous signature
      // such a query flags FOREVER, drowning the drift signal. Against
      // the set, each genuinely new signature flags exactly once and
      // then becomes accepted; a benign A↔B oscillation goes quiet
      // after both variants have been seen. The window bounds memory
      // of retired plans so a regression to a months-old shape still
      // flags.
      val prevSigSets = acceptedSigSets(root, sfName)
      def sigOf(n: String): String = {
        val m = best(n)._2
        s"${m.jobs}:${m.stages}:${(m.shuffleRead + m.shuffleWrite) / 1024}"
      }
      val entry: ObjectNode = mapper.createObjectNode()
      entry.put("run_at", java.time.Instant.now().toString)
      entry.put("sf", sfName)
      entry.put("n_queries", names.size)
      entry.put("total_sec",
        math.round(names.map(best(_)._1).filter(_ >= 0).sum * 100) / 100.0)
      val qs = entry.putObject("queries")
      val sigs = entry.putObject("signatures")
      val changed = entry.putArray("signature_changed")
      names.sorted.foreach { n =>
        qs.put(n, math.round(best(n)._1 * 1000) / 1000.0)
        val sig = sigOf(n)
        sigs.put(n, sig)
        if (flagsAsChanged(prevSigSets, n, sig)) {
          changed.add(n); changedNames = changedNames :+ n
        }
      }
      root.add(entry)
      mapper.writerWithDefaultPrettyPrinter().writeValue(trendPath.toFile, root)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] TRENDS.json append failed: ${e.getMessage}") }
    System.err.println(detail)
    val summary = summaryLine(names.map(n => n -> best(n)._1), sfName,
      sigChanged = changedNames, hostFaultMs = faultMs.toSeq)
    try spark.stop() catch { case _: Throwable => () }
    println(summary)
    System.out.flush()
  }
}
