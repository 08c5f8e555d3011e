package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Counters, GraftSession, SparkEntry}
import graft.queries.EthParity
import graft.sources.{EthSources, SegCdf}
import graft.streaming.Streams

/** Per-run state shared by the workloads: the session, the tracer,
  * the listeners of a traced run, and the pass loop. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val nPasses: Int, val warmFrom: Int, val out: Path, val cores: Int) {
  /** The run is traced; `trace` is whether the current pass is. */
  val traced: Boolean = tracer.enabled
  def trace: Boolean = tracer.on
  val exec: Option[ExecListener] =
    if (traced) Some(new ExecListener) else None
  val phases: Option[PhaseListener] =
    if (traced) Some(new PhaseListener) else None
  exec.foreach(spark.sparkContext.addSparkListener)
  phases.foreach(spark.listenerManager.register)

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  /** (pass, kind, name, ms) for every timed operation. */
  val ops = mutable.ArrayBuffer[(Int, String, String, Double)]()
  val passSeconds = mutable.ArrayBuffer[Double]()
  val passTraced = mutable.ArrayBuffer[Boolean]()
  val passLayers = mutable.ArrayBuffer[Map[String, Double]]()
  private var untimedNs = 0L

  /** Work inside a pass that is not part of its timing (result dumps
    * for the checks, diagnostics). */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** Time one operation; a thrown exception counts as a failed one. */
  def op(pass: Int, kind: String, name: String)(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch {
        case e: Exception =>
          failed += 1
          errors += s"$kind $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300)
          false
      }
    ops += ((pass, kind, name, (System.nanoTime() - t0) / 1e6))
    ok
  }

  private def drain(): Unit =
    if (trace) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  /** A traced run traces the cold pass and the first warm one, then
    * alternates passes traced, untraced, untraced, traced (so a steady
    * JIT speed-up favours neither side); the untraced passes detach the
    * listeners and give the tracing overhead in the same JVM. */
  private def tracePass(p: Int): Boolean =
    traced && (p <= warmFrom || Set(0, 3)((p - warmFrom - 1) % 4))

  private def setTracing(on: Boolean): Unit = if (on != tracer.on) {
    tracer.on = on
    if (on) {
      exec.foreach(spark.sparkContext.addSparkListener)
      phases.foreach(spark.listenerManager.register)
    } else {
      exec.foreach(spark.sparkContext.removeSparkListener)
      phases.foreach(spark.listenerManager.unregister)
    }
  }

  /** Run `nPasses` passes (a traced run at least the first warm one
    * and four alternating ones after it); `body` returns false when the
    * workload has no more input. Traced passes record their layer
    * counters. */
  def passes(body: Int => Boolean): Unit = {
    val n = if (traced) nPasses.max(warmFrom + 5) else nPasses
    var p = 0
    var more = true
    while (more && p < n) {
      setTracing(tracePass(p))
      drain()
      val e0 = exec.map(_.totals)
      val ph0 = phases.map(_.snapshot)
      val (cu0, cn0) = Codegen.snapshot
      val mf0 = Host.minorFaults()
      val wall0 = System.currentTimeMillis()
      untimedNs = 0L
      val t0 = System.nanoTime()
      more = tracer.span("pass", s"pass$p") { body(p) }
      val secs = (System.nanoTime() - t0 - untimedNs) / 1e9
      val wall1 = System.currentTimeMillis()
      passSeconds += secs
      passTraced += trace
      if (trace) {
        drain()
        val d = exec.get.totals - e0.get
        val (a1, o1, pl1) = phases.get.snapshot
        val (a0, o0, pl0) = ph0.get
        val (cu1, cn1) = Codegen.snapshot
        passLayers += Map(
          "pass" -> p.toDouble,
          "host.minor_faults" -> (Host.minorFaults() - mf0).toDouble,
          "catalyst.analysis_ms" -> (a1 - a0).toDouble,
          "catalyst.optimization_ms" -> (o1 - o0).toDouble,
          "catalyst.planning_ms" -> (pl1 - pl0).toDouble,
          "codegen.units" -> (cu1 - cu0).toDouble,
          "codegen.compile_ms" -> (cn1 - cn0) / 1e6,
          "exec.jobs" -> d.jobs.toDouble,
          "exec.stages" -> d.stages.toDouble,
          "exec.tasks" -> d.tasks.toDouble,
          "exec.task_s" -> d.runMs / 1e3,
          "exec.cpu_s" -> d.cpuNs / 1e9,
          "exec.gc_ms" -> d.gcMs.toDouble,
          "exec.shuffle_mb" -> d.shuffleBytes / 1e6,
          "exec.spill_mb" -> d.spillBytes / 1e6,
          "exec.core_util" -> d.runMs / 1e3 / (secs * cores),
          "exec.driver_only_s" ->
            (exec.get.idleMs(wall0, wall1) / 1e3 - untimedNs / 1e9).max(0.0),
          "exec.input_records" -> d.inputRecords.toDouble,
          "exec.input_mb" -> d.inputBytes / 1e6,
          "exec.scan_task_s" -> d.scanRunMs / 1e3)
        tracer.annotate("pass", passLayers.last)
      }
      p += 1
    }
    setTracing(traced)
  }
}

/** One benchmark workload: session settings, input opening (part of
  * set-up), and the measured run. */
trait Workload {
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
  def open(spark: SparkSession, in: Path, out: Path): Unit
  /** Returns workload-specific results for the checks and layers. */
  def run(c: Ctx, in: Path): Map[String, Any]
}

object Driver {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val in = Paths.get(o("input")).toAbsolutePath
    val out = Paths.get(o("out")).toAbsolutePath
    val launchMs = o("launch-ms").toLong
    val tracer = new Tracer(o.get("trace").contains("1"))
    val cores = Runtime.getRuntime.availableProcessors
    val w: Workload = o("workload") match {
      case "eth_etl" => EthEtl
      case "query_mix" => new QueryMix(o("queries").split(',').toSeq)
      case "gseg_churn" => GsegChurn
      case "stream_events" => StreamEvents
    }
    val spark = tracer.span("session", "build") {
      w.configure(GraftSession.builder(s"local[$cores]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", sys.props("java.io.tmpdir"))
        .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    tracer.span("inputs", "open") { w.open(spark, in, out) }
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val c = new Ctx(spark, tracer, o("passes").toInt, o("warm-from").toInt,
      out, cores)
    val extra = w.run(c, in)
    val host = Host.stamp()
    Json.write(out.resolve("result.json"), Map(
      "setup_s" -> setupS,
      "host" -> host,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "errors" -> c.errors.take(20),
      "pass_s" -> c.passSeconds,
      "pass_traced" -> c.passTraced,
      "ops" -> c.ops.map { case (p, k, n, ms) =>
        Map("pass" -> p, "kind" -> k, "name" -> n, "ms" -> ms) },
      "pass_layers" -> c.passLayers,
      "extra" -> extra))
    if (tracer.enabled) Json.write(out.resolve("spans.json"), tracer.toJson)
    spark.stop()
  }

  /** Row → JSON-ready values (decimals as doubles). */
  def cells(r: Row): Seq[Any] = (0 until r.length).map { i =>
    r.get(i) match {
      case d: java.math.BigDecimal => d.doubleValue
      case v => v
    }
  }
}

// ------------------------------------------------------------ eth_etl
/** The paper's six batch jobs, run in order each pass, each writing
  * its golden JSON (the job's own sink) into the pass's directory. */
object EthEtl extends Workload {
  override def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.files.maxPartitionBytes", "16m") // as EthParity.main

  private val files = Seq("transactions.csv", "contracts.csv", "blocks.csv",
    "scams.json", "contractsTop10.csv")

  def open(spark: SparkSession, in: Path, out: Path): Unit =
    files.foreach(f => require(Files.isRegularFile(in.resolve(f)), s"missing $f"))

  def run(c: Ctx, in: Path): Map[String, Any] = {
    c.passes { p =>
      val dir = c.out.resolve(s"eth/pass$p").toString
      EthParity.jobs.foreach { case (name, job) =>
        c.op(p, "job", name) {
          c.tracer.span("EthParity", name) { job(c.spark, in.toString, dir) }
        }
      }
      true
    }
    if (!c.traced) Map.empty
    else {
      // validation yield of the readers each job calls, counted after
      // the measured passes
      val s = c.spark
      val tx = in.resolve("transactions.csv").toString
      val bl = in.resolve("blocks.csv").toString
      def lines(f: String) = s.read.text(f).count()
      val txLines = lines(tx)
      val blLines = lines(bl)
      val kept = Seq(
        EthSources.transactions(s, tx, needValue = true, needTimestamp = true),
        EthSources.transactions(s, tx, needValue = true, needToPrefix = true),
        EthSources.blocks(s, bl),
        EthSources.transactions(s, tx, needValue = true, needTimestamp = true),
        EthSources.transactions(s, tx, needGasPrice = true, needTimestamp = true),
        EthSources.blocks(s, bl, needNumber = true, needMiner = true))
        .map(_.count())
      Map("EthSources.rows_kept" -> kept.sum.toDouble,
        "EthSources.lines_offered" -> (4 * txLines + 2 * blLines).toDouble)
    }
  }
}

// ---------------------------------------------------------- query_mix
/** A fixed list of SparkEntry queries, each built and then collected
  * in full. The first pass writes every collected result to parquet
  * (untimed, from the collected rows, so the query does not run again)
  * for the DuckDB check; every later pass must collect the same rows. */
final class QueryMix(names: Seq[String]) extends Workload {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def open(spark: SparkSession, in: Path, out: Path): Unit =
    tables.foreach(t => require(Files.isRegularFile(in.resolve(s"$t.parquet")), s"missing $t"))

  /** Rows in a canonical order, doubles rounded to six decimals as
    * tools/check_oracle.py rounds them, so summation order does not
    * make two passes differ. */
  private def canon(rows: Array[Row]): Seq[String] = {
    def v(x: Any): String = x match {
      case null => "null"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => v(f.toDouble)
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (a, b) => v(a) + "->" + v(b) }.sorted.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(v).mkString("[", ",", "]")
      case a: Array[_] => v(a.toSeq)
      case o => o.toString
    }
    rows.toSeq.map(v).sorted
  }

  def run(c: Ctx, in: Path): Map[String, Any] = {
    val d = in.toString
    val build = mutable.ArrayBuffer[(Int, String, Double)]()
    val first = mutable.Map[String, Seq[String]]()
    var compared = 0
    val differ = mutable.ArrayBuffer[String]()
    c.passes { p =>
      names.foreach { name =>
        c.untimed(c.spark.catalog.clearCache())
        c.op(p, "query", name) {
          val t0 = System.nanoTime()
          val df = c.tracer.span("SparkEntry", name) {
            SparkEntry.queries(name)(c.spark, d)
          }
          build += ((p, name, (System.nanoTime() - t0) / 1e6))
          val rows = c.tracer.span("materialize", name) { df.collect() }
          c.untimed {
            if (p == 0) {
              first(name) = canon(rows)
              c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
                .coalesce(1).write.parquet(c.out.resolve(s"q/$name").toString)
            } else {
              compared += 1
              if (!first.get(name).contains(canon(rows))) differ += s"pass$p $name"
            }
          }
        }
      }
      true
    }
    Json.write(c.out.resolve("q/oracle_sql.json"),
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    Map("build_ms" -> build.map { case (p, n, ms) =>
      Map("pass" -> p, "name" -> n, "ms" -> ms) },
      "compared" -> compared, "differ" -> differ)
  }
}

// --------------------------------------------------------- gseg_churn
/** A seeded operation log against one gseg catalog table: CTAS, then
  * DML commits interleaved with reads, periodic compact and vacuum. */
object GsegChurn extends Workload {
  private val Table = "gseg.db.t"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.catalog.gseg", "graft.sources.SegCatalog")

  def open(spark: SparkSession, in: Path, out: Path): Unit = {
    spark.conf.set("spark.sql.catalog.gseg.warehouse", out.resolve("wh").toString)
    spark.read.schema("k BIGINT, grp INT, price DOUBLE, tag STRING")
      .parquet(in.resolve("base.parquet").toString)
      .createOrReplaceTempView("base_rows")
  }

  private def dirBytes(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val w = Files.walk(dir)
      try w.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }

  private def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L)))
      .filter(_._2 != 0).toMap

  def run(c: Ctx, in: Path): Map[String, Any] = {
    val s = c.spark
    val wh = Paths.get(s.conf.get("spark.sql.catalog.gseg.warehouse"))
    val tdir = wh.resolve("db/t")
    val lines = Files.readAllLines(in.resolve("ops.jsonl")).asScala
      .filter(_.nonEmpty).map(mapper.readTree).toIndexedSeq
    val perPass = mapper.readTree(Files.readString(in.resolve("meta.json")))
      .get("ops_per_pass").asInt
    val commits = mutable.ArrayBuffer[Map[String, Any]]()
    val gens = mutable.ArrayBuffer[Long]()
    val reads = mutable.ArrayBuffer[Map[String, Any]]()
    val maint = mutable.ArrayBuffer[Map[String, Any]]()
    val planMs = mutable.ArrayBuffer[Double]()

    def currentGen(): Long =
      s.sql(s"CALL gseg.history('db.t')").collect()
        .find(_.getBoolean(3)).map(_.getLong(0)).getOrElse(-1L)

    var next = 0
    c.passes { p =>
      val end = math.min(lines.size, next + (if (p == 0) perPass + 1 else perPass))
      while (next < end) {
        val op = lines(next)
        val i = op.get("i").asInt
        val kind = op.get("kind").asText
        val sql = Option(op.get("spark")).map(_.asText).orNull
        next += 1
        kind match {
          case "ctas" | "insert" | "merge" | "update" | "delete" | "compact" =>
            val (files0, ctr0) = c.untimed((dirBytes(tdir), Counters.snapshot()))
            var res: Seq[Any] = Nil
            val ok = c.op(p, if (kind == "compact") "compact" else "commit", kind) {
              c.tracer.span("SegDml", kind) {
                res = s.sql(sql).collect().headOption.map(Driver.cells).getOrElse(Nil)
              }
            }
            c.untimed {
              val d = delta(files0, dirBytes(tdir))
              val ctr = Counters.snapshot()
              val cd = ctr.map { case (k, v) => k -> (v - ctr0.getOrElse(k, 0L)) }
                .filter(_._2 != 0)
              val g = if (ok) currentGen() else -1L
              if (ok) gens += g
              val written = d.values.filter(_ > 0).sum
              c.tracer.annotate("SegDml",
                cd.map { case (k, v) => k -> v.toDouble } + ("bytes_written" -> written.toDouble))
              commits += Map("i" -> i, "kind" -> kind, "ok" -> ok, "gen" -> g,
                "bytes_written" -> written,
                "counters" -> cd, "result" -> res)
            }
          case "vacuum" =>
            c.op(p, "vacuum", kind) {
              val r = c.tracer.span("SegDml", "vacuum") { s.sql(sql).head() }
              c.untimed(maint += Map("i" -> i, "kind" -> kind,
                "reclaimed" -> r.getLong(1)))
            }
          case _ =>
            val back = Option(op.get("back")).map(_.asInt).getOrElse(0)
            // time travel and changefeed address commits by position;
            // the engine's generation for each is read after the commit
            val fromIdx = math.max(0, gens.size - back)
            val df: DataFrame = kind match {
              case "travel" =>
                s.sql(sql.replace("{gen}", gens(gens.size - 1 - back).toString))
              case "cdf" =>
                s.read.format("gseg").schema(s.table(Table).schema)
                  .option(SegCdf.FromOption, gens(fromIdx).toString)
                  .option(SegCdf.ToOption, gens.last.toString)
                  .option(SegCdf.KeysOption, "k")
                  .load(tdir.toString)
                  .groupBy(col("_change_type"), col("_commit_generation"))
                  .agg(count(lit(1)).as("n"),
                    sum(col("price").cast("decimal(18,2)")).cast("double").as("s"),
                    min(col("k")).as("mn"), max(col("k")).as("mx"))
              case _ => s.sql(sql)
            }
            val ctr0 = c.untimed(Counters.snapshot())
            var rows: Array[Row] = Array.empty
            c.op(p, "read", kind) {
              c.tracer.span("SegSource", kind) {
                if (c.trace) {
                  val t0 = System.nanoTime()
                  df.queryExecution.executedPlan
                  planMs += (System.nanoTime() - t0) / 1e6
                }
                rows = df.collect()
              }
            }
            c.untimed {
              val ctr = Counters.snapshot()
              val cd = ctr.map { case (k, v) => k -> (v - ctr0.getOrElse(k, 0L)) }
                .filter(_._2 != 0)
              c.tracer.annotate("SegSource",
                cd.map { case (k, v) => k -> v.toDouble } + ("rows" -> rows.length.toDouble))
              reads += Map("i" -> i, "kind" -> kind,
                "commit_idx" -> (if (kind == "travel") gens.size - 1 - back
                                 else if (kind == "cdf") fromIdx else gens.size - 1),
                "counters" -> cd,
                "rows" -> rows.toSeq.map(Driver.cells))
            }
        }
      }
      next < lines.size
    }
    // final state for the fingerprint check, and the table's footprint
    val (finalRows, tableBytes) = c.untimed {
      (s.table(Table).collect().toSeq.map(Driver.cells), dirBytes(tdir).values.sum)
    }
    val hist = s.sql("CALL gseg.history('db.t')").collect()
    Map("commits" -> commits, "reads" -> reads, "maintenance" -> maint,
      "ops_run" -> next, "final_rows" -> finalRows, "table_bytes" -> tableBytes,
      "generations" -> hist.length,
      "files_live" -> hist.find(_.getBoolean(3)).map(_.getLong(2)).getOrElse(0L),
      "planning_ms" -> planMs)
  }
}

// ------------------------------------------------------ stream_events
/** Seeded event chunks land one at a time in a file-stream directory;
  * three stateful Streams queries (watermarked tumbling counts,
  * session windows, transformWithState totals on RocksDB) drain each
  * chunk before the next lands. */
object StreamEvents extends Workload {
  private var chunks: IndexedSeq[Path] = IndexedSeq.empty

  override def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def open(spark: SparkSession, in: Path, out: Path): Unit = {
    val w = Files.list(in.resolve("chunks"))
    try chunks = w.iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .toIndexedSeq.sortBy(_.getFileName.toString)
    finally w.close()
    require(chunks.nonEmpty, "no event chunks")
  }

  def run(c: Ctx, in: Path): Map[String, Any] = {
    val s = c.spark
    import s.implicits._
    val base = c.out.resolve("stream")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(in.resolve("meta.json")))
    val perPass = meta.get("chunks_per_pass").asInt
    val rowsOf = meta.get("chunk_rows")
    val progress = mutable.ArrayBuffer[Map[String, Any]]()
    // StreamingQueryProgress of each micro-batch, for the Streams layer
    if (c.traced) s.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
        val p = e.progress
        progress += Map("query" -> p.name, "batch" -> p.batchId,
          "input_rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
          "dropped_late" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
    })
    def src = s.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    def sink(df: DataFrame, name: String, mode: String) =
      df.writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", base.resolve(s"ckpt/$name").toString)
    var queries: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil
    var landed = 0
    val batchMs = mutable.ArrayBuffer[Double]()
    var events = 0L

    def land(f: Path, name: String): Unit = {
      val tmp = srcDir.resolve("." + name)
      Files.copy(f, tmp)
      Files.move(tmp, srcDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def drainAll(): Unit = queries.foreach(_.processAllAvailable())

    try {
      c.passes { p =>
        if (p == 0) c.tracer.span("Streams", "start") {
          queries = Seq(
            sink(Streams.tumblingCounts(src), "bench_tumble", "update").start(),
            sink(Streams.sessionWindows(src), "bench_sess", "append").start(),
            sink(Streams.runningTotalsTws(
              src.select($"user_id", $"event_type", $"value")
                .as[(Long, String, Double)]), "bench_tws", "update").start())
        }
        val stop = math.min(chunks.size, landed + perPass)
        while (landed < stop) {
          val f = chunks(landed)
          c.op(p, "batch", f.getFileName.toString) {
            c.tracer.span("Streams", s"batch$landed") {
              val t0 = System.nanoTime()
              land(f, f.getFileName.toString)
              drainAll()
              batchMs += (System.nanoTime() - t0) / 1e6
            }
          }
          events += rowsOf.get(landed).asLong
          c.tracer.annotate("Streams", Map("input_rows" -> rowsOf.get(landed).asDouble))
          landed += 1
        }
        landed < chunks.size
      }
      // the flush chunk's far-future event closes every open window
      c.untimed {
        land(in.resolve("flush.parquet"), "zz-flush.parquet")
        drainAll()
      }
    } finally queries.foreach(q => try q.stop() catch { case _: Exception => () })
    org.apache.spark.GraftBenchBus.drain(s.sparkContext)

    val tumble = s.table("bench_tumble").groupBy($"win_start", $"event_type")
      .agg(max($"n_events").as("n"), max_by($"sum_value", $"n_events").as("v"))
      .select(date_format($"win_start", "yyyy-MM-dd HH:mm:ss"), $"event_type", $"n", $"v")
    val sess = s.table("bench_sess")
      .select(date_format($"sess_start", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        date_format($"sess_end", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        $"user_id", $"n_events", $"sum_value")
    val tws = s.table("bench_tws").groupBy($"user_id")
      .agg(max($"n_events").as("n"), max_by($"sum_value", $"n_events").as("v"),
        max($"n_types").as("t"))
    Map("landed" -> landed, "events" -> events, "batch_ms" -> batchMs,
      "progress" -> progress.synchronized(progress.toList),
      "tumble" -> tumble.collect().toSeq.map(Driver.cells),
      "sessions" -> sess.collect().toSeq.map(Driver.cells),
      "tws" -> tws.collect().toSeq.map(Driver.cells))
  }
}
