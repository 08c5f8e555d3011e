package graft

import java.util.concurrent.ConcurrentHashMap

/** Driver-side named counters for per-query execution diagnostics the
  * SparkListener can't see — iterative-loop round counts, adaptive
  * path choices. Operators record here; [[Bench]] snapshots the
  * registry after each query and writes the values into
  * `target/bench_metrics.json` under that query's entry, so a
  * driver-vs-local divergence (e.g. more CC propagation rounds after a
  * corpus regeneration changed the dup-graph diameter) is
  * self-diagnosing from the metrics line alone.
  *
  * All recording happens on the driver thread that builds/materializes
  * the query (the loops run in driver code; executors never touch
  * this), so the ConcurrentHashMap is only defending against the
  * listener-thread snapshot, not racing writers.
  */
object Counters {
  private val reg = new ConcurrentHashMap[String, Long]()

  /** Accumulate `n` into counter `name` (loops that may run more than
    * once per query — e.g. two connectedComponents calls — sum up). */
  def add(name: String, n: Long): Unit =
    reg.merge(name, n, (a, b) => a + b)

  /** Non-destructive read of one counter (0 when unset) — lets a gate
    * assert on a counter mid-query without stealing it from Bench's
    * per-query drain. */
  def peek(name: String): Long = reg.getOrDefault(name, 0L)

  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    reg.asScala.toMap
  }

  def clear(): Unit = reg.clear()

  /** Snapshot-then-clear, for per-query attribution. */
  def drain(): Map[String, Long] = {
    val s = snapshot(); clear(); s
  }

  /** Namespace marking an observed metric as counter-bound. */
  private val ObsPrefix = "graft_ctr_"
  // weak keys: the hook registry must not pin child sessions in memory
  // for the JVM's lifetime (synchronized — registration is rare)
  private val hooked =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  // dedup guard: one add per (execution, metric). A QueryExecution is
  // one physical execution, but the listener fires onSuccess once per
  // ACTION over the frame — a consumer that runs the same observed
  // frame twice (e.g. count() then collect()) re-executes and would
  // double-count without keying on qe.id. Bounded FIFO so the set
  // can't grow with JVM lifetime. EVICTION HORIZON: the 4096-entry cap
  // is shared across all metric names, so in a long-lived JVM a frame
  // whose second action fires after 4096 OTHER observed executions
  // interleaved is re-admitted and counts once more — bounded drift,
  // acceptable because these are diagnostics (Bench drains per query,
  // ~dozens of observations each; nothing here gates correctness).
  private val seenExecs =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Boolean]() {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
          size() > 4096
      })

  /** LAZY counter: attach `expr` as an observed metric on `df`, routed
    * into this registry when a query over the frame actually EXECUTES
    * — the side effect rides the caller's own job instead of an eager
    * count() at DataFrame-construction time (and a frame that is never
    * executed records nothing). Adds are keyed on the QueryExecution
    * id, so counters are per-EXECUTION accumulating: repeated actions
    * over the same Dataset (collect() twice, collect()+show()) share
    * one QueryExecution and record ONCE, while each plan that re-runs
    * the observe — a derived frame, or count()'s own internal
    * aggregate execution — records once more. Callers treating the
    * value as a gauge must read it off a single materialization.
    * NOTE a non-reused self-join of an observed frame has two
    * executing CollectMetrics branches inside ONE execution and Spark
    * surfaces a single merged metric row for the name — do not observe
    * a frame you will self-join without persisting it first. Delivery
    * is via the async listener bus — synchronous readers (specs,
    * Bench) must wait for arrival (`snapshot().contains`) rather than
    * assume the counter landed when the action returned. */
  def observeInto(df: org.apache.spark.sql.DataFrame, name: String,
      expr: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    if (hooked.add(s))
      s.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (n, row) =>
              if (n.startsWith(ObsPrefix) && row.length > 0 && !row.isNullAt(0)
                  && seenExecs.put(s"${qe.id}#$n", java.lang.Boolean.TRUE) == null)
                add(n.stripPrefix(ObsPrefix), row.getLong(0))
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    df.observe(ObsPrefix + name, expr)
  }
}
