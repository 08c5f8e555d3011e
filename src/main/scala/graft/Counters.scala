package graft

import java.util.concurrent.ConcurrentHashMap

/** Driver-side named counters for per-query execution diagnostics the
  * SparkListener can't see — iterative-loop round counts, adaptive
  * path choices, the `gseg_*` pruning and commit counts. Operators and
  * the gseg source add here, from any driver thread: the thread that
  * builds the query, planning threads under [[Overlap]], a stream's
  * micro-batch thread, the listener bus.
  *
  * The registry is JVM-global, so a delta over it means something only
  * while nothing else runs. Its readers are diagnostics: [[Bench]]
  * drains it after each query into `target/bench_metrics.json` (a
  * driver-vs-local divergence, e.g. more CC propagation rounds after a
  * corpus regeneration changed the dup-graph diameter, is then
  * self-diagnosing from the metrics line alone), `benchmark/` reads its
  * `gseg_*` keys, and tests read it. A gate reads its evidence from the
  * plan of the action it ran instead (see
  * [[graft.sources.SegScanMetrics]]).
  */
object Counters {
  private val reg = new ConcurrentHashMap[String, java.lang.Long]()

  /** Accumulate `n` into counter `name` (loops that may run more than
    * once per query — e.g. two connectedComponents calls — sum up). */
  def add(name: String, n: Long): Unit =
    reg.merge(name, n, (a, b) => a + b)

  /** Non-destructive read of one counter (0 when unset). */
  def peek(name: String): Long = reg.getOrDefault(name, 0L)

  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    reg.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }

  def clear(): Unit = reg.clear()

  /** Removes every counter and returns what each held, for per-query
    * attribution. Each key is removed on its own, atomically, so an
    * add that races the drain lands either in the result or in the
    * registry, never nowhere. */
  def drain(): Map[String, Long] = {
    val out = scala.collection.mutable.Map[String, Long]()
    reg.keySet.forEach { k =>
      val v = reg.remove(k)
      // a key re-added during the walk can be met twice: sum both
      if (v != null) out(k) = out.getOrElse(k, 0L) + v
    }
    out.toMap
  }
}
