package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** A gseg batch scan's pruning counts as SQL metrics on its own plan
  * node. [[SegScan]] declares one metric per count and, once Spark has
  * planned its partitions, reports the counts of the [[SegPrune.Result]]
  * it planned from; `BatchScanExec` sets them on the node's metrics and
  * posts them with the execution (`SparkListenerDriverAccumUpdates`,
  * which the SQL UI and the event log keep). A caller reads a count
  * from the plan of the action it ran ([[of]]), whatever else runs at
  * the same time. The names are the `gseg_*` counter keys that
  * `SegPrune.Result.publish` adds for the same pass. */
object SegScanMetrics extends AdaptiveSparkPlanHelper {
  val FilesTotal = "gseg_files_total"
  val FilesSkipped = "gseg_files_skipped"
  val BloomSkipped = "gseg_bloom_files_skipped"
  val LimitSkipped = "gseg_limit_files_skipped"
  val TopnSkipped = "gseg_topn_files_skipped"
  val KeyGroups = "gseg_key_groups"
  val BucketGroupsPruned = "gseg_bucket_groups_pruned"
  val RuntimePredicates = "gseg_runtime_predicates"

  /** Spark re-creates a metric from its class name, so each count is a
    * class with a no-arg constructor. */
  abstract class Sum(override val name: String, override val description: String)
      extends CustomSumMetric
  class FilesTotalMetric extends Sum(FilesTotal, "files planned")
  class FilesSkippedMetric extends Sum(FilesSkipped, "files skipped")
  class BloomSkippedMetric extends Sum(BloomSkipped, "files skipped by bloom")
  class LimitSkippedMetric extends Sum(LimitSkipped, "files skipped by LIMIT")
  class TopnSkippedMetric extends Sum(TopnSkipped, "files skipped by TopN")
  class KeyGroupsMetric extends Sum(KeyGroups, "key groups")
  class BucketGroupsPrunedMetric extends Sum(BucketGroupsPruned, "bucket groups pruned")
  class RuntimePredicatesMetric extends Sum(RuntimePredicates, "runtime predicates")

  val supported: Array[CustomMetric] = Array(new FilesTotalMetric,
    new FilesSkippedMetric, new BloomSkippedMetric, new LimitSkippedMetric,
    new TopnSkippedMetric, new KeyGroupsMetric, new BucketGroupsPrunedMetric,
    new RuntimePredicatesMetric)

  /** The counts of the pass a scan planned from, and the number of
    * runtime predicates it was handed. */
  def report(r: SegPrune.Result, runtimePredicates: Long): Array[CustomTaskMetric] = {
    val groups = r.pass.groups.fold(Seq.empty[(Seq[Any], Seq[String])])(_.of)
    Array(FilesTotal -> r.files.size.toLong,
      FilesSkipped -> (r.files.size - r.kept.size).toLong,
      BloomSkipped -> r.skipped(SegPrune.Bloom),
      LimitSkipped -> r.skipped(SegPrune.Limit),
      TopnSkipped -> r.skipped(SegPrune.TopN),
      KeyGroups -> groups.size.toLong,
      BucketGroupsPruned ->
        groups.count(_._2.forall(r.skippedBy.get(_).contains(SegPrune.Bucket))).toLong,
      RuntimePredicates -> runtimePredicates).map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: CustomTaskMetric
    }
  }

  /** Metric `name` summed over the gseg scans of `df`'s executed plan,
    * adaptive query stages and subqueries included. Read it after an
    * action on `df` itself: `head()` and `count()` run a plan of their
    * own, so a gate collects `df` (or `df.groupBy().count()`). */
  def of(df: DataFrame, name: String): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[SegScan] =>
        b.metrics.get(name).fold(0L)(_.value)
    }.sum
}
