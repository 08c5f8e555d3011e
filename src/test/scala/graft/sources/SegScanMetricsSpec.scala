package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._

import graft.SparkSpec
import graft.operators.CoreOps

/** A gseg scan's pruning counts live on its own plan node
  * ([[SegScanMetrics]]): its execution posts them, they stay right
  * while other scans run at the same time, and a gate that reads them
  * leaves the global counter registry alone. */
class SegScanMetricsSpec extends SparkSpec {
  import SegScanMetrics._

  /** Eight files, each holding one range of 100 ids. */
  private lazy val dir: String = {
    val d = graft.Fs.fastTempDir("graft_scanmetrics").resolve("t").toString
    SegSource.write(spark.range(800).toDF().repartitionByRange(8, col("id")), d)
    d
  }

  private def between(lo: Long, hi: Long): DataFrame =
    spark.read.format("gseg").load(dir)
      .filter(col("id") >= lo && col("id") < hi).groupBy().count()

  private def metrics(df: DataFrame): Map[String, Long] =
    supported.map(m => m.name -> SegScanMetrics.of(df, m.name)).toMap

  test("a gseg scan node carries its pruning counts and its execution posts them") {
    val posted = new ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case u: SparkListenerDriverAccumUpdates => u.accumUpdates.foreach(posted.add)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = spark.read.format("gseg").load(dir).filter(col("id") < 100)
      assert(df.collect().length == 100)
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(supported.forall(m => scan.metrics.contains(m.name)))
      assert(SegScanMetrics.of(df, FilesTotal) == 8)
      assert(SegScanMetrics.of(df, FilesSkipped) == 7)
      val ids = Seq(FilesTotal, FilesSkipped).map(n => scan.metrics(n).id)
      eventually(timeout(30.seconds), interval(20.millis)) {
        assert(posted.asScala.toSet.intersect(Set(ids(0) -> 8L, ids(1) -> 7L)).size == 2)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("two scans run together under Overlap read what each reads alone") {
    def run(lo: Long, hi: Long): DataFrame = { val df = between(lo, hi); df.collect(); df }
    val aloneA = metrics(run(0, 100))
    val aloneB = metrics(run(400, 750))
    assert(aloneA(FilesSkipped) == 7 && aloneB(FilesSkipped) == 4)
    (1 to 3).foreach { _ =>
      val (a, b) = graft.Overlap.run(spark)(run(0, 100))(run(400, 750))
      assert(metrics(a) == aloneA)
      assert(metrics(b) == aloneB)
    }
  }

  test("s41DsvBloomPrune reads its evidence without touching the counter registry") {
    graft.Counters.add("scan_metrics_spec_marker", 7L)
    val row = CoreOps.s41DsvBloomPrune(spark, sfDir).collect().head
    assert(row.getAs[Boolean]("bloom_pruned"))
    assert(graft.Counters.peek("scan_metrics_spec_marker") == 7L)
  }
}
