package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Scratch: phase-level timing of one stateful stream gate's lifecycle
  * (setup / start / per-drain / stop / compare) to locate the
  * family's residual fixed floor. Bench shape, warm streaming engine.
  * Run: sbt "Test/runMain graft.streaming.GateFloorProbe". */
object GateFloorProbe {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = graft.GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // warm both engines
    graft.SparkEntry.queries("a5_global_agg")(spark, "/root/testdata/sf0.1").count()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms0 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    ms0.addData(1)
    val wq = ms0.toDS().groupBy().count()
      .writeStream.outputMode("complete").format("noop").start()
    wq.processAllAvailable(); wq.stop()

    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PHASE $label%-28s ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
      r
    }
    for (round <- 1 to 2) {
      println(s"--- round $round (tumbling gate anatomy, sf0.1) ---")
      val iso = spark.newSession()
      iso.conf.set("spark.sql.shuffle.partitions", "2")
      iso.conf.set("spark.sql.adaptive.enabled", "false")
      iso.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val base = graft.Fs.fastTempDir("graft_floor").toString
      val inDir = s"$base/in"
      val ev = t("slice+maxts") {
        val e = graft.Tables.events(iso, "/root/testdata/sf0.1")
          .filter(col("user_id") < 60)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
        e.agg(max(col("ts"))).head()
        e
      }
      val maxMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
      t("write input parquet") { ev.write.mode("overwrite").parquet(inDir) }
      var q: StreamingQuery = null
      try {
        q = t("start query") {
          Streams.tumblingCounts(Streams.readEventStream(iso, inDir))
            .writeStream.outputMode(OutputMode.Append)
            .format("memory").queryName(s"floor_$round")
            .option("checkpointLocation", s"$base/ckpt").start()
        }
        t("drain 1 (data batch)") { q.processAllAvailable() }
        def sentinel(off: Long): Unit =
          Seq((-1L, new Timestamp(maxMs + off), -1L, "sentinel", 0.0, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .write.mode("append").parquet(inDir)
        t("sentinel1 write") { sentinel(4L * 3600 * 1000) }
        t("drain 2") { q.processAllAvailable() }
        t("sentinel2 write") { sentinel(4L * 3600 * 1000 + 60000) }
        t("drain 3") { q.processAllAvailable() }
      } finally t("stop") { if (q != null) q.stop() }
      t("compare (symdiff agg)") {
        val winCols = Seq("win_start", "event_type", "n_events", "sum_value")
        val streamWin = iso.table(s"floor_$round")
          .filter(col("event_type") =!= "sentinel").select(winCols.map(col): _*)
        val batchWin = graft.operators.EventOps.tumblingWindowOf(ev)
          .select(winCols.map(col): _*)
        graft.functions.Gates.symDiffEmpty(streamWin, batchWin, winCols)
          .collect()
      }
      t("cleanup") { graft.Fs.deleteRecursively(base) }
    }
    spark.stop()
  }
}
