package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.{Bench, SparkSpec}

/** [[StreamGates.gate]]: a failing gate leaves no stream, cache or temp
  * dir behind, and a stream's micro-batch jobs carry the query
  * property [[Bench]] attributes jobs by. */
class GateHarnessSpec extends SparkSpec {
  private def streamThreadAlive(runId: String): Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t => t.isAlive &&
      t.getName.startsWith("stream execution thread") && t.getName.contains(runId))

  test("a failing gate stops its streams, releases its cache and deletes its root") {
    var root: String = null
    var runId: String = null
    var cached: DataFrame = null
    val e = intercept[IllegalStateException] {
      StreamGates.gate(spark) { g =>
        root = g.root
        import g.iso.implicits._
        implicit val ctx: SQLContext = g.iso.sqlContext
        val ms = MemoryStream[Int]
        ms.addData(1, 2, 3)
        val q = g.start(ms.toDS().writeStream.format("noop")
          .option("checkpointLocation", s"${g.root}/ckpt"))
        runId = q.runId.toString
        q.processAllAvailable()
        cached = g.cache(g.iso.range(10).toDF())
        cached.count()
        throw new IllegalStateException("gate broke")
      }
    }
    assert(e.getMessage === "gate broke")
    assert(!streamThreadAlive(runId))
    assert(cached.storageLevel === StorageLevel.NONE)
    assert(!Files.exists(Paths.get(root)))
  }

  test("a stream's micro-batch jobs carry the Bench query property") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add((j.properties.getProperty("spark.jobGroup.id"),
          Option(j.properties.getProperty(Bench.QueryProperty))))
        ()
      }
    }
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    val ms = MemoryStream[Int]
    sc.addSparkListener(listener)
    try {
      // the property is set only around start(): the micro-batch
      // thread must have copied it, since this thread no longer has it
      // when the batches run
      sc.setLocalProperty(Bench.QueryProperty, "harness-spec")
      val q = try ms.toDS().groupBy().count().writeStream
          .outputMode("complete").format("noop").start()
        finally sc.setLocalProperty(Bench.QueryProperty, null)
      try {
        ms.addData(1, 2, 3); q.processAllAvailable()
        ms.addData(4); q.processAllAvailable()
      } finally q.stop()
      // StreamExecution runs micro-batch jobs under the runId job group
      val runId = q.runId.toString
      eventually(timeout(10.seconds), interval(50.millis)) {
        assert(jobs.asScala.count(_._1 == runId) >= 2)
      }
      assert(jobs.asScala.filter(_._1 == runId)
        .forall(_._2.contains("harness-spec")))
    } finally sc.removeSparkListener(listener)
  }

  test("stream gates own their lifecycle in one harness") {
    def lines(p: Path): Seq[(String, Int)] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.map { case (l, i) => (l, i + 1) }
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()

    val bannedAnywhere = Seq(": StreamingQuery = null", "registerStreamOwner",
      "streamOwner", "safeStop")
    val stray = for {
      p <- sources; (l, n) <- lines(p) if bannedAnywhere.exists(l.contains)
    } yield s"$p:$n"
    assert(stray.isEmpty, s"stream lifecycle outside the gate harness: ${stray.mkString(", ")}")

    val rehost = for {
      p <- sources; (l, n) <- lines(p)
      if l.contains("createDataFrame(java.util.Arrays.asList")
    } yield s"${p.getFileName}:$n"
    assert(rehost.size === 1 && rehost.head.startsWith("Gates.scala:"),
      s"collect-and-re-host must go through Gates.sealGate: ${rehost.mkString(", ")}")

    // the harness and its fixtures are the private members above the
    // first public gate; the gates below them only state their parts
    val gates = lines(root.resolve("graft/streaming/StreamGates.scala"))
    val firstGate = gates.find(_._1.startsWith("  def ")).map(_._2)
      .getOrElse(fail("no public gate in StreamGates.scala"))
    val owned = Seq("fastTempDir(", ".newSession()", "RocksDBStateStoreProvider",
      "deleteRecursively", "isolated(", "owned(")
    val leaks = gates.collect {
      case (l, n) if n >= firstGate && owned.exists(l.contains) => s"StreamGates.scala:$n"
    }
    assert(leaks.isEmpty, s"gate lifecycle outside the harness: ${leaks.mkString(", ")}")
  }
}
