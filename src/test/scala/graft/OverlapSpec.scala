package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** [[Overlap]]: failures reach the caller unwrapped, a failing side
  * cancels the other side's jobs, the background inherits the caller's
  * job group, and no helper thread outlives the call. */
class OverlapSpec extends SparkSpec {
  private def overlapThreadAlive: Boolean =
    Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.isAlive && t.getName.startsWith(Overlap.Prefix))

  /** Records (job id, job group) of every job the helper tagged. */
  private class TaggedJobs extends SparkListener {
    val started = new ConcurrentLinkedQueue[(Int, String)]()
    val firstStart = new CountDownLatch(1)
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val tags = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .getOrElse("").split(',')
      if (tags.exists(_.startsWith(Overlap.Prefix))) {
        started.add((j.jobId, j.properties.getProperty("spark.jobGroup.id")))
        firstStart.countDown()
      }
    }
  }

  private def withTaggedJobs[T](f: TaggedJobs => T): T = {
    val l = new TaggedJobs
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  test("a background failure surfaces with its own type and message") {
    val e = intercept[IllegalArgumentException] {
      Overlap.run(spark) {
        throw new IllegalArgumentException("referee broke")
      } {
        spark.range(10).count()
      }
    }
    assert(e.getMessage === "referee broke")
    assert(!overlapThreadAlive)
  }

  test("a foreground failure cancels the background job and joins its thread") {
    withTaggedJobs { jobs =>
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Overlap.run(spark) {
          // about 50 s when not cancelled: 2 tasks of 1000 records x 50 ms
          spark.sparkContext.parallelize(1 to 2000, 2)
            .map { i => Thread.sleep(50); i }.count()
        } {
          assert(jobs.firstStart.await(30, TimeUnit.SECONDS),
            "the background job never started")
          throw new IllegalStateException("drain broke")
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage === "drain broke")
      assert(e.getSuppressed.toSeq.map(_.getClass) === Seq(classOf[SparkException]))
      assert(secs < 20, s"the helper took $secs s to return")
      assert(!overlapThreadAlive)
      val tagged = jobs.started.asScala.map(_._1).toSet
      assert(tagged.nonEmpty)
      // the status store follows the scheduler through the listener bus
      eventually(timeout(10.seconds), interval(50.millis)) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds()
          .toSet.intersect(tagged).isEmpty)
      }
    }
  }

  test("background jobs carry the caller's job group") {
    withTaggedJobs { jobs =>
      val sc = spark.sparkContext
      sc.setJobGroup("overlap-spec", "job group inheritance")
      try Overlap.run(spark)(spark.range(100).count())(spark.range(10).count())
      finally sc.clearJobGroup()
      eventually(timeout(10.seconds), interval(50.millis)) {
        assert(!jobs.started.isEmpty)
      }
      assert(jobs.started.asScala.forall(_._2 == "overlap-spec"))
      // the tag stays on the helper's thread
      assert(sc.getJobTags().isEmpty)
    }
  }

  test("both results come back on success") {
    val (b, f) = Overlap.run(spark)(spark.range(100).count())("fg")
    assert(b === 100L)
    assert(f === "fg")
    assert(!overlapThreadAlive)
  }

  test("src/main creates thread pools only in the Overlap helper") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val banned = Seq("Executors.new", "newFixedThreadPool", "newSingleThreadExecutor")
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Overlap.scala")
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}"
          }
        }.toList
      finally files.close()
    assert(offenders.isEmpty,
      s"overlap work must go through graft.Overlap: ${offenders.mkString(", ")}")
  }
}
