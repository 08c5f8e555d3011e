package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Runs two independent pieces of driver work at once: `background` on
  * a fresh daemon thread, `foreground` on the caller's thread, and
  * returns both results.
  *
  * The gates overlap a batch referee with the stream drain (or with the
  * check it is compared against). The referee is an independent query
  * over a cached slice or immutable files, so the driver submits both
  * job chains and the scheduler back-fills idle cores. The thread is
  * created by the caller, so it inherits the caller's Spark local
  * properties: its jobs carry the caller's job group, and `graft.Bench`
  * attributes them to the query that started them.
  *
  * The background jobs also carry a job tag of their own (tags add to
  * the job group, they do not replace it). If either side throws, the
  * tagged jobs are cancelled, the thread is joined and the failure is
  * rethrown as it was thrown — the foreground's first — with the other
  * side's failure added as suppressed. The call returns or throws only
  * after the thread has ended.
  */
object Overlap {
  /** Names the helper's threads and prefixes its job tags. */
  private[graft] val Prefix = "graft-overlap-"
  private val threadIds = new AtomicInteger()

  def run[B, F](spark: SparkSession)(background: => B)(foreground: => F): (B, F) = {
    val sc = spark.sparkContext
    val tag = Prefix + UUID.randomUUID()
    // written by the thread, read after join (join orders the accesses)
    var bg: Either[Throwable, B] = null
    val thread = new Thread(() => {
      sc.addJobTag(tag)
      bg = try Right(background) catch { case e: Throwable => Left(e) }
    }, Prefix + threadIds.incrementAndGet())
    thread.setDaemon(true)
    thread.start()
    val fg: Either[Throwable, F] =
      try Right(foreground) catch { case e: Throwable => Left(e) }
    if (fg.isLeft) {
      // re-cancel until the thread ends: a job the referee submits after
      // one cancel would otherwise run to completion
      while (thread.isAlive) { sc.cancelJobsWithTag(tag); thread.join(100) }
    } else thread.join()
    (fg, bg) match {
      case (Right(f), Right(b)) => (b, f)
      case (Left(e), other) =>
        other.left.foreach(e.addSuppressed)
        throw e
      case (Right(_), Left(e)) =>
        sc.cancelJobsWithTag(tag)
        throw e
    }
  }
}
