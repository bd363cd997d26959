package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** The one way to run driver-side work concurrently: fork a fixed set of
  * branches, join them all, results in argument order.
  *
  * Each branch gets a FRESH thread created on the calling thread, so it
  * inherits the caller's SparkContext local properties (job group,
  * scheduler pool, any caller tag) as they are at the fork — a pooled
  * thread would carry whatever the pool's creator had. The branch also
  * runs with `spark` as its active session. Every job a branch submits
  * carries one job tag per call; nested calls add their own, so an outer
  * cancel reaches inner branches' jobs too.
  *
  * Failure: from the first branch failure on, the join cancels every job
  * carrying the tag, and keeps cancelling until every branch has finished
  * (one cancel would miss the next job of a sibling that was between two
  * actions). Only then is the first failure rethrown (the same Throwable;
  * later failures, typically the siblings' job-cancelled errors, ride
  * along as suppressed).
  *
  * The helper runs no Spark action itself. Branch counts are fixed by the
  * callers' code (CurationRun's sinks, the PQ subspaces, q101's two fits);
  * there is no thread-count knob.
  */
object Parallel {
  private val calls = new AtomicLong

  def all[T](spark: SparkSession)(branches: (() => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-parallel-${calls.incrementAndGet()}"
    val results = new Array[Any](branches.size)
    val failures = new ConcurrentLinkedQueue[Throwable]
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val t = new Thread(() => {
        SparkSession.setActiveSession(spark)
        sc.addJobTag(tag)
        try results(i) = branch()
        catch { case e: Throwable => failures.add(e) }
      }, s"$tag-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach { t =>
      while (t.isAlive) {
        t.join(50)
        if (!failures.isEmpty)
          sc.cancelJobsWithTag(tag, "a sibling branch failed")
      }
    }
    val first = failures.poll()
    if (first != null) {
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    results.toSeq.map(_.asInstanceOf[T])
  }

  /** [[all]] for two branches of different result types. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](spark)(() => a, () => b)
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
