package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.TaskContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Parallel]]: results in argument order, branches inherit the caller's
  * Spark context, and a failing branch cancels its siblings' jobs before
  * its own exception surfaces.
  */
class ParallelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A Spark job whose tasks sleep up to `ms`, returning early once the
    * task is killed (a cancel marks the task without interrupting it). */
  private def sleepingJob(ms: Long): Unit =
    spark.sparkContext.parallelize(Seq(1, 2), 2).foreach { _ =>
      val end = System.currentTimeMillis() + ms
      while (System.currentTimeMillis() < end &&
        !TaskContext.get().isInterrupted()) Thread.sleep(20)
    }

  private def awaitActiveJob(): Unit =
    while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      Thread.sleep(20)

  private def assertNoActiveJobs(): Unit = {
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a cancelled sibling's job is still running")
  }

  test("results come back in argument order, whatever order branches finish") {
    val got = Parallel.all(spark)(
      (0 until 5).map(i => () => { Thread.sleep(50L * (5 - i)); i * i }): _*)
    assert(got === Seq(0, 1, 4, 9, 16))
    val (a, b) = Parallel.both(spark)("left", spark.range(7).count())
    assert(a === "left" && b === 7L)
  }

  test("a branch sees the caller's local properties and active session") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.parallel.spec", "caller")
    try {
      val seen = Parallel.all(spark)(
        () => (sc.getLocalProperty("graft.parallel.spec"),
          SparkSession.getActiveSession))
      assert(seen === Seq(("caller", Some(spark))))
      // the fork's snapshot is a copy: a branch's change stays in the branch
      Parallel.all(spark)(() => sc.setLocalProperty("graft.parallel.spec", "x"))
      assert(sc.getLocalProperty("graft.parallel.spec") === "caller")
    } finally sc.setLocalProperty("graft.parallel.spec", null)
  }

  test("a failing branch cancels a sibling's running job; its own exception surfaces") {
    val boom = new IllegalStateException("branch failed")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Parallel.all(spark)(
        () => sleepingJob(60000),
        () => { awaitActiveJob(); throw boom })
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom, "the first failure must surface as itself")
    assert(thrown.getSuppressed.nonEmpty,
      "the sibling's cancelled-job error rides along as suppressed")
    assertNoActiveJobs()
    assert(wall < 20, s"join took $wall s: the sibling's job was not cancelled")
  }

  test("a sibling's job started after the first failure is cancelled too") {
    val failed = new CountDownLatch(1)
    val t0 = System.nanoTime()
    intercept[IllegalArgumentException] {
      Parallel.all(spark)(
        () => { failed.await(); Thread.sleep(300); sleepingJob(60000) },
        () => { failed.countDown(); throw new IllegalArgumentException("x") })
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assertNoActiveJobs()
    assert(wall < 20, s"join took $wall s: the late job was not cancelled")
  }
}
