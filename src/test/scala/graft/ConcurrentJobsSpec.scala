package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** `Bridge.concurrently`, driven with plain thunks: the jobs run at once
  * under the caller's session and local properties, every job finishes
  * before a failure is rethrown, and no pool thread outlives the call.
  */
class ConcurrentJobsSpec extends AnyFunSuite with SparkSpec {

  private val threads = new ConcurrentLinkedQueue[Thread]()

  /** A job that records its thread and waits until all `n` have started,
    * so jobs run one after another would time out here.
    */
  private def job(started: CountDownLatch)(body: => Unit): () => Unit = () => {
    threads.add(Thread.currentThread())
    started.countDown()
    assert(started.await(30, TimeUnit.SECONDS), "the jobs did not run at once")
    body
  }

  private def poolThreadsGone(n: Int): Unit = {
    val ts = threads.asScala.toSeq
    assert(ts.size == n && ts.distinct.size == n, s"$n jobs ran on threads $ts")
    assert(ts.forall(_.isDaemon), "a non-daemon pool thread keeps the JVM from exiting")
    assert(ts.forall(!_.isAlive), s"alive after the call: ${ts.filter(_.isAlive)}")
  }

  test("jobs run at once, in the caller's session and job group") {
    threads.clear()
    val sc = spark.sparkContext
    val started = new CountDownLatch(4)
    val seen = new ConcurrentLinkedQueue[(Int, String, Boolean, Long)]()
    sc.setJobGroup("concurrent-group", "concurrent jobs")
    try Bridge.concurrently(spark)((0 until 4).map(i => job(started) {
      seen.add((i, sc.getLocalProperty("spark.jobGroup.id"),
        SparkSession.getActiveSession.exists(_ eq spark), spark.range(i + 1).count()))
    }))
    finally sc.clearJobGroup()
    assert(seen.asScala.toSeq.sortBy(_._1) ==
      (0 until 4).map(i => (i, "concurrent-group", true, i + 1L)))
    poolThreadsGone(4)
  }

  test("a failure is rethrown only after every job finished, and no pool thread outlives it") {
    threads.clear()
    val started = new CountDownLatch(3)
    val first = new IllegalStateException("first in order, last to fail")
    val second = new IllegalArgumentException("fails at once")
    @volatile var slowDone = false
    val thrown = intercept[IllegalStateException] {
      Bridge.concurrently(spark)(Seq(
        job(started) { Thread.sleep(300); throw first },
        job(started) { throw second },
        job(started) { Thread.sleep(600); slowDone = true }))
    }
    assert(slowDone, "rethrown before the slowest job finished")
    assert(thrown eq first, s"rethrew $thrown, not the first failing job's exception")
    assert(thrown.getSuppressed.toSeq == Seq(second))
    poolThreadsGone(3)
  }
}
