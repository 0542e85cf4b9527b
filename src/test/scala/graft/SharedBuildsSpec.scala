package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The shared-build chain runner ([[SharedBuilds.runChains]]): a
  * failing chain must stop its siblings' Spark jobs, not leave them
  * running from detached pool threads.
  */
class SharedBuildsSpec extends AnyFunSuite {
  import TestSession._

  test("a failing chain cancels the sibling chain's job and surfaces its own cause") {
    val sc = spark.sparkContext
    val longStarted = new CountDownLatch(1)
    val longEnded = new CountDownLatch(1)
    @volatile var longJob = -1
    @volatile var longResult: Option[JobResult] = None
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "long chain")) {
          longJob = e.jobId
          longStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == longJob) {
          longResult = Some(e.jobResult)
          longEnded.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        SharedBuilds.runChains(sc, Seq(
          () => {
            sc.setJobDescription("long chain")
            // interrupt the sleeping tasks when the job is cancelled
            sc.setLocalProperty("spark.job.interruptOnCancel", "true")
            sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(60000))
          },
          () => {
            assert(longStarted.await(60, TimeUnit.SECONDS))
            throw new IllegalStateException("chain failed")
          }))
      }
      assert(e.getMessage == "chain failed")
      assert(longEnded.await(30, TimeUnit.SECONDS),
        "the long chain's job must end once its sibling fails")
      assert(!longResult.contains(JobSucceeded),
        "the long chain's job must be cancelled, not run to completion")
      assert((System.nanoTime() - t0) / 1e9 < 50.0)
    } finally sc.removeSparkListener(listener)
  }
}
