package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}

import graft.SparkEntry

/** Dev tool: per-JOB time attribution inside a query — the "measure
  * first" loop of the optimization guide without the (disabled) UI.
  * Runs each named query through the noop sink on the bench session
  * shape, collecting every Spark job's wall time, task count and task
  * time via a listener, then prints the jobs sorted by duration. Gaps
  * between summed job time and query wall time = driver-side work
  * (planning, collects, checkpoint setup).
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.Knobs.envInt("SPARK_GRAFT_CPUS", 32),
      "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")

    final case class JobRow(id: Int, desc: String, start: Long,
      var end: Long = -1L, var stages: Int = 0, var tasks: Int = 0,
      var taskTimeMs: Long = 0L)
    val jobs = new ArrayBuffer[JobRow]()
    val byId = scala.collection.mutable.Map.empty[Int, JobRow]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val props = Option(e.properties)
        val desc = props
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        val r = JobRow(e.jobId, desc, e.time)
        jobs += r; byId(e.jobId) = r
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = e.stageInfo
          // attribute the stage to the most recent job containing it
          jobs.reverseIterator
            .find(j => j.end < 0 || si.completionTime.exists(_ <= j.end + 50))
            .foreach { j =>
              j.stages += 1
              j.tasks += si.numTasks
              j.taskTimeMs +=
                (si.taskMetrics.executorRunTime)
            }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup like Bench
    Seq("q01_pricing_summary", "text_quality").foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    args.foreach { name =>
      Thread.sleep(200)
      val mark = jobs.synchronized(jobs.length)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      val qJobs = jobs.synchronized(jobs.drop(mark).toList)
      val summed = qJobs.map(j => (j.end - j.start) max 0L).sum / 1e3
      println(f"\n=== $name wall=$wall%.2f s  jobs=${qJobs.length} " +
        f"summedJobTime=$summed%.2f s  driverGap=${wall - summed}%.2f s")
      qJobs.sortBy(j => -(j.end - j.start)).take(30).foreach { j =>
        val d = (j.end - j.start) / 1e3
        println(f"  job ${j.id}%4d ${d}%7.3f s  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d taskTime=${j.taskTimeMs / 1e3}%7.2f s  ${j.desc.take(80)}")
      }
      val n = qJobs.length
      val tiny = qJobs.count(j => (j.end - j.start) < 100)
      println(f"  [$n jobs total, $tiny under 100ms]")
    }
    spark.stop()
  }
}
