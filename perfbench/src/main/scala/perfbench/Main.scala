package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.json4s.{JArray, JNothing, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.GraftSession

/** Runs one workload as a closed loop with one client and writes the
  * run record (set-up times, one span per operation, check outcomes,
  * provenance and, when traced, the raw Spark events) as JSON.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --out <file>
  * }}}
  *
  * The session declares every core the JVM may use
  * (`availableProcessors`, which honours the CPU affinity mask).
  *
  * With `--trace 1` a [[Trace]] listener is attached and the loop
  * alternates untraced and traced units (at least untraced, traced,
  * untraced); only traced units carry job tags, so their events are
  * recorded and the untraced ones give the tracing overhead.
  */
object Main {

  /** Input generations per run; the median is reported. */
  private val SetupReps = 3

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traceOn = arg("trace") == "1"
    val work = arg("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores = cores, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)
    val sc = spark.sparkContext
    val workload = Workload(workloadName, spark, seed)

    // input generation, several times: the median is reported and the
    // last one's inputs are measured
    val repS = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      workload.generate(s"$work/rep$r")
      secondsSince(t)
    }
    val tw = System.nanoTime()
    workload.warmup(work)
    // one collection before the window, so set-up garbage is not
    // charged to the first operations; in the window every operation
    // pays for the collections it causes
    System.gc()
    val warmupS = secondsSince(tw)

    val trace = if (traceOn) Some(new Trace) else None
    trace.foreach(sc.addSparkListener)

    val ops = ArrayBuffer.empty[JValue]
    val results = ArrayBuffer.empty[(Int, String, Any)]
    val windowStart = System.nanoTime()
    val deadline = windowStart + (seconds * 1e9).toLong
    // traced runs bracket each traced unit with untraced ones, so the
    // overhead estimate is not the warm-up drift between two units
    val minUnits = math.max(if (traceOn) 3 else 1, workload.minUnits)
    var unit = 0
    var i = 0
    // whole units only: another one starts while at least half a mean
    // unit's time is left, so the window ends as near `seconds` as whole
    // units allow
    def anotherUnit: Boolean = unit < minUnits || {
      val now = System.nanoTime()
      deadline - now > (now - windowStart) / unit / 2
    }
    while (anotherUnit) {
      val traced = traceOn && unit % 2 == 1
      workload.unitOps.foreach { name =>
        val clock = new OpClock(if (traced) Some(sc) else None)
        val opTag = s"${Trace.Tag}-op-$i"
        if (traced) sc.addJobTag(opTag)
        val startMs = System.currentTimeMillis()
        val t = System.nanoTime()
        val (ok, err) =
          try { results += ((i, name, workload.run(name, clock))); (true, "") }
          catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}") }
          finally if (traced) sc.removeJobTag(opTag)
        val dur = secondsSince(t)
        ops += ("i" -> i) ~ ("unit" -> unit) ~ ("name" -> name) ~
          ("traced" -> traced) ~ ("ok" -> ok) ~ ("error" -> err) ~
          ("start_ms" -> startMs) ~ ("end_ms" -> System.currentTimeMillis()) ~
          ("dur_s" -> dur) ~ ("spans" -> JArray(clock.spans.toList))
        i += 1
      }
      unit += 1
    }
    val windowS = secondsSince(windowStart)

    // the listener bus is asynchronous: let it catch up before reading
    trace.foreach { tr =>
      val until = System.nanoTime() + 30L * 1000000000L
      while (!tr.drained && System.nanoTime() < until) Thread.sleep(20)
      sc.removeSparkListener(tr)
    }

    val tc = System.nanoTime()
    val checks = workload.check(results.toSeq)
    val checksS = secondsSince(tc)
    val rt = Runtime.getRuntime
    val record =
      ("workload" -> workloadName) ~ ("seed" -> seed) ~ ("seconds" -> seconds) ~
      ("trace" -> traceOn) ~
      ("provenance" ->
        ("declared_cores" -> cores) ~
        ("driver_max_heap_mb" -> rt.maxMemory() / (1024.0 * 1024.0)) ~
        ("spark_version" -> spark.version) ~
        ("java_version" -> System.getProperty("java.version")) ~
        ("java_vm" -> System.getProperty("java.vm.name"))) ~
      ("inputs" -> workload.inputs) ~
      ("figures" -> workload.figures) ~
      ("setup" -> ("session_build_s" -> sessionS) ~ ("reps_s" -> repS) ~
        ("warmup_s" -> warmupS)) ~
      ("window_s" -> windowS) ~ ("checks_s" -> checksS) ~
      ("jvm_uptime_s" ->
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3) ~
      ("ops" -> JArray(ops.toList)) ~
      ("checks" -> checks.map(c => ("name" -> c.name) ~ ("ok" -> c.ok) ~
        ("detail" -> c.detail) ~ ("ops" -> c.ops))) ~
      ("trace_events" -> trace.map(_.toJson).getOrElse(JNothing))
    Files.write(new File(arg("out")).toPath,
      JsonMethods.compact(JsonMethods.render(record)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
