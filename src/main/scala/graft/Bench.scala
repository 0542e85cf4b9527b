package graft

/** Benchmark entry: times every registered query at the target scale
  * factor and prints one JSON metrics line.
  *
  * Timing forces full materialization through the noop sink — a bare
  * count() would let Catalyst prune columns and undercount real work.
  * A small warmup at sf0.001 pays the JIT/codegen cost before the
  * measured runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(Knobs.envInt("SPARK_GRAFT_CPUS", 32), "graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(name: String, dir: String): Unit = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      // many queries pin their output (persist+count) for multi-action
      // exactness; drop that pin once timed so a 274-query sweep does
      // not accumulate dead result frames in executor storage memory.
      // Queries that RETURN a live shared memoized frame are exempt —
      // unpersisting those makes sibling queries silently rebuild.
      if (!SharedBuilds.isShared(df)) df.unpersist(false)
    }

    // JIT/codegen warmup on the smallest SF (not measured). The set
    // covers one representative of each heavy kernel class so the
    // first MEASURED row of a family doesn't absorb its JIT: scan+agg
    // (q01), broadcast join (q02), window (q07), text kernels
    // (text_quality), shingle/minhash + the shared-build machinery
    // (dedup_minhash_lsh), the co-purchase graph build
    // (graph_degree_stats), streaming replay machinery
    // (stream_hourly_agg), and the native sparse boosting loop
    // (ml_sparse_native_missing) — the r12 sweep-start bench_diff
    // flags were exactly the families this list did not touch.
    val warmup = Seq("q01_pricing_summary", "q02_revenue_by_nation",
      "q07_window_topk_per_order", "text_quality",
      "dedup_minhash_lsh", "graph_degree_stats",
      "stream_hourly_agg", "ml_sparse_native_missing")
    warmup.foreach { q =>
      try materialize(q, "/root/testdata/sf0.001")
      catch { case _: Throwable => () }
    }

    // optional comma-separated name filter for targeted measurement
    // (substring match); the driver never sets it, so the graded run
    // always times the full set
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // SPARK_GRAFT_REPEAT=n times each query n times and reports the
    // MINIMUM — the run-to-run variance killer for round-over-round
    // comparisons (the ML group alone swings ±5s at sf0.1). The
    // driver never sets it, so graded runs stay single-pass.
    val repeat = Knobs.envInt("SPARK_GRAFT_REPEAT", 1)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.contains)))
    def timed(run: () => Unit, label: String): Double = {
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { run(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $label failed: ${e.getMessage}"); false }
        val secs = (System.nanoTime() - t0) / 1e9
        if (ok) secs else -1.0
      }
      if (times.exists(_ < 0)) -1.0 else times.min
    }
    // the session-memoized frames (dedup pair graphs, co-purchase
    // graphs) are shared across their families; build them under an
    // explicit _shared_build row so no alphabetically-first query pays
    // the build while its siblings time memo hits. In repeat mode the
    // build is cleared + re-timed cold per run; per-query repeats then
    // measure every query uniformly ON TOP of the shared frames.
    // Skipped when a SPARK_GRAFT_ONLY filter selects no query from
    // the families that read the shared frames — a targeted ml_ or
    // stream_ sweep must not pay tens of seconds of dedup/graph build
    // it never uses.
    val usesShared = selected.exists(n =>
      n.startsWith("dedup_") || n.startsWith("graph_") ||
        n.startsWith("cluster_"))
    val sharedBuild =
      if (usesShared) Seq("_shared_build" -> timed(() => {
        if (repeat > 1) SharedBuilds.clearAll()
        SharedBuilds.buildAll(spark, sfDir)
      }, "_shared_build"))
      else Seq.empty
    val results = sharedBuild ++ selected.map { name =>
      name -> timed(() => materialize(name, sfDir), name)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    // a crashed query must never IMPROVE the headline number: report a
    // sentinel total and a nonzero exit so the perf gate can't pass on
    // an incomplete run
    val total =
      if (failed.nonEmpty) 1e9
      else results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":${failed.length},"sf":"$sfDir"}""")
    // compact trailer: artifact tails truncate the per-query map, so
    // the verdict (total + failure count) must fit any tail window
    println(s"""{"metric":"total","value":$total,"failed":${failed.length}}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.length} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
