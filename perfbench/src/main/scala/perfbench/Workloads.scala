package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JInt, JObject, JString, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.{SharedBuilds, SparkEntry}
import graft.ml.GraftBoost
import graft.ml.GraftBoost.{BoostParams, GraftBoostModel}

/** Clock of one operation. `layer` wraps a call into a public function
  * of one engine layer: it times the call and, when the operation is
  * traced (`tagging` holds the context), tags every Spark job the call
  * submits with the layer name.
  */
final class OpClock(tagging: Option[SparkContext]) {
  val spans = scala.collection.mutable.ArrayBuffer.empty[JValue]

  def layer[T](name: String)(body: => T): T = {
    val tag = s"${Trace.Tag}-layer-$name"
    tagging.foreach(_.addJobTag(tag))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = (System.nanoTime() - t0) / 1e9
      spans += ("layer" -> name) ~ ("start_ms" -> startMs) ~
        ("end_ms" -> System.currentTimeMillis()) ~ ("dur_s" -> dur)
      tagging.foreach(_.removeJobTag(tag))
    }
  }
}

object OpClock {
  def untraced: OpClock = new OpClock(None)
}

/** Outcome of one output check, made outside the timed window. `ops`
  * names the timed operations the check vouches for: a failed check
  * counts each of them as a failed operation.
  */
final case class Check(name: String, ok: Boolean, detail: String, ops: Seq[Int])

/** One benchmark workload: input generation, an untimed warm-up, the
  * operations the closed loop repeats, and the checks of their outputs.
  */
trait Workload {
  /** Operation names of one unit: the loop only ever runs whole units. */
  def unitOps: Seq[String]
  /** Fewest units an untraced run measures. */
  def minUnits: Int = 1
  /** Generate and write every input under `dir`. Runs several times;
    * the last call's inputs are the ones measured.
    */
  def generate(dir: String): Unit
  /** Untimed warm-up: one whole unit, paying JIT and codegen, plus any
    * one-off preparation the operations need.
    */
  def warmup(workDir: String): Unit
  /** One operation; its result is kept for the checks. */
  def run(name: String, clock: OpClock): Any
  /** Check the results of the timed operations (index, name, result). */
  def check(results: Seq[(Int, String, Any)]): Seq[Check]
  /** Input rows, bytes and sizes, for the provenance record. */
  def inputs: JObject
  /** Per-run figures beside the timings (holdout loss and the like). */
  def figures: JObject
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload =
    name match {
      case "boost" => new BoostWorkload(spark, seed)
      case "prep_queries" => new QueryWorkload(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Order-free digest of (id, proba) rows: XOR of per-row hashes. */
  val digest = expr("bit_xor(xxhash64(id, proba))")

  def writeNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run independent tasks side by side (each submits its own jobs). */
  def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = t()
      }))
      fs.map(_.get())
    } finally pool.shutdown()
  }

  def obj(m: Map[String, Long]): JObject =
    JObject(m.toList.sorted.map { case (k, v) => k -> JInt(v) })
}

/** One `GraftBoost.train` over a seeded multi-file parquet frame, with
  * the checks of the models it returns.
  */
final class FitOp(spark: SparkSession, seed: Long, val name: String,
    rows: Long, classes: Int, val params: BoostParams) {
  private var dir = ""
  private var trainRows = 0L
  private var priorLoss = Double.NaN
  private var holdoutLoss = Seq.empty[Double]

  def generate(d: String): () => Unit = () => {
    dir = s"$d/$name"
    Inputs.boostFrame(spark, rows, seed, classes, files = 8)
      .write.mode("overwrite").parquet(dir)
  }

  def run(clock: OpClock): GraftBoostModel = {
    val df = clock.layer("sources")(spark.read.parquet(dir))
    clock.layer("train")(GraftBoost.train(df.filter(!col("holdout")),
      Inputs.FeatureCols, "label", params))
  }

  /** Label counts of the (training, holdout) splits. */
  private def labelCounts(df: DataFrame): (Map[Int, Double], Map[Int, Double]) = {
    val rows = df.groupBy("holdout", "label").count().collect()
    def side(h: Boolean) = rows.filter(_.getBoolean(0) == h)
      .map(r => r.getDouble(1).toInt -> r.getLong(2).toDouble).toMap
    (side(false), side(true))
  }

  /** Checks of the fitted models (operation index, model); `reference`
    * is the warm-up's model, which every fit must reproduce bit for bit.
    */
  def check(fits: Seq[(Int, GraftBoostModel)], reference: GraftBoostModel): Seq[Check] = {
    val all = spark.read.parquet(dir)
    val holdout = all.filter(col("holdout"))
    // constant prior: the training split's class frequencies
    val (train, held) = labelCounts(all)
    trainRows = train.values.sum.toLong
    priorLoss = held.map { case (k, n) =>
      -n * math.log(math.max(train.getOrElse(k, 0.0) / trainRows, 1e-15))
    }.sum / held.values.sum
    val rowLoss = -log(greatest(
      element_at(col("proba"), col("label").cast("int") + 1), lit(1e-15)))
    def score(m: GraftBoostModel): (Double, String) = {
      val r = GraftBoost.predictProba(m, holdout)
        .agg(avg(rowLoss), Workload.digest.cast("string")).head()
      (r.getDouble(0), r.getString(1))
    }
    val (_, refDigest) = score(reference)
    val metric = if (classes > 2) "mlogloss" else "logloss"
    fits.flatMap { case (i, m) =>
      val (loss, dig) = score(m)
      holdoutLoss :+= loss
      val h = m.evalsResult("train")(metric)
      val falls = h.length == params.numRound && h.last < h.head &&
        h.sliding(2).forall(p => p.length < 2 || p(1) <= p(0) + 1e-9)
      Seq(
        Check(s"$name:holdout_beats_prior", loss <= 0.85 * priorLoss,
          f"holdout $metric $loss%.5f vs prior $priorLoss%.5f", Seq(i)),
        Check(s"$name:train_loss_falls", falls,
          h.map(v => f"$v%.5f").mkString(" "), Seq(i)),
        Check(s"$name:prediction_digest_stable", dig == refDigest,
          s"holdout digest $dig vs warm-up fit $refDigest", Seq(i)))
    }
  }

  def inputs: JObject = ("rows" -> rows) ~
    ("bytes" -> Inputs.bytesUnder(dir)) ~ ("features" -> Inputs.NumFeatures) ~
    ("classes" -> classes) ~ ("rounds" -> params.numRound) ~
    ("max_depth" -> params.maxDepth)

  def figures: JObject = ("holdout_loss" -> holdoutLoss) ~
    ("loss_unit" -> (if (classes > 2) "mlogloss" else "logloss")) ~
    ("prior_loss" -> priorLoss) ~ ("train_rows" -> trainRows) ~
    ("rounds" -> params.numRound)
}

/** `GraftBoost.predictProba` over the seeded scoring frame into the
  * noop sink, with the checks of what it scores.
  */
final class ScoreOp(spark: SparkSession, seed: Long, val rows: Long) {
  val name = "score"
  private var dir = ""
  var model: GraftBoostModel = _

  def generate(d: String): () => Unit = () => {
    dir = s"$d/$name"
    Inputs.boostFrame(spark, rows, seed + 1, 2, files = 16)
      .drop("holdout").write.mode("overwrite").parquet(dir)
  }

  def run(clock: OpClock): Unit = {
    val df = clock.layer("sources")(spark.read.parquet(dir))
    val scored = clock.layer("predict.call")(GraftBoost.predictProba(model, df))
    clock.layer("predict.exec")(Workload.writeNoop(scored))
  }

  /** Scores the whole frame into (rows, lowest and highest class
    * probability, digest).
    */
  def pass(): (Long, Double, Double, String) = {
    val p0 = element_at(col("proba"), 1)
    val p1 = element_at(col("proba"), 2)
    val r = GraftBoost.predictProba(model, spark.read.parquet(dir))
      .agg(count(lit(1)), min(least(p0, p1)), max(greatest(p0, p1)),
        Workload.digest.cast("string")).head()
    (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3))
  }

  /** `first` is the warm-up's pass; one more pass must agree with it. */
  def check(ops: Seq[Int], first: (Long, Double, Double, String)): Seq[Check] = {
    val expected = spark.read.parquet(dir).count()
    val passes = Seq(first, pass())
    Seq(
      Check("score:row_count_matches_input", passes.forall(_._1 == expected),
        s"scored ${passes.map(_._1).mkString("/")} of $expected rows", ops),
      Check("score:probabilities_in_unit_interval",
        passes.forall(p => p._2 >= 0.0 && p._3 <= 1.0),
        s"range [${passes.map(_._2).min}, ${passes.map(_._3).max}]", ops),
      Check("score:digest_stable_across_passes",
        passes.map(_._4).distinct.length == 1, passes.map(_._4).mkString(" "), ops))
  }

  def inputs: JObject = ("rows" -> rows) ~ ("bytes" -> Inputs.bytesUnder(dir))
}

/** `boost`: the reference's train and predict surface. One unit is a
  * native-missing binary fit (`SparseBoost`), a `multi:softprob` fit on
  * the MLlib tree engine (`SoftprobBoost`) and a scoring pass of the
  * native recipe's model over a larger frame. The scored model is the
  * warm-up's native fit.
  */
final class BoostWorkload(spark: SparkSession, seed: Long) extends Workload {
  private val native = new FitOp(spark, seed, "fit_native", 30000L, 2,
    BoostParams(objective = "binary:logistic", numRound = 3, maxDepth = 4,
      eta = 0.3, missing = Some(Inputs.Marker), missingStrategy = "native"))
  private val softprob = new FitOp(spark, seed, "fit_softprob", 10000L, 4,
    BoostParams(objective = "multi:softprob", numRound = 2, maxDepth = 3,
      eta = 0.3, missing = Some(Inputs.Marker), multiclassStrategy = "softprob"))
  private val score = new ScoreOp(spark, seed, 200000L)
  private var warm = Map.empty[String, GraftBoostModel]
  private var warmPass: (Long, Double, Double, String) = _

  /** A scoring pass is short beside a fit, so a unit holds five: the
    * workload's median scoring time then rests on no single pass (one
    * pass in a run is often twice as slow as the others). The passes
    * run first, so no fit's leftover clean-up lands in them.
    */
  val unitOps: Seq[String] = Seq.fill(5)(score.name) ++ Seq(native.name, softprob.name)

  def generate(d: String): Unit =
    Workload.inParallel(Seq(native.generate(d), softprob.generate(d), score.generate(d)))

  /** Both fits side by side (their cold starts overlap), then four
    * scoring passes one after the other: scoring takes about four
    * passes to settle (measured 1.5, 0.9, 0.7, 0.6 s), and the native
    * model is the one the scoring passes use.
    */
  def warmup(workDir: String): Unit = {
    val fits = Seq(native, softprob)
    warm = fits.map(_.name).zip(Workload.inParallel(fits.map(f =>
      () => f.run(OpClock.untraced)))).toMap
    score.model = warm(native.name)
    (1 to 4).foreach(_ => score.run(OpClock.untraced))
    warmPass = score.pass()
  }

  def run(name: String, clock: OpClock): Any = name match {
    case native.name => native.run(clock)
    case softprob.name => softprob.run(clock)
    case score.name => score.run(clock)
  }

  def check(results: Seq[(Int, String, Any)]): Seq[Check] = {
    def fits(op: FitOp) =
      results.collect { case (i, n, m: GraftBoostModel) if n == op.name => (i, m) }
    Workload.inParallel(Seq(
      () => native.check(fits(native), warm(native.name)),
      () => softprob.check(fits(softprob), warm(softprob.name)),
      () => score.check(results.filter(_._2 == score.name).map(_._1), warmPass)
    )).flatten
  }

  def inputs: JObject = (native.name -> native.inputs) ~
    (softprob.name -> softprob.inputs) ~ (score.name -> score.inputs)

  def figures: JObject = (native.name -> native.figures) ~
    (softprob.name -> softprob.figures) ~
    (score.name -> ("rows" -> score.rows))
}

/** `prep_queries`: one operation is one registered query materialized
  * into the noop sink over the seeded star-schema tables. The mix is
  * fixed; the seed sets its order.
  */
final class QueryWorkload(spark: SparkSession, seed: Long) extends Workload {
  import Workload._

  // large enough that a query's tasks, not its planning, take most of
  // its time: at a fifth of these sizes the runs spread twice as wide
  private val orders = 50000L
  private val events = 50000L
  private val docs = 5000L
  private var dir = ""
  private var tableBytes = Map.empty[String, Long]
  private var warmFailures = Map.empty[String, String]

  /** Relational, join, window, sketch and text rows that build
    * everything they read per call (no session-memoized frames).
    */
  private val mix = Seq("q01_pricing_summary", "q02_revenue_by_nation",
    "q07_window_topk_per_order", "q33_approx_percentile", "text_quality",
    "text_tokens")

  val unitOps: Seq[String] = new scala.util.Random(seed).shuffle(mix)

  /** Each query's median rests on three samples at least: with two it
    * is their mean, and a slow host gave slow runs fewer units, so the
    * unit count amplified the host's swings.
    */
  override val minUnits = 3

  def generate(d: String): Unit = {
    dir = s"$d/tables"
    new File(dir).mkdirs()
    val tables = Inputs.starTables(spark, orders, events, docs, seed).toSeq
    tableBytes = tables.map(_._1).zip(inParallel(tables.map { case (n, df) =>
      () => Inputs.writeSingleFile(df, dir, n)
    })).toMap
  }

  /** The warm-up runs the mix side by side, writing each query's output
    * with the mix's oracle SQL under `workDir/check` (the DuckDB
    * comparison runs once the JVM has exited), then runs the unit as
    * timed, twice: a query's first runs into the noop sink are up to
    * twice as slow as its later ones, and the first timed unit after a
    * single warm unit was still about 30 % slower than the next ones.
    */
  def warmup(workDir: String): Unit = {
    val out = new File(workDir, "check")
    warmFailures = inParallel(unitOps.map(name => () =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        if (!SharedBuilds.isShared(df)) df.unpersist(false)
        None
      } catch { case e: Throwable => Some(name -> String.valueOf(e.getMessage)) }
    )).flatten.toMap
    // a query without oracle SQL is checked for rows only
    val oracles = JObject(mix.toList.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> JString(sql))))
    Files.write(new File(out, "oracle_sql.json").toPath,
      JsonMethods.compact(JsonMethods.render(oracles)).getBytes(StandardCharsets.UTF_8))
    for (_ <- 1 to 2; name <- unitOps if !warmFailures.contains(name))
      run(name, OpClock.untraced)
  }

  def run(name: String, clock: OpClock): Any = {
    val df = clock.layer("query.call")(SparkEntry.queries(name)(spark, dir))
    clock.layer("query.exec")(writeNoop(df))
    if (!SharedBuilds.isShared(df)) df.unpersist(false)
    null
  }

  /** A query whose warm-up run failed has no output to check. */
  def check(results: Seq[(Int, String, Any)]): Seq[Check] =
    warmFailures.toSeq.sorted.map { case (name, err) =>
      Check(s"oracle:$name", ok = false, s"warm-up run failed: $err",
        results.filter(_._2 == name).map(_._1))
    }

  def inputs: JObject =
    ("table_rows" -> obj(Inputs.starTableNames.map(n =>
      n -> spark.read.parquet(s"$dir/$n.parquet").count()).toMap)) ~
    ("table_bytes" -> obj(tableBytes)) ~ ("tables_dir" -> dir) ~
    ("mix" -> unitOps)

  def figures: JObject = JObject()
}
