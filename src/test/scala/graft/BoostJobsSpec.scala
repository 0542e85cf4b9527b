package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._
import graft.plans.ForestScore

/** How many Spark jobs a boosting fit runs, read from its
  * `boost: <phase>` job descriptions: a depthwise round is one job per
  * level plus one fused margin/loss/gradient job, whatever the
  * objective's channel count.
  */
class BoostJobsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** The job descriptions `body` runs, in start order. A fence job
    * after the body flushes the listener queue, which delivers events
    * in order.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d == "jobs-spec fence") fenced.countDown() else seen.add(d)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("jobs-spec fence")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      assert(fenced.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  private val df: DataFrame = (0 until 400).map { i =>
    val x1 = (i % 20).toDouble
    val x2 = if (i % 7 == 0) -999.0 else ((i * 13) % 17).toDouble
    val x3 = ((i * 7) % 11).toDouble
    val y = if (x1 + 0.4 * x3 > 12.0) 1.0 else 0.0
    val cls = if (x1 < 7) 0.0 else if (x1 < 14) 1.0 else 2.0
    (x1, x2, x3, y, cls)
  }.toDF("x1", "x2", "x3", "y", "cls")
  private val feats = Seq("x1", "x2", "x3")
  private val native = BoostParams("binary:logistic", numRound = 3, maxDepth = 3,
    eta = 0.3, missing = Some(-999.0), missingStrategy = "native")

  private def round2(jobs: Seq[String]): Seq[String] = jobs.filter(_.startsWith("boost: r2 "))

  test("a depth-3 binary:logistic round runs one job per level plus one") {
    val jobs = jobsOf(GraftBoost.train(df, feats, "y", native))
    val r2 = round2(jobs)
    assert(r2.size <= 4, s"round 2 ran ${r2.size} jobs: $r2")
    assert(r2.toSet == Set("boost: r2 grow", "boost: r2 margin-update"), r2)
    assert(jobs.contains("boost: propose-edges") && jobs.contains("boost: init-margin"),
      jobs.distinct)
  }

  test("a depth-3 softprob round grows its K class trees in the same passes") {
    val jobs = jobsOf(GraftBoost.train(df, feats, "cls",
      BoostParams("multi:softprob", numRound = 3, maxDepth = 3, eta = 0.3,
        missing = Some(-999.0), multiclassStrategy = "softprob")))
    val r2 = round2(jobs)
    assert(r2.size <= 4, s"round 2 ran ${r2.size} jobs: $r2")
    // the imputation statistics and the class count are labelled too
    assert(jobs.forall(_.startsWith("boost: ")), jobs.distinct)
  }

  test("a subsampled round runs no more jobs than a full one") {
    val full = round2(jobsOf(GraftBoost.train(df, feats, "y", native)))
    val sampled = round2(jobsOf(GraftBoost.train(df, feats, "y",
      native.copy(subsample = 0.8))))
    assert(sampled.size <= full.size, s"subsample 0.8: $sampled; 1.0: $full")
  }

  test("a softprob impute fit learns its input statistics in one aggregate") {
    val jobs = jobsOf(GraftBoost.train(df, feats, "cls",
      BoostParams("multi:softprob", numRound = 2, maxDepth = 3, eta = 0.3,
        missing = Some(-999.0), multiclassStrategy = "softprob")))
    val before = jobs.takeWhile(!_.startsWith("boost: r1 "))
    assert(Seq("boost: missing-stats", "boost: input count", "boost: class-count")
      .forall(p => !jobs.contains(p)), jobs.distinct)
    assert(jobs.contains("boost: input stats"), jobs.distinct)
    assert(before.size <= 5, s"${before.size} jobs before round 1: $before")
  }

  test("a native fit reads its feature count from the assembled column") {
    val jobs = jobsOf(GraftBoost.train(df, feats, "y", native))
    // the exact edges are one keyed shuffle job; a row probe would be a second
    assert(jobs.count(_ == "boost: propose-edges") == 1, jobs)
  }

  test("predictProba of a native forest is one codegen'd projection, one job") {
    val m = GraftBoost.train(df, feats, "y", native)
    val frame = spark.range(5000).select(col("id"),
      (col("id") % 20).cast("double").as("x1"),
      when(col("id") % 7 === 0, lit(-999.0)).otherwise((col("id") * 13 % 17).cast("double"))
        .as("x2"),
      (col("id") * 7 % 11).cast("double").as("x3"))
    val scored = GraftBoost.predictProba(m, frame)
    val plan = scored.queryExecution.executedPlan
    val fused = plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.exists(_.expressions.exists(_.exists(_.isInstanceOf[ForestScore]))))
    assert(fused, plan.toString)
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))), plan.toString)
    val jobs = jobsOf(scored.write.format("noop").mode("overwrite").save())
    assert(jobs.size == 1, jobs)
  }

  test("every post-hoc output is a codegen'd ForestScore projection, with no UDF") {
    val m = GraftBoost.train(df, feats, "y", native)
    val reg = GraftBoost.train(df, feats, "x1", native.copy(objective = "reg:squarederror"))
    val softprob = GraftBoost.train(df, feats, "cls",
      native.copy(objective = "multi:softprob", multiclassStrategy = "softprob"))
    val linear = GraftBoost.train(df, feats, "y",
      BoostParams("binary:logistic", numRound = 3, booster = "gblinear"))
    // scan-backed: the optimizer would score a local relation itself
    val scan = spark.createDataFrame(df.rdd, df.schema)
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "TreeShap.transform" -> (() => TreeShap.transform(m, scan)),
      "TreeShap.transformInteractions" -> (() => TreeShap.transformInteractions(reg, scan)),
      "TreeShap.transformMulticlass" -> (() => TreeShap.transformMulticlass(softprob, scan)),
      "Contributions.transform" -> (() => Contributions.transform(m, scan)),
      "StagedEval.history's staged frame" ->
        (() => StagedEval.stagedRows(m, scan, "y", Some("x3"), multiclass = false)),
      "StagedEval.history's multiclass staged frame" ->
        (() => StagedEval.stagedRows(softprob, scan, "cls", None, multiclass = true)),
      "gblinear predict" -> (() => GraftBoost.predict(linear, scan)),
      "gblinear predictProba" -> (() => GraftBoost.predictProba(linear, scan)))
    // without adaptive execution the physical plan holds its codegen
    // stages before it runs
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try frames.foreach { case (name, frame) =>
      val plan = frame().queryExecution.executedPlan
      val fused = plan.collect { case w: WholeStageCodegenExec => w }
        .exists(_.exists(_.expressions.exists(_.exists(_.isInstanceOf[ForestScore]))))
      assert(fused, s"$name:\n$plan")
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))),
        s"$name:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("three fits leave no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    GraftBoost.train(df, feats, "y", native)
    GraftBoost.train(df, feats, "y", BoostParams("binary:logistic", numRound = 3,
      booster = "gblinear"))
    GraftBoost.train(df, feats, "cls", BoostParams("multi:softprob", numRound = 3,
      multiclassStrategy = "rf"))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, left.values.map(r => s"$r ${r.getStorageLevel}").mkString("\n"))
  }

  test("a fit releases its checkpointed round states without a warning") {
    val logged = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("boost-jobs-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(capture)
    try GraftBoost.train(df, feats, "y", native)
    finally { root.removeAppender(capture); capture.stop() }
    val warned = logged.asScala.filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }

  test("an early-stopped fit runs its trained rounds once, with no retrain") {
    val train = df.filter(col("x3") =!= 5.0)
    val valid = df.filter(col("x3") === 5.0)
    var trained = 0
    val jobs = jobsOf {
      trained = StagedEval.fitWithEarlyStopping(train, valid, feats, "y",
        native.copy(numRound = 30), "logloss", earlyStoppingRounds = 1)._4
    }
    assert(trained < 30, s"the fixture must stop early: $trained rounds")
    // the rows are read and binned once, then depth + 1 jobs for each
    // trained round: the logloss folds inside the margin-update job
    Seq("boost: train materialize", "boost: propose-edges", "boost: init-margin")
      .foreach(p => assert(jobs.count(_ == p) == 1, s"$p: $jobs"))
    val rounds = jobs.filter(_.matches("boost: r[0-9]+ .*"))
    assert(jobs.count(_.endsWith(" margin-update")) == trained, jobs)
    assert(rounds.size <= trained * 4, s"${rounds.size} round jobs for $trained rounds")
    assert(!jobs.exists(_.startsWith(s"boost: r${trained + 1} ")), jobs)
  }
}
