package graft

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Pairwise ranking boosting ([[Objective.Rank]] in the boosting
  * round loop, XGBoost's `rank:pairwise` via the reference's params
  * passthrough, `core.py:164-321`). Pins the RankNet gradient hand math through
  * one Newton leaf, NDCG learning on a synthetic ranking task,
  * determinism, and the shared [[SparseBoost.SparseModel]] lifecycle
  * (sink round-trip, importances).
  */
class RankBoostSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** One ranking fit through the boosting round loop. */
  private def rankFit(df: org.apache.spark.sql.DataFrame, p: BoostParams)
      : (SparseBoost.SparseModel, Array[Double]) = {
    val fit = SparseBoost.train(df, p, Objective(p))
    (fit.sparseModel(s"rank_${p.seed}", p), fit.history)
  }

  test("one round reproduces the RankNet gradient + Newton leaf hand math") {
    // 50 identical 2-doc groups, margins 0: ρ = ½ per pair, so the
    // preferred doc accumulates g = −½, h = ¼. Over 50 groups the
    // split separating x=1 from x=0 sees G = ∓25, H = 12.5; Newton
    // leaves ±25/13.5 (λ=1) → margin gap 50/13.5 with η = 1.
    val df = (0 until 50).flatMap(gid =>
      Seq((gid.toLong, 1.0, 1.0), (gid.toLong, 0.0, 0.0)))
      .toDF("group", "x", "label")
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(array(col("x"))))
    val (m, _) = rankFit(df,
      BoostParams("rank:pairwise", numRound = 1, maxDepth = 1, eta = 1.0))
    val gap = m.marginOf(Vectors.dense(1.0)) - m.marginOf(Vectors.dense(0.0))
    assert(math.abs(gap - 50.0 / 13.5) < 1e-12, s"margin gap $gap vs ${50.0 / 13.5}")
  }

  test("learns a ranking: NDCG improves over rounds and ends high") {
    // 80 groups of 6 docs; graded relevance 0..2 driven by a noisy
    // linear signal the ranker must recover
    val df = (0 until 480).map { i =>
      val gid = (i / 6).toLong
      val pos = i % 6
      val x1 = pos + (i % 7) * 0.1
      val x2 = ((i * 11) % 13).toDouble // noise
      val rel = (pos / 2).toDouble      // 0,0,1,1,2,2
      (gid, x1, x2, rel)
    }.toDF("group", "x1", "x2", "label")
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(array(col("x1"), col("x2"))))
    val (m, hist) = rankFit(df,
      BoostParams("rank:pairwise", numRound = 6, maxDepth = 3, eta = 0.3))
    assert(hist.length == 6)
    assert(hist.last >= hist.head - 1e-12,
      s"NDCG must not degrade: ${hist.toSeq}")
    assert(hist.last > 0.95, s"the clean signal should rank near-perfectly: ${hist.last}")
    val imp = m.importances
    assert(imp(0) > imp(1), s"signal feature must dominate gains: ${imp.toSeq}")
  }

  test("deterministic across runs; model sink round-trip scores identically") {
    val df = (0 until 300).map { i =>
      val gid = (i / 5).toLong
      (gid, (i % 5).toDouble + (i % 3) * 0.5, ((i % 5) / 2).toDouble)
    }.toDF("group", "x", "label")
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(array(col("x"))))
    val p = BoostParams("rank:pairwise", numRound = 4, maxDepth = 2, eta = 0.5)
    val (m1, h1) = rankFit(df, p)
    val (m2, h2) = rankFit(df, p)
    assert(h1.sameElements(h2), "NDCG history must be reproducible")
    val probe = Vectors.dense(3.5)
    assert(m1.marginOf(probe) == m2.marginOf(probe))

    val wrapped = GraftBoostModel(m1, Seq("x"), "rank:pairwise", 0,
      Map("train" -> Map("ndcg@10" -> h1)), None, "impute")
    val dir = java.nio.file.Files.createTempDirectory("rank_model").toString
    ModelIO.save(spark, wrapped, dir)
    val loaded = ModelIO.load(spark, dir)
    assert(GraftBoost.predictLocal(loaded, probe) == m1.marginOf(probe),
      "a reloaded ranker must produce identical scores")
  }

  test("rank:ndcg weights pairs by NDCG swap cost and still learns the ranking") {
    // graded fixture with noise: both objectives must learn it; the
    // ΔNDCG weighting must (a) change the fitted margins vs plain
    // pairwise and (b) not cost top-k quality
    val df = (0 until 480).map { i =>
      val gid = (i / 8).toLong
      val pos = i % 8
      val x1 = pos + ((i * 13) % 7) * 0.4
      val rel = (pos / 2).toDouble // 0,0,1,1,2,2,3,3
      (gid, x1, ((i * 5) % 11).toDouble, rel)
    }.toDF("group", "x1", "x2", "label")
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(array(col("x1"), col("x2"))))
    def fit(obj: String) = rankFit(df,
      BoostParams(obj, numRound = 5, maxDepth = 3, eta = 0.3))
    val (mP, _) = fit("rank:pairwise")
    val (mN, hN) = fit("rank:ndcg")
    assert(hN.last > 0.9, s"rank:ndcg must learn the ranking: ${hN.toSeq}")
    val probe = Vectors.dense(5.0, 3.0)
    assert(mN.marginOf(probe) != mP.marginOf(probe),
      "ΔNDCG weighting must actually change the fit")
    def ndcg3(m: SparseBoost.SparseModel): Double = {
      val bc = spark.sparkContext.broadcast(m)
      val sU = udf((v: org.apache.spark.ml.linalg.Vector) => bc.value.marginOf(v))
      RankBoost.meanNdcg(df.withColumn("f", sU(col("features"))),
        "group", "label", "f", 3)
    }
    assert(ndcg3(mN) >= ndcg3(mP) - 0.02,
      s"top-k quality must not degrade under ΔNDCG weighting: " +
      s"${ndcg3(mN)} vs ${ndcg3(mP)}")
  }

  test("approx split proposal (GK sketch) matches exact-proposal quality") {
    val df = (0 until 400).map { i =>
      val x = (i % 10) + (i % 3) * 0.1
      (i.toLong / 5, x, if (x >= 5) 1.0 else 0.0)
    }.toDF("group", "x", "y")
    def acc(mode: String): Double = {
      val m = GraftBoost.train(df, Seq("x"), "y",
        BoostParams("binary:logistic", numRound = 5, maxDepth = 2, eta = 0.5,
          missing = Some(-999.0), missingStrategy = "native",
          splitProposal = mode))
      GraftBoost.predict(m, df)
        .select(avg((col("prediction") === col("y")).cast("double")))
        .head().getDouble(0)
    }
    val (e, a) = (acc("exact"), acc("approx"))
    assert(e > 0.95 && a > 0.95,
      s"both proposals must separate the signal: exact=$e approx=$a")
  }

  test("meanNdcg is 1 for a perfect ranking and lower for an inverted one") {
    val df = (0 until 60).map { i =>
      val gid = (i / 6).toLong
      (gid, (i % 6).toDouble, (i % 6).toDouble)
    }.toDF("group", "score", "label")
    assert(math.abs(RankBoost.meanNdcg(df, "group", "label", "score", 10) - 1.0) < 1e-12)
    val inv = df.withColumn("score", -col("score"))
    assert(RankBoost.meanNdcg(inv, "group", "label", "score", 10) < 0.8)
  }

  test("a ranking fit with a weight column fails naming weightCol") {
    val df = (0 until 60).map(i =>
      ((i / 6).toLong, (i % 6).toDouble, ((i % 6) / 2).toDouble, 2.0))
      .toDF("group", "x", "label", "w")
    val e = intercept[IllegalArgumentException] {
      GraftBoost.train(df, Seq("x"), "label",
        BoostParams("rank:pairwise", numRound = 1, maxDepth = 2),
        weightCol = Some("w"), groupCol = Some("group"))
    }
    assert(e.getMessage.contains("weightCol"), e.getMessage)
  }
}
