package graft

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Sparsity-aware boosting ([[SparseBoost]], `missingStrategy =
  * "native"`) — XGBoost's learned default direction for missing
  * values (Chen & Guestrin 2016 §3.3; reference `core.py:370-377`,
  * `test_core.py:365-382`). Pins the exact Newton-leaf hand math,
  * BOTH polarities of the learned default branch, hessian-sum
  * `min_child_weight` semantics, determinism under subsampling, and
  * the full lifecycle (proba, importances, local predict, model
  * sink round-trip, marker substitution at serve time).
  */
class SparseBoostSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("one round of reg:squarederror reproduces the Newton leaf hand math") {
    // x=1 → y=1 (4 rows), x=2 → y=3 (4 rows); base margin 0.5, λ=1:
    // G = Σ(0.5−y): left −2 (H 4), right −10 (H 4)
    // leaves: −G/(H+λ) → 0.4 and 2.0; predictions 0.9 and 2.5
    val df = (0 until 8).map(i => (if (i < 4) 1.0 else 2.0, if (i < 4) 1.0 else 3.0))
      .toDF("x", "y")
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 1, maxDepth = 1, eta = 1.0,
        missing = Some(-999.0), missingStrategy = "native"))
    val preds = GraftBoost.predict(m, df)
      .groupBy("x").agg(first("prediction").as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(preds(1.0) - 0.9) < 1e-12, s"left leaf: ${preds(1.0)}")
    assert(math.abs(preds(2.0) - 2.5) < 1e-12, s"right leaf: ${preds(2.0)}")
    val hist = m.evalsResult("train")("rmse")
    assert(hist.length == 1 && hist.head < 1.0, s"rmse after 1 round: ${hist.toSeq}")
  }

  test("default direction is LEARNED: missing routes with the class it carries") {
    // polarity A: y = 1 for x > 5 AND for missing rows → the missing
    // gradient mass belongs with the high-x branch
    def corpus(missingLabel: Double) = (0 until 400).map { i =>
      val x = (i % 10) + 1.0
      if (i % 4 == 0) (-999.0, missingLabel)
      else (x, if (x > 5) 1.0 else 0.0)
    }.toDF("x", "y")
    val p = BoostParams("binary:logistic", numRound = 6, maxDepth = 2,
      eta = 0.5, missing = Some(-999.0), missingStrategy = "native")

    val mA = GraftBoost.train(corpus(1.0), Seq("x"), "y", p)
    assert(GraftBoost.predictLocal(mA, Vectors.dense(-999.0)) == 1.0,
      "polarity A: missing rows carry label 1, the learned branch must predict 1")
    val mB = GraftBoost.train(corpus(0.0), Seq("x"), "y", p)
    assert(GraftBoost.predictLocal(mB, Vectors.dense(-999.0)) == 0.0,
      "polarity B: missing rows carry label 0, the learned branch must predict 0")
    // the defaults genuinely differ between the two fits
    def defaults(m: GraftBoostModel) = m.model.asInstanceOf[SparseBoost.SparseModel]
      .trees.flatMap(t => t.feature.indices.filter(t.feature(_) >= 0).map(t.defaultLeft))
    assert(defaults(mA).toSeq != defaults(mB).toSeq,
      "the two polarities must learn different default branches")
    // and non-missing rows still classify by the x > 5 boundary
    assert(GraftBoost.predictLocal(mA, Vectors.dense(9.0)) == 1.0)
    assert(GraftBoost.predictLocal(mA, Vectors.dense(2.0)) == 0.0)
  }

  test("min_child_weight bounds the child HESSIAN sum (XGBoost semantics)") {
    // reg:squarederror has h = 1 per row, so the hessian bound is a
    // row-count bound here: the 4-row region is splittable at
    // minChildWeight=1 but not at 5
    val df = (0 until 24).map(i => (if (i < 4) 1.0 else 2.0, if (i < 4) 10.0 else 0.0))
      .toDF("x", "y")
    def distinctPreds(minCW: Int): Long =
      GraftBoost.predict(
        GraftBoost.train(df, Seq("x"), "y",
          BoostParams("reg:squarederror", numRound = 3, maxDepth = 2, eta = 0.5,
            minChildWeight = minCW, missing = Some(-999.0),
            missingStrategy = "native")),
        df).select("prediction").distinct().count()
    assert(distinctPreds(1) == 2, "minChildWeight=1 must split the two regions")
    assert(distinctPreds(5) == 1,
      "minChildWeight=5 blocks the split (H_L = 4 < 5): constant prediction")
  }

  test("deterministic across runs, including under subsampling") {
    val df = (0 until 500).map { i =>
      val x1 = (i % 17).toDouble
      val x2 = (i % 23).toDouble
      val x = if (i % 11 == 0) -999.0 else x1
      (x, x2, if (x1 + x2 > 18) 1.0 else 0.0)
    }.toDF("x1", "x2", "y")
    val p = BoostParams("binary:logistic", numRound = 5, maxDepth = 3,
      eta = 0.3, subsample = 0.7, missing = Some(-999.0),
      missingStrategy = "native")
    def run() = GraftBoost.predict(GraftBoost.train(df, Seq("x1", "x2"), "y", p), df)
      .orderBy("x1", "x2").select("prediction").collect().map(_.getDouble(0))
    assert(run().sameElements(run()), "two trains must be bit-identical")
  }

  test("binary lifecycle: accuracy, proba shape, importances") {
    val df = (0 until 600).map { i =>
      val signal = (i % 10).toDouble
      val noise = ((i * 7) % 13).toDouble
      val s = if (i % 9 == 0) -999.0 else signal
      (s, noise, if (signal >= 5) 1.0 else 0.0)
    }.toDF("signal", "noise", "y")
    val m = GraftBoost.train(df, Seq("signal", "noise"), "y",
      BoostParams("binary:logistic", numRound = 8, maxDepth = 3, eta = 0.4,
        missing = Some(-999.0), missingStrategy = "native"))
    val scored = GraftBoost.predict(m, df)
    val acc = scored.select(avg((col("prediction") === col("y")).cast("double")))
      .head().getDouble(0)
    assert(acc > 0.9, s"native boosting should separate the signal: acc=$acc")
    val hist = m.evalsResult("train")("logloss")
    assert(hist.last < hist.head, "logloss history must fall")

    val pr = GraftBoost.predictProba(m, df)
      .select(col("proba"), col("y"))
      .limit(50).collect()
    pr.foreach { r =>
      val a = r.getSeq[Double](0)
      assert(math.abs(a.sum - 1.0) < 1e-9 && a.forall(x => x >= 0 && x <= 1))
    }
    val imp = GraftBoost.featureImportances(m)
    assert(imp("signal") > imp("noise"),
      s"gain importances must favor the signal feature: $imp")
    assert(math.abs(imp.values.sum - 1.0) < 1e-9)
  }

  test("gamma (min_split_loss) prunes low-gain splits") {
    // two regions separated by a small gain; a large gamma must leave
    // the tree as a single leaf (constant prediction)
    val df = (0 until 40).map(i => (if (i < 20) 1.0 else 2.0, if (i < 20) 0.4 else 0.6))
      .toDF("x", "y")
    def distinct(gamma: Double): Long =
      GraftBoost.predict(
        GraftBoost.train(df, Seq("x"), "y",
          BoostParams("reg:squarederror", numRound = 2, maxDepth = 2, eta = 0.5,
            missing = Some(-999.0), missingStrategy = "native",
            gammaMinSplitLoss = gamma)),
        df).select("prediction").distinct().count()
    assert(distinct(0.0) == 2, "gamma=0 splits the regions")
    assert(distinct(100.0) == 1, "a prohibitive gamma forbids every split")
  }

  test("colsample_bytree masks features per round, deterministically") {
    // y depends ONLY on x1; with colsample=0.5 over {x1, x2} half the
    // rounds must fit on x2 alone — those trees are near-stumps, so
    // importances still favor x1, and the whole fit stays reproducible
    val df = (0 until 400).map { i =>
      ((i % 8).toDouble, ((i * 3) % 5).toDouble, if (i % 8 >= 4) 1.0 else 0.0)
    }.toDF("x1", "x2", "y")
    val p = BoostParams("binary:logistic", numRound = 6, maxDepth = 2,
      eta = 0.5, missing = Some(-999.0), missingStrategy = "native",
      colsampleBytree = 0.5)
    val m1 = GraftBoost.train(df, Seq("x1", "x2"), "y", p)
    val m2 = GraftBoost.train(df, Seq("x1", "x2"), "y", p)
    def preds(m: GraftBoostModel) = GraftBoost.predict(m, df)
      .orderBy("x1", "x2").select("prediction").collect().map(_.getDouble(0))
    assert(preds(m1).sameElements(preds(m2)), "column sampling must be deterministic")
    val imp = GraftBoost.featureImportances(m1)
    assert(imp("x1") > imp("x2"), s"signal feature must dominate: $imp")
    // the mask genuinely bites: every tree uses at most 1 of 2 features
    val usedPerTree = m1.model.asInstanceOf[SparseBoost.SparseModel].trees
      .map(t => t.feature.filter(_ >= 0).distinct.length)
    assert(usedPerTree.forall(_ <= 1), s"colsample=0.5 of 2 → ≤1 feature/tree: ${usedPerTree.toSeq}")
  }

  test("scale_pos_weight shifts the decision boundary toward recall") {
    // heavily imbalanced, overlapping regions: upweighting positives
    // must increase predicted-positive count (recall up)
    val df = (0 until 600).map { i =>
      val x = (i % 20).toDouble
      val y = if (i % 10 == 0) 1.0 else 0.0   // 10% positives
      (x + (if (y == 1.0) 2.0 else 0.0), y)   // weak signal, overlap
    }.toDF("x", "y")
    def positives(spw: Double): Long =
      GraftBoost.predict(
        GraftBoost.train(df, Seq("x"), "y",
          BoostParams("binary:logistic", numRound = 6, maxDepth = 2, eta = 0.5,
            missing = Some(-999.0), missingStrategy = "native",
            scalePosWeight = spw)),
        df).filter(col("prediction") === 1.0).count()
    val base = positives(1.0)
    val boosted = positives(9.0)
    assert(boosted > base,
      s"scale_pos_weight=9 must predict more positives: $base -> $boosted")
  }

  test("monotone constraint +1 makes the MODEL non-decreasing in x") {
    // noisy increasing trend with a deliberate dip the unconstrained
    // fit memorizes; the constrained fit must be globally monotone
    val df = (0 until 300).map { i =>
      val x = (i % 30).toDouble
      val dip = if (x >= 12 && x < 15) -8.0 else 0.0
      (x, x + dip)
    }.toDF("x", "y")
    def fitted(cs: Seq[Int]): Array[Double] = {
      val m = GraftBoost.train(df, Seq("x"), "y",
        BoostParams("reg:squarederror", numRound = 8, maxDepth = 3, eta = 0.5,
          missing = Some(-999.0), missingStrategy = "native",
          monotoneConstraints = cs))
      (0 until 30).map(x =>
        GraftBoost.predictLocal(m, Vectors.dense(x.toDouble))).toArray
    }
    val free = fitted(Nil)
    assert(free.sliding(2).exists(p => p(1) < p(0) - 1e-9),
      "the dip must make the unconstrained fit non-monotone (fixture sanity)")
    val mono = fitted(Seq(1))
    mono.sliding(2).foreach { p =>
      assert(p(1) >= p(0) - 1e-9,
        s"constrained fit must be non-decreasing: ${mono.toSeq}")
    }
  }

  test("staged history + early stopping work on the native loop") {
    val df = (0 until 500).map { i =>
      val x = (i % 10).toDouble
      (x, ((i * 7) % 3).toDouble, if (x >= 5) 1.0 else 0.0)
    }.toDF("x1", "x2", "y")
    val (train, valid) = GraftBoost.calibrationSplit(df, 0.3)
    val p = BoostParams("binary:logistic", numRound = 30, maxDepth = 2,
      eta = 0.5, missing = Some(-999.0), missingStrategy = "native")
    val (m, best, hist, trained) = StagedEval.fitWithEarlyStopping(
      train, valid, Seq("x1", "x2"), "y", p, "auc", earlyStoppingRounds = 3)
    assert(trained < 30,
      s"a saturating metric must stop before numRound: trained=$trained")
    assert(best >= 1 && best <= hist.length)
    assert(m.model.asInstanceOf[SparseBoost.SparseModel].trees.length == best,
      "the returned model must be physically truncated at the best round")
  }

  test("reg:gamma converges to per-region means (log link, gamma deviance)") {
    // two regions with positive skewed-ish labels: x=0 → mean 2,
    // x=1 → mean 20; the gamma MLE per region is the region mean
    val df = (0 until 300).map { i =>
      if (i % 2 == 0) (0.0, Seq(1.0, 2.0, 3.0)(i % 3))
      else (1.0, Seq(10.0, 20.0, 30.0)(i % 3))
    }.toDF("x", "y")
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:gamma", numRound = 12, maxDepth = 1, eta = 0.5))
    val preds = GraftBoost.predict(m, df)
      .groupBy("x").agg(first("prediction").as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(preds(0.0) - 2.0) < 0.1, s"region 0: ${preds(0.0)} vs 2")
    assert(math.abs(preds(1.0) - 20.0) < 1.0, s"region 1: ${preds(1.0)} vs 20")
    val hist = m.evalsResult("train")("gamma-deviance")
    assert(hist.last < hist.head, s"deviance must fall: ${hist.toSeq}")
    assert(GraftBoost.predictLocal(m, Vectors.dense(0.0)) > 0.0,
      "log link keeps predictions strictly positive")
  }

  test("reg:tweedie handles exact zeros and converges to region means") {
    // zero-inflated target: x=0 rows are 60% exact zeros (mean 1.2),
    // x=1 rows positive (mean 15) — the compound Poisson-gamma shape
    // a gamma objective cannot touch (it needs y > 0)
    val df = (0 until 400).map { i =>
      if (i % 2 == 0) (0.0, if (i % 10 < 6) 0.0 else 3.0)
      else (1.0, Seq(10.0, 15.0, 20.0)(i % 3))
    }.toDF("x", "y")
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:tweedie", numRound = 15, maxDepth = 1, eta = 0.5,
        tweedieVariancePower = 1.5))
    val preds = GraftBoost.predict(m, df)
      .groupBy("x").agg(first("prediction").as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(preds(0.0) - 1.2) < 0.15, s"zero-heavy region: ${preds(0.0)} vs 1.2")
    assert(math.abs(preds(1.0) - 15.0) < 1.0, s"positive region: ${preds(1.0)} vs 15")
    val hist = m.evalsResult("train")("tweedie-nloglik")
    assert(hist.last < hist.head, s"nloglik must fall: ${hist.toSeq}")
  }

  test("Saabas contributions decompose the native margin, missing rows included") {
    val df = (0 until 300).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i * 3) % 7).toDouble
      val miss = i % 6 == 0
      // missing x1 rows behave like the high-x1 region
      (if (miss) -999.0 else x1, x2,
        (if (miss) 9.0 else x1) * 2.0 + x2 * 0.5)
    }.toDF("x1", "x2", "y")
    val m = GraftBoost.train(df, Seq("x1", "x2"), "y",
      BoostParams("reg:squarederror", numRound = 5, maxDepth = 3, eta = 0.5,
        missing = Some(-999.0), missingStrategy = "native"))
    val joined = Contributions.transform(m, df)
      .join(GraftBoost.predict(m, df), Seq("x1", "x2", "y"))
    val maxErr = joined
      .select(max(abs(col("bias") +
        aggregate(col("contribs"), lit(0.0), (a, x) => a + x) -
        col("prediction"))))
      .head().getDouble(0)
    assert(maxErr < 1e-9, s"bias + Σcontribs must reproduce the margin: $maxErr")
    // a missing row's routing must be ATTRIBUTED to the missing
    // feature (default-branch credit, XGBoost pred_contribs shape)
    // the transform output carries the ASSEMBLED feature columns, so
    // the marker already became NaN
    val missContrib = Contributions.transform(m, df)
      .filter(isnan(col("x1")))
      .select(avg(abs(element_at(col("contribs"), 1))))
      .head().getDouble(0)
    assert(missContrib > 0.1,
      s"missing rows must carry x1 attribution through the default branch: $missContrib")
  }

  test("model sink round-trip + serve-time marker substitution + local parity") {
    val df = (0 until 300).map { i =>
      val x = (i % 10) + 1.0
      if (i % 5 == 0) (-999.0, 1.0) else (x, if (x > 5) 1.0 else 0.0)
    }.toDF("x", "y")
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("binary:logistic", numRound = 5, maxDepth = 2, eta = 0.5,
        missing = Some(-999.0), missingStrategy = "native"))
    val dir = java.nio.file.Files.createTempDirectory("sparse_model").toString
    ModelIO.save(spark, m, dir)
    val loaded = ModelIO.load(spark, dir)
    assert(loaded.missingStrategy == "native")
    val a = GraftBoost.predict(m, df).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(loaded, df).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b), "a reloaded model must score identically")
    // marker −999 and a raw NaN vector are the same serve-time input
    assert(GraftBoost.predictLocal(loaded, Vectors.dense(-999.0)) ==
      GraftBoost.predictLocal(loaded, Vectors.dense(Double.NaN)))
    // local ≡ distributed on a probe row
    assert(GraftBoost.predictLocal(loaded, Vectors.dense(8.0)) ==
      GraftBoost.predict(loaded, Seq((8.0, 0.0)).toDF("x", "y"))
        .select("prediction").head().getDouble(0))
  }

  test("interaction constraints: no root path mixes features from different groups") {
    // AND-shaped target (XOR would leave every FIRST split gainless
    // and nothing grows): the positive quadrant needs x1 THEN x2 on
    // one path, so an unconstrained fit must mix both features —
    // proving the fixture would trip an ignored constraint
    val df = (0 until 400).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i / 10) % 10).toDouble
      val y = if (x1 > 4.5 && x2 > 4.5) 1.0 else 0.0
      (x1, x2, y)
    }.toDF("x1", "x2", "y")
    def pathsMix(m: GraftBoostModel): Boolean = {
      val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
      sm.trees.exists { t =>
        def walk(node: Int, seen: Set[Int]): Boolean =
          if (t.feature(node) < 0) seen.size > 1
          else {
            val s2 = seen + t.feature(node)
            walk(t.left(node), s2) || walk(t.right(node), s2)
          }
        walk(0, Set.empty)
      }
    }
    val base = BoostParams("binary:logistic", numRound = 4, maxDepth = 3,
      eta = 0.5, missing = Some(-999.0), missingStrategy = "native")
    val free = GraftBoost.train(df, Seq("x1", "x2"), "y", base)
    assert(pathsMix(free), "the AND target must make an unconstrained fit interact")
    val boxed = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(interactionConstraints = Seq(Seq(0), Seq(1))))
    assert(!pathsMix(boxed),
      "groups [[0],[1]] forbid every x1-x2 interaction path")
  }

  test("interaction constraints: features in no group never split") {
    // x3 is the strongest single predictor, but the only group is
    // {x1, x2} — XGBoost bans ungrouped features outright
    val df = (0 until 400).map { i =>
      val x3 = (i % 20).toDouble
      ((i % 7).toDouble, ((i / 7) % 5).toDouble, x3, x3 * 2.0)
    }.toDF("x1", "x2", "x3", "y")
    val m = GraftBoost.train(df, Seq("x1", "x2", "x3"), "y",
      BoostParams("reg:squarederror", numRound = 3, maxDepth = 3,
        missing = Some(-999.0), missingStrategy = "native",
        interactionConstraints = Seq(Seq(0, 1))))
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val used = sm.trees.flatMap(_.feature.filter(_ >= 0)).toSet
    assert(!used.contains(2), s"x3 is outside every group; used=$used")
    assert(sm.importanceByType("weight")(2) == 0.0)
  }

  test("lossguide with an unreachable leaf budget reproduces depthwise predictions") {
    val df = (0 until 500).map { i =>
      val x1 = (i % 25).toDouble
      val x2 = ((i / 25) % 20).toDouble
      (x1, x2, x1 * 3.0 + (if (x2 > 10) 40.0 else 0.0) + (i % 4))
    }.toDF("x1", "x2", "y")
    val base = BoostParams("reg:squarederror", numRound = 3, maxDepth = 3,
      missing = Some(-999.0), missingStrategy = "native")
    val dw = GraftBoost.train(df, Seq("x1", "x2"), "y", base)
    val lg = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(growPolicy = "lossguide", maxLeaves = 0))
    // same split decisions, different node numbering — predictions
    // must agree bit-for-bit on every training row
    val a = GraftBoost.predict(dw, df).orderBy("x1", "x2", "y")
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(lg, df).orderBy("x1", "x2", "y")
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b),
      "unbounded lossguide must reproduce the depthwise tree's predictions")
  }

  test("lossguide: gain-ordered expansion, binding leaf budget, determinism") {
    // geometric plateau fixture: root splits at the biggest gap, and
    // the two child candidates have UNEQUAL gains (right ≈ 4.0e6,
    // left ≈ 3.3e6 here) — with only two expansions, best-first must
    // take the right child and leave the left unexpanded, while
    // depthwise's level pass takes both
    val df = (0 until 800).map { i =>
      val x = (i % 100).toDouble
      val y =
        if (x < 50) 0.01 * x
        else if (x < 75) 100.0
        else if (x < 87) 200.0
        else if (x < 94) 400.0
        else 800.0
      (x, y)
    }.toDF("x", "y")
    def tree(m: GraftBoostModel): SparseBoost.SparseTree =
      m.model.asInstanceOf[SparseBoost.SparseModel].trees.head
    def leafCount(t: SparseBoost.SparseTree): Int = t.feature.count(_ < 0)
    def splitThreshes(t: SparseBoost.SparseTree): Set[Double] =
      t.feature.indices.filter(t.feature(_) >= 0).map(t.thresh).toSet

    val dw = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 1, maxDepth = 2, eta = 1.0,
        missing = Some(-999.0), missingStrategy = "native"))
    val tDw = tree(dw)
    assert(leafCount(tDw) == 4, "depthwise level pass must split both children")

    def lgParams(leaves: Int) =
      BoostParams("reg:squarederror", numRound = 1, maxDepth = 8, eta = 1.0,
        missing = Some(-999.0), missingStrategy = "native",
        growPolicy = "lossguide", maxLeaves = leaves)
    // budget 3 = two expansions: root plus exactly ONE child — the
    // higher-gain one (depthwise node order is [root, left, right],
    // so tDw.thresh(2) is the right child's threshold)
    val lg3 = tree(GraftBoost.train(df, Seq("x"), "y", lgParams(3)))
    assert(leafCount(lg3) == 3, s"leaf budget must bind: ${leafCount(lg3)}")
    assert(splitThreshes(lg3) == Set(tDw.thresh(0), tDw.thresh(2)),
      s"best-first must expand the higher-gain child first: " +
        s"lg=${splitThreshes(lg3)} dw=(${tDw.thresh.toSeq.take(3)})")
    // with the budget for all three, the split SET matches depthwise
    // and so do the predictions (policy changes order, not semantics)
    val lg4m = GraftBoost.train(df, Seq("x"), "y", lgParams(4))
    assert(splitThreshes(tree(lg4m)) == splitThreshes(tDw))
    val a = GraftBoost.predict(dw, df).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    val b = GraftBoost.predict(lg4m, df).orderBy("x", "y")
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b))
    // determinism: the same lossguide fit twice is bit-identical
    val lg3b = tree(GraftBoost.train(df, Seq("x"), "y", lgParams(3)))
    assert(lg3.feature.toSeq == lg3b.feature.toSeq &&
      lg3.thresh.toSeq == lg3b.thresh.toSeq &&
      lg3.value.toSeq == lg3b.value.toSeq)
  }

  test("DART: zero drop rate and full skip both reproduce gbtree exactly") {
    val df = (0 until 400).map { i =>
      val x = (i % 20).toDouble
      (x, ((i * 7) % 5).toDouble, x * 4.0 + (i % 3))
    }.toDF("x1", "x2", "y")
    def trees(m: GraftBoostModel) =
      m.model.asInstanceOf[SparseBoost.SparseModel].trees
    val base = BoostParams("reg:squarederror", numRound = 4, maxDepth = 2,
      missing = Some(-999.0), missingStrategy = "native")
    val gb = GraftBoost.train(df, Seq("x1", "x2"), "y", base)
    val dart0 = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(booster = "dart", rateDrop = 0.0))
    val dartSkip = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(booster = "dart", rateDrop = 0.9, skipDrop = 1.0))
    def eq(a: Array[SparseBoost.SparseTree], b: Array[SparseBoost.SparseTree]) =
      a.length == b.length && a.zip(b).forall { case (x, yT) =>
        x.feature.sameElements(yT.feature) && x.thresh.sameElements(yT.thresh) &&
          x.value.sameElements(yT.value)
      }
    assert(eq(trees(gb), trees(dart0)), "rateDrop=0 must be plain gbtree")
    assert(eq(trees(gb), trees(dartSkip)), "skipDrop=1 must be plain gbtree")
  }

  test("DART: dropout rounds rescale trees, stay deterministic, and still learn") {
    val df = (0 until 600).map { i =>
      val x = (i % 30).toDouble
      (x, ((i * 11) % 7).toDouble, 2.0 * x + ((i * 13) % 5))
    }.toDF("x1", "x2", "y")
    val p = BoostParams("reg:squarederror", numRound = 6, maxDepth = 2,
      eta = 0.5, missing = Some(-999.0), missingStrategy = "native",
      booster = "dart", rateDrop = 0.4)
    val m1 = GraftBoost.train(df, Seq("x1", "x2"), "y", p)
    val m2 = GraftBoost.train(df, Seq("x1", "x2"), "y", p)
    val t1 = m1.model.asInstanceOf[SparseBoost.SparseModel].trees
    val t2 = m2.model.asInstanceOf[SparseBoost.SparseModel].trees
    assert(t1.zip(t2).forall { case (a, b) => a.value.sameElements(b.value) },
      "DART dropout draws are content-hashed: two fits must be bit-identical")
    // the forest differs from gbtree (dropout actually fired) …
    val gb = GraftBoost.train(df, Seq("x1", "x2"), "y",
      p.copy(booster = "gbtree"))
    val tg = gb.model.asInstanceOf[SparseBoost.SparseModel].trees
    assert(!t1.zip(tg).forall { case (a, b) => a.value.sameElements(b.value) },
      "rateDrop=0.4 over 6 rounds must diverge from gbtree")
    // … yet the ensemble still fits: vs the constant-mean baseline
    import org.apache.spark.sql.functions._
    val rmse = GraftBoost.predict(m1, df)
      .select(sqrt(avg(pow(col("prediction") - col("y"), 2)))).head().getDouble(0)
    val sd = df.select(stddev_pop(col("y"))).head().getDouble(0)
    assert(rmse < 0.5 * sd, s"DART fit must beat the mean baseline: rmse=$rmse sd=$sd")
    // local scoring matches distributed scoring on the rescaled forest
    val probe = org.apache.spark.ml.linalg.Vectors.dense(15.0, 3.0)
    assert(GraftBoost.predictLocal(m1, probe) ==
      GraftBoost.predict(m1, Seq((15.0, 3.0, 0.0)).toDF("x1", "x2", "y"))
        .select("prediction").head().getDouble(0))
    // round-indexed use of a rescaled forest is refused loudly: the
    // dropout rounds mutated earlier trees' leaves, so no prefix
    // matches a training-time round margin (ntree_limit-with-DART ban)
    val sm1 = m1.model.asInstanceOf[SparseBoost.SparseModel]
    assert(sm1.dartRescaled, "rateDrop=0.4 over 6 rounds must have fired")
    assert(!gb.model.asInstanceOf[SparseBoost.SparseModel].dartRescaled)
    intercept[IllegalArgumentException](sm1.truncate(3))
    intercept[UnsupportedOperationException](
      StagedEval.history(m1, df, "y", "rmse"))
  }

  test("max_delta_step caps every leaf's pre-eta Newton step") {
    // heavy-imbalance logistic: the pure-class leaves' uncapped steps
    // are large; with the cap every stored leaf obeys |v| <= eta*cap
    val df = (0 until 300).map { i =>
      val x = (i % 10).toDouble
      (x, if (x > 8.5) 1.0 else 0.0)
    }.toDF("x", "y")
    val capped = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("binary:logistic", numRound = 3, maxDepth = 2, eta = 1.0,
        missing = Some(-999.0), missingStrategy = "native", maxDeltaStep = 0.1))
    val vals = capped.model.asInstanceOf[SparseBoost.SparseModel]
      .trees.flatMap(_.value)
    assert(vals.forall(v => math.abs(v) <= 0.1 + 1e-12),
      s"every node estimate must obey the cap: ${vals.toSeq}")
    val free = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("binary:logistic", numRound = 3, maxDepth = 2, eta = 1.0,
        missing = Some(-999.0), missingStrategy = "native"))
    val fVals = free.model.asInstanceOf[SparseBoost.SparseModel]
      .trees.flatMap(_.value)
    assert(fVals.exists(v => math.abs(v) > 0.1),
      "the fixture must actually exceed the cap when uncapped")
  }

  test("base_score shifts the margin origin for trees and gblinear") {
    val df = (0 until 100).map(i => ((i % 10).toDouble, 7.0)).toDF("x", "y")
    // constant target, zero rounds of useful splits: prediction ≈ base
    // + one Newton step toward 7 — with base_score = 7 the first tree
    // has nothing to fit and predictions equal 7 exactly
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 1, maxDepth = 2, eta = 1.0,
        lambdaL2 = 0.0, missing = Some(-999.0), missingStrategy = "native",
        baseScore = 7.0))
    val preds = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(preds.forall(_ == 7.0), s"base 7 + zero gradient ⇒ exact: ${preds.take(3).toSeq}")
    val lin = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 1, eta = 1.0,
        lambdaL2 = 0.0, booster = "gblinear", baseScore = 7.0))
    val lm = lin.model.asInstanceOf[LinearBoost.LinearModel]
    assert(lm.base == 7.0 && math.abs(lm.bias) < 1e-9 &&
      lm.weights.forall(w => math.abs(w) < 1e-9))
  }

  test("colsample_bylevel/bynode restrict nodes yet never starve a split") {
    val df = (0 until 400).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i / 10) % 8).toDouble
      (x1, x2, 5.0 * x1 + 3.0 * x2)
    }.toDF("x1", "x2", "y")
    val p = BoostParams("reg:squarederror", numRound = 3, maxDepth = 3,
      eta = 0.5, missing = Some(-999.0), missingStrategy = "native",
      colsampleBynode = 0.5)
    val m = GraftBoost.train(df, Seq("x1", "x2"), "y", p)
    val trees = m.model.asInstanceOf[SparseBoost.SparseModel].trees
    // every split exists (k >= 1 floor), and across the forest BOTH
    // features appear — the per-node hash draw must vary by node
    val used = trees.flatMap(_.feature.filter(_ >= 0)).toSet
    assert(used == Set(0, 1), s"bynode draws must rotate features: $used")
    // determinism
    val m2 = GraftBoost.train(df, Seq("x1", "x2"), "y", p)
    val t2 = m2.model.asInstanceOf[SparseBoost.SparseModel].trees
    assert(trees.zip(t2).forall { case (a, b) =>
      a.feature.sameElements(b.feature) && a.value.sameElements(b.value) })
    // bylevel composes: a fit with both knobs still learns the target
    val m3 = GraftBoost.train(df, Seq("x1", "x2"), "y",
      p.copy(colsampleBylevel = 0.5, colsampleBynode = 1.0, numRound = 6))
    import org.apache.spark.sql.functions._
    val rmse = GraftBoost.predict(m3, df)
      .select(sqrt(avg(pow(col("prediction") - col("y"), 2)))).head().getDouble(0)
    val sd = df.select(stddev_pop(col("y"))).head().getDouble(0)
    assert(rmse < 0.7 * sd, s"bylevel-sampled fit must still learn: $rmse vs $sd")
  }

  test("truncate reports EXACT importance stats for the kept prefix") {
    val df = (0 until 300).map { i =>
      val x1 = (i % 10).toDouble
      (x1, ((i * 7) % 5).toDouble, 3.0 * x1 + ((i * 7) % 5))
    }.toDF("x1", "x2", "y")
    val m = GraftBoost.train(df, Seq("x1", "x2"), "y",
      BoostParams("reg:squarederror", numRound = 4, maxDepth = 2,
        missing = Some(-999.0), missingStrategy = "native"))
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val cut = sm.truncate(2)
    // weight must equal the KEPT forest's actual split count — the
    // invariant ml_shap_importance gates on, now preserved under
    // truncation (review finding: stats used to describe the full fit)
    val counted = new Array[Double](2)
    cut.trees.foreach(t => t.feature.filter(_ >= 0).foreach(counted(_) += 1))
    assert(cut.importanceByType("weight").toSeq == counted.toSeq)
    assert(cut.stats.gain.sum <= sm.stats.gain.sum + 1e-9)
    assert(math.abs(cut.importances.sum - 1.0) < 1e-9)
    // dart is rejected loudly for ranking objectives (silent-ignore fix)
    intercept[IllegalArgumentException] {
      GraftBoost.train(df.withColumn("g", lit(1L)), Seq("x1", "x2"), "y",
        BoostParams("rank:pairwise", booster = "dart", rateDrop = 0.5,
          missing = Some(-999.0), missingStrategy = "native"),
        groupCol = Some("g"))
    }
    // rank loop validates interaction indices like the tree loop does
    intercept[IllegalArgumentException] {
      GraftBoost.train(df.withColumn("g", lit(1L)), Seq("x1", "x2"), "y",
        BoostParams("rank:pairwise", interactionConstraints = Seq(Seq(0, 99))),
        groupCol = Some("g"))
    }
  }

  test("num_parallel_tree: bagged-average rounds, pure-RF mode, T=1 unchanged") {
    val df = (0 until 600).map { i =>
      val x1 = (i % 30).toDouble
      (x1, ((i * 11) % 7).toDouble, 2.0 * x1 + ((i * 13) % 5))
    }.toDF("x1", "x2", "y")
    val base = BoostParams("reg:squarederror", numRound = 2, maxDepth = 3,
      eta = 0.5, missing = Some(-999.0), missingStrategy = "native")

    // T = 1 reduces exactly to the single-tree path
    val one = GraftBoost.train(df, Seq("x1", "x2"), "y", base)
    val oneExplicit = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numParallelTree = 1))
    val (ta, tb) = (one.model.asInstanceOf[SparseBoost.SparseModel].trees,
      oneExplicit.model.asInstanceOf[SparseBoost.SparseModel].trees)
    assert(ta.zip(tb).forall { case (a, b) => a.value.sameElements(b.value) })

    // pure RF: one round, 6 bagged trees, full step. Jensen's
    // identity pins the averaging semantics: the ensemble's MSE is
    // STRICTLY below the members' mean MSE whenever the bagged trees
    // disagree anywhere — a theorem about averaging, not a lucky
    // fixture (train rmse of one deep tree vs the ensemble is NOT a
    // theorem and is deliberately not asserted)
    val rfP = BoostParams("reg:squarederror", numRound = 1, maxDepth = 4,
      eta = 1.0, subsample = 0.5, colsampleBynode = 0.5,
      missing = Some(-999.0), missingStrategy = "native",
      numParallelTree = 6)
    val rf = GraftBoost.train(df, Seq("x1", "x2"), "y", rfP)
    val rfTrees = rf.model.asInstanceOf[SparseBoost.SparseModel].trees
    assert(rfTrees.length == 6, s"forest size: ${rfTrees.length}")
    val rows = df.collect().map(r =>
      (org.apache.spark.ml.linalg.Vectors.dense(r.getDouble(0), r.getDouble(1)),
        r.getDouble(2)))
    val baseScore = rf.model.asInstanceOf[SparseBoost.SparseModel].base
    def mse(pred: org.apache.spark.ml.linalg.Vector => Double): Double =
      rows.map { case (v, y) => val d = pred(v) - y; d * d }.sum / rows.length
    val ensembleMse = mse(v => baseScore + rfTrees.map(_.valueOf(v)).sum)
    // member t's standalone prediction: base + T × its (1/T-scaled) leaf
    val memberMse = rfTrees.map(t =>
      mse(v => baseScore + 6.0 * t.valueOf(v))).sum / rfTrees.length
    assert(ensembleMse < memberMse - 1e-9,
      s"Jensen: ensemble $ensembleMse must beat member mean $memberMse")
    import org.apache.spark.sql.functions._
    // the margin is the AVERAGE of the unscaled ensemble: stored leaf
    // values are pre-divided by T, so the plain sum reproduces it
    val probe = org.apache.spark.ml.linalg.Vectors.dense(15.0, 3.0)
    val summed = rf.model.asInstanceOf[SparseBoost.SparseModel].marginOf(probe)
    assert(GraftBoost.predictLocal(rf, probe) == summed)
    // the six trees differ (independent bagging draws actually fired)
    assert(rfTrees.map(_.thresh.toSeq).distinct.length > 1)
    // determinism
    val rf2 = GraftBoost.train(df, Seq("x1", "x2"), "y", rfP)
    val t2 = rf2.model.asInstanceOf[SparseBoost.SparseModel].trees
    assert(rfTrees.zip(t2).forall { case (a, b) => a.value.sameElements(b.value) })
    // dart × parallel trees is rejected loudly; gblinear too
    intercept[IllegalArgumentException] {
      GraftBoost.train(df, Seq("x1", "x2"), "y",
        base.copy(numParallelTree = 2, booster = "dart", rateDrop = 0.3))
    }
    intercept[IllegalArgumentException] {
      GraftBoost.train(df, Seq("x1", "x2"), "y",
        base.copy(numParallelTree = 2, booster = "gblinear",
          missingStrategy = "impute"))
    }
    // truncation is ROUND-aligned: cutting a 2-round × 3-tree forest
    // at round 1 keeps exactly the first round's 3 trees and equals a
    // fresh 1-round fit bit-for-bit (same per-tree draw indices) —
    // a mid-round tree cut would halve a 1/T-scaled average silently
    val two = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numParallelTree = 3, numRound = 2))
    val sm2 = two.model.asInstanceOf[SparseBoost.SparseModel]
    assert(sm2.trees.length == 6 && sm2.numRounds == 2)
    val cut1 = sm2.truncate(1)
    assert(cut1.trees.length == 3)
    val fresh1 = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numParallelTree = 3, numRound = 1))
      .model.asInstanceOf[SparseBoost.SparseModel]
    assert(cut1.trees.zip(fresh1.trees).forall { case (a, b) =>
      a.value.sameElements(b.value) && a.thresh.sameElements(b.thresh) })
    intercept[IllegalArgumentException](sm2.truncate(3))
  }

  test("parallelTreeUpdate=sum: XGBoost-summed forests, T=1 bit-identity") {
    val df = (0 until 600).map { i =>
      val x1 = (i % 30).toDouble
      (x1, ((i * 11) % 7).toDouble, 2.0 * x1 + ((i * 13) % 5))
    }.toDF("x1", "x2", "y")
    val base = BoostParams("reg:squarederror", numRound = 1, maxDepth = 3,
      eta = 1.0, subsample = 0.5, colsampleBynode = 0.5,
      missing = Some(-999.0), missingStrategy = "native",
      numParallelTree = 4)
    def trees(m: GraftBoostModel) =
      m.model.asInstanceOf[SparseBoost.SparseModel].trees
    val avg = GraftBoost.train(df, Seq("x1", "x2"), "y", base)
    val sum = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(parallelTreeUpdate = "sum"))
    // one round, same draws: identical split structure, leaf values
    // exactly T x the averaged ones
    assert(trees(avg).zip(trees(sum)).forall { case (a, b) =>
      a.thresh.sameElements(b.thresh) && a.feature.sameElements(b.feature) })
    val scaleOk = trees(avg).zip(trees(sum)).forall { case (a, b) =>
      a.value.indices.forall(j => math.abs(b.value(j) - 4.0 * a.value(j)) <=
        1e-12 * math.max(1.0, math.abs(b.value(j)))) }
    assert(scaleOk, "summed leaves must be T x the averaged leaves")
    // margins scale the same way around the shared base
    val probe = org.apache.spark.ml.linalg.Vectors.dense(15.0, 3.0)
    val bScore = avg.model.asInstanceOf[SparseBoost.SparseModel].base
    val mAvg = avg.model.asInstanceOf[SparseBoost.SparseModel].marginOf(probe)
    val mSum = sum.model.asInstanceOf[SparseBoost.SparseModel].marginOf(probe)
    assert(math.abs((mSum - bScore) - 4.0 * (mAvg - bScore)) < 1e-9)
    // multi-round: margins diverge (round-2 gradients differ), but
    // both modes remain deterministic
    val avg2 = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numRound = 2, eta = 0.3))
    val sum2 = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numRound = 2, eta = 0.3, parallelTreeUpdate = "sum"))
    val mA2 = avg2.model.asInstanceOf[SparseBoost.SparseModel].marginOf(probe)
    val mS2 = sum2.model.asInstanceOf[SparseBoost.SparseModel].marginOf(probe)
    assert(mA2 != mS2, "summed steps must diverge from averaged over rounds")
    val sum2b = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numRound = 2, eta = 0.3, parallelTreeUpdate = "sum"))
    assert(trees(sum2).zip(trees(sum2b)).forall { case (a, b) =>
      a.value.sameElements(b.value) })
    // T = 1: both modes reduce to the identical single-tree path
    val one = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numParallelTree = 1))
    val oneSum = GraftBoost.train(df, Seq("x1", "x2"), "y",
      base.copy(numParallelTree = 1, parallelTreeUpdate = "sum"))
    assert(trees(one).zip(trees(oneSum)).forall { case (a, b) =>
      a.value.sameElements(b.value) })
    intercept[IllegalArgumentException](
      base.copy(parallelTreeUpdate = "mean"))
  }

  test("base_margin: warm-started fit continues the source fit exactly") {
    // the classic boosting-continuation pattern (reference
    // dmatrix_kwargs surface, core.py:143-147): fit 3 rounds, score
    // margins, continue 3 more rounds from those margins — must equal
    // a single 6-round fit. reg:squarederror's identity link makes
    // prediction == margin, so the stage-1 predictions ARE the
    // base_margin vector.
    val df = (0 until 400).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i * 3) % 7).toDouble
      (i.toLong, x1, x2, 2.0 * x1 - x2 + ((i % 5) - 2) * 0.1)
    }.toDF("id", "x1", "x2", "y")
    def p(r: Int) = BoostParams("reg:squarederror", numRound = r,
      maxDepth = 3, eta = 0.3, missing = Some(-999.0),
      missingStrategy = "native")
    val full  = GraftBoost.train(df, Seq("x1", "x2"), "y", p(6))
    val first = GraftBoost.train(df, Seq("x1", "x2"), "y", p(3))
    val withBm = GraftBoost.predict(first, df)
      .withColumnRenamed("prediction", "bm")
    val cont = GraftBoost.train(withBm, Seq("x1", "x2"), "y", p(3),
      marginCol = Some("bm"))

    val fullP = GraftBoost.predict(full, df)
      .select("id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val contP = GraftBoost.predict(cont, withBm, marginCol = Some("bm"))
      .select("id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fullP.keySet == contP.keySet)
    val maxDiff = fullP.keys.map(k => math.abs(fullP(k) - contP(k))).max
    assert(maxDiff < 1e-9,
      s"warm-started continuation must reproduce the 6-round fit " +
      s"(max |diff| = $maxDiff)")

    // the continuation model's trees genuinely fit stage-2 residuals:
    // scored WITHOUT the margin they fall back to the scalar base
    // (stock: base_score is used only when no base_margin rides along)
    val standalone = GraftBoost.predict(cont, df)
      .select("id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fullP.keys.exists(k => math.abs(standalone(k) - fullP(k)) > 0.1),
      "standalone scoring must NOT silently include the stage-1 margins")

    // refusals: the linear booster has no margin-initialization hook,
    // and margin scoring is native-forest-only
    intercept[IllegalArgumentException] {
      GraftBoost.train(withBm, Seq("x1", "x2"), "y",
        BoostParams("reg:squarederror", numRound = 2, booster = "gblinear"),
        marginCol = Some("bm"))
    }
    intercept[IllegalArgumentException] {
      val linear = GraftBoost.train(df, Seq("x1", "x2"), "y",
        BoostParams("reg:squarederror", numRound = 2, booster = "gblinear"))
      GraftBoost.predict(linear, withBm, marginCol = Some("bm"))
    }
  }

  test("base_margin: null margins fail loudly, never silent null predictions") {
    val df = Seq((1.0, 2.0, Some(0.5)), (2.0, 4.0, None))
      .toDF("x", "y", "bm")
    val m = GraftBoost.train(df.filter(col("bm").isNotNull), Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 1, maxDepth = 1,
        missing = Some(-999.0), missingStrategy = "native"))
    val e = intercept[Exception] {
      GraftBoost.predict(m, df, marginCol = Some("bm")).collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("base_margin"),
      s"null margin must raise the loud guard, got: ${rootMsg(e).take(300)}")
  }

  test("base_margin: NaN missing-marker model round-trips the sink faithfully") {
    // missing = Some(NaN) is stock XGBoost's default marker; the sink's
    // nanMissing flag must NOT rewrite native NaN pass-through (or
    // learned impute means) into zeros on reload
    val df = (0 until 200).map { i =>
      val x = if (i % 5 == 0) Double.NaN else (i % 10).toDouble
      (x, if (i % 10 > 4 || (i % 5 == 0 && i % 2 == 0)) 1.0 else 0.0)
    }.toDF("x", "y")
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("binary:logistic", numRound = 3, maxDepth = 2,
        missing = Some(Double.NaN), missingStrategy = "native"))
    val dir = java.nio.file.Files.createTempDirectory("nan_marker_io").toString
    graft.ml.ModelIO.save(spark, m, dir)
    val back = graft.ml.ModelIO.load(spark, dir)
    assert(back.imputation.exists { case (mk, repl) =>
      mk.isNaN && repl.values.forall(_.isNaN) },
      "native NaN-marker imputation must reload as NaN pass-through, " +
      s"got ${back.imputation}")
    val a = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val b = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(a.sameElements(b))
  }

  test("base_margin: log-link warm start takes MARGINS, not predictions") {
    // reg:gamma predicts exp(margin) — the stock base_margin contract
    // is MARGIN-scale, so continuation must feed marginOf (log scale),
    // never the response-scale prediction. The identity: 3+3 rounds
    // warm-started from stage-1 margins == one 6-round fit.
    val df = (0 until 300).map { i =>
      val x = (i % 2).toDouble
      val y = (if (i % 2 == 0) Seq(1.0, 2.0, 3.0) else Seq(10.0, 20.0, 30.0))(i % 3)
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
    def p(r: Int) = BoostParams("reg:gamma", numRound = r, maxDepth = 1,
      eta = 0.5)
    val full  = GraftBoost.train(df, Seq("x"), "y", p(6))
    val first = GraftBoost.train(df, Seq("x"), "y", p(3))
    val sm1 = first.model.asInstanceOf[SparseBoost.SparseModel]
    val bc = spark.sparkContext.broadcast(sm1)
    // margin column via the model's own margin walk (log scale)
    val mU = udf((x: Double) =>
      bc.value.marginOf(org.apache.spark.ml.linalg.Vectors.dense(x)))
    val withBm = df.withColumn("bm", mU(col("x")))
    val cont = GraftBoost.train(withBm, Seq("x"), "y", p(3),
      marginCol = Some("bm"))
    val fullP = GraftBoost.predict(full, df)
      .select("id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val contP = GraftBoost.predict(cont, withBm, marginCol = Some("bm"))
      .select("id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxRel = fullP.keys.map(k =>
      math.abs(fullP(k) - contP(k)) / math.abs(fullP(k))).max
    assert(maxRel < 1e-9,
      s"gamma warm-start continuation must reproduce the 6-round fit " +
      s"(max rel diff $maxRel)")
    // and the response-scale values ARE exp(margin): positive
    assert(contP.values.forall(_ > 0.0))
  }

  test("base_margin: binary logistic trains from and scores with per-row margins") {
    // rows with an informative prior (bm) and a weak feature: the
    // margin-aware fit must use the prior at BOTH fit and serve time
    val df = (0 until 400).map { i =>
      val x = (i % 4).toDouble
      val prior = if (i % 2 == 0) 2.0 else -2.0
      val y = if (prior > 0) 1.0 else 0.0
      (i.toLong, x, prior, y)
    }.toDF("id", "x", "bm", "y")
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("binary:logistic", numRound = 3, maxDepth = 2,
        eta = 0.3, missing = Some(-999.0), missingStrategy = "native"),
      marginCol = Some("bm"))
    // x alone carries NO signal (labels alternate within each x) —
    // only the margin separates the classes
    val acc = GraftBoost.predict(m, df, marginCol = Some("bm"))
      .select("y", "prediction").collect()
      .count(r => r.getDouble(0) == r.getDouble(1)) / 400.0
    assert(acc == 1.0, s"margin-aware binary scoring accuracy $acc")
    val proba = GraftBoost.predictProba(m, df, marginCol = Some("bm"))
      .select("bm", "proba").collect()
    proba.foreach { r =>
      val p1 = r.getSeq[Double](1)(1)
      if (r.getDouble(0) > 0) assert(p1 > 0.5) else assert(p1 < 0.5)
    }
  }

  /** SHA-256 of a fitted forest's [[TreeDump]] rows, doubles as raw
    * bits: split feature, threshold, children, default branch, split
    * gain or leaf value, and cover.
    */
  private def forestDigest(m: GraftBoostModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    TreeDump.treesToDataFrame(spark, m).collect().foreach { r =>
      val cells = r.toSeq.map {
        case d: java.lang.Double =>
          java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
        case other => String.valueOf(other)
      }
      md.update(cells.mkString("|", "|", "\n").getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  /** Fits under a `graft.train.rowsPerTask` value: 100 gives the 400-row
    * fixtures four training partitions, 1000000 gives them one (the
    * benchmark's layout).
    */
  private def withRowsPerTask[T](rows: String)(body: => T): T = {
    val saved = sys.props.get("graft.train.rowsPerTask")
    sys.props("graft.train.rowsPerTask") = rows
    try body
    finally saved match {
      case Some(v) => sys.props("graft.train.rowsPerTask") = v
      case None => sys.props.remove("graft.train.rowsPerTask")
    }
  }

  private def digestsMoved(
      fits: Seq[(String, () => GraftBoostModel, String)]): Seq[String] =
    fits.flatMap { case (name, fit, want) =>
      val have = forestDigest(fit())
      if (have == want) None else Some(s"$name: $have (pinned $want)")
    }

  test("one round loop: every objective's forest matches its pinned TreeDump digest") {
    // The expected digests were generated at the commit before the
    // training state became quantized blocks (the first six at four
    // partitions go back further, to the per-objective loops the one
    // round loop replaced); every fit here must grow those exact
    // trees. Four training partitions pin the partition-ordered
    // histogram folds, one partition is the benchmark's layout.
    val df = (0 until 400).map { i =>
      val x1 = (i % 20).toDouble
      val x2 = if (i % 7 == 0) -999.0 else ((i * 13) % 17).toDouble
      val x3 = ((i * 7) % 11).toDouble
      val y = if (x1 + 0.4 * x3 > 12.0) 1.0 else 0.0
      val pos = 0.5 + x1 / 4.0 + ((i * 3) % 5) * 0.3
      val cls = if (x1 < 7) 0.0 else if (x1 < 14) 1.0 else 2.0
      val rel = math.min(3.0, math.floor((x1 + (i % 3)) / 6.0))
      val cnt = math.floor(x1 / 5.0 + (i % 4) * 0.5)
      val w = 0.5 + (i % 3)
      val bm = ((i * 11) % 9 - 4) * 0.1
      (i.toLong / 8, x1, x2, x3, y, pos, cls, rel, cnt, w, bm)
    }.toDF("group", "x1", "x2", "x3", "y", "pos", "cls", "rel", "cnt", "w", "bm")
    val feats = Seq("x1", "x2", "x3")
    val native = BoostParams("binary:logistic", numRound = 3, maxDepth = 3,
      eta = 0.3, missing = Some(-999.0), missingStrategy = "native")
    val softprob = BoostParams("multi:softprob", numRound = 3, maxDepth = 3,
      eta = 0.3, missing = Some(-999.0), multiclassStrategy = "softprob")
    // (name, fit, digest at four partitions, digest at one partition)
    val pinned: Seq[(String, () => GraftBoostModel, String, String)] = Seq(
      ("binary:logistic", () => GraftBoost.train(df, feats, "y",
        native.copy(subsample = 0.8, colsampleBytree = 0.67)),
        "fd2deb98a85faabd", "8e4e51ae0315e1f3"),
      ("reg:gamma", () => GraftBoost.train(df, feats, "pos",
        native.copy(objective = "reg:gamma")),
        "bf08420140e8704b", "ad401703073bbdbe"),
      ("reg:quantileerror", () => GraftBoost.train(df, feats, "pos",
        native.copy(objective = "reg:quantileerror", quantileAlpha = 0.7)),
        "27ae53953b9c99ee", "27ae53953b9c99ee"),
      ("dart", () => GraftBoost.train(df, feats, "y",
        native.copy(numRound = 4, booster = "dart", rateDrop = 0.5)),
        "e8dbb8788a79f089", "ef57cc562a20b45e"),
      ("multi:softprob", () => GraftBoost.train(df, feats, "cls", softprob),
        "89eecf5192b8dd19", "5a4df1bcf0f82656"),
      ("rank:ndcg", () => GraftBoost.train(df, feats, "rel",
        native.copy(objective = "rank:ndcg"), groupCol = Some("group")),
        "356a44192c4193d5", "356a44192c4193d5"))
    // pinned at four partitions only
    val more: Seq[(String, () => GraftBoostModel, String)] = Seq(
      ("lossguide", () => GraftBoost.train(df, feats, "y",
        native.copy(growPolicy = "lossguide", maxLeaves = 6)),
        "73a04bfcf7743bb3"),
      ("num_parallel_tree", () => GraftBoost.train(df, feats, "y",
        native.copy(numParallelTree = 2, subsample = 0.8)),
        "d7de9f9d339c3084"),
      ("weightCol", () => GraftBoost.train(df, feats, "y", native,
        weightCol = Some("w")), "b55c4d082b92dbd4"),
      ("base_margin", () => GraftBoost.train(df, feats, "y", native,
        marginCol = Some("bm")), "827470efa83c343d"),
      ("count:poisson", () => GraftBoost.train(df, feats, "cnt",
        native.copy(objective = "count:poisson")), "c133802f62135155"),
      ("reg:tweedie", () => GraftBoost.train(df, feats, "pos",
        native.copy(objective = "reg:tweedie")), "467f05367aeea266"),
      ("reg:squarederror", () => GraftBoost.train(df, feats, "pos",
        native.copy(objective = "reg:squarederror")), "2f263c779d7c7a35"),
      ("softprob subsample", () => GraftBoost.train(df, feats, "cls",
        softprob.copy(subsample = 0.5)), "2c37e6658b07da24"))
    val wrong =
      withRowsPerTask("100")(digestsMoved(
        pinned.map { case (n, f, four, _) => (n, f, four) } ++ more)) ++
      withRowsPerTask("1000000")(digestsMoved(
        pinned.map { case (n, f, _, one) => (s"$n (one partition)", f, one) }))
    assert(wrong.isEmpty, s"forests moved: ${wrong.mkString("; ")}")
  }

  test("a subsample that draws no row falls back to the whole frame") {
    // three distinct rows: content-identical rows sample together, so
    // at 0.3 some trees draw nothing and train on the whole frame
    // while others keep their draw; at 0.001 every draw is empty.
    // Digests pinned at the commit before the in-block draw.
    val df = (0 until 30).map { i =>
      val x = (i % 3).toDouble
      (x, 2.0 - x, if (x > 0.5) 1.0 else 0.0)
    }.toDF("a", "b", "y")
    val p = BoostParams("binary:logistic", numRound = 6, maxDepth = 2,
      eta = 0.3, missingStrategy = "native")
    val wrong = digestsMoved(Seq(
      ("subsample 0.3", () => GraftBoost.train(df, Seq("a", "b"), "y",
        p.copy(subsample = 0.3)), "76f101f0a347807e"),
      ("subsample 0.001", () => GraftBoost.train(df, Seq("a", "b"), "y",
        p.copy(subsample = 0.001)), "5993d966580f9325")))
    assert(wrong.isEmpty, s"forests moved: ${wrong.mkString("; ")}")
  }
}
