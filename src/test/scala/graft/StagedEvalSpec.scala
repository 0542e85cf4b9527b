package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

class StagedEvalSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private lazy val (train, valid) = {
    val rows = (0 until 600).map { i =>
      val x1 = (i % 20).toDouble
      val x2 = ((i * 13) % 17).toDouble
      // label depends on both features with a little structure
      val y = if (x1 + 0.5 * x2 >= 13) 1.0 else 0.0
      (x1, x2, y, i % 4 == 0)
    }.toDF("x1", "x2", "label", "isVal")
    (rows.filter(!$"isVal"), rows.filter($"isVal"))
  }

  test("staged AUC history has one value per round, ends high on train fit") {
    val m = GraftBoost.train(train, Seq("x1", "x2"), "label",
      BoostParams(numRound = 8, maxDepth = 3))
    val hist = StagedEval.history(m, train, "label", "auc")
    assert(hist.length == 8)
    assert(hist.last > 0.95, s"train AUC after 8 rounds: ${hist.last}")
    assert(hist.last >= hist.head - 1e-9, "AUC should not degrade on train")
  }

  test("staged logloss decreases on training data") {
    val m = GraftBoost.train(train, Seq("x1", "x2"), "label",
      BoostParams(numRound = 8, maxDepth = 3))
    val hist = StagedEval.history(m, train, "label", "logloss")
    assert(hist.length == 8)
    assert(hist.last < hist.head, s"logloss ${hist.head} -> ${hist.last}")
  }

  test("staged logloss on the train rows equals the loop's train history") {
    val m = GraftBoost.train(train, Seq("x1", "x2"), "label",
      BoostParams(numRound = 5, maxDepth = 2))
    val staged = StagedEval.history(m, train, "label", "logloss")
    val own = m.evalsResult("train")("logloss")
    assert(staged.length == own.length)
    // the same margins; the two only sum the row losses in different
    // orders (and clip p at 1e-15 slightly differently)
    staged.zip(own).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9, s"staged $a vs loop $b") }
  }

  test("a staged auc history leaves no persisted RDD behind") {
    val m = GraftBoost.train(train, Seq("x1", "x2"), "label",
      BoostParams(numRound = 3, maxDepth = 2))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Seq("auc", "aucpr").foreach(metric =>
      assert(StagedEval.history(m, valid, "label", metric).length == 3))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("bestIteration picks max for auc, min for logloss") {
    assert(StagedEval.bestIteration(Array(0.6, 0.9, 0.8), "auc") == 2)
    assert(StagedEval.bestIteration(Array(0.9, 0.3, 0.5), "logloss") == 2)
  }

  test("truncateToBest physically cuts the model to the best round") {
    val m = GraftBoost.train(train, Seq("x1", "x2"), "label",
      BoostParams(numRound = 10, maxDepth = 2))
    val (cut, k, hist) = StagedEval.truncateToBest(m, valid, "label", "logloss")
    assert(hist.length == 10)
    assert(k >= 1 && k <= 10)
    val rounds = cut.model.asInstanceOf[SparseBoost.SparseModel].numRounds
    assert(rounds == k, s"truncated model has $rounds rounds, best round was $k")
    // truncated model still scores
    assert(GraftBoost.predict(cut, valid).count() == valid.count())
  }

  test("stalledAt applies the strict-improvement patience rule") {
    // auc: best at round 2 (0.9); rounds 3,4 no improvement -> stop at 4
    assert(StagedEval.stalledAt(Array(0.6, 0.9, 0.9, 0.85, 0.95), "auc", 2)
      == Some(4))
    // still improving throughout: never stalls
    assert(StagedEval.stalledAt(Array(0.6, 0.7, 0.8, 0.9), "auc", 2).isEmpty)
    // logloss minimizes: best 0.3 at round 2, patience 3 -> stop at 5
    assert(StagedEval.stalledAt(Array(0.9, 0.3, 0.5, 0.4, 0.35), "logloss", 3)
      == Some(5))
    // ties are NOT improvement (strict rule)
    assert(StagedEval.stalledAt(Array(0.8, 0.8, 0.8), "auc", 2) == Some(3))
  }

  test("in-fit early stopping on auc trains fewer rounds than numRound") {
    val numRound = 64
    val (m, best, hist, trainedRounds) = StagedEval.fitWithEarlyStopping(
      train, valid, Seq("x1", "x2"), "label",
      BoostParams(numRound = numRound, maxDepth = 3),
      "auc", earlyStoppingRounds = 3)
    // the separable toy saturates AUC within a few rounds: the fit
    // must stop well short of numRound's training cost
    assert(trainedRounds < numRound,
      s"early stopping trained $trainedRounds rounds of $numRound")
    // history is clipped at the stopped round; best sits inside it
    assert(best >= 1 && best <= hist.length)
    assert(hist(best - 1) == hist.max, "best round must carry the max AUC")
    // the model is PHYSICALLY truncated to the best round
    assert(m.model.asInstanceOf[SparseBoost.SparseModel].numRounds == best)
    // and the stall is real: patience rounds after best show no improvement
    assert(StagedEval.stalledAt(hist, "auc", 3).forall(_ == hist.length))
    assert(GraftBoost.predict(m, valid).count() == valid.count())
  }

  test("estimator fitWithEarlyStopping records best iteration and history") {
    val est = new GraftXGBClassifier()
      .setNEstimators(64).setMaxDepth(3).setSeed(7L)
    est.fitWithEarlyStopping(train, Seq("x1", "x2"), "label", valid,
      earlyStoppingRounds = 3, metric = "auc")
    assert(est.bestIteration.isDefined && est.bestScore.isDefined)
    assert(est.roundsTrained.exists(_ < 64))
    val hist = est.evalsResult("validation_0")("auc")
    assert(est.bestScore.get == hist(est.bestIteration.get - 1))
    // scoring works on the truncated model
    assert(est.predict(valid).count() == valid.count())
    // multiclass labels reject loudly (no OvR truncation)
    val multi = valid.withColumn("label3",
      (org.apache.spark.sql.functions.col("x1") % 3).cast("double"))
    val e = intercept[IllegalArgumentException] {
      new GraftXGBClassifier().setNEstimators(8)
        .fitWithEarlyStopping(multi, Seq("x1", "x2"), "label3", multi,
          earlyStoppingRounds = 2)
    }
    assert(e.getMessage.contains("binary-only"))
  }

  test("weighted eval history differs when weights emphasize errors") {
    import org.apache.spark.sql.functions._
    val m = GraftBoost.train(train, Seq("x1", "x2"), "label",
      BoostParams(numRound = 5, maxDepth = 2))
    // upweight positives 10x: weighted logloss must differ from plain
    val weighted = valid.withColumn("w", when($"label" === 1.0, 10.0).otherwise(1.0))
    val plain = StagedEval.history(m, valid, "label", "logloss")
    val wtd = StagedEval.history(m, weighted, "label", "logloss", Some("w"))
    assert(plain.length == wtd.length)
    assert(plain.zip(wtd).exists { case (a, b) => math.abs(a - b) > 1e-9 },
      "weights should change the metric")
  }

  test("predictLocal scores a single vector like the distributed path") {
    import org.apache.spark.ml.linalg.Vectors
    val m = GraftBoost.train(train, Seq("x1", "x2"), "label",
      BoostParams(numRound = 5, maxDepth = 3))
    val distributed = GraftBoost.predict(m, valid)
      .select("x1", "x2", "prediction").collect()
    distributed.take(20).foreach { r =>
      val local = GraftBoost.predictLocal(m, Vectors.dense(r.getDouble(0), r.getDouble(1)))
      assert(local == r.getDouble(2), s"local $local vs distributed ${r.getDouble(2)}")
    }
  }

  test("aucByRound matches brute-force pair counting, ties included") {
    // hand-built (round, label, margin) frame with deliberate ties,
    // both within and across labels, spread over two rounds
    val rows = Seq(
      (1, 1.0, 0.9), (1, 1.0, 0.5), (1, 0.0, 0.5), (1, 0.0, 0.1),
      (1, 1.0, 0.1), (1, 0.0, 0.9), (1, 0.0, 0.3), (1, 1.0, 0.3),
      (2, 1.0, 0.8), (2, 0.0, 0.2), (2, 1.0, 0.2), (2, 0.0, 0.8),
      (2, 1.0, 0.7), (2, 0.0, 0.4)
    )
    val df = rows.toDF("round", "label", "margin")
    val got = StagedEval.aucByRound(df).zipWithIndex.map { case (m, i) => (i + 1) -> m }.toMap
    // brute force: U = #{pos>neg} + 0.5*#{ties}; AUC = U/(nPos*nNeg)
    val expected = rows.groupBy(_._1).map { case (round, rs) =>
      val pos = rs.filter(_._2 == 1.0).map(_._3)
      val neg = rs.filter(_._2 == 0.0).map(_._3)
      val u = (for (p <- pos; n <- neg) yield {
        if (p > n) 1.0 else if (p == n) 0.5 else 0.0
      }).sum
      round -> u / (pos.size * neg.size)
    }
    expected.foreach { case (round, e) =>
      assert(math.abs(got(round) - e) < 1e-12,
        s"round $round: got ${got(round)}, expected $e")
    }
  }

  test("aucprByRound matches brute-force average precision, ties included") {
    // same deliberate-tie fixture class as the AUC test: tie groups
    // must absorb their whole block before precision is read
    val rows = Seq(
      (1, 1.0, 0.9), (1, 1.0, 0.5), (1, 0.0, 0.5), (1, 0.0, 0.1),
      (1, 1.0, 0.1), (1, 0.0, 0.9), (1, 0.0, 0.3), (1, 1.0, 0.3),
      (2, 1.0, 0.8), (2, 0.0, 0.2), (2, 1.0, 0.2), (2, 0.0, 0.8),
      (2, 1.0, 0.7), (2, 0.0, 0.4)
    )
    val df = rows.toDF("round", "label", "margin")
    val got = StagedEval.aucprByRound(df).zipWithIndex.map { case (m, i) => (i + 1) -> m }.toMap
    // brute force: walk unique margins descending; each tie group g
    // contributes p_g * precision(after absorbing g); AP = sum / nPos
    val expected = rows.groupBy(_._1).map { case (round, rs) =>
      val byMargin = rs.groupBy(_._3).toSeq.sortBy(-_._1)
      var tp = 0L; var fp = 0L; var ap = 0.0
      byMargin.foreach { case (_, g) =>
        val p = g.count(_._2 == 1.0); val n = g.count(_._2 == 0.0)
        tp += p; fp += n
        ap += p * (tp.toDouble / (tp + fp).toDouble)
      }
      round -> ap / rs.count(_._2 == 1.0)
    }
    expected.foreach { case (round, e) =>
      assert(math.abs(got(round) - e) < 1e-12,
        s"round $round: got ${got(round)}, expected $e")
    }
    // maximize semantics wired through best-iteration + stall rule
    assert(StagedEval.bestIteration(Array(0.4, 0.9, 0.7), "aucpr") == 2)
    assert(StagedEval.stalledAt(Array(0.8, 0.7, 0.6, 0.5), "aucpr", 2)
      .contains(3))

    // trapezoid variant (XGBoost-style interpolation): brute force is
    // the same walk with the group contribution averaged between the
    // previous and current precision, anchored at P=1 for zero recall
    val gotT = StagedEval.aucprByRound(df, trapezoid = true).zipWithIndex
      .map { case (m, i) => (i + 1) -> m }.toMap
    val expectedT = rows.groupBy(_._1).map { case (round, rs) =>
      val byMargin = rs.groupBy(_._3).toSeq.sortBy(-_._1)
      var tp = 0L; var fp = 0L; var ap = 0.0
      byMargin.foreach { case (_, g) =>
        val p = g.count(_._2 == 1.0); val n = g.count(_._2 == 0.0)
        val prevPrec = if (tp + fp > 0) tp.toDouble / (tp + fp) else 1.0
        tp += p; fp += n
        ap += p * (tp.toDouble / (tp + fp).toDouble + prevPrec) / 2.0
      }
      round -> ap / rs.count(_._2 == 1.0)
    }
    expectedT.foreach { case (round, e) =>
      assert(math.abs(gotT(round) - e) < 1e-12,
        s"trapezoid round $round: got ${gotT(round)}, expected $e")
    }
    // the two interpolations genuinely DIVERGE on this tie-heavy
    // fixture (coarse PR curve) — the documented XGBoost-vs-step gap
    expected.foreach { case (round, e) =>
      assert(math.abs(gotT(round) - e) > 1e-6,
        s"fixture must separate step AP from trapezoid at round $round")
    }
    // maximize semantics cover the variant metric name too
    assert(StagedEval.bestIteration(Array(0.4, 0.9, 0.7), "aucpr-trapezoid") == 2)
    assert(StagedEval.stalledAt(Array(0.8, 0.7, 0.6, 0.5), "aucpr-trapezoid", 2)
      .contains(3))
  }

  test("in-fit early stopping works on the aucpr metric") {
    val df = (0 until 300).map { i =>
      val x = (i % 20).toDouble
      (x, if (x > 12) 1.0 else 0.0)
    }.toDF("x", "y")
    val (m, best, hist, trained) = StagedEval.fitWithEarlyStopping(
      df, df, Seq("x"), "y",
      BoostParams("binary:logistic", numRound = 40, maxDepth = 2, eta = 0.5),
      "aucpr", earlyStoppingRounds = 3)
    assert(trained < 40, s"separable fit must stall early: trained=$trained")
    assert(best >= 1 && best <= hist.length)
    assert(hist(best - 1) == hist.max, "best round carries the max AP")
    assert(hist.max > 0.95, s"separable data must reach high AP: ${hist.max}")
    assert(m != null)
  }

  test("staged rmse works for regression models") {
    val df = (0 until 400).map { i =>
      val x = (i % 25).toDouble
      (x, 3.0 * x + (i % 3))
    }.toDF("x", "y")
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 6, maxDepth = 3, eta = 0.5))
    val hist = StagedEval.history(m, df, "y", "rmse")
    assert(hist.length == 6)
    assert(hist.last < hist.head, s"rmse ${hist.head} -> ${hist.last}")
  }

  test("an early-stopped fit whose metric stalls at round s trains at most s + 1 rounds") {
    val params = BoostParams(numRound = 40, maxDepth = 3, eta = 0.5)
    def fit(patience: Int) = StagedEval.fitWithEarlyStopping(
      train, valid, Seq("x1", "x2"), "label", params, "logloss", patience)
    // a patience past numRound never stops: the full history of the
    // very same fit (same rows, same layout, same trees)
    val (_, _, full, fullRounds) = fit(1000)
    assert(fullRounds == 40 && full.length == 40)
    // s = the last round of the first improving run
    val s = StagedEval.stalledAt(full, "logloss", 1)
      .getOrElse(fail(s"fixture must stall: ${full.toSeq}")) - 1
    val (m, best, hist, trained) = fit(1)
    assert(trained <= s + 1, s"metric stalled at round $s, trained $trained")
    assert(trained < 40)
    // the stopped fit is the full one's prefix, bit for bit
    assert(hist.sameElements(full.take(trained)))
    assert(best == s && m.model.asInstanceOf[SparseBoost.SparseModel].numRounds == s)
  }

  test("the in-loop validation history equals StagedEval.history of the returned model") {
    // StagedEval.history is the oracle. Both read bit-identical margins
    // (the loop's f + leaf is the staged walk's running sum); only the
    // order the row terms are summed in (and exp/log in SQL vs Scala)
    // differs, so the tolerance is 1e-9 absolute.
    def check(params: BoostParams, label: String, metric: String): Unit = {
      val (m, best, hist, trained) = StagedEval.fitWithEarlyStopping(
        train, valid, Seq("x1", "x2"), label, params, metric, earlyStoppingRounds = 2)
      val staged = StagedEval.history(m, valid, label, metric)
      assert(staged.length == best && best <= trained, s"$metric: $best of $trained")
      staged.zip(hist).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9, s"$metric: staged $a vs in-loop $b") }
    }
    val reg = BoostParams("reg:squarederror", numRound = 12, maxDepth = 2, eta = 0.3)
    check(BoostParams(numRound = 12, maxDepth = 2), "label", "logloss")
    check(BoostParams(numRound = 12, maxDepth = 2), "label", "auc")
    check(BoostParams(numRound = 12, maxDepth = 2), "label", "error")
    check(reg, "x1", "rmse")
    check(reg.copy(objective = "reg:absoluteerror"), "x1", "mae")
    // multiclass: the one-vs-rest forest's mlogloss against its staged
    // softmax walk
    val cls = train.withColumn("k", (org.apache.spark.sql.functions.col("x1") / 7).cast("int"))
    val vcls = valid.withColumn("k", (org.apache.spark.sql.functions.col("x1") / 7).cast("int"))
    val m = GraftBoost.train(
      cls.withColumn("v", org.apache.spark.sql.functions.lit(false))
        .unionByName(vcls.withColumn("v", org.apache.spark.sql.functions.lit(true))),
      Seq("x1", "x2"), "k", BoostParams("multi:softprob", numRound = 6, maxDepth = 2),
      validationCol = Some("v"))
    val inLoop = m.evalsResult("validation")("mlogloss")
    val staged = StagedEval.history(m, vcls, "k", "mlogloss")
    assert(staged.length == StagedEval.bestIteration(inLoop, "mlogloss"))
    staged.zip(inLoop).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9, s"mlogloss: staged $a vs in-loop $b") }
  }
}
