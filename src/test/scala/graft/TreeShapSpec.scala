package graft

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.ml.GraftBoost._

/** Exact TreeSHAP ([[graft.ml.TreeShap]]) — verified against the
  * DEFINITION: brute-force subset-enumeration Shapley values of the
  * cover-conditional tree game, not against a second copy of the fast
  * algorithm. Also pins local accuracy (bias + Σφ = margin), the
  * single-split closed form, missing-value routing, and the
  * Saabas-vs-SHAP relationship (equal on depth-1 trees).
  */
class TreeShapSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** Tree-conditional expectation v_S(x): features in S follow x
    * (NaN → default branch), features outside S average children by
    * cover — the game TreeSHAP solves exactly.
    */
  private def expVal(
      t: SparseBoost.SparseTree, v: Vector, s: Set[Int], node: Int = 0
  ): Double =
    if (t.feature(node) < 0) t.value(node)
    else {
      val f = t.feature(node)
      if (s.contains(f)) {
        val x = v(f)
        val next =
          if (java.lang.Double.isNaN(x)) { if (t.defaultLeft(node)) t.left(node) else t.right(node) }
          else if (x <= t.thresh(node)) t.left(node) else t.right(node)
        expVal(t, v, s, next)
      } else {
        val cN = t.cover(node)
        (t.cover(t.left(node)) / cN) * expVal(t, v, s, t.left(node)) +
          (t.cover(t.right(node)) / cN) * expVal(t, v, s, t.right(node))
      }
    }

  /** Brute-force Shapley values over all 2^M subsets. */
  private def bruteShap(
      t: SparseBoost.SparseTree, v: Vector, numFeat: Int
  ): Array[Double] = {
    def fact(n: Int): Double = (1 to n).product.toDouble
    val phi = new Array[Double](numFeat)
    val all = (0 until numFeat).toSet
    for (j <- 0 until numFeat) {
      val others = (all - j).subsets()
      others.foreach { s =>
        val w = fact(s.size) * fact(numFeat - s.size - 1) / fact(numFeat)
        phi(j) += w * (expVal(t, v, s + j) - expVal(t, v, s))
      }
    }
    phi
  }

  private def nativeModel(df: org.apache.spark.sql.DataFrame,
      feats: Seq[String], rounds: Int, depth: Int): GraftBoostModel =
    GraftBoost.train(df, feats, "y",
      BoostParams("reg:squarederror", numRound = rounds, maxDepth = depth,
        eta = 0.7, maxBins = 8, missing = Some(-999.0),
        missingStrategy = "native"))

  test("TreeSHAP equals brute-force subset Shapley on every tree and row") {
    // 3 interacting features with enough structure for depth-3 trees
    val df = (0 until 300).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i * 7) % 5).toDouble
      val x3 = ((i * 3) % 4).toDouble
      val y = 2.0 * x1 + x2 * x3 - 0.5 * x3 + (if (x1 > 6 && x2 < 2) 5.0 else 0.0)
      (x1, x2, x3, y)
    }.toDF("x1", "x2", "x3", "y")
    val m = nativeModel(df, Seq("x1", "x2", "x3"), rounds = 3, depth = 3)
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val cap = sm.trees.map(TreeShap.depthOf).max + 2

    val probes = Seq(
      Vectors.dense(0.0, 0.0, 0.0), Vectors.dense(9.0, 4.0, 3.0),
      Vectors.dense(7.0, 1.0, 2.0), Vectors.dense(3.0, 2.0, 1.0),
      Vectors.dense(6.0, 4.0, 0.0))
    probes.foreach { v =>
      val (bias, fast) =
        TreeShap.shapOne(sm.trees, sm.trees.map(TreeShap.expectedValue), cap, 3, v.toArray)
      val brute = sm.trees.map(t => bruteShap(t, v, 3))
        .foldLeft(new Array[Double](3)) { (a, b) =>
          a.indices.foreach(i => a(i) += b(i)); a
        }
      fast.indices.foreach { j =>
        assert(math.abs(fast(j) - brute(j)) < 1e-9,
          s"phi($j) for $v: fast=${fast(j)} brute=${brute(j)}")
      }
      // local accuracy against the definition's own margin
      val margin = sm.trees.map(_.valueOf(v)).sum
      assert(math.abs(bias + fast.sum - margin) < 1e-9,
        s"additivity for $v: bias=$bias sum=${fast.sum} margin=$margin")
    }
  }

  test("single split: phi is the hot-leaf deviation from the expected value") {
    // one depth-1 tree: x=1 (5 rows, y=0) | x=3 (15 rows, y=8)
    val df = (0 until 20).map(i =>
      if (i < 5) (1.0, 0.0) else (3.0, 8.0)).toDF("x", "y")
    // λ = 0: the Newton node estimates reduce to cover-weighted means,
    // so Saabas' root baseline coincides with SHAP's expected value —
    // with λ > 0 the two baselines differ BY DESIGN (−G/(H+λ) is not
    // the cover average of child leaves) and only SHAP keeps exact
    // local accuracy against E[f]
    val m = GraftBoost.train(df, Seq("x"), "y",
      BoostParams("reg:squarederror", numRound = 1, maxDepth = 1, eta = 1.0,
        lambdaL2 = 0.0, missing = Some(-999.0), missingStrategy = "native"))
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val t = sm.trees.head
    val exp = TreeShap.expectedValue(t)
    val (bias, phi) = TreeShap.shapOne(sm.trees, Array(exp), 4, 1, Array(1.0))
    // phi_x = f(x) - E[f]: the entire deviation belongs to the only feature
    assert(math.abs(phi(0) - (t.valueOf(Vectors.dense(1.0)) - exp)) < 1e-12)
    assert(math.abs(bias - exp) < 1e-12)
    // Saabas equals SHAP on a depth-1 tree
    val saabas = Contributions.transform(m,
        df.filter($"x" === 1.0).limit(1))
      .select("contribs").head().getSeq[Double](0)
    assert(math.abs(saabas.head - phi(0)) < 1e-12,
      s"depth-1 Saabas ${saabas.head} must equal SHAP ${phi(0)}")
  }

  test("missing values attribute to the feature whose default branch routes them") {
    val df = (0 until 200).map { i =>
      val x1 = if (i % 5 == 0) -999.0 else (i % 10).toDouble
      val y = if (i % 5 == 0) 10.0 else (i % 10).toDouble
      (x1, ((i * 3) % 4).toDouble, y)
    }.toDF("x1", "x2", "y")
    val m = nativeModel(df, Seq("x1", "x2"), rounds = 2, depth = 2)
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val cap = sm.trees.map(TreeShap.depthOf).max + 2
    val vMiss = Vectors.dense(Double.NaN, 0.0)
    val (bias, phi) = TreeShap.shapOne(sm.trees,
      sm.trees.map(TreeShap.expectedValue), cap, 2, vMiss.toArray)
    val margin = sm.trees.map(_.valueOf(vMiss)).sum
    assert(math.abs(bias + phi.sum - margin) < 1e-9,
      "additivity must hold on all-missing routing")
    // brute force agrees on the NaN row too (expVal follows defaults)
    val brute = sm.trees.map(t => bruteShap(t, vMiss, 2))
      .foldLeft(new Array[Double](2)) { (a, b) =>
        a.indices.foreach(i => a(i) += b(i)); a
      }
    phi.indices.foreach(j => assert(math.abs(phi(j) - brute(j)) < 1e-9,
      s"NaN phi($j): fast=${phi(j)} brute=${brute(j)}"))
  }

  test("transform: exact additivity over a frame and agreement with importances") {
    val df = (0 until 400).map { i =>
      val x1 = (i % 20).toDouble
      val x2 = ((i * 7) % 3).toDouble
      (x1, x2, 3.0 * x1 + x2)
    }.toDF("x1", "x2", "y")
    val m = nativeModel(df, Seq("x1", "x2"), rounds = 3, depth = 3)
    val scored = GraftBoost.predict(m, df)
    val out = TreeShap.transform(m, scored)
    import org.apache.spark.sql.functions._
    val bad = out.withColumn("err",
        abs(col("bias") + expr("aggregate(shap, 0d, (a, x) -> a + x)") -
          col("prediction")))
      .filter(col("err") > 1e-6).count()
    assert(bad == 0, "bias + sum(shap) must reproduce every margin")
    // the dominant feature by mean |shap| is the dominant gain feature
    val meanAbs = out.select(
      avg(abs(element_at(col("shap"), 1))), avg(abs(element_at(col("shap"), 2))))
      .head()
    assert(meanAbs.getDouble(0) > meanAbs.getDouble(1),
      "x1 carries the signal; its mean |shap| must dominate")
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val gain = sm.importanceByType("total_gain")
    assert(gain(0) > gain(1))
  }

  test("importance types: identities and hand-checkable counts") {
    val df = (0 until 200).map { i =>
      val x1 = (i % 10).toDouble
      (x1, ((i * 3) % 4).toDouble, 2.0 * x1)
    }.toDF("x1", "x2", "y")
    val m = nativeModel(df, Seq("x1", "x2"), rounds = 2, depth = 2)
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val w = sm.importanceByType("weight")
    val g = sm.importanceByType("gain")
    val tg = sm.importanceByType("total_gain")
    val c = sm.importanceByType("cover")
    val tc = sm.importanceByType("total_cover")
    // weight counts the actual split nodes in the forest
    val counted = new Array[Double](2)
    sm.trees.foreach(t => t.feature.filter(_ >= 0).foreach(counted(_) += 1))
    assert(w.toSeq == counted.toSeq, s"weight ${w.toSeq} vs counted ${counted.toSeq}")
    // total = average × weight, exactly; cover is positive where used
    (0 until 2).foreach { j =>
      assert(math.abs(tg(j) - g(j) * w(j)) < 1e-9)
      assert(math.abs(tc(j) - c(j) * w(j)) < 1e-9)
      if (w(j) > 0) assert(tc(j) > 0.0)
    }
    // squared-error hessians are 1 per row: a root split's cover is
    // the full row count, so total_cover ≥ weight (deeper splits add)
    assert(tc.sum >= w.sum)
    // normalized importances still reflect total_gain proportions
    val norm = sm.importances
    assert(math.abs(norm.sum - 1.0) < 1e-9)
    assert(norm(0) > norm(1))
    intercept[IllegalArgumentException](sm.importanceByType("nope"))
  }

  test("model sink round-trips cover and split statistics") {
    val df = (0 until 100).map(i => ((i % 10).toDouble, (i % 10) * 1.5))
      .toDF("x1", "y")
    val m = nativeModel(df, Seq("x1"), rounds = 2, depth = 2)
    val path = java.nio.file.Files.createTempDirectory("shapio").toString
    ModelIO.save(spark, m, path)
    val back = ModelIO.load(spark, path)
    val a = m.model.asInstanceOf[SparseBoost.SparseModel]
    val b = back.model.asInstanceOf[SparseBoost.SparseModel]
    assert(a.trees.map(_.cover.toSeq).toSeq == b.trees.map(_.cover.toSeq).toSeq)
    assert(a.stats.weight.toSeq == b.stats.weight.toSeq)
    assert(a.stats.gain.toSeq == b.stats.gain.toSeq)
    assert(a.stats.cover.toSeq == b.stats.cover.toSeq)
    // reloaded model produces identical SHAP values
    val v = Vectors.dense(4.0)
    val capA = a.trees.map(TreeShap.depthOf).max + 2
    val (biasA, phiA) =
      TreeShap.shapOne(a.trees, a.trees.map(TreeShap.expectedValue), capA, 1, v.toArray)
    val (biasB, phiB) =
      TreeShap.shapOne(b.trees, b.trees.map(TreeShap.expectedValue), capA, 1, v.toArray)
    assert(biasA == biasB && phiA.toSeq == phiB.toSeq)
    // per-round stats persist too: truncation of the reloaded model
    // reports the SAME exact kept-prefix importances as a fresh fit
    assert(b.statsPerRound.isDefined,
      "round stats must survive the model sink")
    val cutA = a.truncate(1)
    val cutB = b.truncate(1)
    assert(cutA.stats.weight.toSeq == cutB.stats.weight.toSeq)
    assert(cutA.stats.gain.toSeq == cutB.stats.gain.toSeq)
    assert(cutA.importances.toSeq == cutB.importances.toSeq)
    assert(!b.dartRescaled)
  }

  test("transform refuses inputs that already carry an output column") {
    import org.apache.spark.sql.functions.lit
    val df = (0 until 50).map(i => ((i % 10).toDouble, (i % 10) * 1.5))
      .toDF("x1", "y")
    val m = nativeModel(df, Seq("x1"), rounds = 2, depth = 2)
    val withBias = df.withColumn("bias", lit(0.0))
    val e = intercept[IllegalArgumentException](
      TreeShap.transform(m, withBias))
    assert(e.getMessage.contains("bias"))
    intercept[IllegalArgumentException](
      TreeShap.transformInteractions(m, df.withColumn("interactions", lit(1))))
    intercept[IllegalArgumentException](
      TreeShap.transform(m, df.withColumn("shap", lit(1))))
  }

  test("SHAP interaction values match the brute-force Shapley interaction index") {
    // interacting target so off-diagonals are non-trivial
    val df = (0 until 300).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = ((i * 7) % 5).toDouble
      val x3 = ((i * 3) % 4).toDouble
      (x1, x2, x3, x1 * x2 + 2.0 * x3 + (if (x1 > 6 && x3 < 2) 4.0 else 0.0))
    }.toDF("x1", "x2", "x3", "y")
    val m = nativeModel(df, Seq("x1", "x2", "x3"), rounds = 2, depth = 3)
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val cap = sm.trees.map(TreeShap.depthOf).max + 2
    val M = 3

    // brute-force Shapley interaction index over all subsets:
    // phi_ij = sum_{S ⊆ F∖{i,j}} |S|!(M−|S|−2)!/(2(M−1)!) ·
    //          [v(S∪{i,j}) − v(S∪{i}) − v(S∪{j}) + v(S)]
    def fact(n: Int): Double = (1 to n).product.toDouble
    def bruteInter(t: SparseBoost.SparseTree, v: org.apache.spark.ml.linalg.Vector,
        i: Int, j: Int): Double = {
      val rest = (0 until M).toSet - i - j
      rest.subsets().map { sub =>
        val w = fact(sub.size) * fact(M - sub.size - 2) / (2.0 * fact(M - 1))
        w * (expVal(t, v, sub + i + j) - expVal(t, v, sub + i) -
          expVal(t, v, sub + j) + expVal(t, v, sub))
      }.sum
    }

    val probes = Seq(
      Vectors.dense(9.0, 4.0, 3.0), Vectors.dense(2.0, 1.0, 0.0),
      Vectors.dense(7.0, 0.0, 1.0))
    probes.foreach { v =>
      val exp = sm.trees.map(TreeShap.expectedValue)
      val (bias, plain, mat) = TreeShap.interactionsOne(sm.trees, exp, cap, M, v.toArray)
      for (i <- 0 until M; j <- 0 until M if i != j) {
        val brute = sm.trees.map(t => bruteInter(t, v, i, j)).sum
        assert(math.abs(mat(i)(j) - brute) < 1e-9,
          s"Phi($i)($j) for $v: fast=${mat(i)(j)} brute=$brute")
        // symmetry comes with the definition; the fast path must keep it
        assert(math.abs(mat(i)(j) - mat(j)(i)) < 1e-9)
      }
      // row sums reproduce the plain Shapley values; total reproduces
      // the margin — the pred_interactions local-accuracy identities
      for (i <- 0 until M)
        assert(math.abs(mat(i).sum - plain(i)) < 1e-9,
          s"row $i must sum to phi_$i")
      val margin = sm.trees.map(_.valueOf(v)).sum
      assert(math.abs(bias + mat.map(_.sum).sum - margin) < 1e-9)
    }

    // the DataFrame surface emits the same flattened matrix
    val one = df.limit(1)
    val viaDf = TreeShap.transformInteractions(m, one)
      .select("interactions").head().getSeq[Double](0)
    val vRow = one.select("x1", "x2", "x3").head()
    val vv = Vectors.dense(vRow.getDouble(0), vRow.getDouble(1), vRow.getDouble(2))
    val (_, _, direct) = TreeShap.interactionsOne(sm.trees,
      sm.trees.map(TreeShap.expectedValue), cap, M, vv.toArray)
    assert(viaDf == direct.flatten.toSeq,
      "transformInteractions must equal the kernel bit-for-bit")
  }

  test("multiclass TreeSHAP: per-class local accuracy on a softprob forest") {
    import org.apache.spark.sql.functions._
    // 3-class fixture; small joint softprob fit
    val df = (0 until 240).map { i =>
      val x1 = (i % 12).toDouble
      val x2 = ((i * 7) % 5).toDouble
      (x1, x2, (i % 3).toDouble)
    }.toDF("x1", "x2", "label")
    val m = GraftBoost.train(df, Seq("x1", "x2"), "label",
      BoostParams("multi:softprob", numRound = 3, maxDepth = 3,
        multiclassStrategy = "softprob"))
    val mm = m.model.asInstanceOf[MultiSparse.MultiSparseModel]
    val K = 3; val M = 2
    val out = TreeShap.transformMulticlass(m, df)
      .select(col("x1"), col("x2"), col("bias"), col("shap"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val v = Vectors.dense(r.getDouble(0), r.getDouble(1))
      val margins = mm.marginsOf(v)
      val bias = r.getSeq[Double](2)
      val shap = r.getSeq[Double](3)
      assert(bias.length == K && shap.length == K * M)
      (0 until K).foreach { k =>
        val reconstructed = bias(k) +
          (0 until M).map(j => shap(k * M + j)).sum
        assert(math.abs(reconstructed - margins(k)) < 1e-9,
          s"class $k: bias + sum(shap) = $reconstructed != margin ${margins(k)}")
      }
    }
    // the local margins are the distributed scorer's margins
    val probe = Vectors.dense(5.0, 2.0)
    val distributed = mm.transform(Seq(Tuple1(probe)).toDF("features"))
      .select("margins").head().getSeq[Double](0)
    assert(mm.marginsOf(probe).toSeq == distributed)
    // ingested documents take the same path: round-trip and re-score
    val ingested = XgbJson.importModel(XgbJson.export(m))
    val viaIngest = TreeShap.transformMulticlass(ingested, df.limit(5))
      .select("bias", "shap").collect()
    val direct = TreeShap.transformMulticlass(m, df.limit(5))
      .select("bias", "shap").collect()
    viaIngest.zip(direct).foreach { case (a, b) =>
      assert(a.getSeq[Double](0) == b.getSeq[Double](0) &&
        a.getSeq[Double](1) == b.getSeq[Double](1),
        "ingested-document SHAP must equal the source forest's")
    }
  }
}
