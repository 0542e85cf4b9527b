package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{GraftBoost, SparseBoost, XgbJson}
import graft.sources.Tables

/** XGBoost JSON model interchange: export/ingest of the public model
  * schema for the native-loop forests, with the documented
  * divergences (strict-< vs <= routing, f64 precision, base-score
  * link handling) pinned.
  */
class XgbJsonSpec extends AnyFunSuite {
  import TestSession._

  private def fitNative(objective: String): (
      GraftBoost.GraftBoostModel, org.apache.spark.sql.DataFrame) = {
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val df = t.lineitem
      .withColumn("label",
        col("l_quantity") * 10.0 + col("l_discount") * 100.0)
      .withColumn("label",
        if (objective == "binary:logistic") (col("label") > 150.0).cast("double")
        else col("label"))
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    val m = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams(objective, numRound = 4, maxDepth = 3,
        maxBins = 16, splitProposal = "approx",
        missing = Some(-999.0), missingStrategy = "native"))
    (m, df)
  }

  test("export -> import round-trips a native forest bit-for-bit") {
    val (m, df) = fitNative("reg:squarederror")
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val back = XgbJson.importModel(XgbJson.export(m))
    val bm = back.model.asInstanceOf[SparseBoost.SparseModel]

    assert(back.featureCols == m.featureCols)
    assert(bm.base == sm.base, "margin base must survive via the attribute")
    assert(bm.trees.length == sm.trees.length)
    sm.trees.zip(bm.trees).foreach { case (a, b) =>
      assert(a.feature.toSeq == b.feature.toSeq)
      assert(a.left.toSeq == b.left.toSeq && a.right.toSeq == b.right.toSeq,
        "children (incl. the -1 leaf convention) must round-trip")
      // nextDown(nextUp(t)) == t exactly: internal thresholds
      // bit-identical after the strict-< shift and back
      a.feature.indices.filter(a.feature(_) >= 0).foreach { i =>
        assert(a.thresh(i) == b.thresh(i), s"thresh drift at node $i")
      }
      assert(a.value.toSeq == b.value.toSeq)
      assert(a.defaultLeft.toSeq == b.defaultLeft.toSeq)
      assert(a.cover.toSeq == b.cover.toSeq)
      assert(a.gain.toSeq == b.gain.toSeq,
        "per-node gains must ride loss_changes both ways")
    }
    // end to end: identical scores on the training frame
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt), "round-tripped model must score identically")
    df.unpersist()
  }

  test("binary:logistic base score survives the link round trip") {
    val (m, df) = fitNative("binary:logistic")
    val back = XgbJson.importModel(XgbJson.export(m))
    assert(back.numClasses == 2)
    assert(back.model.asInstanceOf[SparseBoost.SparseModel].base ==
      m.model.asInstanceOf[SparseBoost.SparseModel].base)
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt))
    df.unpersist()
  }

  test("ingests a stock-XGBoost document: strict-< routing, no attributes") {
    // one depth-1 tree, split f0 < 10 -> left (-1.0) else right (2.0);
    // missing goes left. base_score in original space (identity link).
    val doc = """
      {"learner":{"attributes":{},
        "feature_names":["f0"],"feature_types":["float"],
        "gradient_booster":{"model":{
          "gbtree_model_param":{"num_trees":"1","num_parallel_tree":"1"},
          "iteration_indptr":[0,1],"tree_info":[0],
          "trees":[{"base_weights":[0.0,-1.0,2.0],
            "categories":[],"categories_nodes":[],"categories_segments":[],
            "categories_sizes":[],
            "default_left":[1,0,0],"id":0,
            "left_children":[1,-1,-1],"right_children":[2,-1,-1],
            "loss_changes":[5.0,0.0,0.0],"parents":[2147483647,0,0],
            "split_conditions":[10.0,-1.0,2.0],
            "split_indices":[0,0,0],"split_type":[0,0,0],
            "sum_hessian":[30.0,10.0,20.0],
            "tree_param":{"num_deleted":"0","num_feature":"1",
              "num_nodes":"3","size_leaf_vector":"1"}}]},
          "name":"gbtree"},
        "learner_model_param":{"base_score":"0.5","boost_from_average":"1",
          "num_class":"0","num_feature":"1","num_target":"1"},
        "objective":{"name":"reg:squarederror"}},
       "version":[2,0,0]}"""
    val m = XgbJson.importModel(doc)
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    import org.apache.spark.ml.linalg.Vectors
    // x < 10 -> left leaf (0.5 - 1.0); x == 10 must go RIGHT (strict <)
    assert(sm.marginOf(Vectors.dense(9.999)) == 0.5 - 1.0)
    assert(sm.marginOf(Vectors.dense(10.0)) == 0.5 + 2.0)
    // NaN follows default_left -> left
    assert(sm.marginOf(Vectors.dense(Double.NaN)) == 0.5 - 1.0)
    // stock base_weights are eta-unscaled -> internal values must be
    // REBUILT as cover-weighted subtree means of the leaf outputs
    // (Saabas expectation): (10*(-1) + 20*2) / 30, not the file's 0.0
    assert(sm.trees(0).value(0) == (10.0 * -1.0 + 20.0 * 2.0) / 30.0)
    // boolean default_left (older 1.x serializers) must also ingest
    val boolDoc = doc.replace("\"default_left\":[1,0,0]",
      "\"default_left\":[true,false,false]")
    val mb = XgbJson.importModel(boolDoc)
    assert(mb.model.asInstanceOf[SparseBoost.SparseModel]
      .marginOf(Vectors.dense(Double.NaN)) == 0.5 - 1.0)
  }

  test("vector-pass-through forests are refused loudly (export and dump)") {
    // a forest splitting on slot >= |featureCols| was trained through
    // the vector pass-through; emitting num_feature=1 would be a
    // silently corrupt document, and the dump has no per-slot names
    val t = SparseBoost.SparseTree(
      feature = Array(2, -1, -1), thresh = Array(1.0, 0.0, 0.0),
      left = Array(1, -1, -1), right = Array(2, -1, -1),
      defaultLeft = Array(false, false, false),
      value = Array(0.0, -1.0, 1.0), cover = Array(4.0, 2.0, 2.0))
    val vecModel = GraftBoost.GraftBoostModel(
      new SparseBoost.SparseModel("u", Array(t), 0.0, "reg:squarederror",
        Array(0.0)),
      Seq("features"), "reg:squarederror", 0, Map.empty,
      missingStrategy = "native")
    intercept[IllegalArgumentException] { XgbJson.export(vecModel) }
    intercept[IllegalArgumentException] {
      graft.ml.TreeDump.treesToDataFrame(spark, vecModel)
    }
  }

  test("trees_to_dataframe: reference column conventions hold") {
    val (m, df) = fitNative("reg:squarederror")
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val dump = graft.ml.TreeDump.treesToDataFrame(spark, m).collect()
    assert(dump.length == sm.trees.map(_.feature.length).sum)
    dump.foreach { r =>
      val (t, n) = (r.getInt(0), r.getInt(1))
      val tree = sm.trees(t)
      assert(r.getString(2) == s"$t-$n")
      if (r.getString(3) == "Leaf") {
        assert(tree.feature(n) < 0)
        assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7))
        // leaf rows carry the leaf VALUE in Gain (reference convention)
        assert(r.getDouble(8) == tree.value(n))
      } else {
        assert(r.getString(3) == m.featureCols(tree.feature(n)))
        assert(r.getDouble(4) == tree.thresh(n))
        assert(r.getString(5) == s"$t-${tree.left(n)}")
        assert(r.getString(6) == s"$t-${tree.right(n)}")
        val expectMissing =
          if (tree.defaultLeft(n)) tree.left(n) else tree.right(n)
        assert(r.getString(7) == s"$t-$expectMissing",
          "Missing must point at the learned default branch")
        assert(r.getDouble(8) == tree.gain(n))
        assert(r.getDouble(8) >= 0.0, "split gain must be non-negative")
      }
      assert(r.getDouble(9) == tree.cover(n))
    }
    df.unpersist()
  }

  test("refuses what the schema cannot carry") {
    val (q, df) = fitNative("reg:quantileerror")
    df.unpersist()
    // pinball-loss forests have no schema slot (gbtree leaf values
    // are Newton steps; the quantile leaf rule's are leaf quantiles)
    intercept[IllegalArgumentException] { XgbJson.export(q) }
    // multi-group gblinear (num_class > 1) has a different weights
    // layout — refused loudly rather than mis-sliced
    val linDoc = XgbJson.export(fitLinear()._1)
    val multiLin = linDoc.replace("\"num_class\":\"0\"", "\"num_class\":\"3\"")
    intercept[IllegalArgumentException] { XgbJson.importModel(multiLin) }
  }

  // ---- multiclass softprob interchange -----------------------------

  private def fitSoftprob(): (GraftBoost.GraftBoostModel,
      org.apache.spark.sql.DataFrame) = {
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val df = t.lineitem
      .withColumn("label", pmod(col("l_orderkey"), lit(3)).cast("double"))
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    val m = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams("multi:softprob", numRound = 3, maxDepth = 3,
        multiclassStrategy = "softprob"))
    (m, df)
  }

  test("softprob: export -> import scores bit-identically via the native scorer") {
    val (m, df) = fitSoftprob()
    val sp = m.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    val doc = XgbJson.export(m)
    assert(doc.contains("\"num_class\":\"3\""))
    assert(doc.contains("multi:softprob"))
    val back = XgbJson.importModel(doc)
    assert(back.numClasses == 3)
    val mm = back.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    // round-major layout: 3 rounds x 3 classes, tree_info = i mod K
    assert(mm.trees.length == 9)
    assert(mm.treeInfo.toSeq == (0 until 9).map(_ % 3))
    // margins bit-equal on local vectors (same per-class sum order)
    import org.apache.spark.ml.linalg.Vectors
    Seq(Vectors.dense(10.0, 0.05, 0.02), Vectors.dense(45.0, 0.0, 0.08))
      .foreach { v =>
        assert(sp.marginsOf(v).toSeq == mm.marginsOf(v).toSeq,
          "per-class margins must round-trip bit-exactly")
      }
    // end to end: identical class predictions AND probabilities
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt))
    val pOrig = GraftBoost.predictProba(m, df).select("proba")
      .collect().map(_.getSeq[Double](0))
    val pRt = GraftBoost.predictProba(back, df).select("proba")
      .collect().map(_.getSeq[Double](0))
    assert(pOrig.zip(pRt).forall { case (a, b) => a == b },
      "softmax probabilities must round-trip bit-exactly")
    df.unpersist()
  }

  test("softprob export carries the grower's per-node gains and no MLlib-gain stamp") {
    import org.json4s._
    val (m, df) = fitSoftprob()
    val sp = m.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    val js = org.json4s.jackson.JsonMethods.parse(XgbJson.export(m))
    val JArray(trees) = js \ "learner" \ "gradient_booster" \ "model" \ "trees"
    assert(trees.length == sp.trees.length)
    sp.trees.zip(trees).foreach { case (t, tj) =>
      val JArray(lc) = tj \ "loss_changes"
      val gains = lc.map { case JDouble(d) => d; case other => fail(s"$other") }
      assert(gains == t.gain.toSeq, "loss_changes must be the grower's gains")
      t.feature.indices.foreach { i =>
        if (t.feature(i) >= 0) assert(gains(i) > 0.0, s"split $i has no gain")
        else assert(gains(i) == 0.0, s"leaf $i carries a gain")
      }
    }
    // the per-node gains are the ones the importances were summed from
    val perNode = sp.trees.flatMap(t =>
      t.feature.indices.filter(t.feature(_) >= 0).map(t.gain(_))).sum
    assert(math.abs(sp.importanceByType("total_gain").sum - perNode) <= 1e-9 * perNode)
    val JObject(attrs) = js \ "learner" \ "attributes"
    val divergences = attrs.collectFirst { case ("graft.divergences", JString(d)) => d }
    assert(divergences.exists(!_.contains("MLlib")), divergences)
    assert(!attrs.exists(_._1 == "graft.stats_absent"))
    df.unpersist()
  }

  test("stock multiclass document ingests: tree_info routing, softmax, NaN default") {
    // 2 classes, 2 depth-1 trees: class 0 splits f0 < 10, class 1 is
    // a stump pair too; no graft attributes (stock file)
    def tree(leftVal: Double, rightVal: Double) = s"""
      {"base_weights":[0.0,$leftVal,$rightVal],
       "categories":[],"categories_nodes":[],"categories_segments":[],
       "categories_sizes":[],
       "default_left":[1,0,0],"id":0,
       "left_children":[1,-1,-1],"right_children":[2,-1,-1],
       "loss_changes":[3.0,0.0,0.0],"parents":[2147483647,0,0],
       "split_conditions":[10.0,$leftVal,$rightVal],
       "split_indices":[0,0,0],"split_type":[0,0,0],
       "sum_hessian":[30.0,10.0,20.0],
       "tree_param":{"num_deleted":"0","num_feature":"1",
         "num_nodes":"3","size_leaf_vector":"1"}}"""
    val doc = s"""
      {"learner":{"attributes":{},
        "feature_names":["f0"],"feature_types":["float"],
        "gradient_booster":{"model":{
          "gbtree_model_param":{"num_trees":"2","num_parallel_tree":"1"},
          "iteration_indptr":[0,2],"tree_info":[0,1],
          "trees":[${tree(-1.0, 2.0)},${tree(1.5, -0.5)}]},
          "name":"gbtree"},
        "learner_model_param":{"base_score":"0.5","boost_from_average":"1",
          "num_class":"2","num_feature":"1","num_target":"1"},
        "objective":{"name":"multi:softprob",
          "softmax_multiclass_param":{"num_class":"2"}}},
       "version":[2,0,0]}"""
    val m = XgbJson.importModel(doc)
    assert(m.numClasses == 2)
    val mm = m.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    import org.apache.spark.ml.linalg.Vectors
    // x < 10: class margins = 0.5 + (-1.0), 0.5 + 1.5 (softmax base
    // shift is uniform); x == 10 goes RIGHT under strict <
    assert(mm.marginsOf(Vectors.dense(9.0)).toSeq == Seq(-0.5, 2.0))
    assert(mm.marginsOf(Vectors.dense(10.0)).toSeq == Seq(2.5, 0.0))
    // NaN follows default_left -> left on both trees
    assert(mm.marginsOf(Vectors.dense(Double.NaN)).toSeq == Seq(-0.5, 2.0))
    val p = mm.probaOf(Vectors.dense(9.0))
    assert(math.abs(p.sum - 1.0) < 1e-12 && p(1) > p(0))
    // ingested stats: one split of f0 per tree
    assert(mm.importanceByType("weight").toSeq == Seq(2.0))
    assert(mm.importanceByType("total_gain").toSeq == Seq(6.0))
    assert(mm.importanceByType("total_cover").toSeq == Seq(60.0))

    // multiclass DART: drop weights fold into leaves, provenance is
    // kept, and re-export goes back through the dart slot — never a
    // silent gbtree relabel
    val dartDoc = s"""
      {"learner":{"attributes":{},
        "feature_names":["f0"],"feature_types":["float"],
        "gradient_booster":{"model":{
          "weight_drop":[0.5,1.0],
          "gbtree":{
            "gbtree_model_param":{"num_trees":"2","num_parallel_tree":"1"},
            "iteration_indptr":[0,2],"tree_info":[0,1],
            "trees":[${tree(-1.0, 2.0)},${tree(1.5, -0.5)}]}},
          "name":"dart"},
        "learner_model_param":{"base_score":"0.5","boost_from_average":"1",
          "num_class":"2","num_feature":"1","num_target":"1"},
        "objective":{"name":"multi:softprob",
          "softmax_multiclass_param":{"num_class":"2"}}},
       "version":[2,0,0]}"""
    val md = XgbJson.importModel(dartDoc)
    val mmd = md.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    assert(mmd.dartFolded)
    // class-0 tree scaled by 0.5, class-1 tree untouched
    assert(mmd.marginsOf(Vectors.dense(9.0)).toSeq == Seq(0.5 - 0.5, 2.0))
    val reDoc = XgbJson.export(md)
    assert(reDoc.contains("\"name\":\"dart\"") && reDoc.contains("weight_drop"),
      "dart-ingested multiclass forests must re-export through the dart slot")
  }

  // ---- gblinear interchange ----------------------------------------

  private def fitLinear(): (GraftBoost.GraftBoostModel,
      org.apache.spark.sql.DataFrame) = {
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount")
    val df = t.lineitem
      .withColumn("label", col("l_quantity") * 3.0 + col("l_discount") * 50.0)
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    val m = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams("reg:squarederror", numRound = 5, eta = 0.7,
        booster = "gblinear"))
    (m, df)
  }

  test("gblinear: export -> import round-trips weights, bias and base exactly") {
    val (m, df) = fitLinear()
    val lm = m.model.asInstanceOf[graft.ml.LinearBoost.LinearModel]
    val doc = XgbJson.export(m)
    assert(doc.contains("\"name\":\"gblinear\""))
    val back = XgbJson.importModel(doc)
    val bl = back.model.asInstanceOf[graft.ml.LinearBoost.LinearModel]
    assert(bl.weights.sameElements(lm.weights))
    assert(bl.bias == lm.bias && bl.base == lm.base,
      "the (base, bias) split must survive via the margin attribute")
    assert(back.featureCols == m.featureCols)
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt))
    df.unpersist()
  }

  test("gblinear: stock document ingests with the [w..., bias] layout") {
    val doc = """
      {"learner":{"attributes":{},
        "feature_names":["a","b"],"feature_types":["float","float"],
        "gradient_booster":{"model":{"weights":[2.0,-1.0,0.5]},
          "name":"gblinear"},
        "learner_model_param":{"base_score":"0.25","boost_from_average":"1",
          "num_class":"0","num_feature":"2","num_target":"1"},
        "objective":{"name":"reg:squarederror"}},
       "version":[2,0,0]}"""
    val m = XgbJson.importModel(doc)
    val lm = m.model.asInstanceOf[graft.ml.LinearBoost.LinearModel]
    assert(lm.weights.toSeq == Seq(2.0, -1.0) && lm.bias == 0.5)
    // margin = base(0.25, identity link) + bias + w.x
    assert(lm.marginOf(Array(1.0, 1.0)) == 0.25 + 0.5 + 1.0)
  }

  test("gblinear: ingested document scores NaN entries as zero contribution") {
    // stock gblinear serving is a sparse dot product — a missing (NaN)
    // entry simply contributes nothing (ADVICE r10: the old ingest left
    // imputation=None and the assembler errored on NaN rows instead)
    val doc = """
      {"learner":{"attributes":{},
        "feature_names":["a","b"],"feature_types":["float","float"],
        "gradient_booster":{"model":{"weights":[2.0,-1.0,0.5]},
          "name":"gblinear"},
        "learner_model_param":{"base_score":"0.25","boost_from_average":"1",
          "num_class":"0","num_feature":"2","num_target":"1"},
        "objective":{"name":"reg:squarederror"}},
       "version":[2,0,0]}"""
    val m = XgbJson.importModel(doc)
    import spark.implicits._
    val df = Seq(
      (1.0, 4.0),               // full row: 0.25 + 0.5 + 2*1 - 1*4
      (3.0, Double.NaN),         // b missing: 0.25 + 0.5 + 2*3
      (Double.NaN, Double.NaN)   // all missing: intercept only
    ).toDF("a", "b")
    val got = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(0.25 + 0.5 + 2.0 - 4.0, 0.25 + 0.5 + 6.0, 0.75))

    // the NaN->0 marker must survive the lossless sink: NaN is not
    // valid JSON, so ModelIO carries it as the nanMissing flag
    val path = java.nio.file.Files.createTempDirectory("graft_lin_nan").toString
    graft.ml.ModelIO.save(spark, m, path)
    val back = graft.ml.ModelIO.load(spark, path)
    assert(back.imputation.exists { case (mk, repl) =>
      mk.isNaN && repl.values.forall(_ == 0.0) })
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(rt.sameElements(got))
  }

  // ---- categorical (partition) splits ------------------------------

  test("categorical splits ingest with stock set-membership routing") {
    // hand-built 1.5+-style document: root is categorical on f0 with
    // RIGHT-branch set {1, 3} (stock common::Decision: category in
    // the stored set -> right child; invalid/negative -> left; NaN ->
    // default branch, here left). Leaves: left -1.0, right 2.0;
    // base_score 0.5 (identity link for reg:squarederror).
    val doc = """
      {"learner":{"attributes":{},
        "feature_names":["f0"],"feature_types":["c"],
        "gradient_booster":{"model":{
            "gbtree_model_param":{"num_trees":"1","num_parallel_tree":"1"},
            "tree_info":[0],
            "trees":[{
              "base_weights":[0.1,-1.0,2.0],
              "categories":[1,3],
              "categories_nodes":[0],
              "categories_segments":[0],
              "categories_sizes":[2],
              "default_left":[1,0,0],
              "id":0,
              "left_children":[1,-1,-1],
              "right_children":[2,-1,-1],
              "loss_changes":[5.0,0.0,0.0],
              "parents":[2147483647,0,0],
              "split_conditions":[0.0,-1.0,2.0],
              "split_indices":[0,0,0],
              "split_type":[1,0,0],
              "sum_hessian":[10.0,6.0,4.0],
              "tree_param":{"num_deleted":"0","num_feature":"1",
                "num_nodes":"3","size_leaf_vector":"1"}}]},
          "name":"gbtree"},
        "learner_model_param":{"base_score":"0.5","boost_from_average":"1",
          "num_class":"0","num_feature":"1","num_target":"1"},
        "objective":{"name":"reg:squarederror"}},
       "version":[2,0,0]}"""
    val m = XgbJson.importModel(doc)
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    assert(sm.trees.head.hasCategorical)
    import spark.implicits._
    val df = Seq(
      (1L, 1.0), (2L, 3.0),          // in {1,3} -> right: 0.5 + 2.0
      (3L, 2.0), (4L, 0.0),          // not in set -> left: 0.5 - 1.0
      (5L, -1.0),                    // invalid code -> left
      (6L, Double.NaN),              // missing -> default (left)
      (7L, 1.5)                      // AsCat truncation -> 1 -> right
    ).toDF("id", "f0")
    val expect = Map(1L -> 2.5, 2L -> 2.5, 3L -> -0.5, 4L -> -0.5,
      5L -> -0.5, 6L -> -0.5, 7L -> 2.5)
    def score(model: graft.ml.GraftBoost.GraftBoostModel) =
      GraftBoost.predict(model, df).select("id", "prediction")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(score(m) == expect)

    // export -> re-import: the categories arrays survive and scoring
    // is identical (including the NaN/invalid/truncation rows)
    val reDoc = XgbJson.export(m)
    assert(reDoc.contains("\"split_type\":[1,0,0]") &&
      reDoc.contains("\"categories\":[1,3]") &&
      reDoc.contains("\"categories_nodes\":[0]"),
      s"re-export must carry the categorical arrays:\n$reDoc")
    assert(reDoc.contains("\"feature_types\":[\"c\"]"),
      "a feature split categorically must re-export as type \"c\"")
    assert(score(XgbJson.importModel(reDoc)) == expect)

    // lossless sink round trip (NaN thresh slots can't ride JSON —
    // ModelIO rebuilds them from the cats field)
    val dir = java.nio.file.Files.createTempDirectory("cat_io").toString
    graft.ml.ModelIO.save(spark, m, dir)
    val back = graft.ml.ModelIO.load(spark, dir)
    assert(back.model.asInstanceOf[SparseBoost.SparseModel]
      .trees.head.hasCategorical)
    assert(score(back) == expect)

    // get_score rebuild works off categorical nodes too
    assert(sm.importanceByType("weight").toSeq == Seq(1.0))
    assert(sm.importanceByType("total_gain").toSeq == Seq(5.0))

    // attribution walks are numeric-threshold only — refuse loudly
    intercept[IllegalArgumentException] {
      graft.ml.TreeShap.transform(m, df)
    }
    intercept[IllegalArgumentException] {
      graft.ml.Contributions.transform(m, df)
    }
    intercept[IllegalArgumentException] {
      graft.ml.TreeDump.treesToDataFrame(spark, m)
    }
    // ... and the MULTICLASS TreeSHAP path refuses too (its per-class
    // forests pass the same guard)
    val mmCat = graft.ml.GraftBoost.GraftBoostModel(
      new graft.ml.MultiSparse.MultiSparseModel("catmm",
        Array(sm.trees.head, sm.trees.head), Array(0, 1), 2,
        0.0, "multi:softprob", SparseBoost.ImportanceAcc.empty),
      Seq("f0"), "multi:softprob", 2, Map.empty,
      missingStrategy = "native")
    intercept[IllegalArgumentException] {
      graft.ml.TreeShap.transformMulticlass(mmCat, df)
    }
  }

  test("cross-wrapper refusal leaves no scoreable model behind") {
    // a caller catching the load_model refusal must not be able to
    // predict() with the misloaded document afterwards
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount")
    val df = t.lineitem
      .withColumn("label", col("l_quantity") * 2.0)
      .select((feats.map(col) :+ col("label")): _*)
    val reg = new graft.ml.GraftXGBRegressor().setNEstimators(2)
    reg.fit(df, feats, "label")
    val path = java.nio.file.Files.createTempFile("graft_reg", ".json").toString
    reg.saveModel(path)
    val clf = new graft.ml.GraftXGBClassifier()
    intercept[IllegalArgumentException] { clf.loadModel(path) }
    intercept[IllegalStateException] { clf.predict(df) } // "call fit() first"
  }

  // ---- DART interchange --------------------------------------------

  test("dart: a dropout-rescaled forest round-trips through the dart slot") {
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val df = t.lineitem
      .withColumn("label", col("l_quantity") * 10.0 + col("l_discount") * 100.0)
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    val m = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams("reg:squarederror", numRound = 4, maxDepth = 3,
        maxBins = 16, missing = Some(-999.0), missingStrategy = "native",
        booster = "dart", rateDrop = 0.9))
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    assert(sm.dartRescaled, "fixture must actually fire dropout rounds")
    val doc = XgbJson.export(m)
    assert(doc.contains("\"name\":\"dart\"") && doc.contains("weight_drop"),
      "a rescaled forest must export through the dart slot")
    val back = XgbJson.importModel(doc)
    val bm = back.model.asInstanceOf[SparseBoost.SparseModel]
    assert(bm.dartRescaled,
      "dart ingest must inherit the no-truncation restriction")
    intercept[IllegalArgumentException] { bm.truncate(1) }
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt),
      "unit drop weights must keep the folded leaf values bit-exact")
    df.unpersist()
  }

  test("dart: stock weight_drop folds into leaf outputs at ingest") {
    // the stock gbtree doc from above, wrapped in a dart booster with
    // a 0.5 drop weight: leaves scale, internal values rebuild from
    // the SCALED leaf outputs
    val doc = """
      {"learner":{"attributes":{},
        "feature_names":["f0"],"feature_types":["float"],
        "gradient_booster":{"model":{
          "gbtree":{
            "gbtree_model_param":{"num_trees":"1","num_parallel_tree":"1"},
            "iteration_indptr":[0,1],"tree_info":[0],
            "trees":[{"base_weights":[0.0,-1.0,2.0],
              "categories":[],"categories_nodes":[],"categories_segments":[],
              "categories_sizes":[],
              "default_left":[1,0,0],"id":0,
              "left_children":[1,-1,-1],"right_children":[2,-1,-1],
              "loss_changes":[5.0,0.0,0.0],"parents":[2147483647,0,0],
              "split_conditions":[10.0,-1.0,2.0],
              "split_indices":[0,0,0],"split_type":[0,0,0],
              "sum_hessian":[30.0,10.0,20.0],
              "tree_param":{"num_deleted":"0","num_feature":"1",
                "num_nodes":"3","size_leaf_vector":"1"}}]},
          "weight_drop":[0.5]},
          "name":"dart"},
        "learner_model_param":{"base_score":"0.5","boost_from_average":"1",
          "num_class":"0","num_feature":"1","num_target":"1"},
        "objective":{"name":"reg:squarederror"}},
       "version":[2,0,0]}"""
    val m = XgbJson.importModel(doc)
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    assert(sm.dartRescaled)
    import org.apache.spark.ml.linalg.Vectors
    assert(sm.marginOf(Vectors.dense(9.0)) == 0.5 + 0.5 * -1.0)
    assert(sm.marginOf(Vectors.dense(10.0)) == 0.5 + 0.5 * 2.0)
    // internal Saabas value rebuilt from SCALED leaves
    assert(sm.trees(0).value(0) == (10.0 * -0.5 + 20.0 * 1.0) / 30.0)
  }

  // ---- get_score statistics at ingest ------------------------------

  test("get_score statistics are rebuilt at ingest from loss_changes/sum_hessian") {
    val (m, df) = fitNative("reg:squarederror")
    df.unpersist()
    val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
    val bm = XgbJson.importModel(XgbJson.export(m))
      .model.asInstanceOf[SparseBoost.SparseModel]
    // split COUNTS are integers — exact; gain/cover sums re-fold the
    // identical per-node doubles in node-index order (training
    // accumulated them in growth order), so compare to 1 ulp-scale
    // relative tolerance
    assert(bm.importanceByType("weight").toSeq ==
      sm.importanceByType("weight").toSeq)
    Seq("total_gain", "total_cover", "gain", "cover").foreach { t =>
      val a = sm.importanceByType(t); val b = bm.importanceByType(t)
      a.indices.foreach { j =>
        assert(math.abs(a(j) - b(j)) <= 1e-12 * math.max(math.abs(a(j)), 1.0),
          s"$t diverged at feature $j: ${a(j)} vs ${b(j)}")
      }
    }
    // and the normalized default importances follow
    val fi = graft.ml.GraftBoost.featureImportances(m)
    val fb = graft.ml.GraftBoost.featureImportances(
      XgbJson.importModel(XgbJson.export(m)))
    fi.foreach { case (k, v) => assert(math.abs(fb(k) - v) < 1e-12) }
  }

  test("stats-absent marker: pre-gain exports round-trip as 'unavailable', not 0.0") {
    // a model whose gains are unknown (pre-gain ModelIO artifact):
    // empty gain array
    val t = SparseBoost.SparseTree(
      feature = Array(0, -1, -1), thresh = Array(1.0, 0.0, 0.0),
      left = Array(1, -1, -1), right = Array(2, -1, -1),
      defaultLeft = Array(false, false, false),
      value = Array(0.0, -1.0, 1.0), cover = Array(4.0, 2.0, 2.0))
    val m = GraftBoost.GraftBoostModel(
      new SparseBoost.SparseModel("u", Array(t), 0.0, "reg:squarederror",
        Array(0.0)),
      Seq("x"), "reg:squarederror", 0, Map.empty,
      missingStrategy = "native")
    val doc = XgbJson.export(m)
    assert(doc.contains("graft.stats_absent"))
    val back = XgbJson.importModel(doc)
    val bm = back.model.asInstanceOf[SparseBoost.SparseModel]
    assert(bm.trees(0).gain.isEmpty,
      "absent gains must NOT come back as real 0.0 gains")
    // get_score refuses loudly — never zero-length arrays (the same
    // contract the multiclass scorer has)
    intercept[IllegalArgumentException] { bm.importanceByType("weight") }
    // trees_to_dataframe then reports Gain null on internal nodes,
    // exactly like the ModelIO path for pre-gain artifacts
    val dump = graft.ml.TreeDump.treesToDataFrame(spark, back).collect()
    assert(dump.filter(_.getString(3) != "Leaf").forall(_.isNullAt(8)))
  }

  // ---- default-strategy interchange -------------------------------

  private def fitDefault(objective: String): (GraftBoost.GraftBoostModel,
      org.apache.spark.sql.DataFrame) = {
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val df = t.lineitem
      .withColumn("label",
        col("l_quantity") * 10.0 + col("l_discount") * 100.0)
      .withColumn("label",
        if (objective == "binary:logistic") (col("label") > 150.0).cast("double")
        else col("label"))
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    // default missingStrategy ("impute", no marker): the same round
    // loop as "native", with no NaN to route
    val m = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams(objective, numRound = 4, maxDepth = 3,
        maxBins = 16))
    (m, df)
  }

  test("default-strategy regression exports and scores bit-identically") {
    val (m, df) = fitDefault("reg:squarederror")
    assert(m.model.isInstanceOf[SparseBoost.SparseModel])
    val back = XgbJson.importModel(XgbJson.export(m))
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt))
    df.unpersist()
  }

  test("default-strategy classifier exports and round-trips its probabilities") {
    val (m, df) = fitDefault("binary:logistic")
    assert(m.model.isInstanceOf[SparseBoost.SparseModel])
    val doc = XgbJson.export(m)
    assert(doc.contains("binary:logistic"))
    val back = XgbJson.importModel(doc)
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt), "decision boundary must be unchanged")
    // the exact margin-space base rides the document: probabilities
    // round-trip bit for bit
    val pOrig = GraftBoost.predictProba(m, df).select("proba")
      .collect().map(_.getSeq[Double](0)(1))
    val pRt = GraftBoost.predictProba(back, df).select("proba")
      .collect().map(_.getSeq[Double](0)(1))
    assert(pOrig.sameElements(pRt))
    df.unpersist()
  }

  test("poisson booster exports: ingested document scores counts, not log-rates") {
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount")
    val df = t.lineitem
      .withColumn("label", (col("l_linenumber") % 4 + 1).cast("double"))
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    val m = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams("count:poisson", numRound = 3, maxDepth = 3))
    assert(m.model.asInstanceOf[SparseBoost.SparseModel]
      .objective == "count:poisson")
    val doc = XgbJson.export(m)
    assert(doc.contains("count:poisson"))
    val back = XgbJson.importModel(doc)
    assert(back.model.asInstanceOf[SparseBoost.SparseModel]
      .objective == "count:poisson")
    // η and base fold exactly: the ingested plain-sum forest must
    // reproduce exp(base + η·Σ tree) bit-for-bit — and on the COUNT
    // scale (all predictions ≥ 0), not the log-rate scale
    val orig = GraftBoost.predict(m, df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = GraftBoost.predict(back, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt))
    assert(rt.forall(_ > 0.0), "count scale, not log-rate")
    df.unpersist()
  }

  test("ModelIO persists an ingested multiclass forest losslessly") {
    val (m, df) = fitSoftprob()
    val ingested = XgbJson.importModel(XgbJson.export(m))
    val dir = java.nio.file.Files.createTempDirectory("multisparse_io").toString
    graft.ml.ModelIO.save(spark, ingested, dir)
    val loaded = graft.ml.ModelIO.load(spark, dir)
    val a = ingested.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    val b = loaded.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    assert(b.numClasses == a.numClasses &&
      b.treeInfo.sameElements(a.treeInfo) && b.base == a.base)
    a.trees.zip(b.trees).foreach { case (x, y) =>
      assert(x.feature.sameElements(y.feature) &&
        x.thresh.sameElements(y.thresh) && x.value.sameElements(y.value) &&
        x.cover.sameElements(y.cover) && x.gain.sameElements(y.gain))
    }
    assert(b.importanceByType("weight").sameElements(
      a.importanceByType("weight")))
    val pA = GraftBoost.predict(ingested, df).select("prediction")
      .collect().map(_.getDouble(0))
    val pB = GraftBoost.predict(loaded, df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(pA.sameElements(pB))
    df.unpersist()
  }

  test("ModelIO dispatch refuses an unknown model class loudly") {
    // the load dispatch is suffix-based (MultiSparseModel must match
    // before its own suffix SparseModel) — an unrecognized class must
    // fail NAMING the class, never fall through to a wrong arm
    val dir = java.nio.file.Files.createTempDirectory("modelio_neg")
    java.nio.file.Files.write(dir.resolve("graft_meta.json"),
      """{"modelClass":"com.example.MysteryModel","featureCols":["a"],
         "objective":"reg:squarederror","numClasses":0,
         "missingStrategy":"impute","imputationMeans":{},
         "evalsResult":{}}""".getBytes("UTF-8"))
    val e = intercept[UnsupportedOperationException] {
      graft.ml.ModelIO.load(spark, dir.toString)
    }
    assert(e.getMessage.contains("MysteryModel"))
  }

  test("multiclass truncate: iteration_range on an ingested document") {
    val (m, df) = fitSoftprob()
    val sp = m.model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    val mm = XgbJson.importModel(XgbJson.export(m))
      .model.asInstanceOf[graft.ml.MultiSparse.MultiSparseModel]
    val cut = mm.truncate(2)
    assert(cut.trees.length == 6 && cut.treeInfo.toSeq == (0 until 6).map(_ % 3))
    // the 2-round prefix scores bit-identically to the truncated
    // SOURCE forest (same per-class sum order)
    val spCut = sp.truncate(2)
    import org.apache.spark.ml.linalg.Vectors
    Seq(Vectors.dense(10.0, 0.05, 0.02), Vectors.dense(45.0, 0.0, 0.08))
      .foreach { v =>
        assert(cut.marginsOf(v).toSeq == spCut.marginsOf(v).toSeq)
      }
    // prefix stats are recomputed exactly from the kept trees
    val manual = cut.trees.flatMap(t =>
      t.feature.indices.filter(t.feature(_) >= 0).map(i => t.gain(i))).sum
    assert(math.abs(cut.importanceByType("total_gain").sum - manual) < 1e-9)
    // bounds + dart refusal
    intercept[IllegalArgumentException] { mm.truncate(0) }
    intercept[IllegalArgumentException] { mm.truncate(4) }
    df.unpersist()
  }

  test("estimator save_model/load_model: the reference's sklearn-wrapper sink") {
    val t = Tables(spark, sf)
    val feats = Seq("l_quantity", "l_discount")
    val df = t.lineitem
      .withColumn("label", col("l_quantity") * 5.0 + col("l_discount") * 40.0)
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    val reg = new graft.ml.GraftXGBRegressor()
      .setNEstimators(3).setMaxDepth(3)
    reg.fit(df, feats, "label")
    val path = java.nio.file.Files.createTempFile("graft_xgb", ".json").toString
    reg.saveModel(path)
    val fresh = new graft.ml.GraftXGBRegressor().loadModel(path)
    val orig = reg.predict(df).select("prediction")
      .collect().map(_.getDouble(0))
    val rt = fresh.predict(df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(orig.sameElements(rt))
    // matching stock XGBoost: the document carries no training-time
    // state, so nothing must pretend to be restored
    assert(fresh.evalsResult.isEmpty && fresh.bestIteration.isEmpty)

    // multiclass classifier through the same surface
    val dfc = t.lineitem
      .withColumn("label", pmod(col("l_orderkey"), lit(3)).cast("double"))
      .select((feats.map(col) :+ col("label")): _*)
      .cache()
    val clf = new graft.ml.GraftXGBClassifier()
      .setNEstimators(2).setMaxDepth(3).setMulticlassStrategy("softprob")
    clf.fit(dfc, feats, "label")
    val pathC = java.nio.file.Files.createTempFile("graft_xgbc", ".json").toString
    clf.saveModel(pathC)
    val freshC = new graft.ml.GraftXGBClassifier().loadModel(pathC)
    assert(freshC.numClasses == 3,
      "classes_ must restore as 0..K-1 from the document's num_class")
    // cross-wrapper misuse fails loudly: a regression document in the
    // classifier would otherwise emit floor(margin) as "classes"
    intercept[IllegalArgumentException] {
      new graft.ml.GraftXGBClassifier().loadModel(path)
    }
    // ... and the MIRROR: a classification document in the regressor
    // would emit class ids / thresholded 0/1 where stock's regressor
    // surface returns continuous values (ADVICE r10)
    intercept[IllegalArgumentException] {
      new graft.ml.GraftXGBRegressor().loadModel(pathC)
    }
    val pOrig = clf.predict(dfc).select(col("prediction").cast("double"))
      .collect().map(_.getDouble(0))
    val pRt = freshC.predict(dfc).select(col("prediction").cast("double"))
      .collect().map(_.getDouble(0))
    assert(pOrig.sameElements(pRt))
    df.unpersist(); dfc.unpersist()
  }

  test("vector-pass-through detection is structural, not split-index-based") {
    // the ADVICE r9 scenario: a pass-through forest whose splits all
    // land on slot 0 — the old max-index inference would accept it
    // and emit a mislabeled num_feature=1 document
    val t = SparseBoost.SparseTree(
      feature = Array(0, -1, -1), thresh = Array(1.0, 0.0, 0.0),
      left = Array(1, -1, -1), right = Array(2, -1, -1),
      defaultLeft = Array(false, false, false),
      value = Array(0.0, -1.0, 1.0), cover = Array(4.0, 2.0, 2.0))
    val m = GraftBoost.GraftBoostModel(
      new SparseBoost.SparseModel("u", Array(t), 0.0, "reg:squarederror",
        Array(0.0)),
      Seq("features"), "reg:squarederror", 0, Map.empty,
      missingStrategy = "native")
    intercept[IllegalArgumentException] { XgbJson.export(m) }
    intercept[IllegalArgumentException] {
      graft.ml.TreeDump.treesToDataFrame(spark, m)
    }
  }
}
