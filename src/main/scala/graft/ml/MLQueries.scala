package graft.ml

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables
import graft.functions.GraftFunctions._

/** Verify-harness entries for the ML surface (SURVEY §2.2-§2.3).
  *
  * Model outputs aren't SQL-expressible, so each registered query
  * emits columns DuckDB CAN compute exactly (row/label counts from
  * the input data) next to a Spark-computed model-quality boolean
  * with a deliberately generous floor — the t2 gate then hash-checks
  * the whole lifecycle (assemble → fit → broadcast transform →
  * aggregate) while the behavioral guarantees stay in MLSpec (the
  * oracle-equivalence analog of the reference's `test_core.py`).
  * The confusion-matrix / error-stat detail frames remain available
  * as the `*Detail` functions.
  */
object MLQueries {

  /** 1e-9 relative tolerance for comparing two float accumulations of
    * the same quantity (e.g. total_gain ~O(1e9): divide-then-multiply
    * and reordered sums are exact only to ulps).
    */
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Confusion-matrix detail of the binary lifecycle. */
  def binaryDetail(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val df = t.lineitem
      .withColumn("label", (col("l_returnflag") === "R").cast("double"))
      .select((feats.map(col) :+ col("label")): _*)
      .transform(fanOut)
      .cache()
    val model = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams("binary:logistic", numRound = 10, maxDepth = 3,
        maxBins = 16))
    val out = GraftBoost.predict(model, df)
      .groupBy(col("label"), col("prediction"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("prediction"))
    out.persist().count()
    df.unpersist()
    out
  }

  /** End-to-end binary train+score on the fact table — the reference
    * lifecycle (`core.py` §3.1-3.3) in one query. Gate: train-set
    * accuracy within 2 % of (or above) the majority-class baseline —
    * boosting from the log-odds prior can't land below it, while
    * feature misalignment / a scrambled model drops to ~coin-flip and
    * trips the gate.
    */
  val mlBinary = GraftQuery(
    "ml_binary_train_predict",
    (s, dir) => {
      val cm = binaryDetail(s, dir)
      val out = cm.agg(
          sum(col("n")).as("n_rows"),
          sum(when(col("label") === 1.0, col("n")).otherwise(0L)).as("n_pos"),
          sum(when(col("label") === col("prediction"), col("n")).otherwise(0L))
            .as("n_correct"))
        .select(col("n_rows").cast("long").as("n_rows"),
          col("n_pos").cast("long").as("n_pos"),
          (col("n_correct") >=
            greatest(col("n_pos"), col("n_rows") - col("n_pos")) * 0.98)
            .as("acc_ok"))
      out.persist().count()
      cm.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             TRUE AS acc_ok
      FROM lineitem
    """)
  )

  /** Error-stat detail of the regression lifecycle. */
  def regressionDetail(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    // STRUCTURAL target (round-9): the driver's synthetic lineitem has
    // NO feature-target correlation for l_extendedprice (corr ≈ 0.003),
    // so a raw-corpus target left the old sse gate a 0.2 % overfit
    // hair — the r8 near-tie flake class. The target is a deterministic
    // function of the features (spans ~100-5200) plus an uncorrelated
    // extendedprice term (~1-100) as irreducible noise, so the fitted
    // model must cut SSE by an order of magnitude, not by luck.
    val df = t.lineitem
      .withColumn("target",
        col("l_quantity") * 100.0 + col("l_discount") * 1000.0 +
          col("l_tax") * 500.0 + col("l_extendedprice") * 0.001)
      .select((feats.map(col) :+ col("target")): _*)
      .transform(fanOut)
      .cache()
    val reg = new GraftXGBRegressor()
      .setNEstimators(10).setMaxDepth(3).setLearningRate(0.3).setMaxBins(16)
    reg.fit(df, feats, "target")
    val out = reg.predict(df)
      .agg(
        count(lit(1)).as("n"),
        count(when(col("prediction") > col("target"), 1)).as("n_over"),
        count(when(abs(col("prediction") - col("target")) < 500, 1)).as("n_close"),
        sum(pow(col("prediction") - col("target"), 2)).as("sse_model"),
        (var_pop(col("target")) * count(lit(1))).as("sse_mean"))
    val pinned = out.persist()
    pinned.count()
    df.unpersist()
    pinned
  }

  /** Regression train+score (`XGBRegressor` lifecycle). Gate: the
    * fitted model halves the constant-mean predictor's train SSE —
    * wide slack both ways on the structural target (measured R² well
    * above 0.9; a broken feature path stays at ~1.0 and trips it).
    */
  val mlRegression = GraftQuery(
    "ml_regression_train_predict",
    (s, dir) => {
      val d = regressionDetail(s, dir)
      val out = d.select(col("n"),
        (col("sse_model") < col("sse_mean") * 0.5).as("fit_ok"))
      out.persist().count()
      d.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n, TRUE AS fit_ok FROM lineitem
    """)
  )

  /** Confusion-matrix detail of the multiclass lifecycle. */
  def multiclassDetail(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val df = t.embeddings
      .select(
        array_to_vector(toDoubleArray(col("embedding"))).as("features"),
        col("label").cast("double").as("label"))
      .cache()
    val model = GraftBoost.train(df, Seq("features"), "label",
      GraftBoost.BoostParams("multi:softprob", numRound = 20, maxDepth = 5,
        multiclassStrategy = "rf"))
    val out = GraftBoost.predict(model, df)
      .groupBy(col("label"), col("prediction"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("prediction"))
    out.persist().count()
    df.unpersist()
    out
  }

  /** Multiclass train+score over the embeddings table (10 classes,
    * 64-dim float vectors), RandomForest strategy (single model,
    * native probabilities — the scale path; OvR boosting is covered
    * in MLSpec). Gate: train accuracy ≥ 2.5× the majority-class rate
    * (measured 0.50-0.79 across sf0.001-0.1 vs ~0.10 base; a broken
    * feature path lands at base rate and trips it).
    */
  val mlMulticlass = GraftQuery(
    "ml_multiclass_embeddings",
    (s, dir) => {
      val cm = multiclassDetail(s, dir)
      val perLabel = cm.groupBy(col("label")).agg(
        sum(col("n")).as("cn"),
        sum(when(col("label") === col("prediction"), col("n")).otherwise(0L))
          .as("corr"))
      val out = perLabel.agg(
          sum(col("cn")).as("n_rows"),
          count(lit(1)).as("n_classes"),
          sum(col("corr")).as("n_correct"),
          max(col("cn")).as("max_class"))
        .select(col("n_rows").cast("long").as("n_rows"),
          col("n_classes").cast("long").as("n_classes"),
          (col("n_correct") >= col("max_class") * 2.5).as("acc_ok"))
      out.persist().count()
      cm.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT label) AS BIGINT) AS n_classes,
             TRUE AS acc_ok
      FROM embeddings
    """)
  )

  /** Quantile-regression lifecycle (XGBoost `reg:quantileerror` via
    * the params passthrough, `core.py:164-321`): pinball boosting on
    * the native grower with the exact leaf-quantile line search as its
    * leaf rule ([[SparseBoost]]) at α = 0.9
    * over the fact table. Gates: (a) train-set coverage lands near α
    * (a broken line search collapses to the squared-loss mean and
    * drops to ~0.5), and (b) the model's pinball loss beats the
    * constant global-α-quantile predictor by a wide margin.
    *
    * STRUCTURAL target (round-9): the synthetic corpus has no
    * feature that predicts l_extendedprice (corr ≈ 0.003), which left
    * the old pinball gate a 0.02 % near-tie — the r8 flake class. The
    * quantity term (100-5000) is learnable structure, the
    * uncorrelated extendedprice term (~1-100) is genuine conditional
    * spread, so per-leaf quantiles beat the global quantile solidly
    * (measured ratio 0.63 at sf0.01) while coverage stays ≈ α.
    */
  /** Raw quantile-lifecycle quantities (n_rows, cov, pin_model,
    * pin_const) — the query's gates AND tools.GateMarginProbe's
    * margin readout derive from THIS one builder, so measured margins
    * always describe the shipped fixture.
    */
  def quantileDetail(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val alpha = QuantileAlpha
    val df = t.lineitem
      .withColumn("target",
        col("l_quantity") * 100.0 + col("l_extendedprice") * 0.001)
      .select((feats.map(col) :+ col("target")): _*)
      .transform(fanOut)
      .cache()
    // subsample = 0.2 (XGBoost stochastic boosting): each round's
    // histogram passes and exact leaf-percentile pass read only its
    // sample, so the per-round fit set is the direct cost knob —
    // margins and gates still run over the FULL table, and the
    // coverage/pinball gates saturate well before round 5
    val m = GraftBoost.train(df, feats, "target",
      GraftBoost.BoostParams("reg:quantileerror", numRound = 5,
        maxDepth = 3, maxBins = 16, quantileAlpha = alpha,
        subsample = 0.2))
    def pin(pred: org.apache.spark.sql.Column) = avg(greatest(
      (col("target") - pred) * alpha, (col("target") - pred) * (alpha - 1.0)))
    // the model's base score IS the exact global α-quantile — reuse
    // it rather than paying the (expensive, exact) percentile twice
    val q90 = m.model.asInstanceOf[SparseBoost.SparseModel].base
    val out = GraftBoost.predict(m, df)
      .agg(
        count(lit(1)).as("n_rows"),
        avg((col("target") <= col("prediction")).cast("double")).as("cov"),
        pin(col("prediction")).as("pin_model"),
        pin(lit(q90)).as("pin_const"))
    out.persist().count()
    df.unpersist()
    out
  }

  val QuantileAlpha = 0.9

  val mlQuantile = GraftQuery(
    "ml_quantile_regression",
    (s, dir) => {
      val d = quantileDetail(s, dir)
      // margins sized from the measured operating point (cov 0.927,
      // pinball ratio 0.63 at sf0.01): a broken line search lands at
      // cov ≈ 0.5 / ratio ≈ 1.0, an intact one stays well inside —
      // no boundary within jitter distance in either direction
      val out = d.select(col("n_rows").cast("long").as("n_rows"),
          (abs(col("cov") - QuantileAlpha) < 0.1).as("cov_ok"),
          (col("pin_model") < col("pin_const") * 0.8).as("pinball_ok"))
      out.persist().count()
      d.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             TRUE AS cov_ok, TRUE AS pinball_ok
      FROM lineitem
    """)
  )

  /** Per-prediction feature attribution ([[Contributions]], the
    * Saabas tree-path decomposition): every scored row decomposes as
    * bias + Σ per-feature contributions = prediction, exactly. The
    * gate checks that additivity identity over the WHOLE table (1e-6
    * absolute — the two sides differ only in float summation order)
    * plus agreement between the attribution's top feature and the
    * impurity importances' top feature.
    *
    * The agreement fixture is STRUCTURAL (round-9 fix for the r8 red
    * row): the target is a deterministic function dominated by ONE
    * feature — `100·l_quantity` spans [100, 5000] while the discount
    * and tax terms span ≤ 1 — so both argmaxes must land on
    * l_quantity regardless of partition layout or quantile-bin
    * boundaries. The previous fixture (target = l_extendedprice over
    * three correlated features) was a near-tie that flipped with the
    * round-8 train-entry fan-out at driver parallelism.
    */
  val mlFeatureContribs = GraftQuery(
    "ml_feature_contributions",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      val df = t.lineitem
        .select((feats.map(col) :+
          (col("l_quantity") * 100.0 + col("l_discount") * 10.0 +
            col("l_tax")).as("target")): _*)
        .transform(fanOut)
        .cache()
      val m = GraftBoost.train(df, feats, "target",
        GraftBoost.BoostParams("reg:squarederror", numRound = 5,
          maxDepth = 3, maxBins = 16))
      val scored = GraftBoost.predict(m, df)
      val attributed = Contributions.transform(m, scored)
        .withColumn("csum", aggregate(col("contribs"), lit(0.0), (a, x) => a + x))
      val topByContrib = attributed
        .select((0 until feats.length).map(i =>
          avg(abs(element_at(col("contribs"), i + 1))).as(s"c$i")): _*)
        .head()
      val topAttr = feats((0 until feats.length).maxBy(topByContrib.getDouble))
      val topImp = GraftBoost.featureImportances(m).maxBy(_._2)._1
      val out = attributed.agg(
          count(lit(1)).as("n_rows"),
          max(abs(col("bias") + col("csum") - col("prediction"))).as("maxerr"))
        .select(col("n_rows").cast("long").as("n_rows"),
          lit(feats.length.toLong).as("n_features"),
          (col("maxerr") < 1e-6).as("additivity_ok"),
          lit(topAttr == topImp).as("top_feature_agrees"))
      out.persist().count()
      df.unpersist()
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(3 AS BIGINT) AS n_features,
             TRUE AS additivity_ok, TRUE AS top_feature_agrees
      FROM lineitem
    """)
  )

  /** Poisson count-regression lifecycle (XGBoost `count:poisson` on
    * the native grower, [[SparseBoost]]): predict each order's LINE
    * COUNT (a real count, 1-7) from its total quantity — qty
    * accumulates over lines (~25.5/line), so the covariate is
    * genuinely informative. Gates:
    * the fitted deviance beats the constant-rate model by ≥ 50 %
    * (measured ratio ≈ 0.27 at sf0.01; a broken link/gradient stays
    * at ~1.0), and the count-scale predictions stay within the
    * plausible band (0, 20).
    */
  val mlPoisson = GraftQuery(
    "ml_poisson_counts",
    (s, dir) => {
      val t = Tables(s, dir)
      val df = t.orders.join(
          t.lineitem.groupBy(col("l_orderkey"))
            .agg(count(lit(1)).cast("double").as("n_lines"),
              sum(col("l_quantity")).cast("double").as("qty")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("qty"), col("o_totalprice").cast("double").as("price"),
          col("n_lines"))
        .cache()
      val m = GraftBoost.train(df, Seq("qty", "price"), "n_lines",
        GraftBoost.BoostParams("count:poisson", numRound = 8,
          maxDepth = 3, maxBins = 32, eta = 0.5))
      val hist = m.evalsResult("train")("poisson-deviance")
      val ybar = df.select(avg(col("n_lines"))).head().getDouble(0)
      val constDev = df.select(avg(lit(2.0) *
          (col("n_lines") * log(col("n_lines") / ybar) -
            (col("n_lines") - ybar))))
        .head().getDouble(0)
      val out = GraftBoost.predict(m, df)
        .agg(count(lit(1)).as("n_orders"),
          min(col("prediction")).as("pmin"),
          max(col("prediction")).as("pmax"))
        .select(col("n_orders").cast("long").as("n_orders"),
          lit(hist.last < constDev * 0.5).as("dev_ok"),
          (col("pmin") > 0.0 && col("pmax") < 20.0).as("range_ok"))
      out.persist().count()
      df.unpersist()
      out
    },
    // orders with no lineitems exist in this testdata — count the
    // orders the inner join keeps, i.e. distinct fact-side orderkeys
    Some("""
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
             TRUE AS dev_ok, TRUE AS range_ok
      FROM lineitem
    """)
  )

  /** Number of folds for ml_cv_kfold. */
  val CvFolds = 3

  /** K-fold cross-validation: deterministic fold assignment
    * (event_id mod k — SQL-expressible, so the oracle hashes the
    * exact train/test split sizes), one fit per fold on the
    * complement, scored on the held-out fold. The model-selection
    * loop every training pipeline runs; folds are data-parallel in
    * the cluster sense (each fit is a full distributed job — the
    * driver loop is over k=3 fits, not over data). Gate: held-out
    * accuracy within 5 % of the test fold's majority-class rate
    * (the features are weak; the gate catches a scrambled pipeline,
    * MLSpec pins real model behavior).
    */
  val mlCvKfold = GraftQuery(
    "ml_cv_kfold",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      // same deterministic 1-in-4 sample shape as stream_score's fit:
      // CV measures the pipeline, not corpus-scale training
      val base = t.events
        .filter(pmod(col("event_id"), lit(4)) === 0)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
        .withColumn("label", (col("event_type") === "purchase").cast("double"))
        .withColumn("fold", pmod(col("event_id"), lit(CvFolds)).cast("long"))
        .select(col("fold"), col("value"), col("k"), col("label"))
        .cache()
      base.count()
      val rows = (0L until CvFolds.toLong).map { f =>
        val train = base.filter(col("fold") =!= f)
        val test = base.filter(col("fold") === f)
        val model = GraftBoost.train(train, Seq("value", "k"), "label",
          GraftBoost.BoostParams(numRound = 5, maxDepth = 3, maxBins = 16))
        val stats = GraftBoost.predict(model, test)
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("prediction") === col("label"), 1L).otherwise(0L))
              .as("n_correct"),
            sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("n_pos"))
          .head()
        val nTrain = train.count()
        val (nTest, nCorrect, nPos) =
          (stats.getLong(0), stats.getLong(1), stats.getLong(2))
        // size-aware gate: below 500 held-out rows fold accuracy is
        // noise (measured: ratio 0.85-0.99 on 84-row folds) and the
        // gate is vacuous; at harness/bench sizes the measured ratio
        // is ≥ 0.996, so 0.9 catches a scrambled pipeline (≈ 0.5)
        // with a wide margin on both sides
        val majority = math.max(nPos, nTest - nPos)
        (f, nTrain, nTest, nTest < 500 || nCorrect >= majority * 0.9)
      }
      base.unpersist()
      rows.toDF("fold", "n_train", "n_test", "acc_ok").orderBy(col("fold"))
    },
    Some(s"""
      WITH s AS (
        SELECT event_id % $CvFolds AS fold FROM events WHERE event_id % 4 = 0)
      SELECT CAST(fold AS BIGINT) AS fold,
             CAST((SELECT COUNT(*) FROM s) - COUNT(*) AS BIGINT) AS n_train,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             TRUE AS acc_ok
      FROM s GROUP BY fold ORDER BY fold
    """)
  )

  /** Classifier distillation — the fastText-style bootstrap a
    * training-data pipeline runs at corpus scale (CCNet / LLaMA-2
    * data work: an expensive or seed rule labels a corpus slice, a
    * cheap linear model learns to reproduce it and then scores
    * everything): the rule here is a keyword-frequency filter
    * (`count('spark') ≥ 2`, ~47 % base rate — the corpus' lang/source
    * columns are NOT reflected in its synthetic token stream, so the
    * distillable signal must come from the text itself), features are
    * hashed bag-of-tokens (HashingTF, 16384 buckets — the
    * feat_hashing_trick move with MLlib's murmur hash), the model is
    * logistic regression fit on the even-doc_id split and evaluated
    * on the held-out odd split. The label is a threshold on one
    * feature, so the task is linearly separable BY CONSTRUCTION —
    * the gate (held-out accuracy ≥ 0.95) tests the pipeline
    * (tokenize → hash → fit → broadcast-score), not model luck. The
    * oracle recomputes the SPLIT LABEL COUNTS independently in DuckDB
    * (list_filter over the same tokenization), so tokenizer parity is
    * hash-checked, not assumed. Scoring is a broadcast model
    * transform: linear in corpus size, no shuffle.
    */
  val mlTextClassifier = GraftQuery(
    "ml_text_classifier",
    (s, dir) => {
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.feature.{HashingTF, Tokenizer}
      val t = Tables(s, dir)
      val toksRule = split(lower(col("text")), "\\s+")
      val docs = t.documents.select(col("doc_id"), col("text"),
        (size(filter(toksRule, x => x === "spark")) >= 2).cast("double")
          .as("label"),
        (pmod(col("doc_id"), lit(2L)) === 0).as("is_train"))
      val tok = new Tokenizer().setInputCol("text").setOutputCol("toks")
      val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
        .setNumFeatures(16384)
      val feats = tf.transform(tok.transform(docs)).cache()
      val model = new LogisticRegression()
        .setMaxIter(50).setRegParam(0.001)
        .fit(feats.filter(col("is_train")))
      val out = model.transform(feats)
        .groupBy(col("is_train")).agg(
          count(lit(1)).as("n"),
          sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("prediction") === col("label"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("is_train"), col("n"), col("n_pos"),
          (col("n_correct").cast("double") >= col("n") * 0.95).as("acc_ok"))
        .orderBy(col("is_train"))
      out.persist().count()
      feats.unpersist(false)
      out
    },
    Some(raw"""
      SELECT (doc_id % 2 = 0) AS is_train, COUNT(*) AS n,
             CAST(SUM(CASE WHEN len(list_filter(
                      string_split_regex(lower(text), '\s+'),
                      x -> x = 'spark')) >= 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             TRUE AS acc_ok
      FROM documents
      GROUP BY 1
      ORDER BY is_train
    """)
  )

  /** Rolling-origin fold count and stride/horizon in months. */
  val RollingFolds = 4L
  val RollingStrideMonths = 6

  /** Rolling-origin (forward-chaining) cross-validation folds — the
    * temporal counterpart of ml_cv_kfold: each fold trains on
    * EVERYTHING strictly before its origin and tests on the next
    * 6-month horizon, so no fold ever sees the future (the leakage
    * discipline feat_pit_backfill applies per-row, applied at the
    * split level). Emits the per-fold accounting a forecasting
    * pipeline audits — split sizes plus train-vs-horizon mean order
    * value (the drift a rolling evaluation exists to expose). One
    * fact scan cross-joined with the broadcast 4-row fold spine;
    * conditional aggregation does the rest — no per-fold rescans.
    */
  val mlCvRollingOrigin = GraftQuery(
    "ml_cv_rolling_origin",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val t = Tables(s, dir)
      val spine = s.range(1, RollingFolds + 1).toDF("fold")
        .withColumn("origin", to_timestamp(add_months(
          to_date(lit("1998-01-01")),
          ((col("fold") - 1) * RollingStrideMonths).cast("int"))))
        .withColumn("horizon_end",
          to_timestamp(add_months(col("origin").cast("date"),
            RollingStrideMonths)))
      def inTrain = col("o_orderdate") < col("origin")
      def inTest = col("o_orderdate") >= col("origin") &&
        col("o_orderdate") < col("horizon_end")
      t.orders.select(col("o_orderdate"), col("o_totalprice"))
        .crossJoin(broadcast(spine))
        .groupBy(col("fold"), col("origin"))
        .agg(
          sum(when(inTrain, 1L).otherwise(0L)).as("n_train"),
          sum(when(inTest, 1L).otherwise(0L)).as("n_test"),
          (sum(when(inTrain, graft.functions.GraftFunctions.dec2(col("o_totalprice"))))
            .cast("double") /
            sum(when(inTrain, 1L).otherwise(0L)).cast("double"))
            .as("train_avg_price"),
          (sum(when(inTest, graft.functions.GraftFunctions.dec2(col("o_totalprice"))))
            .cast("double") /
            sum(when(inTest, 1L).otherwise(0L)).cast("double"))
            .as("test_avg_price"))
        .select(col("fold"),
          graft.functions.GraftFunctions.tsString(col("origin")).as("origin_s"),
          col("n_train"), col("n_test"),
          col("train_avg_price"), col("test_avg_price"))
        .orderBy(col("fold"))
    },
    Some(s"""
      WITH spine AS (
        SELECT unnest(range(1, ${RollingFolds + 1})) AS fold),
      f AS (
        SELECT fold,
               TIMESTAMP '1998-01-01'
                 + ((fold - 1) * $RollingStrideMonths) * INTERVAL '1 month'
                 AS origin,
               TIMESTAMP '1998-01-01'
                 + (fold * $RollingStrideMonths) * INTERVAL '1 month'
                 AS horizon_end
        FROM spine)
      SELECT f.fold,
             strftime(f.origin, '%Y-%m-%d %H:%M:%S') AS origin_s,
             CAST(SUM(CASE WHEN o.o_orderdate < f.origin THEN 1 ELSE 0 END)
               AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN o.o_orderdate >= f.origin
               AND o.o_orderdate < f.horizon_end THEN 1 ELSE 0 END)
               AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN o.o_orderdate < f.origin
                 THEN CAST(o.o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(SUM(CASE WHEN o.o_orderdate < f.origin THEN 1 ELSE 0 END)
                 AS DOUBLE) AS train_avg_price,
             CAST(SUM(CASE WHEN o.o_orderdate >= f.origin
                 AND o.o_orderdate < f.horizon_end
                 THEN CAST(o.o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(SUM(CASE WHEN o.o_orderdate >= f.origin
                 AND o.o_orderdate < f.horizon_end THEN 1 ELSE 0 END)
                 AS DOUBLE) AS test_avg_price
      FROM orders o, f
      GROUP BY 1, 2
      ORDER BY 1
    """)
  )

  /** Quantization denominator for the calibration score (1e-6 grid). */
  val CalibScale = 1000000L

  /** Number of reliability-diagram bins. */
  val CalibBins = 10L

  /** Reliability diagram + per-bin Brier score — the model-evaluation
    * op every scored pipeline needs (sklearn's `calibration_curve` /
    * `brier_score_loss`, binned): a per-user propensity score
    * (clicks / (views+1), the add-one CTR) against the observed
    * purchase outcome, bucketed into deciles of predicted probability.
    * A calibrated score has mean_pred ≈ obs_rate per bin; the Brier
    * column decomposes the gap. Exactness: the score is quantized to
    * the 1e-6 integer grid with a TRUE integer division (`div`, never
    * floor-of-double), so bins, Σpred, and the squared-error sums are
    * pure integers — DECIMAL(38)-summed against overflow at corpus
    * user counts — and each output is ONE double division of
    * correctly-rounded operands. Scale: one map-side-combined
    * per-user aggregation (the only data-scale shuffle) then a
    * ≤10-row bin rollup.
    */
  val mlCalibrationBins = GraftQuery(
    "ml_calibration_bins",
    (s, dir) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val t = Tables(s, dir)
      val binWidth = CalibScale / CalibBins
      val perUser = t.events
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("pred_q",
          least(expr(s"($CalibScale * c) div (v + 1)"), lit(CalibScale)))
        .withColumn("bin",
          least(expr(s"pred_q div $binWidth"), lit(CalibBins - 1L)))
        .withColumn("err", col("pred_q") - lit(CalibScale) * col("y"))
      perUser.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("pred_q")).as("sum_pred_q"),
          sum(col("y")).as("n_pos"),
          sum(col("err").cast(DecimalType(38, 0)) * col("err")).as("sq"))
        .select(col("bin"), col("n"),
          (col("sum_pred_q").cast(DoubleType) /
            (col("n").cast(DecimalType(38, 0)) * lit(CalibScale))
              .cast(DoubleType)).as("mean_pred"),
          (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
            .as("obs_rate"),
          (col("sq").cast(DoubleType) /
            (col("n").cast(DecimalType(38, 0)) * lit(CalibScale) *
              lit(CalibScale)).cast(DoubleType)).as("brier"))
        .orderBy(col("bin"))
    },
    Some(s"""
      WITH pu AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS v,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS c,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS y
        FROM events GROUP BY 1),
      q AS (
        SELECT LEAST(($CalibScale * c) // (v + 1), $CalibScale) AS pred_q, y
        FROM pu),
      b AS (
        SELECT LEAST(pred_q // ${CalibScale / CalibBins}, ${CalibBins - 1})
                 AS bin,
               pred_q, y
        FROM q)
      SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(pred_q) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(CAST(COUNT(*) AS HUGEINT) * $CalibScale
                   AS VARCHAR) AS DOUBLE) AS mean_pred,
             CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS obs_rate,
             CAST(CAST(SUM(CAST(pred_q - $CalibScale * y AS HUGEINT)
                   * (pred_q - $CalibScale * y)) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(CAST(COUNT(*) AS HUGEINT) * $CalibScale
                   * $CalibScale AS VARCHAR) AS DOUBLE) AS brier
      FROM b GROUP BY 1 ORDER BY 1
    """)
  )

  /** Model-agnostic permutation importance — sklearn's
    * `permutation_importance` / the model-eval counterpart of the
    * impurity importances `GraftBoost.featureImportances` already
    * exposes: score the fitted model with each feature column
    * REPLACED by a deterministically permuted copy of itself (values
    * reassigned by REVERSING the wrap-free multiplicative hash order
    * of the unique (orderkey, linenumber) row key — engine-portable,
    * no RNG), and report the accuracy drop. Distributed permutation =
    * one hash-order contiguous rank (range partition + per-partition
    * row_number + broadcast prefix offsets — the DataFrame spelling
    * of zipWithIndex, NO single-partition sort) + ONE reversal join
    * carrying every feature's mirrored value at once (the honest
    * shuffle cost of an exact permutation at scale — one exchange,
    * not one per feature). Model-dependent numbers ride as gates:
    * every drop must exceed −2 % (permuting one feature can only help
    * within noise) and SOME feature must matter (max drop > 0) —
    * value parity is spec-checked against per-feature recomputes.
    *
    * The label is a DETERMINISTIC function of l_quantity (the
    * round-8 lesson: the original returnflag label had no real
    * relationship to the features, the fitted model was
    * majority-class-constant, and max-drop > 0 held only through
    * partition-order noise in the fit — a gate that a mere
    * repartition of the training frame flipped). With planted
    * dependence the gate is structural: permuting l_quantity MUST
    * destroy accuracy, and the uninformative columns demonstrate the
    * within-noise-floor side.
    */
  val PermutationFeatures =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Range partitions for the distributed contiguous rank — matches
    * the session shuffle parallelism; at cluster scale this is
    * "shuffle partitions", never 1.
    */
  val IdxPartitions = 32

  val mlPermutationImportance = GraftQuery(
    "ml_permutation_importance",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = PermutationFeatures
      val keyed = t.lineitem
        .withColumn("label", (col("l_quantity") > 25).cast("double"))
        .withColumn("rk",
          graft.operators.TextAnalysis.holdoutBucket(
            col("l_orderkey") * 8L + col("l_linenumber")) * 4294967296L +
            (col("l_orderkey") * 8L + col("l_linenumber")) % 4294967296L)
        .select((feats.map(col) :+ col("label") :+ col("rk")): _*)
        .transform(fanOut)
        .cache()
      val model = GraftBoost.train(keyed, feats, "label",
        GraftBoost.BoostParams("binary:logistic", numRound = 10, maxDepth = 3,
          maxBins = 16))
      def acc(df: DataFrame): Double = {
        val r = GraftBoost.predict(model, df)
          .agg(count(lit(1)).as("n"),
            sum(when(col("label") === col("prediction"), 1L).otherwise(0L))
              .as("c")).head()
        r.getLong(1).toDouble / r.getLong(0).toDouble
      }
      val baseline = acc(keyed)
      import s.implicits._
      // ONE global rank under the hash order; the permutation applied
      // per feature is the hash-order REVERSAL rn → n+1−rn (a fixed
      // deterministic derangement up to the odd-n midpoint). The
      // contiguous rank comes from [[graft.functions.DistributedRank]]
      // (range partition + per-partition row_number + broadcast
      // prefix offsets — no single-partition Exchange; rk is unique
      // by construction).
      val (ranked, release) = graft.functions.DistributedRank
        .withContiguousRank(keyed, "rk", "rn", IdxPartitions)
      val idx = ranked.cache()
      val n = idx.count()
      release()
      // ONE reversal join materializes every feature's mirrored value
      // (p_<f>) next to the row's own values; each per-feature score
      // then just re-selects columns from the cached joined frame —
      // 1 exchange total instead of |features|.
      val mirrored = idx.select(
        (feats.map(f => col(f).as(s"p_$f")) :+
          (lit(n + 1L) - col("rn")).as("rn")): _*)
      val joined = idx.join(mirrored, Seq("rn")).cache()
      joined.count()
      val rows = feats.map { f =>
        val swapped = joined.select(
          (feats.map(g => if (g == f) col(s"p_$f").as(f) else col(g)) :+
            col("label")): _*)
        val a = acc(swapped)
        (f, baseline - a)
      }
      joined.unpersist(false)
      idx.unpersist()
      keyed.unpersist()
      val maxDrop = rows.map(_._2).max
      rows.map { case (f, drop) =>
        (f, n, drop > -0.02, maxDrop > 0.0)
      }.toDF("feature", "n_rows", "drop_within_noise_floor",
        "some_feature_matters")
        .orderBy(col("feature"))
    },
    Some("""
      SELECT f AS feature,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
             TRUE AS drop_within_noise_floor,
             TRUE AS some_feature_matters
      FROM (VALUES ('l_discount'), ('l_extendedprice'), ('l_quantity'),
                   ('l_tax')) AS t(f)
      ORDER BY feature
    """)
  )

  /** True single-model multi:softprob lifecycle (core.py:580-590
    * MECHANISM parity — [[Objective.Softprob]]: K native histogram trees
    * per round on shared multinomial gradients, Newton leaves) on a
    * 4-class slice of the embeddings table. Gates: accuracy well above the majority
    * class, train mlogloss monotone improving over rounds, and the
    * probability rows normalized — the three things that break if the
    * joint gradient bookkeeping is wrong. Class slice + 5 rounds keep
    * the K·R tree-fit count bench-honest at sf0.1.
    */
  val mlMulticlassSoftprob = GraftQuery(
    "ml_multiclass_softprob",
    (s, dir) => {
      val t = Tables(s, dir)
      val df = t.embeddings.filter(col("label") < 4)
        .select(
          array_to_vector(toDoubleArray(col("embedding"))).as("features"),
          col("label").cast("double").as("label"))
        .cache()
      val model = GraftBoost.train(df, Seq("features"), "label",
        GraftBoost.BoostParams("multi:softprob", numRound = 5, maxDepth = 4,
          multiclassStrategy = "softprob"))
      val hist = model.evalsResult("train")("mlogloss")
      val probaOk = GraftBoost.predictProba(model, df)
        .select(abs(aggregate(col("proba"), lit(0.0), (a, x) => a + x) - 1.0)
          .as("d"))
        .agg(max(col("d")).as("maxd")).head().getDouble(0) < 1e-9
      val perLabel = GraftBoost.predict(model, df)
        .groupBy(col("label"), col("prediction")).agg(count(lit(1)).as("n"))
        .groupBy(col("label")).agg(
          sum(col("n")).as("cn"),
          sum(when(col("label") === col("prediction"), col("n")).otherwise(0L))
            .as("corr"))
      val out = perLabel.agg(
          sum(col("cn")).as("n_rows"),
          sum(col("corr")).as("n_correct"),
          max(col("cn")).as("mx"))
        .select(col("n_rows").cast("long").as("n_rows"),
          lit(4L).as("n_classes"),
          (col("n_correct") >= col("mx") * lit(2.0)).as("acc_ok"),
          lit(hist.last < hist.head).as("loss_improves_ok"),
          lit(probaOk).as("proba_normalized_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(4 AS BIGINT) AS n_classes,
             TRUE AS acc_ok, TRUE AS loss_improves_ok,
             TRUE AS proba_normalized_ok
      FROM embeddings WHERE label < 4
    """)
  )

  /** Native sparsity-aware missing-value lifecycle ([[SparseBoost]],
    * `missingStrategy = "native"` — XGBoost's learned default
    * direction, Chen & Guestrin §3.3; reference `core.py:370-377`).
    * A real missingness pattern is injected into `l_discount`
    * (marker −999 on l_partkey ≡ 0 mod 7 — correlated with nothing,
    * so the learned branch must come from the gradient mass, not a
    * leak), then the booster trains WITHOUT imputation. Gates:
    * accuracy against the majority baseline (as ml_binary), the
    * train logloss history falling, and accuracy on the MISSING rows
    * specifically beating their own majority share — the slice that
    * collapses to the marginal if default-branch routing is broken.
    * n_missing is exact SQL (the injection predicate), so the oracle
    * hash-checks the missingness plumbing too.
    */
  val mlSparseNative = GraftQuery(
    "ml_sparse_native_missing",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount")
      val df = t.lineitem
        .withColumn("label", (col("l_returnflag") === "R").cast("double"))
        .withColumn("l_discount",
          when(pmod(col("l_partkey"), lit(7)) === 0, lit(-999.0))
            .otherwise(col("l_discount")))
        .withColumn("is_missing", pmod(col("l_partkey"), lit(7)) === 0)
        .select((feats.map(col) :+ col("label") :+ col("is_missing")): _*)
        .transform(fanOut)
        .cache()
      val model = GraftBoost.train(df, feats, "label",
        GraftBoost.BoostParams("binary:logistic", numRound = 6, maxDepth = 3,
          maxBins = 16, missing = Some(-999.0), missingStrategy = "native"))
      val hist = model.evalsResult("train")("logloss")
      val out = GraftBoost.predict(model, df)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("is_missing").cast("long")).as("n_missing"),
          sum(col("label")).as("n_pos"),
          sum((col("prediction") === col("label")).cast("long")).as("n_correct"),
          sum(when(col("is_missing"),
            (col("prediction") === col("label")).cast("long")).otherwise(0L))
            .as("n_correct_miss"),
          sum(when(col("is_missing"), col("label")).otherwise(0.0))
            .as("n_pos_miss"))
        .select(
          col("n_rows").cast("long").as("n_rows"),
          col("n_missing").cast("long").as("n_missing"),
          (col("n_correct") >=
            greatest(col("n_pos"), col("n_rows") - col("n_pos")) * 0.98)
            .as("acc_ok"),
          (col("n_correct_miss") >=
            greatest(col("n_pos_miss"), col("n_missing") - col("n_pos_miss"))
              * 0.98).as("missing_slice_ok"),
          lit(hist.last < hist.head).as("loss_improves_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_partkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing,
             TRUE AS acc_ok, TRUE AS missing_slice_ok,
             TRUE AS loss_improves_ok
      FROM lineitem
    """)
  )

  /** Pairwise learning-to-rank lifecycle ([[Objective.Rank]], XGBoost's
    * `rank:pairwise` via the reference's params passthrough). Orders
    * are the query groups (l_orderkey), graded relevance is the NET
    * REVENUE tier — price·(1−discount) bucketed — so the ranker must
    * learn the price×discount interaction, not copy one feature
    * (quantity is unusable as relevance here: it is independent of
    * every feature in this synthetic corpus, corr ≈ 0.003). Gates: the train NDCG@10 history never
    * degrades and ends above the untrained (all-zero-margin) NDCG by
    * a clear margin — the ordering signal must come from the learned
    * trees, not tie-break luck. n_rows and n_groups are exact SQL, so
    * the oracle hash-checks the grouping plumbing.
    */
  val mlRankPairwise = GraftQuery(
    "ml_rank_pairwise",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_extendedprice", "l_discount", "l_tax")
      val df = t.lineitem
        .withColumn("label",
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 20000.0)
            .cast("double"))
        .withColumn("group", col("l_orderkey").cast("long"))
        .select((feats.map(col) :+ col("label") :+ col("group")): _*)
        .transform(fanOut)
        .cache()
      val model = GraftBoost.train(df, feats, "label",
        GraftBoost.BoostParams("rank:pairwise", numRound = 4, maxDepth = 3,
          maxBins = 16, eta = 0.3), groupCol = Some("group"))
      val hist = model.evalsResult("train")("ndcg@10")
      // the untrained baseline: all margins zero, ranking is pure
      // content-hash tie-break
      val ndcg0 = RankBoost.meanNdcg(
        df.withColumn("f", lit(0.0)), "group", "label", "f", 10)
      val out = df.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("group")).as("n_groups"))
        .select(
          col("n_rows").cast("long").as("n_rows"),
          col("n_groups").cast("long").as("n_groups"),
          lit(hist.last >= hist.head - 0.01).as("ndcg_monotone_ok"),
          lit(hist.last > ndcg0 + 0.02).as("beats_untrained_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_groups,
             TRUE AS ndcg_monotone_ok, TRUE AS beats_untrained_ok
      FROM lineitem
    """)
  )

  /** Tweedie severity lifecycle ([[SparseBoost]] `reg:tweedie`, the
    * XGBoost insurance objective via the reference's params
    * passthrough). The target is zero-inflated by construction —
    * ~45 % of rows pay zero severity, the rest a positive amount
    * scaling with quantity × excess discount — exactly the compound
    * Poisson-gamma shape (point mass at zero + positive skew) that
    * squared error mis-centers and gamma cannot touch (y > 0
    * required). Gates: the train tweedie-nloglik history falls, every
    * prediction is strictly positive (log link), and the model's
    * mean absolute error HALVES the constant global-mean predictor's
    * (wide slack: the label is a deterministic function of the
    * features). n_rows / n_zero are exact SQL.
    */
  /** Raw tweedie-lifecycle quantities (counts, min_pred, mae_model,
    * mae_const) plus the train nloglik history — shared by the
    * query's gates and tools.GateMarginProbe so measured margins
    * always describe the shipped fixture.
    *
    * STRUCTURAL severity label (round-9): ~45 % exact zeros (the
    * tweedie point mass) below the discount threshold, positive
    * severity determined by the features above it — the old label
    * (quantity on returned lines) was unpredictable from the
    * feature set on this synthetic corpus, leaving the mae gate a
    * 0.07 % near-tie of two fitted constants (the r8 flake class).
    */
  def tweedieDetail(s: SparkSession, dir: String): (DataFrame, Seq[Double]) = {
    val t = Tables(s, dir)
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val df = t.lineitem
      .withColumn("label",
        when(col("l_discount") >= 0.05,
          col("l_quantity") * (col("l_discount") - 0.04) * 100.0)
          .otherwise(lit(0.0)))
      .select((feats.map(col) :+ col("label")): _*)
      .transform(fanOut)
      .cache()
    val model = GraftBoost.train(df, feats, "label",
      GraftBoost.BoostParams("reg:tweedie", numRound = 6, maxDepth = 3,
        maxBins = 16, eta = 0.3, tweedieVariancePower = 1.5))
    val hist = model.evalsResult("train")("tweedie-nloglik")
    val yMean = df.select(avg(col("label"))).head().getDouble(0)
    val out = GraftBoost.predict(model, df)
      .agg(
        count(lit(1)).as("n_rows"),
        sum((col("label") === 0.0).cast("long")).as("n_zero"),
        min(col("prediction")).as("min_pred"),
        avg(abs(col("label") - col("prediction"))).as("mae_model"),
        avg(abs(col("label") - lit(yMean))).as("mae_const"))
    out.persist().count()
    df.unpersist(false)
    (out, hist.toSeq)
  }

  val mlTweedie = GraftQuery(
    "ml_tweedie_severity",
    (s, dir) => {
      val (d, hist) = tweedieDetail(s, dir)
      val out = d.select(
          col("n_rows").cast("long").as("n_rows"),
          col("n_zero").cast("long").as("n_zero"),
          (col("min_pred") > 0.0).as("positive_ok"),
          (col("mae_model") < col("mae_const") * 0.5).as("beats_const_ok"),
          lit(hist.last < hist.head).as("nloglik_improves_ok"))
      out.persist().count()
      d.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_zero,
             TRUE AS positive_ok, TRUE AS beats_const_ok,
             TRUE AS nloglik_improves_ok
      FROM lineitem
    """)
  )

  /** Exact TreeSHAP serving pass ([[TreeShap]], XGBoost's
    * `pred_contribs=True`) plus the `get_score` importance-type family
    * over one native sparse fit — with REAL missing values injected so
    * the attribution must follow learned default branches. Gates: the
    * local-accuracy identity bias + Σφ = margin over the whole table
    * (1e-6 — TreeSHAP's defining property; Saabas would also pass this
    * but TreeShapSpec separates them against brute-force Shapley), the
    * attribution views (exact SHAP and Saabas paths) AND the
    * total_gain importance all crowning the same top feature — the
    * target is constructed with designed dominance (quantity carries
    * ~50× the spread of the other terms) because the raw corpus has no
    * dominant predictor of l_extendedprice, which turns a top-1
    * agreement gate into a coin flip — and the importance identities
    * (total = average × weight per feature; weight = the forest's
    * actual split count). n_rows / n_missing are exact SQL so the
    * oracle hash-checks the injection plumbing.
    */
  val mlShapImportance = GraftQuery(
    "ml_shap_importance",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      val df = t.lineitem
        // dominant-by-construction target: quantity spans ~49*100,
        // the discount/tax terms ~100 each — attribution and gain must
        // all rank quantity first; the discount term still gives the
        // missing-marked feature real (secondary) signal to learn
        .withColumn("target",
          col("l_quantity") * 100.0 + col("l_discount") * 1000.0 +
            col("l_tax") * 500.0)
        .withColumn("l_discount",
          when(pmod(col("l_partkey"), lit(9)) === 0, lit(-999.0))
            .otherwise(col("l_discount")))
        .withColumn("is_missing", pmod(col("l_partkey"), lit(9)) === 0)
        .select((feats.map(col) :+ col("target") :+ col("is_missing")): _*)
        .transform(fanOut)
        .cache()
      // 2 rounds / 8 GK-sketch bins: the attribution identities the
      // gates pin are forest-shape-independent, so the smallest fit
      // that still splits on all three features keeps the query's
      // bench cost proportionate (10.3s -> ~6s at sf0.1)
      val model = GraftBoost.train(df, feats, "target",
        GraftBoost.BoostParams("reg:squarederror", numRound = 2, maxDepth = 3,
          maxBins = 8, splitProposal = "approx",
          missing = Some(-999.0), missingStrategy = "native"))
      val sm = model.model.asInstanceOf[SparseBoost.SparseModel]
      val scored = GraftBoost.predict(model, df)
      val attributed = TreeShap.transform(model, scored)
        .withColumn("ssum", aggregate(col("shap"), lit(0.0), (a, x) => a + x))
      // gain leaderboards: mean |phi| vs total_gain must crown the
      // same feature
      val meanAbs = attributed
        .select(feats.indices.map(i =>
          avg(abs(element_at(col("shap"), i + 1))).as(s"c$i")): _*)
        .head()
      val topShap = feats(feats.indices.maxBy(meanAbs.getDouble))
      val saabasAbs = Contributions.transform(model, scored)
        .select(feats.indices.map(i =>
          avg(abs(element_at(col("contribs"), i + 1))).as(s"s$i")): _*)
        .head()
      val topSaabas = feats(feats.indices.maxBy(saabasAbs.getDouble))
      val topGain = feats(
        sm.importanceByType("total_gain").zipWithIndex.maxBy(_._1)._2)
      // importance identities over the raw split statistics
      val w = sm.importanceByType("weight")
      val identityOk = feats.indices.forall { j =>
        close(sm.importanceByType("total_gain")(j),
          sm.importanceByType("gain")(j) * w(j)) &&
        close(sm.importanceByType("total_cover")(j),
          sm.importanceByType("cover")(j) * w(j))
      }
      val counted = new Array[Double](feats.length)
      sm.trees.foreach(t0 => t0.feature.filter(_ >= 0).foreach(counted(_) += 1))
      val weightOk = w.toSeq == counted.toSeq
      // SHAP interaction matrices (pred_interactions) on a
      // deterministic slice: each row costs 2·M conditioned walks, so
      // the gate samples rather than sweeping 600k rows. The gated
      // property is SYMMETRY — Φ(i)(j) = Φ(j)(i) is a THEOREM about
      // correct conditioning (independent i- and j-conditioned walks
      // must agree pairwise), not a construction artifact; the
      // row-sum and total identities hold by the diagonal's
      // definition and would pass even with a broken conditioned
      // recursion, so they gate nothing. NaN-safe: a NaN symErr
      // fails the < comparison.
      val interactionSymErr = {
        val ix = col("interactions")
        val n = feats.length
        def cell(i: Int, j: Int) = element_at(ix, i * n + j + 1)
        val symErr = (for (i <- 0 until n; j <- i + 1 until n)
          yield abs(cell(i, j) - cell(j, i))).foldLeft(lit(0.0))(greatest(_, _))
        TreeShap.transformInteractions(model, df.limit(500).select(feats.map(col): _*))
          .agg(max(symErr)).head().getDouble(0)
      }
      val out = attributed.agg(
          count(lit(1)).as("n_rows"),
          sum(col("is_missing").cast("long")).as("n_missing"),
          max(abs(col("bias") + col("ssum") - col("prediction"))).as("maxerr"))
        .select(
          col("n_rows").cast("long").as("n_rows"),
          col("n_missing").cast("long").as("n_missing"),
          (col("maxerr") < 1e-6).as("additivity_ok"),
          lit(topShap == topSaabas && topShap == topGain)
            .as("top_feature_agrees"),
          lit(identityOk && weightOk).as("importance_identity_ok"),
          lit(interactionSymErr < 1e-6).as("interactions_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_partkey % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing,
             TRUE AS additivity_ok, TRUE AS top_feature_agrees,
             TRUE AS importance_identity_ok, TRUE AS interactions_ok
      FROM lineitem
    """)
  )

  /** SHAP interaction values as a CORPUS-SCALE surface (XGBoost's
    * `pred_interactions`, the matrix face of the importance surface
    * `test_core.py:57`) — unlike the 500-row slice gate inside
    * ml_shap_importance, this runs the 2·M conditioned walks over
    * EVERY lineitem row. Affordable by design: M = 3 features and a
    * 2-round depth-2 forest keep the per-row kernel a handful of
    * short tree walks, and the whole pass is one broadcast-model
    * map-side scan (no shuffle, nothing driver-side but the final
    * aggregate). Gates are the two identities that are theorems of a
    * CORRECT conditioned recursion:
    *  - symmetry Φ(i)(j) = Φ(j)(i) for every pair on every row
    *    (independent i- and j-conditioned walks must agree);
    *  - efficiency bias + ΣΣ Φ = margin on every row (the matrix
    *    decomposes the prediction exactly).
    * Plus the additive-target readout: the label has no product
    * terms, so diagonal (main-effect) mass must dominate off-diagonal
    * interaction mass.
    */
  val mlShapInteractions = GraftQuery(
    "ml_shap_interactions",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      val df = t.lineitem
        .withColumn("target",
          col("l_quantity") * 100.0 + col("l_discount") * 1000.0 +
            col("l_tax") * 500.0)
        .select((feats.map(col) :+ col("target")): _*)
        .transform(fanOut)
        .cache()
      // native sparse loop (exact TreeSHAP needs its per-node cover);
      // the -999 marker never occurs in this projection. Depth 2
      // keeps the per-row kernel (2·M conditioned walks of every
      // tree path) bench-proportionate — the gated identities are
      // forest-shape-independent theorems
      val model = GraftBoost.train(df, feats, "target",
        GraftBoost.BoostParams("reg:squarederror", numRound = 2, maxDepth = 2,
          maxBins = 8, splitProposal = "approx",
          missing = Some(-999.0), missingStrategy = "native"))
      // per row: the max pairwise symmetry error, the efficiency error
      // against the margin (the prediction of this squared-error
      // forest), and the diagonal and off-diagonal |Φ| mass — Column
      // arithmetic over the matrix cells, aggregated map-side
      val n = feats.length
      val ix = col("interactions")
      val cells = for (i <- 0 until n; j <- 0 until n) yield (i, j, element_at(ix, i * n + j + 1))
      def total(cs: Seq[Column]) = cs.foldLeft(lit(0.0))(_ + _)
      val symErr = cells.collect { case (i, j, x) if j > i =>
        abs(x - element_at(ix, j * n + i + 1)) }.foldLeft(lit(0.0))(greatest(_, _))
      val effErr = abs(col("bias") + aggregate(ix, lit(0.0), (a, x) => a + x) -
        col("prediction"))
      val out = TreeShap.transformInteractions(model,
          GraftBoost.predict(model, df).select((feats :+ "prediction").map(col): _*))
        .agg(
          count(lit(1)).as("n"),
          max(symErr).as("symerr"),
          max(effErr).as("efferr"),
          sum(total(cells.collect { case (i, j, x) if i == j => abs(x) })).as("diag"),
          sum(total(cells.collect { case (i, j, x) if i != j => abs(x) })).as("off"))
        .select(
          col("n").cast("long").as("n_rows"),
          (col("n") * lit(feats.length.toLong * feats.length))
            .cast("long").as("n_cells"),
          (col("symerr") < 1e-6).as("symmetry_ok"),
          (col("efferr") < 1e-6).as("efficiency_ok"),
          (col("diag") > col("off")).as("main_effects_dominate_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) * 9 AS BIGINT) AS n_cells,
             TRUE AS symmetry_ok, TRUE AS efficiency_ok,
             TRUE AS main_effects_dominate_ok
      FROM lineitem
    """)
  )

  /** Random-forest mode of the native loop (`num_parallel_tree` with
    * one boosting round) in BOTH update semantics — the averaged
    * default and the XGBoost-summed compat flag
    * (`parallelTreeUpdate = "sum"`; xgboost sums member trees
    * unscaled). Gates pin the mechanism, not a fixture: Jensen's
    * identity (the bagged ensemble's MSE strictly beats its members'
    * mean MSE wherever they disagree — a theorem about averaging),
    * and the single-round scale identity (summed margins = T × the
    * averaged margins around the shared base, because one round's
    * draws are mode-independent). Trains on a deterministic quarter
    * slice — the compat gate needs the mechanism, not the corpus;
    * scoring is one broadcast-of-both-forests map pass.
    */
  val RfParallelTrees = 4

  val mlRandomForest = GraftQuery(
    "ml_random_forest",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      val df = t.lineitem
        .filter(pmod(col("l_orderkey"), lit(4)) === 0)
        .withColumn("target",
          col("l_quantity") * 100.0 + col("l_discount") * 2000.0)
        .select((feats.map(col) :+ col("target")): _*)
        .transform(fanOut)
        .cache()
      val T = RfParallelTrees
      val params = GraftBoost.BoostParams("reg:squarederror", numRound = 1,
        maxDepth = 3, maxBins = 16, eta = 1.0, subsample = 0.5,
        colsampleBynode = 0.5, missing = Some(-999.0),
        missingStrategy = "native", numParallelTree = T)
      val avgM = GraftBoost.train(df, feats, "target", params)
        .model.asInstanceOf[SparseBoost.SparseModel]
      val sumM = GraftBoost.train(df, feats, "target",
          params.copy(parallelTreeUpdate = "sum"))
        .model.asInstanceOf[SparseBoost.SparseModel]
      val bcA = s.sparkContext.broadcast(avgM)
      val bcS = s.sparkContext.broadcast(sumM)
      // per-row: ensemble sq-error, member-mean sq-error (member i =
      // base + T·t_i under the averaged 1/T pre-scale), and the
      // summed-vs-averaged scale identity residual
      val kernelU = udf((v: org.apache.spark.ml.linalg.Vector, y: Double) => {
        val a = bcA.value; val b = bcS.value
        val mAvg = a.marginOf(v)
        val mSum = b.marginOf(v)
        val de = mAvg - y
        var mem = 0.0
        val x = v.toArray
        var i = 0
        while (i < a.trees.length) {
          val d = a.base + T * a.trees(i).valueOf(x) - y
          mem += d * d
          i += 1
        }
        (de * de, mem / a.trees.length,
          math.abs((mSum - b.base) - T * (mAvg - a.base)))
      })
      val out = GraftBoost.assemble(df, feats, None, keepNaN = true)
        .select(kernelU(col("features"), col("target")).as("k"))
        .agg(
          count(lit(1)).as("n"),
          avg(col("k._1")).as("ens"),
          avg(col("k._2")).as("mem"),
          max(col("k._3")).as("scaleerr"))
        .select(
          col("n").cast("long").as("n_rows"),
          lit(avgM.trees.length == T && sumM.trees.length == T)
            .as("forest_size_ok"),
          (col("ens") < col("mem")).as("jensen_ok"),
          (col("scaleerr") < 1e-9).as("sum_scaling_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             TRUE AS forest_size_ok, TRUE AS jensen_ok,
             TRUE AS sum_scaling_ok
      FROM lineitem WHERE l_orderkey % 4 = 0
    """)
  )

  /** DART booster × lossguide growth — the two remaining `params`
    * axes of the native loop composed in one lifecycle (XGBoost
    * `booster="dart"` + `grow_policy="lossguide"` via the reference's
    * passthrough). Gates: the leaf budget binds on every tree
    * (best-first growth must stop at max_leaves), the dropout
    * ensemble still beats the constant-mean predictor by a clear
    * margin (RMSE < 0.7·σ — a broken rescale or margin bookkeeping
    * lands at or above σ; 3 dropout rounds × 5 leaves is deliberately
    * a small budget, so the gate is a breakage detector, not an
    * accuracy benchmark), and
    * the train history is finite and improves. The mechanism pins
    * (gbtree equivalence at rate 0, gain-ordered expansion,
    * determinism) live in SparseBoostSpec.
    */
  val mlDartLossguide = GraftQuery(
    "ml_dart_lossguide",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      val df = t.lineitem
        .withColumn("target",
          col("l_quantity") * 100.0 + col("l_discount") * 2000.0)
        .select((feats.map(col) :+ col("target")): _*)
        .transform(fanOut)
        .cache()
      val model = GraftBoost.train(df, feats, "target",
        GraftBoost.BoostParams("reg:squarederror", numRound = 3, maxDepth = 6,
          maxBins = 16, eta = 0.5, missing = Some(-999.0),
          missingStrategy = "native", booster = "dart", rateDrop = 0.3,
          growPolicy = "lossguide", maxLeaves = 5))
      val sm = model.model.asInstanceOf[SparseBoost.SparseModel]
      val leavesOk = sm.trees.forall(_.feature.count(_ < 0) <= 5)
      val hist = model.evalsResult("train")(Objective.SquaredError.metricName)
      val sd = df.select(stddev_pop(col("target"))).head().getDouble(0)
      val out = GraftBoost.predict(model, df)
        .agg(
          count(lit(1)).as("n_rows"),
          sqrt(avg(pow(col("prediction") - col("target"), 2))).as("rmse"))
        .select(
          col("n_rows").cast("long").as("n_rows"),
          (col("rmse") < sd * 0.7).as("fit_ok"),
          lit(leavesOk).as("leaf_budget_ok"),
          lit(hist.forall(v => !v.isNaN && !v.isInfinite) &&
            hist.last < hist.head).as("history_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             TRUE AS fit_ok, TRUE AS leaf_budget_ok, TRUE AS history_ok
      FROM lineitem
    """)
  )

  /** gblinear lifecycle ([[LinearBoost]], XGBoost's `booster=
    * "gblinear"` via the reference's params passthrough): elastic-net
    * coordinate-descent linear boosting, one distributed stats pass
    * per round, nothing row-sized on the driver. The target is an
    * exact linear form of the features, so the booster must RECOVER
    * the generating coefficients — a far sharper gate than
    * beats-the-mean: each fitted weight lands within 2 % of truth,
    * train RMSE collapses below 5 % of the target's spread, and the
    * loss history is non-increasing. The ridge-exactness and L1 pins
    * live in LinearBoostSpec.
    */
  val mlGblinear = GraftQuery(
    "ml_gblinear",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      val truth = Seq(100.0, 2000.0, 500.0)
      val df = t.lineitem
        .withColumn("target",
          col("l_quantity") * truth(0) + col("l_discount") * truth(1) +
            col("l_tax") * truth(2))
        .select((feats.map(col) :+ col("target")): _*)
        .transform(fanOut)
        .cache()
      val model = GraftBoost.train(df, feats, "target",
        // eta = 1 (undamped Jacobi) is stable here: the three
        // features are nearly orthogonal and recovery is geometric —
        // 16 rounds land within 2 % (40 reach float-exact; eta 0.5
        // needs 100+), and each round is one full-corpus pass, so the
        // round count IS the query's bench cost
        GraftBoost.BoostParams("reg:squarederror", numRound = 16, eta = 1.0,
          lambdaL2 = 0.0, booster = "gblinear"))
      val lm = model.model.asInstanceOf[LinearBoost.LinearModel]
      val hist = model.evalsResult("train")("rmse")
      val weightsOk = lm.weights.toSeq.zip(truth).forall { case (w, tr) =>
        math.abs(w - tr) <= 0.02 * tr
      }
      val sd = df.select(stddev_pop(col("target"))).head().getDouble(0)
      // feature_selector gate (core.py:118-124 passthrough → XGBoost
      // gblinear top_k selectors) on a deterministic eighth slice
      // with two planted noise coordinates: a RANKING selector
      // (greedy: largest bias-adjusted gradient magnitude) finds the
      // informative coordinates every round, the cyclic round-robin
      // wastes rounds on the noise columns — so greedy's staged rmse
      // must end strictly lower at the same round budget
      val sel = t.lineitem
        .filter(pmod(col("l_orderkey"), lit(8)) === 0)
        .withColumn("target",
          col("l_quantity") * 100.0 + col("l_discount") * 2000.0)
        .withColumn("n1", pmod(col("l_partkey"), lit(7)).cast("double"))
        .withColumn("n2", pmod(col("l_suppkey"), lit(5)).cast("double"))
        .select(col("l_quantity"), col("l_discount"), col("n1"), col("n2"),
          col("target"))
        .transform(fanOut)
        .cache()
      val selFeats = Seq("l_quantity", "l_discount", "n1", "n2")
      def selFit(fs: String, rounds: Int = 6) =
        GraftBoost.train(sel, selFeats, "target",
          GraftBoost.BoostParams("reg:squarederror", numRound = rounds,
            eta = 0.8, lambdaL2 = 0.0, booster = "gblinear",
            featureSelector = fs, topK = 1))
      def selLoss(fs: String): Double =
        selFit(fs).evalsResult("train")("rmse").last
      def selPicks(fit: GraftBoost.GraftBoostModel): Array[Int] =
        fit.model.asInstanceOf[LinearBoost.LinearModel]
          .selectedHistory.get.map(_.head)
      // 5 % tolerance, not a strict inequality: the separation is
      // data-dependent (a testdata regeneration could let cyclic tie
      // within noise), but a BROKEN ranking selector — starving the
      // informative coordinates for the planted noise ones — misses
      // by multiples, which is what the gate is for
      val selectorOk = selLoss("greedy") <= selLoss("cyclic") * 1.05
      // shuffle: mechanism gate, margin-free — ONE per-fit
      // permutation advanced cyclically, so with top_k=1 over 4
      // features the first 4 picks are a permutation of the features
      // and round 5 wraps back to pick 1 (the coverage guarantee a
      // per-round reshuffle loses). 5 rounds proves both properties;
      // every extra round is a full stats pass on the fixture.
      val sh = selPicks(selFit("shuffle", rounds = 5))
      val shuffleOk = sh.length == 5 &&
        sh.take(4).sorted.sameElements(0 until 4) &&
        sh(4) == sh(0)
      // random: with-replacement draws must be in range and
      // deterministic per seed (retry/reproducibility contract)
      val r1 = selPicks(selFit("random", rounds = 3))
      val r2 = selPicks(selFit("random", rounds = 3))
      val randomOk = r1.sameElements(r2) && r1.forall(j => j >= 0 && j < 4)
      sel.unpersist(false)
      val out = GraftBoost.predict(model, df)
        .agg(
          count(lit(1)).as("n_rows"),
          sqrt(avg(pow(col("prediction") - col("target"), 2))).as("rmse"))
        .select(
          col("n_rows").cast("long").as("n_rows"),
          (col("rmse") < sd * 0.05).as("fit_ok"),
          lit(weightsOk).as("weights_recovered_ok"),
          lit(hist.zip(hist.tail).forall { case (a, b) => b <= a + 1e-9 })
            .as("history_ok"),
          lit(selectorOk).as("greedy_selector_ok"),
          lit(shuffleOk).as("shuffle_coverage_ok"),
          lit(randomOk).as("random_deterministic_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             TRUE AS fit_ok, TRUE AS weights_recovered_ok, TRUE AS history_ok,
             TRUE AS greedy_selector_ok, TRUE AS shuffle_coverage_ok,
             TRUE AS random_deterministic_ok
      FROM lineitem
    """)
  )

  /** XGBoost JSON model-interchange lifecycle ([[XgbJson]], the
    * public `save_model("model.json")` schema): fit a native forest,
    * export it to the XGBoost document, ingest the document back, and
    * gate that (a) every tree round-trips structurally bit-for-bit
    * (features, thresholds through the strict-< nextUp/nextDown
    * shift, values, default directions, covers) and (b) the ingested
    * model scores the WHOLE table byte-identically to the original —
    * one distributed pass scoring both broadcast models side by side.
    * The same fit also drives the [[TreeDump]] `trees_to_dataframe`
    * surface, gating its structural identities: node census, the
    * binary-tree leaf count (leaves = internals + trees), leaf rows
    * carrying the leaf VALUE in the Gain column (the reference's
    * convention), and the dump's per-feature gain totals matching the
    * training-time `get_score` total_gain statistics. All gates are
    * exact/near-exact identities of deterministic driver-side
    * artifacts, layout-invariant by construction.
    */
  val mlModelInterchange = GraftQuery(
    "ml_model_interchange",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      val df = t.lineitem
        .withColumn("target",
          col("l_quantity") * 100.0 + col("l_discount") * 1000.0 +
            col("l_tax") * 500.0)
        .select((feats.map(col) :+ col("target")): _*)
        .transform(fanOut)
        .cache()
      val m = GraftBoost.train(df, feats, "target",
        GraftBoost.BoostParams("reg:squarederror", numRound = 3,
          maxDepth = 3, maxBins = 8, splitProposal = "approx",
          missing = Some(-999.0), missingStrategy = "native"))
      val back = XgbJson.importModel(XgbJson.export(m))
      val sm = m.model.asInstanceOf[SparseBoost.SparseModel]
      val bm = back.model.asInstanceOf[SparseBoost.SparseModel]
      val structuralOk = bm.base == sm.base &&
        bm.trees.length == sm.trees.length &&
        sm.trees.zip(bm.trees).forall { case (a, b) =>
          a.feature.sameElements(b.feature) &&
          a.thresh.sameElements(b.thresh) &&
          a.left.sameElements(b.left) && a.right.sameElements(b.right) &&
          a.defaultLeft.sameElements(b.defaultLeft) &&
          a.value.sameElements(b.value) && a.cover.sameElements(b.cover)
        }
      // trees_to_dataframe identities off the same fit (model-sized
      // driver data — the dump is trees × nodes rows)
      val dump = TreeDump.treesToDataFrame(s, m).collect()
      val leaves = dump.filter(_.getString(3) == "Leaf")
      val internals = dump.filter(_.getString(3) != "Leaf")
      val gainByFeat = internals.groupBy(_.getString(3))
        .view.mapValues(_.map(_.getDouble(8)).sum).toMap
      val totalGain = sm.importanceByType("total_gain")
      val dumpOk =
        dump.length == sm.trees.map(_.feature.length).sum &&
        leaves.length == internals.length + sm.trees.length &&
        leaves.forall(r =>
          r.getDouble(8) == sm.trees(r.getInt(0)).value(r.getInt(1))) &&
        feats.indices.forall(j =>
          close(gainByFeat.getOrElse(feats(j), 0.0), totalGain(j)))
      val both = GraftBoost.predict(back,
        GraftBoost.predict(m, df).withColumnRenamed("prediction", "p_orig"))
      val out = both.agg(
          count(lit(1)).as("n_rows"),
          max(abs(col("prediction") - col("p_orig"))).as("maxdiff"))
        .select(col("n_rows").cast("long").as("n_rows"),
          lit(sm.trees.length.toLong).as("n_trees"),
          lit(structuralOk).as("structural_roundtrip_ok"),
          (col("maxdiff") === 0.0).as("scores_identical_ok"),
          lit(dumpOk).as("dump_consistent_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(3 AS BIGINT) AS n_trees,
             TRUE AS structural_roundtrip_ok, TRUE AS scores_identical_ok,
             TRUE AS dump_consistent_ok
      FROM lineitem
    """)
  )

  /** Booster-complete XGBoost-JSON interchange ([[XgbJson]]): the
    * round-9 interchange gate covers single-target gbtree; this one
    * closes the remaining public booster slots the reference's
    * lifecycle reaches — the MULTICLASS classifier (`core.py:580-590`
    * rewrites the objective to `multi:softprob`; trees export
    * round-major with per-tree class ids in `tree_info` and ingest
    * into the native [[MultiSparse.MultiSparseModel]] scorer),
    * `gblinear` (weights+bias in the schema's `[w..., bias]` layout)
    * and `dart` (gbtree submodel + `weight_drop`; drop normalization
    * is folded into stored leaves at train time, so export carries
    * unit weights and ingest inherits XGBoost's no-truncation rule).
    * Also gates the ingest-side `get_score` statistics rebuild: split
    * counts exactly, gain/cover mass to reordered-sum tolerance.
    * All gates are exact/near-exact identities of deterministic
    * driver-side artifacts or double-scorings of one fit —
    * layout-invariant by construction.
    */
  val mlInterchangeBoosters = GraftQuery(
    "ml_interchange_boosters",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount", "l_tax")
      // 1/8 slice: three small fits + two double-scorings ride this
      // frame, and every gate is a structural identity of one fit —
      // row mass adds bench cost, not evidence
      val df = t.lineitem
        .filter(pmod(col("l_orderkey"), lit(8)) === 0)
        .withColumn("cls", pmod(col("l_orderkey"), lit(3)).cast("double"))
        .withColumn("target",
          col("l_quantity") * 100.0 + col("l_discount") * 1000.0)
        .select((feats.map(col) :+ col("cls") :+ col("target")): _*)
        .transform(fanOut)
        .cache()

      // 1. multiclass softprob: one joint fit, export → ingest, then
      // the ingested native scorer double-scores the slice next to
      // the original — class probabilities must match bit-for-bit
      val spM = GraftBoost.train(df, feats, "cls",
        GraftBoost.BoostParams("multi:softprob", numRound = 2, maxDepth = 3,
          multiclassStrategy = "softprob"))
      val spDoc = XgbJson.export(spM)
      val spBack = XgbJson.importModel(spDoc)
      val mm = spBack.model.asInstanceOf[MultiSparse.MultiSparseModel]
      val spStructuralOk = spBack.numClasses == 3 &&
        spDoc.contains("\"num_class\":\"3\"") &&
        mm.trees.length == 6 &&
        mm.treeInfo.toSeq == (0 until 6).map(_ % 3)
      val spBoth = GraftBoost.predictProba(spBack,
        GraftBoost.predictProba(spM, df).withColumnRenamed("proba", "p_orig"))
      val spDiff = spBoth
        .select(zip_with(col("proba"), col("p_orig"),
          (a, b) => abs(a - b)).as("d"))
        .select(max(aggregate(col("d"), lit(0.0),
          (acc, x) => greatest(acc, x))))
        .head().getDouble(0)

      // 2. gblinear: the whole model is driver-sized — weights, bias
      // and the (base, bias) split must survive exactly
      val linM = GraftBoost.train(df, feats, "target",
        GraftBoost.BoostParams("reg:squarederror", numRound = 4, eta = 0.7,
          booster = "gblinear"))
      val linDoc = XgbJson.export(linM)
      val lm = linM.model.asInstanceOf[LinearBoost.LinearModel]
      val bl = XgbJson.importModel(linDoc).model
        .asInstanceOf[LinearBoost.LinearModel]
      val linOk = linDoc.contains("\"name\":\"gblinear\"") &&
        bl.weights.sameElements(lm.weights) && bl.bias == lm.bias &&
        bl.base == lm.base

      // 3. dart: dropout normalization is folded into stored leaves,
      // so the dart-slot round trip must score bit-identically and
      // the ingested forest must refuse truncation (XGBoost's
      // ntree_limit restriction)
      val dartM = GraftBoost.train(df, feats, "target",
        GraftBoost.BoostParams("reg:squarederror", numRound = 3, maxDepth = 3,
          maxBins = 8, splitProposal = "approx", missing = Some(-999.0),
          missingStrategy = "native", booster = "dart", rateDrop = 0.9))
      val dartSm = dartM.model.asInstanceOf[SparseBoost.SparseModel]
      val dartDoc = XgbJson.export(dartM)
      val dartBack = XgbJson.importModel(dartDoc)
      val dartBm = dartBack.model.asInstanceOf[SparseBoost.SparseModel]
      val dartShapeOk = dartSm.dartRescaled &&
        dartDoc.contains("\"name\":\"dart\"") &&
        dartDoc.contains("weight_drop") && dartBm.dartRescaled &&
        scala.util.Try(dartBm.truncate(1)).isFailure

      // 4. ingest-side get_score rebuild (off the dart fit): split
      // counts exact, gain/cover re-fold the identical per-node
      // doubles in node-index order — reordered-sum tolerance
      val statsOk =
        dartBm.importanceByType("weight").sameElements(
          dartSm.importanceByType("weight")) &&
        Seq("total_gain", "total_cover").forall { ty =>
          dartSm.importanceByType(ty).zip(dartBm.importanceByType(ty))
            .forall { case (a, b) => close(a, b) }
        }

      val dartBoth = GraftBoost.predict(dartBack,
        GraftBoost.predict(dartM, df).withColumnRenamed("prediction", "p_orig"))
      val out = dartBoth.agg(
          count(lit(1)).as("n_rows"),
          max(abs(col("prediction") - col("p_orig"))).as("dartdiff"))
        .select(col("n_rows").cast("long").as("n_rows"),
          lit(spStructuralOk).as("softprob_structural_ok"),
          lit(spDiff == 0.0).as("softprob_proba_identical_ok"),
          lit(linOk).as("gblinear_roundtrip_ok"),
          ((col("dartdiff") === 0.0) && lit(dartShapeOk)).as("dart_roundtrip_ok"),
          lit(statsOk).as("ingested_stats_ok"))
      out.persist().count()
      df.unpersist(false)
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             TRUE AS softprob_structural_ok,
             TRUE AS softprob_proba_identical_ok,
             TRUE AS gblinear_roundtrip_ok,
             TRUE AS dart_roundtrip_ok,
             TRUE AS ingested_stats_ok
      FROM lineitem WHERE l_orderkey % 8 = 0
    """)
  )

  /** Per-row `base_margin` through the driver gate (reference
    * `dmatrix_kwargs` surface, `core.py:143-147`): fit 2 rounds, score
    * margins, continue 2 more rounds warm-started from them. The gates
    * are STRUCTURAL (CLAUDE.md model-gate rule — no strict compare of
    * two independently fitted quantities):
    *  - additivity: margin-aware scoring is marginOf − base + bm BY
    *    DEFINITION, so (p_warm − bm) − (p_standalone − base) is a few
    *    float round-offs of the same walk — |·| ≤ 1e-6 holds for any
    *    forest under any partition layout;
    *  - monotonicity: continuing squared-error boosting from stage-1
    *    margins cannot worsen train RMSE (Newton leaves with λ ≥ 0
    *    shrink residuals region-wise) — gated with 0.1 % slack.
    *
    * Scale posture: three small fits on a 1/8 slice (fit cost is the
    * knob, gates are size-independent identities); scoring is
    * broadcast-model map-side, no shuffle beyond the final agg.
    */
  val mlBaseMargin = GraftQuery(
    "ml_base_margin_warmstart",
    (s, dir) => {
      val t = Tables(s, dir)
      val feats = Seq("l_quantity", "l_discount")
      val df = t.lineitem
        .filter(pmod(col("l_orderkey"), lit(8)) === 0)
        .withColumn("target",
          col("l_quantity") * 50.0 + col("l_discount") * 500.0)
        .select((feats.map(col) :+ col("target")): _*)
        .transform(fanOut)
        .cache()
      def p(r: Int) = GraftBoost.BoostParams("reg:squarederror",
        numRound = r, maxDepth = 3, maxBins = 8, splitProposal = "approx",
        missing = Some(-999.0), missingStrategy = "native")
      val stage1 = GraftBoost.train(df, feats, "target", p(2))
      // pin the margins: the continuation fit and both scoring passes
      // all read this frame — unpinned, each pass re-runs stage-1's
      // scoring UDF over the slice
      val withBm = GraftBoost.predict(stage1, df)
        .withColumnRenamed("prediction", "bm")
        .cache()
      val cont = GraftBoost.train(withBm, feats, "target", p(2),
        marginCol = Some("bm"))
      val base = cont.model.asInstanceOf[SparseBoost.SparseModel].base
      val warm = GraftBoost.predict(cont, withBm, marginCol = Some("bm"))
        .withColumnRenamed("prediction", "p_warm")
      val both = GraftBoost.predict(cont, warm)
        .withColumnRenamed("prediction", "p_standalone")
      val stats = both.agg(
          count(lit(1)).as("n_rows"),
          max(abs((col("p_warm") - col("bm")) -
            (col("p_standalone") - lit(base)))).as("add_err"),
          sqrt(avg(pow(col("p_warm") - col("target"), 2))).as("rmse_warm"),
          sqrt(avg(pow(col("bm") - col("target"), 2))).as("rmse_stage1"))
      val out = stats.select(
        col("n_rows").cast("long").as("n_rows"),
        (col("add_err") <= 1e-6).as("additivity_ok"),
        (col("rmse_warm") <= col("rmse_stage1") * 1.001).as("improves_ok"))
      out.persist().count()
      withBm.unpersist()
      df.unpersist()
      out
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             TRUE AS additivity_ok,
             TRUE AS improves_ok
      FROM lineitem WHERE l_orderkey % 8 = 0
    """)
  )

  /** Categorical-split ingest through the driver gate: a hand-built
    * XGBoost 1.5+ document (one categorical root, RIGHT-branch set
    * {1, 3}) scores a derived integer-code column — including NULL
    * codes, which the assembler turns into NaN and the forest routes
    * along default_left. The DuckDB oracle restates the ENTIRE routing
    * arithmetic independently (`CASE WHEN code IN (1,3)` — NULL falls
    * to ELSE exactly like the NaN default branch), so the hash compare
    * pins set-membership polarity, the invalid-code arm and the
    * missing arm end to end. All values (0.5 + 2.0, 0.5 − 1.0) are
    * exact binary doubles — no float tolerance needed.
    */
  val mlInterchangeCategorical = GraftQuery(
    "ml_interchange_categorical",
    (s, dir) => {
      val t = Tables(s, dir)
      val doc = """
        {"learner":{"attributes":{},
          "feature_names":["code"],"feature_types":["c"],
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
      val df = t.lineitem.select(
        when(pmod(col("l_suppkey"), lit(11)) === 0, lit(null))
          .otherwise(pmod(col("l_partkey"), lit(6)))
          .cast("double").as("code"))
      val out = GraftBoost.predict(m, df)
        .groupBy(col("code").cast("long").as("code"))
        .agg(count(lit(1)).as("n"), min(col("prediction")).as("pred"))
        .orderBy(col("code"))
      out.persist().count()
      out
    },
    Some("""
      SELECT code, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CASE WHEN code IN (1, 3) THEN 2.5 ELSE -0.5 END
               AS DOUBLE) AS pred
      FROM (SELECT CASE WHEN l_suppkey % 11 = 0 THEN NULL
                        ELSE l_partkey % 6 END AS code
            FROM lineitem)
      GROUP BY code
      ORDER BY code
    """)
  )

  def all: Seq[GraftQuery] =
    Seq(mlBinary, mlRegression, mlMulticlass, mlCvKfold, mlTextClassifier,
      mlCvRollingOrigin, mlCalibrationBins, mlPermutationImportance,
      mlMulticlassSoftprob, mlQuantile, mlFeatureContribs, mlPoisson,
      mlSparseNative, mlRankPairwise, mlTweedie, mlShapImportance,
      mlShapInteractions, mlRandomForest, mlDartLossguide, mlGblinear,
      mlModelInterchange, mlInterchangeBoosters, mlBaseMargin,
      mlInterchangeCategorical)
}
