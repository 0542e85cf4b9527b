package graft.ml

import org.apache.spark.ml.Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, typedLit}

/** Exact TreeSHAP — XGBoost's `pred_contribs=True` semantics
  * (Lundberg, Erion & Lee 2018, "Consistent Individualized Feature
  * Attribution for Tree Ensembles", Algorithm 2) for the native
  * sparse forest ([[SparseBoost]]). Where [[Contributions]] ships the
  * Saabas path decomposition (XGBoost's `approx_contribs=True`),
  * this computes the true Shapley values of the tree's
  * cover-conditional expectation game:
  *
  *   φ_j = Σ_{S ⊆ F∖{j}} |S|!·(M−|S|−1)!/M! · [v(S∪{j}) − v(S)],
  *
  * v(S) = E[f(x) | x_S] estimated by the tree itself — features in S
  * follow x, features outside S average both children weighted by
  * their training hessian cover. The polynomial-time algorithm keeps
  * one "unique path" of the features met so far, extending it with a
  * (zero-fraction, one-fraction) pair per split and summing unwound
  * permutation weights at each leaf; cost O(leaves · depth²) per tree
  * per row instead of 2^M.
  *
  * Local accuracy holds by construction: bias + Σφ = margin (bias is
  * the forest's cover-weighted expected value plus the base score).
  * TreeShapSpec pins that identity AND equality with the brute-force
  * subset-enumeration Shapley values on small forests — the algorithm
  * is verified against the definition, not against itself.
  *
  * Scale posture: the values are the `shap` and `interactions` outputs
  * of [[graft.plans.ForestScore]], one codegen'd projection over the
  * feature columns that reads the model-sized forest (trees + cover)
  * broadcast once; no shuffle beyond the fan-out. The bias is the same
  * for every row and is computed on the driver. Needs per-node cover,
  * which the native loop records during growth for every fit; the
  * Saabas decomposition ([[Contributions]]) is the cheaper path-only
  * alternative.
  */
object TreeShap {

  /** One frame of the unique path: parallel arrays sized for the
    * tree's max depth + 1. `d` = feature that created the segment,
    * `z` = fraction of zero (cover-averaged) paths that flow through,
    * `o` = fraction of one (x-following) paths (0 or 1 at creation),
    * `w` = accumulated permutation weight.
    */
  private final class Path(maxLen: Int) {
    val d = new Array[Int](maxLen)
    val z = new Array[Double](maxLen)
    val o = new Array[Double](maxLen)
    val w = new Array[Double](maxLen)
    var len = 0
    def copyOf(): Path = {
      val p = new Path(d.length)
      System.arraycopy(d, 0, p.d, 0, len)
      System.arraycopy(z, 0, p.z, 0, len)
      System.arraycopy(o, 0, p.o, 0, len)
      System.arraycopy(w, 0, p.w, 0, len)
      p.len = len
      p
    }
  }

  /** Grow the path by one split with incoming fractions (pz, po). */
  private def extend(m: Path, pz: Double, po: Double, pi: Int): Unit = {
    val l = m.len
    m.d(l) = pi; m.z(l) = pz; m.o(l) = po
    m.w(l) = if (l == 0) 1.0 else 0.0
    var i = l - 1
    while (i >= 0) {
      m.w(i + 1) += po * m.w(i) * (i + 1).toDouble / (l + 1).toDouble
      m.w(i) = pz * m.w(i) * (l - i).toDouble / (l + 1).toDouble
      i -= 1
    }
    m.len = l + 1
  }

  /** Remove path element `pi`, redistributing its weight exactly
    * (inverse of [[extend]]).
    */
  private def unwind(m: Path, pi: Int): Unit = {
    val ud = m.len - 1
    val of = m.o(pi)
    val zf = m.z(pi)
    var n = m.w(ud)
    var i = ud - 1
    while (i >= 0) {
      if (of != 0.0) {
        val t = m.w(i)
        m.w(i) = n * (ud + 1).toDouble / ((i + 1).toDouble * of)
        n = t - m.w(i) * zf * (ud - i).toDouble / (ud + 1).toDouble
      } else {
        m.w(i) = m.w(i) * (ud + 1).toDouble / (zf * (ud - i).toDouble)
      }
      i -= 1
    }
    var j = pi
    while (j < ud) {
      m.d(j) = m.d(j + 1); m.z(j) = m.z(j + 1); m.o(j) = m.o(j + 1)
      j += 1
    }
    m.len = ud
  }

  /** Total permutation weight the path would carry if element `pi`
    * were unwound — the leaf-time multiplier of Algorithm 2, computed
    * without mutating the path.
    */
  private def unwoundSum(m: Path, pi: Int): Double = {
    val ud = m.len - 1
    val of = m.o(pi)
    val zf = m.z(pi)
    var n = m.w(ud)
    var total = 0.0
    var i = ud - 1
    if (of != 0.0) {
      while (i >= 0) {
        val t = n / ((i + 1).toDouble * of)
        total += t
        n = m.w(i) - t * zf * (ud - i).toDouble
        i -= 1
      }
    } else {
      while (i >= 0) {
        total += m.w(i) / (zf * (ud - i).toDouble)
        i -= 1
      }
    }
    total * (ud + 1).toDouble
  }

  /** Algorithm 2's recursion, generalized with the conditioning hook
    * of Lundberg et al.'s interaction algorithm: when `condF >= 0`,
    * that feature is held OUT of the permutation game (its path
    * segment is never extended) and instead scales the scalar
    * `condFrac` — by 1/0 on the x-branch for `cond = +1` ("feature
    * known present"), by the cover fractions for `cond = -1`
    * ("feature known absent"). `cond = 0` is plain TreeSHAP.
    */
  private def recurse(
      t: SparseBoost.SparseTree, v: Array[Double], phi: Array[Double],
      node: Int, m: Path, pz: Double, po: Double, pi: Int,
      cond: Int = 0, condF: Int = -1, condFrac: Double = 1.0
  ): Unit = {
    if (condFrac == 0.0) return
    // the conditioned feature owns no path segment: skip the pending
    // extension its split would have issued
    if (cond == 0 || condF != pi) extend(m, pz, po, pi)
    val f = t.feature(node)
    if (f < 0) {
      val leafV = t.value(node) * condFrac
      var i = 1
      while (i < m.len) {
        phi(m.d(i)) += unwoundSum(m, i) * (m.o(i) - m.z(i)) * leafV
        i += 1
      }
    } else {
      val x = v(f)
      val goLeft =
        if (java.lang.Double.isNaN(x)) t.defaultLeft(node) else x <= t.thresh(node)
      val (hot, cold) = if (goLeft) (t.left(node), t.right(node))
        else (t.right(node), t.left(node))
      val cN = t.cover(node)
      val hotZ = t.cover(hot) / cN
      val coldZ = t.cover(cold) / cN
      var iz = 1.0
      var io = 1.0
      // a feature met twice on one path: undo its earlier segment and
      // carry its fractions into the new one
      var k = 0
      while (k < m.len && m.d(k) != f) k += 1
      if (k < m.len) {
        iz = m.z(k); io = m.o(k)
        unwind(m, k)
      }
      var hotCF = condFrac
      var coldCF = condFrac
      if (cond > 0 && f == condF) coldCF = 0.0
      else if (cond < 0 && f == condF) { hotCF *= hotZ; coldCF *= coldZ }
      recurse(t, v, phi, hot, m.copyOf(), iz * hotZ, io, f, cond, condF, hotCF)
      recurse(t, v, phi, cold, m.copyOf(), iz * coldZ, 0.0, f, cond, condF, coldCF)
    }
  }

  /** Cover-weighted expected value of one tree — the bias share the
    * Shapley decomposition is anchored to.
    */
  private[graft] def expectedValue(t: SparseBoost.SparseTree): Double = {
    def walk(node: Int, p: Double): Double =
      if (t.feature(node) < 0) p * t.value(node)
      else {
        val cN = t.cover(node)
        walk(t.left(node), p * t.cover(t.left(node)) / cN) +
          walk(t.right(node), p * t.cover(t.right(node)) / cN)
      }
    walk(0, 1.0)
  }

  /** Longest root-to-leaf path of a tree (leaf inclusive). */
  private[graft] def depthOf(t: SparseBoost.SparseTree): Int = {
    def walk(node: Int): Int =
      if (t.feature(node) < 0) 1
      else 1 + math.max(walk(t.left(node)), walk(t.right(node)))
    walk(0)
  }

  /** One row's exact Shapley decomposition over a forest:
    * (bias, per-feature φ) with bias + Σφ = Σ_trees tree(x).
    */
  private[graft] def shapOne(
      trees: Array[SparseBoost.SparseTree],
      expected: Array[Double],
      pathCap: Int,
      numFeatures: Int,
      v: Array[Double]
  ): (Double, Array[Double]) = {
    val phi = new Array[Double](numFeatures)
    var bias = 0.0
    var m = 0
    while (m < trees.length) {
      bias += expected(m)
      recurse(trees(m), v, phi, 0, new Path(pathCap), 1.0, 1.0, -1)
      m += 1
    }
    (bias, phi)
  }

  /** One row's exact SHAP INTERACTION matrix (XGBoost's
    * `pred_interactions`): Φ(i)(j) for i ≠ j is half the difference
    * between feature j's Shapley values with feature i conditioned
    * present vs absent; the diagonal absorbs the remainder of the
    * plain Shapley value, so Σ_j Φ(i)(j) = φ_i per row of the matrix
    * and bias + ΣΦ = margin. Cost: 2·M conditioned tree walks on top
    * of the plain pass. Brute-force-pinned against the Shapley
    * interaction index in TreeShapSpec.
    */
  private[graft] def interactionsOne(
      trees: Array[SparseBoost.SparseTree],
      expected: Array[Double],
      pathCap: Int,
      numFeatures: Int,
      v: Array[Double]
  ): (Double, Array[Double], Array[Array[Double]]) = {
    val (bias, plain) = shapOne(trees, expected, pathCap, numFeatures, v)
    val mat = Array.ofDim[Double](numFeatures, numFeatures)
    var i = 0
    while (i < numFeatures) {
      val on = new Array[Double](numFeatures)
      val off = new Array[Double](numFeatures)
      var t = 0
      while (t < trees.length) {
        recurse(trees(t), v, on, 0, new Path(pathCap), 1.0, 1.0, -1, 1, i, 1.0)
        recurse(trees(t), v, off, 0, new Path(pathCap), 1.0, 1.0, -1, -1, i, 1.0)
        t += 1
      }
      var j = 0
      var offDiag = 0.0
      while (j < numFeatures) {
        if (j != i) {
          mat(i)(j) = 0.5 * (on(j) - off(j))
          offDiag += mat(i)(j)
        }
        j += 1
      }
      mat(i)(i) = plain(i) - offDiag
      i += 1
    }
    (bias, plain, mat)
  }

  /** What the SHAP outputs read: per class, the forest in stored tree
    * order (the margin's sum order) and each tree's expected value; the
    * path-buffer cap; the base. A single-margin forest is one class.
    */
  private[graft] final case class Explainer(
      byClass: Array[Array[SparseBoost.SparseTree]],
      expected: Array[Array[Double]],
      pathCap: Int,
      base: Double
  ) {
    /** Per class, Σ expected values in tree order + base: every row's
      * bias, as [[shapOne]] sums it.
      */
    def bias: Array[Double] = expected.map { e =>
      var b = 0.0
      e.foreach(b += _)
      b + base
    }

    /** One row's φ per class, K×M row-major. */
    def shap(x: Array[Double], numFeatures: Int): Array[Double] = {
      val flat = new Array[Double](byClass.length * numFeatures)
      var k = 0
      while (k < byClass.length) {
        val (_, phi) = shapOne(byClass(k), expected(k), pathCap, numFeatures, x)
        System.arraycopy(phi, 0, flat, k * numFeatures, numFeatures)
        k += 1
      }
      flat
    }

    /** One row's interaction matrix of the first class, M×M row-major. */
    def interactions(x: Array[Double], numFeatures: Int): Array[Double] = {
      val (_, _, mat) = interactionsOne(byClass(0), expected(0), pathCap, numFeatures, x)
      val flat = new Array[Double](numFeatures * numFeatures)
      var i = 0
      while (i < numFeatures) {
        System.arraycopy(mat(i), 0, flat, i * numFeatures, numFeatures)
        i += 1
      }
      flat
    }
  }

  private[graft] def explainer(model: Model[_]): Explainer = {
    val (trees, classOf, numClasses, base) = model match {
      case m: SparseBoost.SparseModel => (m.trees, new Array[Int](m.trees.length), 1, m.base)
      case m: MultiSparse.MultiSparseModel => (m.trees, m.treeInfo, m.numClasses, m.base)
      case m => throw new UnsupportedOperationException(
        s"exact TreeSHAP needs a native forest's cover statistics; got ${m.getClass}")
    }
    require(!trees.exists(_.hasCategorical),
      "TreeSHAP on a forest with categorical (set-membership) splits " +
      "is not supported: the path-conditioning walk is " +
      "numeric-threshold only — score the model as-is or re-encode " +
      "the categorical features")
    val byClass = Array.tabulate(numClasses)(k =>
      trees.indices.collect { case i if classOf(i) == k => trees(i) }.toArray)
    Explainer(byClass, byClass.map(_.map(expectedValue)),
      (if (trees.isEmpty) 1 else trees.map(depthOf).max) + 2, base)
  }

  /** `bias` and the `output` column in one fanned-out projection. */
  private def scoreWith(
      model: GraftBoost.GraftBoostModel, df: DataFrame, output: String): DataFrame = {
    // withColumn silently REPLACES an existing column — an input that
    // already carries `bias`/`shap`/`interactions` would lose it
    // without a trace; refuse up front like the other withColumn-
    // contract operators
    val clash = Seq("bias", output).filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already has column(s) ${clash.mkString(", ")} that " +
      s"TreeShap would overwrite — rename or drop them before scoring")
    val bias = explainer(model.model).bias
    // fanOut: the SHAP kernel is O(trees × depth²) per row (2·M
    // conditioned walks for interactions) — heavy enough that the
    // by-number repartition pays even at scale, and on a
    // single-row-group source it is the difference between one task
    // and the whole cluster (see GraftBoost.train)
    GraftBoost.scoreNative(model, graft.functions.GraftFunctions.fanOut(df), output,
      lead = Seq("bias" -> (if (bias.length == 1) lit(bias(0)) else typedLit(bias))))
  }

  private def singleMargin(model: GraftBoost.GraftBoostModel): Unit = model.model match {
    case _: SparseBoost.SparseModel =>
    case m => throw new UnsupportedOperationException(
      "exact TreeSHAP needs the native sparse forest's cover " +
      s"statistics; got ${m.getClass}")
  }

  /** Score `df` with exact SHAP interaction matrices (XGBoost's
    * `pred_interactions`): appends `bias` and `interactions`
    * (flattened row-major M×M array<double>). Costs 2·M conditioned
    * walks per row on top of a plain pass — score slices, not
    * corpora, unless M is small.
    */
  def transformInteractions(
      model: GraftBoost.GraftBoostModel, df: DataFrame): DataFrame = {
    singleMargin(model)
    scoreWith(model, df, "interactions")
  }

  /** Score `df` with exact TreeSHAP attributions: appends `bias`
    * (double; forest expected value + base score — identical for
    * every row) and `shap` (array<double> per training feature in
    * [[GraftBoost.GraftBoostModel.featureCols]] order). The local
    * accuracy identity `bias + Σshap = margin` holds exactly up to
    * float summation order.
    */
  def transform(model: GraftBoost.GraftBoostModel, df: DataFrame): DataFrame = {
    singleMargin(model)
    scoreWith(model, df, "shap")
  }

  /** Per-class exact TreeSHAP for multiclass forests — XGBoost's
    * `pred_contribs=True` with `num_class > 1` (one attribution
    * vector per class, reference multiclass lifecycle
    * `core.py:580-590`). Accepts the native multiclass scorer
    * ([[MultiSparse.MultiSparseModel]]: a trained softprob forest,
    * whose per-node hessian sums ARE the cover statistics the
    * conditional-expectation game needs, or an ingested XGBoost
    * document). Appends `bias`
    * (array<double>, length K: per-class forest expectation + base)
    * and `shap` (row-major K×M flattened array<double>). Per class,
    * local accuracy `bias(k) + Σ_j shap(k·M+j) = margin_k` holds
    * exactly up to float summation order.
    *
    * Scale posture: identical to [[transform]] — model-sized
    * broadcast, one fanned projection, no other shuffle; per-row cost
    * is the single-class kernel summed over the K class forests.
    */
  def transformMulticlass(
      model: GraftBoost.GraftBoostModel, df: DataFrame): DataFrame = model.model match {
    case _: MultiSparse.MultiSparseModel => scoreWith(model, df, "shap")
    case m => throw new UnsupportedOperationException(
      "multiclass TreeSHAP needs a multiclass forest (softprob or " +
      s"ingested MultiSparseModel); got ${m.getClass} — use " +
      "transform for single-target forests")
  }
}
