package graft.ml

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD

/** Deterministic fold of per-partition double-array partials — the
  * merge step behind every boosting statistics pass (the gradient/
  * hessian histograms of [[SparseBoost]], the coordinate-stats blocks
  * of [[LinearBoost]]).
  *
  * Float addition is order-sensitive, and the engine's bit-stability
  * contract (two trains on the same frame are bit-identical; the
  * oracle hashes depend on it) requires the merge order to be FIXED
  * by partition index — never scheduler arrival order, which is what
  * a plain `treeAggregate`/`reduce` would give.
  *
  *  - P ≤ [[BlockSize]] (every local[32] run, and any cluster fit
  *    whose train fan-out is modest): the partials are collected and
  *    folded on the driver in partition-index order — byte-identical
  *    to the shape every previous round shipped.
  *  - P > [[BlockSize]] (a 1000-executor fit at full fan-out): a
  *    depth-2 merge. Partitions are keyed by index and shuffled into
  *    consecutive index blocks of [[BlockSize]]; each block task
  *    folds its members IN INDEX ORDER (sorted within the block
  *    partition), and the driver folds the ordered block sums. The
  *    driver then receives ⌈P/B⌉ arrays instead of P — the O(P)
  *    driver funnel becomes O(P/B) with the per-block work
  *    distributed — and the addition tree is still a pure function
  *    of P (blocked left-to-right), so determinism survives.
  *
  * The two shapes differ in float addition tree (blocked vs flat
  * left-to-right), so results at P > BlockSize are not bit-identical
  * to the flat fold — but P is already baked into the flat fold's
  * order, so cross-P bit-identity never existed; what matters (and is
  * spec-pinned) is that each shape is a deterministic function of the
  * partials alone. Gate fixtures are layout-robust by construction
  * (GateInvarianceSpec sweeps partition layouts).
  */
private[graft] object PartialFold {

  /** Partitions folded per depth-2 block task. 64 keeps every
    * local[32] pass (train fan-out is capped at defaultParallelism)
    * on the exact historical driver-fold path, while a 10k-core
    * cluster fit ships the driver 157 block sums instead of 10k
    * histograms.
    *
    * Overridable via `-Dgraft.partialfold.blockSize` so the scale
    * spec can drive a REAL fit through the depth-2 shuffle-merge arm
    * (local fan-out never exceeds 32 partitions, so no shipped
    * configuration would otherwise traverse it end-to-end).
    */
  def BlockSize: Int =
    graft.Knobs.int("graft.partialfold.blockSize", 64)

  /** Zero-initialized in-order fold (matches the historical driver
    * loop exactly: acc starts as zeros, partials added left to
    * right).
    */
  private def foldInOrder(parts: Iterator[Array[Double]], size: Int): Array[Double] = {
    val acc = new Array[Double](size)
    parts.foreach { p =>
      var i = 0
      while (i < size) { acc(i) += p(i); i += 1 }
    }
    acc
  }

  /** Sum `partials` (exactly one array of length `size` per
    * partition) with the deterministic merge order described above.
    * `blockSize` is overridable for the spec only.
    */
  def sum(partials: RDD[Array[Double]], size: Int,
      blockSize: Int = BlockSize): Array[Double] = {
    val p = partials.getNumPartitions
    if (p <= blockSize) {
      foldInOrder(partials.collect().iterator, size)
    } else {
      val nBlocks = (p + blockSize - 1) / blockSize
      val byBlock = new Partitioner {
        override def numPartitions: Int = nBlocks
        override def getPartition(key: Any): Int =
          key.asInstanceOf[Int] / blockSize
      }
      val blockSums = partials
        .mapPartitionsWithIndex((i, it) => it.map(a => (i, a)),
          preservesPartitioning = false)
        // consecutive-index blocks, sorted by partition index within
        // each block task — the fold order is a function of indices
        // alone, whatever order the shuffle fetches arrive in
        .repartitionAndSortWithinPartitions(byBlock)
        .mapPartitionsWithIndex { (b, it) =>
          if (it.isEmpty) Iterator.empty
          else Iterator.single((b, foldInOrder(it.map(_._2), size)))
        }
        .collect()
      foldInOrder(
        blockSums.sortBy(_._1).iterator.map(_._2), size)
    }
  }
}
