package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-keyed build memo — THE pattern behind every shared
  * frame family (dedup pair graphs, graph co-purchase edges, text
  * postings/scoring/KL rollups). One instance per family; `K` is the
  * family's cache key (usually the sf dir plus tuning knobs), `V`
  * the built value, `frames` extracts the persisted DataFrames inside
  * `V` so [[clear]] can unpersist and [[live]] can answer the
  * harness's is-this-shared check. Lookup is session-identity
  * (SparkSession doesn't override equals).
  *
  * Eviction: the WeakHashMap key alone can never be weakly collected
  * while its value lives (the cached DataFrames strongly reference
  * their SparkSession), so every access additionally PRUNES entries
  * whose session is dead — `isDead` defaults to the underlying
  * context having stopped. A stopped session's entry (and the whole
  * object graph behind it) becomes collectable at the next memo
  * touch from any later session in the same JVM, so a long-lived
  * multi-session server no longer leaks one entry per closed
  * session. [[clear]] remains the explicit path (Bench repeat mode
  * calls it between timed runs so each `_shared_build` row runs
  * cold). `isDead` is injectable for the eviction spec only — a
  * deterministic test can't stop the JVM-shared local context.
  */
private[graft] final class SessionMemo[K, V](
    frames: V => Seq[DataFrame],
    isDead: SparkSession => Boolean = _.sparkContext.isStopped) {
  private val cache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[K, V]]()

  /** Drop entries of dead sessions (no unpersist — their context is
    * gone, the blocks with it). Callers hold the monitor.
    */
  private def evictDead(): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) if (isDead(it.next().getKey)) it.remove()
  }

  def getOrBuild(s: SparkSession, key: K)(build: => V): V =
    cache.synchronized {
      evictDead()
      val perSession = {
        val cur = cache.get(s)
        if (cur != null) cur
        else {
          val m = scala.collection.mutable.Map.empty[K, V]
          cache.put(s, m); m
        }
      }
      perSession.getOrElseUpdate(key, build)
    }

  /** Live memo entries (dead sessions pruned first). */
  private[graft] def entryCount: Int = cache.synchronized {
    evictDead(); cache.size
  }

  /** Every DataFrame inside a live memo entry. */
  def live: Seq[DataFrame] = cache.synchronized {
    evictDead()
    import scala.jdk.CollectionConverters._
    cache.values().asScala.toSeq.flatMap(_.values.toSeq).flatMap(frames)
  }

  /** Drop every entry, unpersisting live frames (no-op for
    * localCheckpoint'd frames, whose memo entry still must go so a
    * rebuild cannot reuse state derived from a dropped sibling).
    */
  def clear(): Unit = cache.synchronized {
    cache.values().forEach { inner =>
      inner.values.foreach { v =>
        frames(v).foreach { df =>
          try if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)
          catch { case _: Throwable => () }
        }
      }
    }
    cache.clear()
  }
}

private[graft] object SessionMemo {
  /** The common single-DataFrame case. */
  def ofFrame[K]: SessionMemo[K, DataFrame] = new SessionMemo[K, DataFrame](Seq(_))
}

/** The session-memoized frames several query families share: the
  * dedup pair graphs (shingle Jaccard, its connected components, the
  * blocked-cosine pairs) and the co-purchase graphs (unweighted +
  * weighted). Bench builds them under ONE explicitly-timed
  * `_shared_build` row so the sweep's per-query numbers measure each
  * query on top of the shared frames instead of charging the build to
  * whichever family member runs first alphabetically.
  */
object SharedBuilds {

  /** Force every memoized shared frame for (session, dir). Safe to
    * call repeatedly — memo hits are no-ops.
    *
    * The five dependency chains are INDEPENDENT (separate memo locks,
    * disjoint inputs), so they run overlapped from a small thread pool
    * (optimization guide §2.6 "overlap independent jobs"): Spark's
    * FIFO scheduler back-fills the tail of one chain's stages with the
    * next chain's tasks instead of leaving most cores idle while each
    * build's final single-partition stages drain. Results are
    * unchanged — each chain's jobs are deterministic and no build
    * mutates session state; only the wall-clock of the `_shared_build`
    * bench row shrinks. Within a chain order still matters
    * (jaccardClusters reads jaccardPairs, the unweighted co-purchase
    * graph derives from the weighted one, the per-source KL rollup
    * reads scoredDocs) — each chain keeps its sequential build order.
    */
  def buildAll(s: SparkSession, dir: String): Unit = {
    val chains: Seq[() => Unit] = Seq(
      () => {
        operators.Dedup.jaccardPairsShared(s, dir, operators.Dedup.MaxShingleDf)
        operators.Dedup.jaccardClustersShared(s, dir, operators.Dedup.MaxShingleDf)
        ()
      },
      () => { operators.Dedup.cosinePairsShared(s, dir, operators.Dedup.CosineThreshold); () },
      () => {
        operators.Graph.copurchaseWeightedShared(s, dir)
        operators.Graph.copurchaseGraphShared(s, dir)
        ()
      },
      () => { operators.TextAnalysis.bm25RankedShared(s, dir); () },
      () => {
        operators.TextAnalysis.scoredDocsShared(s, dir)
        operators.TextAnalysis.perSourceExcessKlShared(s, dir)
        ()
      }
    )
    runChains(s.sparkContext, chains)
  }

  /** Run independent build chains overlapped, one pool thread each.
    * Every chain's Spark jobs carry that chain's job tag. The first
    * chain to fail stops the rest: its siblings' futures are cancelled
    * (interrupting their threads), their tagged jobs are cancelled, the
    * pool is shut down, and once its threads are gone the tags are
    * cancelled once more (a thread interrupted between two jobs may
    * have submitted one after the first sweep). Then the failed
    * chain's own cause is rethrown — a failed build fails exactly as it
    * did sequentially, and no detached thread keeps submitting jobs.
    */
  private[graft] def runChains(sc: SparkContext, chains: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, Executors,
      ExecutorCompletionService, TimeUnit}
    val run = java.util.UUID.randomUUID()
    val tags = chains.indices.map(i => s"graft-shared-build-$run-$i")
    val pool = Executors.newFixedThreadPool(chains.length)
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      val futures = chains.zip(tags).map { case (chain, tag) =>
        done.submit(new Callable[Unit] {
          def call(): Unit = {
            sc.addJobTag(tag)
            try chain() finally sc.removeJobTag(tag)
          }
        })
      }
      chains.indices.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            futures.foreach(_.cancel(true))
            tags.foreach(sc.cancelJobsWithTag)
            pool.shutdownNow()
            pool.awaitTermination(60, TimeUnit.SECONDS)
            tags.foreach(sc.cancelJobsWithTag)
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdownNow()
  }

  /** Drop every memoized shared frame (unpersisting live entries) so
    * the next buildAll runs cold.
    */
  def clearAll(): Unit = {
    operators.Dedup.clearSharedCaches()
    operators.Graph.clearSharedCaches()
    operators.TextAnalysis.clearSharedCaches()
  }

  /** Is `df` one of the LIVE memoized shared frames? Queries may
    * return a shared frame directly (dedup_ngram_jaccard,
    * dedup_embedding_cosine); the harness's output-pin unpersist must
    * skip those or sibling queries silently rebuild the shared work.
    * Reference equality suffices — the memo hands out one instance.
    */
  def isShared(df: org.apache.spark.sql.DataFrame): Boolean =
    (operators.Dedup.liveSharedFrames ++ operators.Graph.liveSharedFrames ++
      operators.TextAnalysis.liveSharedFrames)
      .exists(_ eq df)
}
