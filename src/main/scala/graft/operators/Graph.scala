package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.GraftQuery
import graft.functions.GraftFunctions.sumMoney
import graft.sources.Tables

/** Graph analytics over the co-purchase graph (parts sharing an
  * order): degree statistics, degree-ordered triangle counting, and
  * PageRank. Complements the connected-components operator the dedup
  * family owns (`Dedup.connectedComponents`) — together they are the
  * graph surface a relational engine can ship without a graph runtime.
  *
  * Scale design: the edge list is derived relationally (per-order
  * self-join — bounded by order size, never corpus size), triangles
  * are enumerated with the degree-orientation trick so a hub vertex
  * cannot create a quadratic wedge set (work is O(Σ d_out²) with
  * d_out ≤ its degree-order rank — the O(m^{3/2}) bound of
  * Chiba–Nishizeki / Schank–Wagner), and PageRank's per-round messages
  * flow through one equi-join + one map-side-combined aggregation on
  * uniform keys.
  */
object Graph {

  /** Row-count guard for every broadcast whose frame scales with the
    * GRAPH rather than with a model: the oriented-edge closing probe
    * (data-scale) and the per-round rank/label/score vectors of the
    * iterative algorithms (node-scale). Under the guard the broadcast
    * is the right plan (wedges stream map-side, rounds avoid
    * re-shuffling the edge frame); past it a forced broadcast is an
    * OOM at 10⁸+ nodes/edges, so the join falls back to a shuffle on
    * the join key and the iterative loops pre-partition the edge frame
    * ONCE so only the node-sized side moves per round. Default ≈ 10⁷
    * rows (~hundreds of MB of longs — the autoBroadcastJoinThreshold
    * ballpark); tests force the fallback shape via the system
    * property (0 = never broadcast).
    */
  private[graft] def broadcastMaxRows: Long =
    graft.Knobs.long("graft.graph.broadcastMaxRows", 10L * 1000 * 1000,
      min = 0L)

  /** Broadcast only under [[broadcastMaxRows]]; past it the frame is
    * returned unhinted so the planner shuffles on the join keys.
    */
  private[graft] def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastMaxRows) broadcast(df) else df

  /** Pre-shape the edge frame for an iterative loop whose node frame
    * outgrew the broadcast guard: hash-partition + sort by the join
    * key ONCE and cache, so every round's sort-merge join reuses the
    * edge side's partitioning/order from the cache (InMemoryRelation
    * preserves both) and only the node-sized side shuffles per round.
    * Caller must unpersist after the loop. No-op (returns the input)
    * when `big` is false — the broadcast path never shuffles edges.
    */
  private def coPartitionForRounds(
      edges: DataFrame, key: String, big: Boolean): DataFrame =
    if (big) edges.repartition(col(key)).sortWithinPartitions(col(key)).cache()
    else edges

  // weak-session-keyed memos (shared [[graft.SessionMemo]] machinery)
  private val graphCache =
    new graft.SessionMemo[String, (DataFrame, DataFrame)](
      { case (e, sym) => Seq(e, sym) })

  /** Memoized co-purchase graph per (session, dir): (edges, sym), both
    * cached for the session's life. Building the edge frame (items
    * distinct → per-order self-join → pair distinct) is the dominant
    * cost of EVERY graph query — ~12s of each one's wall clock at
    * sf0.1 — so the five graph queries share ONE materialization, the
    * same sweep-level sharing Dedup.jaccardPairsShared established.
    *
    * The unweighted graph is DERIVED from the weighted one: the
    * distinct pair set is exactly the weighted aggregation's key set,
    * so dropping `cnt` from the cached weighted edges replaces a
    * second per-order self-join (the former duplicate was ~2s of the
    * `_shared_build` row at sf0.1) with a KB-scale scan of the cache.
    * Callers must NOT unpersist the returned frames.
    */
  private[graft] def copurchaseGraphShared(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graphCache.getOrBuild(s, dir) {
      val symW = copurchaseWeightedShared(s, dir)
      val edges = symW.filter(col("u") < col("v"))
        .select(col("u").as("pa"), col("v").as("pb")).cache()
      val sym = symW.select(col("u"), col("v")).cache()
      // materialize BOTH caches here: edges no longer derives from sym
      // (both read symW), so without its own count the first
      // edges-consuming query's bench row would silently absorb the
      // cache fill that _shared_build is supposed to pay
      sym.count()
      edges.count()
      (edges, sym)
    }

  private val weightedCache = graft.SessionMemo.ofFrame[String]

  /** Live memoized frames (for the harness's is-this-shared check —
    * queries may RETURN a shared frame directly, and the harness must
    * not unpersist those as query-output pins).
    */
  private[graft] def liveSharedFrames: Seq[DataFrame] =
    graphCache.live ++ weightedCache.live

  /** Drop the memoized co-purchase frames (unpersisting live entries)
    * — the Graph side of [[Dedup.clearSharedCaches]]'s contract.
    * Bench's `_shared_build` row clears + rebuilds these so each timed
    * build runs cold; session death itself is handled by weak keys.
    */
  def clearSharedCaches(): Unit = {
    graphCache.clear()
    weightedCache.clear()
  }

  /** Memoized WEIGHTED symmetric co-purchase edges per (session, dir):
    * (u, v, cnt) with cnt = number of orders sharing the pair, both
    * directions. Shared by graph_item_recs and the weighted PageRank —
    * the weighted edge build is the same per-order self-join as the
    * unweighted one and was previously duplicated per query. Callers
    * must NOT unpersist the returned frame.
    */
  private[graft] def copurchaseWeightedShared(
      s: SparkSession, dir: String): DataFrame =
    weightedCache.getOrBuild(s, dir) {
      val t = Tables(s, dir)
      val items = t.lineitem
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val weighted = items.as("a").join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("cnt"))
      val symW = weighted
        .select(col("pa").as("u"), col("pb").as("v"), col("cnt"))
        .union(weighted.select(col("pb").as("u"), col("pa").as("v"), col("cnt")))
        .cache()
      symW.count()
      symW
    }

  /** Degree histogram of the co-purchase graph: how many parts have
    * each co-purchase degree. Two aggregations on uniform keys.
    */
  val graphDegreeStats = GraftQuery(
    "graph_degree_stats",
    (s, dir) => {
      val (_, sym) = copurchaseGraphShared(s, dir)
      sym
        .groupBy(col("u")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS degree FROM sym GROUP BY u)
      SELECT degree, COUNT(*) AS n_nodes
      FROM deg GROUP BY degree ORDER BY degree
    """)
  )

  /** Exact triangle count + wedge count + global clustering
    * coefficient density ratio, via DEGREE-ORDERED orientation: each
    * undirected edge points from its lower-(degree, id) endpoint to
    * the higher, wedges are enumerated only at a triangle's LOWEST
    * vertex in that order (out-degree there is bounded by its
    * degree-order rank — the skew-proof bound), and each wedge is
    * closed by probing the oriented edge set. The closing probe is
    * SIZE-GUARDED ([[closedWedges]]): a broadcast hash join while the
    * oriented edge set fits [[broadcastMaxRows]] (wedges stream
    * map-side and never shuffle), a shuffle join on the canonical
    * pair past it — still O(wedges). The DuckDB oracle counts the same
    * triangles with the simpler id-ordering — the count is invariant
    * to orientation, which is exactly what makes it a good
    * cross-engine check.
    */
  /** Orient every undirected edge from its lower-(degree, id) endpoint
    * to the higher: (s, t, dt) with dt = t's degree. Shared by the
    * triangle count and per-node clustering coefficients.
    */
  private[graft] def orientEdges(edges: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = edges
      .join(deg.select(col("u").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("u").as("pb"), col("d").as("db")), Seq("pb"))
    withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb")),
        struct(col("pa").as("s"), col("pb").as("t"), col("db").as("dt")))
        .otherwise(struct(col("pb").as("s"), col("pa").as("t"), col("da").as("dt")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
  }

  /** Triangles as closed wedges: out-neighbor pairs at each triangle's
    * lowest (degree, id) vertex, closed by probing the oriented edge
    * set. Returns one row (s, v, w) per triangle. The closing probe is
    * size-guarded (`nOriented` = oriented edge count): broadcast hash
    * join while the oriented frame fits, shuffle join on the canonical
    * (v, w) pair once it outgrows [[broadcastMaxRows]] — still
    * O(wedges), never an executor-memory cliff.
    */
  private[graft] def closedWedges(oriented: DataFrame, nOriented: Long): DataFrame = {
    val e1 = oriented.select(col("s"), col("t").as("v"), col("dt").as("dv"))
    val e2 = oriented.select(col("s"), col("t").as("w"), col("dt").as("dw"))
    e1.join(e2, Seq("s"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .join(broadcastIfSmall(
        oriented.select(col("s").as("v"), col("t").as("w")), nOriented),
        Seq("v", "w"))
      .select(col("s"), col("v"), col("w"))
  }

  val graphTriangles = GraftQuery(
    "graph_triangles",
    (s, dir) => {
      val (edges, sym) = copurchaseGraphShared(s, dir)
      val deg = sym
        .groupBy(col("u")).agg(count(lit(1)).as("d"))
      val oriented = orientEdges(edges, deg).cache()
      val nOriented = oriented.count()
      val tri = closedWedges(oriented, nOriented)
        .agg(count(lit(1)).as("n_triangles"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
      val nEdges = edges.agg(count(lit(1)).as("n_edges"))
      val out = nNodes.crossJoin(nEdges).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"))
      out.persist().count()
      oriented.unpersist(false)
      out
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
      tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
                  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb)
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM e) AS n_edges,
             (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
             (SELECT n_triangles FROM tri) AS n_triangles
    """)
  )

  /** Per-node local clustering coefficients — the node-level
    * refinement of graph_triangles' global ratio, and the standard
    * "how clique-like is this node's neighborhood" feature for
    * community/anomaly work. Triangle enumeration reuses the
    * degree-ordered orientation (wedges only at a triangle's lowest
    * (degree, id) vertex — the skew-proof bound), then EXPLODES each
    * triangle to its three corners and counts per node, so per-node
    * counts cost the same O(wedges) join as the global count plus a
    * 3× map-side explode. local_cc = 2·T_v / (d_v·(d_v−1)) is ONE
    * IEEE division of exact longs — no rounding, engine-identical by
    * construction (both operands ≪ 2⁵³). Scale: the closing probe is
    * size-guarded in [[closedWedges]] (broadcast under
    * [[broadcastMaxRows]], shuffle join past it); output is node-sized.
    */
  val graphClusteringCoeff = GraftQuery(
    "graph_clustering_coeff",
    (s, dir) => {
      val (edges, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d")).cache()
      val oriented = orientEdges(edges, deg).cache()
      val nOriented = oriented.count()
      val triNodes = closedWedges(oriented, nOriented)
        .select(explode(array(col("s"), col("v"), col("w"))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("tri"))
      val out = deg.join(triNodes, Seq("u"), "left")
        .select(col("u").as("node"), col("d").as("degree"),
          coalesce(col("tri"), lit(0L)).as("n_triangles"),
          when(col("d") < 2, lit(0.0)).otherwise(
            (lit(2L) * coalesce(col("tri"), lit(0L))).cast(DoubleType) /
              (col("d") * (col("d") - 1)).cast(DoubleType)).as("local_cc"))
        .orderBy(col("node"))
      out.persist().count()
      oriented.unpersist(false)
      deg.unpersist(false)
      out
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
      tri AS (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM e e1 JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
                  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
      tn AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS tri FROM (
          SELECT a AS u FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY 1)
      SELECT d.u AS node, CAST(d.d AS BIGINT) AS degree,
             COALESCE(tn.tri, 0) AS n_triangles,
             CASE WHEN d.d < 2 THEN 0.0
                  ELSE CAST(2 * COALESCE(tn.tri, 0) AS DOUBLE)
                       / CAST(d.d * (d.d - 1) AS DOUBLE) END AS local_cc
      FROM deg d LEFT JOIN tn ON tn.u = d.u
      ORDER BY node
    """)
  )

  /** Damping factor and iteration count for graph_pagerank. */
  val PageRankDamping = 0.85
  val PageRankIters = 5

  /** Fixed-point scale for PageRank message accumulation: messages
    * (each ≤ 1) are quantized to units of 10⁻¹⁸ and summed as TWO
    * long limbs — low 30 bits and high bits separately — then
    * recombined exactly. Long addition is order-free like the decimal
    * sum it replaces, but stays inside whole-stage codegen with no
    * per-row BigDecimal allocation. Limb headroom: lo ≤ 2³⁰ and
    * hi ≤ 10¹⁸/2³⁰ ≈ 9.3·10⁸ per message, so ~9·10⁹ messages per
    * node fit before either limb sum could overflow — beyond any
    * real per-node degree. Per-message error (double product + ½-unit
    * quantization) is ≤ ~10⁻¹⁶ relative — ≪ the spec's 1e-9 rank
    * tolerance even accumulated over huge-degree hubs.
    */
  private val PrScale = 1e18
  private val PrLimb = 1L << 30

  /** PageRank over a symmetric WEIGHTED edge frame (u, v, w): ranks
    * start at 1/n; each round flows rank·w/Σw along edges and sums
    * the messages with the exact two-limb long accumulator above, so
    * the ranks are bit-stable run-to-run regardless of how Spark
    * partitions the message shuffle. One broadcast join + one
    * map-side-combined aggregation per round; the weighted-degree
    * frame is dimension-sized and reused across rounds.
    */
  /** One PageRank message round: flow c·w quantized mass along the
    * edges and reduce with the exact two-limb long accumulator.
    * `contribs` is the node frame (node, c = rank/wdeg); `big` means
    * it outgrew [[broadcastMaxRows]], so the join shuffles on the key
    * instead of broadcasting — the caller pre-partitions the edge side
    * once ([[coPartitionForRounds]]) so only the node frame moves.
    * Factored out so ScaleSpec can pin both physical shapes.
    */
  private[graft] def flowMessages(
      edgesJ: DataFrame, contribs: DataFrame, big: Boolean,
      base: Double, damping: Double): DataFrame = {
    val src = if (big) contribs else broadcast(contribs)
    val q = round(col("c") * col("w") * PrScale).cast("long")
    edgesJ
      .join(src, edgesJ("u") === src("node"))
      .select(edgesJ("v").as("node"),
        shiftright(q, 30).as("hi"), (q % PrLimb).as("lo"))
      .groupBy(col("node"))
      .agg((lit(base) + lit(damping) *
        ((sum(col("hi")) * PrLimb + sum(col("lo"))).cast(DoubleType) / PrScale))
        .as("rank"))
  }

  private[graft] def pageRankWeighted(
      s: SparkSession, symW: DataFrame, iters: Int, damping: Double): DataFrame = {
    val deg = symW.groupBy(col("u")).agg(sum(col("w")).as("wdeg")).cache()
    val n = deg.count()
    // the rank frame is node-dimension-sized — while it fits the guard,
    // BROADCAST it into the edge-sized message join (an SMJ here would
    // re-sort the whole edge frame every round). Past the guard a
    // per-round broadcast of 10⁸+ ranks is a memory cliff, so the edge
    // frame is hash-partitioned + sorted on u ONCE (cached — the
    // partitioning and order survive InMemoryRelation) and each round
    // sort-merge-joins with only the node-sized side shuffling.
    val big = n > broadcastMaxRows
    val edgesJ = coPartitionForRounds(symW, "u", big)
    var ranks = deg.select(col("u").as("node"), lit(1.0 / n).as("rank"))
    val base = (1.0 - damping) / n
    for (_ <- 1 to iters) {
      // localCheckpoint (not cache) truncates each round's lineage to
      // a materialized RDD — a cached hint-bearing iterative plan
      // defeats CacheManager matching and every downstream action
      // silently recomputes the fixpoint
      val contribs = ranks
        .join(deg, ranks("node") === deg("u"))
        .select(col("node"), (col("rank") / col("wdeg")).as("c"))
      ranks = flowMessages(edgesJ, contribs, big, base, damping)
        .localCheckpoint()
    }
    // every node has degree ≥ 1 (symmetric edge frame), so the message
    // aggregation is total — no rank-starved nodes to re-attach
    deg.unpersist(false)
    if (big) edgesJ.unpersist(false)
    ranks
  }

  /** Unweighted PageRank = weighted PageRank with unit weights. */
  private[graft] def pageRank(
      s: SparkSession, sym: DataFrame, iters: Int, damping: Double): DataFrame =
    pageRankWeighted(s, sym.withColumn("w", lit(1L)), iters, damping)

  /** PageRank on the co-purchase graph with invariant gates: the
    * oracle hashes the EXACT graph shape (node/edge counts, max
    * degree, the deterministic hub part) while rank correctness rides
    * as Spark-verified booleans — total rank conserved at 1 (the
    * stochastic-matrix invariant) and all ranks positive ≥ base. Rank
    * VALUES are pinned by GraphSpec against an independent dense
    * in-memory iteration on small graphs (cycle/star/clique analytic
    * cases) — the same gate pattern as the ANN recall queries, since
    * no SQL engine can restate the fixpoint.
    */
  val graphPagerank = GraftQuery(
    "graph_pagerank",
    (s, dir) => {
      val (edges, sym) = copurchaseGraphShared(s, dir)
      val ranks = pageRank(s, sym, PageRankIters, PageRankDamping)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val n = deg.count()
      val base = (1.0 - PageRankDamping) / n
      val hub = deg
        .orderBy(col("deg").desc, col("u"))
        .limit(1)
        .select(col("u").as("hub_part"), col("deg").as("hub_degree"))
      val gates = ranks.agg(
        (abs(sum(col("rank")) - 1.0) < lit(1e-9)).as("rank_sum_ok"),
        (min(col("rank")) >= lit(base)).as("rank_positive_ok"))
      val shape = edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      val out = shape.crossJoin(hub).crossJoin(gates)
        .select(col("n_nodes"), col("n_edges"), col("hub_part"),
          col("hub_degree"), col("rank_sum_ok"), col("rank_positive_ok"))
      out.persist().count()
      ranks.unpersist(false)
      out
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
      hub AS (SELECT u AS hub_part, deg AS hub_degree
              FROM deg ORDER BY deg DESC, u LIMIT 1)
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM e) AS n_edges,
             (SELECT hub_part FROM hub) AS hub_part,
             (SELECT hub_degree FROM hub) AS hub_degree,
             TRUE AS rank_sum_ok,
             TRUE AS rank_positive_ok
    """)
  )

  /** Number of recommendations per part. */
  val RecsPerItem = 3

  /** Item-to-item recommendations from co-purchase counts: weighted
    * edges (how many orders share the pair), cosine-normalized score
    * cnt / √(Σcnt_u · Σcnt_v), top-3 per part. The classic
    * "customers also bought" batch job: two joins against a
    * dimension-sized weighted-degree frame and one per-key window.
    * Scores are bit-identical across engines — integer counts into
    * correctly-rounded double ops (÷, √), no accumulation order in
    * sight.
    */
  val graphItemRecs = GraftQuery(
    "graph_item_recs",
    (s, dir) => {
      val sym = copurchaseWeightedShared(s, dir)
      val degw = sym.groupBy(col("u")).agg(sum(col("cnt")).as("dw"))
      val scored = sym
        .join(degw.select(col("u"), col("dw").as("dwu")), Seq("u"))
        .join(degw.select(col("u").as("v"), col("dw").as("dwv")), Seq("v"))
        .select(col("u"), col("v"), col("cnt"),
          (col("cnt") / sqrt((col("dwu") * col("dwv")).cast(DoubleType)))
            .as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("score").desc, col("v"))
      scored
        .withColumn("rec_rank", row_number().over(w).cast("long"))
        .filter(col("rec_rank") <= RecsPerItem)
        .select(col("u").as("part"), col("rec_rank"), col("v").as("rec_part"),
          col("cnt").as("n_co_orders"), col("score"))
        .orderBy(col("part"), col("rec_rank"))
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      we AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2),
      sym AS (
        SELECT pa AS u, pb AS v, cnt FROM we
        UNION ALL SELECT pb, pa, cnt FROM we),
      degw AS (SELECT u, CAST(SUM(cnt) AS BIGINT) AS dw FROM sym GROUP BY u),
      scored AS (
        SELECT s.u, s.v, s.cnt,
               s.cnt / sqrt(CAST(du.dw * dv.dw AS DOUBLE)) AS score
        FROM sym s JOIN degw du ON s.u = du.u JOIN degw dv ON s.v = dv.u),
      ranked AS (
        SELECT u, v, cnt, score,
               CAST(row_number() OVER (PARTITION BY u ORDER BY score DESC, v)
                 AS BIGINT) AS rec_rank
        FROM scored)
      SELECT u AS part, rec_rank, v AS rec_part, cnt AS n_co_orders, score
      FROM ranked WHERE rec_rank <= 3
      ORDER BY part, rec_rank
    """)
  )

  /** Similar customers per customer in the projection output. */
  val SimilarPerCustomer = 3

  /** Bipartite projection: the customer–part purchase graph projected
    * onto customers — two customers are similar by the Jaccard of
    * their distinct part sets. The ROADMAP round-5 candidate: the
    * collaborative-filtering neighborhood build.
    *
    * Scale shape: the projection self-join keys on the part — per-part
    * fan-out is the part's buyer count, so a hot part is the skew
    * risk; the same df-cap + exact-correction pattern the shingle
    * dedup family uses applies when buyer counts outgrow the uniform
    * assumption (documented, not needed at test SF where buyer counts
    * are tens). Set sizes are a dimension-sized frame joined back
    * broadcast; Jaccard = shared/(na+nb−shared) is one correctly-
    * rounded double division of exact BIGINTs — bit-identical across
    * engines. One window per customer picks top-3 (tie-broken on the
    * neighbor id).
    */
  val graphCustomerSimilarity = GraftQuery(
    "graph_customer_similarity",
    (s, dir) => {
      val t = Tables(s, dir)
      val cp = t.orders.select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .cache()
      val sizes = cp.groupBy(col("c")).agg(count(lit(1)).as("n_parts"))
      val pairs = cp.as("a").join(cp.as("b"),
          col("a.p") === col("b.p") && col("a.c") < col("b.c"))
        .groupBy(col("a.c").as("ca"), col("b.c").as("cb"))
        .agg(count(lit(1)).as("shared"))
      val sym = pairs.select(col("ca").as("cu"), col("cb").as("cv"), col("shared"))
        .union(pairs.select(col("cb").as("cu"), col("ca").as("cv"), col("shared")))
      val scored = sym
        .join(broadcast(sizes.select(col("c").as("cu"), col("n_parts").as("nu"))),
          Seq("cu"))
        .join(broadcast(sizes.select(col("c").as("cv"), col("n_parts").as("nv"))),
          Seq("cv"))
        .select(col("cu"), col("cv"), col("shared"),
          (col("shared").cast(DoubleType) /
            (col("nu") + col("nv") - col("shared")).cast(DoubleType))
            .as("jaccard"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cu")).orderBy(col("jaccard").desc, col("cv"))
      val out = scored
        .withColumn("sim_rank", row_number().over(w).cast("long"))
        .filter(col("sim_rank") <= SimilarPerCustomer)
        .select(col("cu").as("customer"), col("sim_rank"),
          col("cv").as("similar_customer"), col("shared").as("n_shared_parts"),
          col("jaccard"))
        .orderBy(col("customer"), col("sim_rank"))
      out.persist().count()
      cp.unpersist(false)
      out
    },
    Some("""
      WITH cp AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      sizes AS (SELECT c, COUNT(*) AS n_parts FROM cp GROUP BY c),
      pairs AS (
        SELECT a.c AS ca, b.c AS cb, COUNT(*) AS shared
        FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2),
      sym AS (
        SELECT ca AS cu, cb AS cv, shared FROM pairs
        UNION ALL SELECT cb, ca, shared FROM pairs),
      scored AS (
        SELECT s.cu, s.cv, s.shared,
               CAST(s.shared AS DOUBLE)
                 / CAST(su.n_parts + sv.n_parts - s.shared AS DOUBLE) AS jaccard
        FROM sym s JOIN sizes su ON s.cu = su.c JOIN sizes sv ON s.cv = sv.c),
      ranked AS (
        SELECT cu, cv, shared, jaccard,
               CAST(row_number() OVER (PARTITION BY cu ORDER BY jaccard DESC, cv)
                 AS BIGINT) AS sim_rank
        FROM scored)
      SELECT cu AS customer, sim_rank, cv AS similar_customer,
             shared AS n_shared_parts, jaccard
      FROM ranked WHERE sim_rank <= 3
      ORDER BY customer, sim_rank
    """)
  )

  /** Label-propagation rounds for graph_communities. */
  val LpaRounds = 5

  /** Synchronous label propagation over a symmetric edge frame:
    * labels start as node ids; each round every node adopts the most
    * frequent label among its neighbors AND itself (the self-vote is
    * the standard damping — without it two adjacent tied regions
    * oscillate under synchronous updates and a clique can split),
    * ties broken by the SMALLEST label. Synchronous updates + integer
    * counts + min-tie-break make the result a pure function of the
    * graph — deterministic under any partitioning, no RNG. Per round:
    * one message join + one (node, label) count + one struct-max
    * reduction, all on uniform keys; rounds are fixed (LPA has no
    * convergence guarantee — bounded rounds IS the algorithm's
    * standard form).
    */
  private[graft] def labelPropagation(
      sym: DataFrame, rounds: Int): DataFrame = {
    val nodes = sym.select(col("u").as("node")).distinct().localCheckpoint()
    val n = nodes.count()
    // same size-guarded round shape as pageRankWeighted: broadcast the
    // node-dimension label frame while it fits broadcastMaxRows; past
    // it, hash-partition + sort the edge frame on u once (cached) and
    // let each round sort-merge-join with only the label frame moving
    val big = n > broadcastMaxRows
    val edgesJ = coPartitionForRounds(sym, "u", big)
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val nbrVotes = edgesJ
        .join(if (big) labels else broadcast(labels),
          edgesJ("u") === labels("node"))
        .select(edgesJ("v").as("n2"), col("label"))
      val selfVotes = labels.select(col("node").as("n2"), col("label"))
      // localCheckpoint (not cache): truncates the round's lineage to
      // a materialized RDD. A cache here leaves a hint-bearing 5-round
      // plan that defeats CacheManager plan matching — every
      // downstream action silently recomputed the whole fixpoint
      labels = nbrVotes.union(selfVotes)
        .groupBy(col("n2"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("n2"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("best"))
        .select(col("n2").as("node"), (-col("best.neg")).as("label"))
        .localCheckpoint()
    }
    if (big) edgesJ.unpersist(false)
    labels
  }

  /** Community detection on the co-purchase graph via label
    * propagation. The oracle hashes the EXACT graph shape while the
    * fixpoint-dependent facts ride as Spark-verified gates (same
    * pattern as graph_pagerank — no SQL engine can restate the
    * iteration): every label is a member node id, community count in
    * [1, n], every node labeled exactly once. Community SEMANTICS are
    * pinned by GraphSpec on graphs with known community structure
    * (two cliques joined by one bridge edge).
    */
  val graphCommunities = GraftQuery(
    "graph_communities",
    (s, dir) => {
      val (edges, sym) = copurchaseGraphShared(s, dir)
      val labels = labelPropagation(sym, LpaRounds)
      val nNodes = sym.select(col("u")).distinct().count()
      val comm = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("sz"))
      val gates = comm.agg(
        (count(lit(1)) >= 1 && count(lit(1)) <= nNodes).as("n_communities_ok"),
        (sum(col("sz")) === nNodes).as("cover_ok"))
      val labelsValid = labels
        .join(sym.select(col("u").as("label")).distinct(), Seq("label"), "left_anti")
        .isEmpty
      val shape = edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(labels.agg(count(lit(1)).as("n_nodes")))
      val out = shape.crossJoin(gates)
        .select(col("n_nodes"), col("n_edges"),
          col("n_communities_ok"), col("cover_ok"),
          lit(labelsValid).as("labels_valid"))
      out.persist().count()
      labels.unpersist(false)
      out
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u FROM e UNION SELECT pb FROM e)
      SELECT (SELECT COUNT(*) FROM sym) AS n_nodes,
             (SELECT COUNT(*) FROM e) AS n_edges,
             TRUE AS n_communities_ok,
             TRUE AS cover_ok,
             TRUE AS labels_valid
    """)
  )

  /** Weighted PageRank on the co-purchase graph: rank flows along
    * each edge proportionally to its co-purchase count (cnt/Σcnt of
    * the source) — frequently-co-bought pairs pull rank harder than
    * one-off pairings, the importance measure a recommender actually
    * wants. Same oracle pattern as graph_pagerank: the DuckDB side
    * hashes the exact WEIGHTED graph shape (node/edge counts, total
    * weight, the top weighted-degree hub) while the stochastic-matrix
    * invariants (Σrank = 1, rank ≥ base) ride as Spark-verified
    * booleans; rank VALUES are pinned by GraphSpec against a dense
    * weighted reference iteration.
    */
  val graphPagerankWeighted = GraftQuery(
    "graph_pagerank_weighted",
    (s, dir) => {
      val symW = copurchaseWeightedShared(s, dir)
        .select(col("u"), col("v"), col("cnt").as("w"))
      val ranks = pageRankWeighted(s, symW, PageRankIters, PageRankDamping)
      val deg = symW.groupBy(col("u"))
        .agg(sum(col("w")).as("wdeg"))
      val n = deg.count()
      val base = (1.0 - PageRankDamping) / n
      val hub = deg
        .orderBy(col("wdeg").desc, col("u"))
        .limit(1)
        .select(col("u").as("hub_part"), col("wdeg").cast("long").as("hub_wdegree"))
      val gates = ranks.agg(
        (abs(sum(col("rank")) - 1.0) < lit(1e-9)).as("rank_sum_ok"),
        (min(col("rank")) >= lit(base)).as("rank_positive_ok"))
      val shape = symW.agg((count(lit(1)) / 2).cast("long").as("n_edges"),
          (sum(col("w")) / 2).cast("long").as("total_weight"))
        .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      val out = shape.crossJoin(hub).crossJoin(gates)
        .select(col("n_nodes"), col("n_edges"), col("total_weight"),
          col("hub_part"), col("hub_wdegree"),
          col("rank_sum_ok"), col("rank_positive_ok"))
      out.persist().count()
      ranks.unpersist(false)
      out
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      we AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2),
      sym AS (
        SELECT pa AS u, pb AS v, cnt FROM we
        UNION ALL SELECT pb, pa, cnt FROM we),
      deg AS (SELECT u, SUM(cnt) AS wdeg FROM sym GROUP BY u),
      hub AS (SELECT u AS hub_part, CAST(wdeg AS BIGINT) AS hub_wdegree
              FROM deg ORDER BY wdeg DESC, u LIMIT 1)
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM we) AS n_edges,
             (SELECT CAST(SUM(cnt) AS BIGINT) FROM we) AS total_weight,
             (SELECT hub_part FROM hub) AS hub_part,
             (SELECT hub_wdegree FROM hub) AS hub_wdegree,
             TRUE AS rank_sum_ok,
             TRUE AS rank_positive_ok
    """)
  )

  /** Iteration count for personalized PageRank — also the walk's
    * reach horizon: after k rounds exactly the k-hop ball around the
    * seed holds positive rank, which the oracle pins with a k-bounded
    * recursive BFS.
    */
  val PprIters = 5

  /** Personalized PageRank (random walk with restart, Jeh & Widom
    * 2003): rank = (1−d)·restart + d·M·rank, i.e. [[pageRankWeighted]]
    * with the teleport mass returning to the SEED distribution instead
    * of uniformly — the measure is proximity to the seeds, the
    * "related items from here" primitive. The rank frame stays
    * SPARSE: only nodes the walk has reached appear, so k rounds
    * touch the k-hop ball around the seeds rather than the whole
    * graph — this is what makes seed-local PPR tractable on a
    * 10⁹-node graph where global PageRank is a batch job. Messages
    * reuse [[flowMessages]]' exact two-limb long accumulator
    * (bit-stable under any shuffle partitioning, and subject to the
    * same broadcast-vs-sort-merge size guard); the restart mass
    * re-enters through a full-outer join against the seed frame,
    * which is seed-sized and always broadcastable. Ranks quantized
    * below 10⁻¹⁸ round to zero mass and are dropped — at that level
    * the node is not meaningfully "reached".
    */
  private[graft] def personalizedPageRank(
      s: SparkSession, sym: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double): DataFrame = {
    val symW = sym.withColumn("w", lit(1L))
    val deg = symW.groupBy(col("u")).agg(sum(col("w")).as("wdeg")).cache()
    val n = deg.count()
    val big = n > broadcastMaxRows
    val edgesJ = coPartitionForRounds(symW, "u", big)
    val seedsC = seeds.select(col("node").as("snode"), col("restart")).cache()
    var ranks = seedsC.select(col("snode").as("node"), col("restart").as("rank"))
    for (_ <- 1 to iters) {
      val contribs = ranks
        .join(deg, ranks("node") === deg("u"))
        .select(col("node"), (col("rank") / col("wdeg")).as("c"))
      val msgs = flowMessages(edgesJ, contribs, big, 0.0, damping)
      ranks = msgs
        .join(seedsC, msgs("node") === seedsC("snode"), "full_outer")
        .select(coalesce(msgs("node"), col("snode")).as("node"),
          (coalesce(col("rank"), lit(0.0)) +
            lit(1.0 - damping) * coalesce(col("restart"), lit(0.0))).as("rank"))
        .filter(col("rank") > 0.0)
        .localCheckpoint()
    }
    deg.unpersist(false)
    if (big) edgesJ.unpersist(false)
    ranks
  }

  /** Personalized PageRank from the top-degree hub part of the
    * co-purchase graph. The oracle pins the graph shape AND the
    * walk's exact reach (n_reached = the [[PprIters]]-hop ball around
    * the seed, a recursive-BFS fact DuckDB can restate) while the
    * fixpoint invariants ride as Spark-verified booleans: total rank
    * conserved at 1, and the seed holding both the max rank and at
    * least its (1−d) restart floor. Rank VALUES are pinned by
    * GraphSpec against a dense in-memory reference iteration.
    */
  val graphPersonalizedPagerank = GraftQuery(
    "graph_personalized_pagerank",
    (s, dir) => {
      val (edges, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val hub = deg.orderBy(col("deg").desc, col("u")).limit(1)
        .select(col("u").as("node"), lit(1.0).as("restart"))
      val hubId = hub.select(col("node")).head().getLong(0)
      val ranks = personalizedPageRank(s, sym, hub, PprIters, PageRankDamping)
      ranks.persist().count()
      val hubRank = max(when(col("node") === hubId, col("rank")))
      val gates = ranks.agg(
        count(lit(1)).as("n_reached"),
        (abs(sum(col("rank")) - 1.0) < lit(1e-9)).as("rank_sum_ok"),
        (hubRank === max(col("rank")) &&
          hubRank >= lit(1.0 - PageRankDamping)).as("seed_top_ok"))
      val shape = edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      val out = shape.crossJoin(broadcast(gates))
        .select(col("n_nodes"), col("n_edges"), lit(hubId).as("seed_part"),
          col("n_reached").cast("long").as("n_reached"),
          col("rank_sum_ok"), col("seed_top_ok"))
      out.persist().count()
      ranks.unpersist(false)
      out
    },
    Some(s"""
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT a.p AS pa, b.p AS pb FROM items a
            JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
      hub AS (SELECT u AS s FROM deg ORDER BY deg DESC, u LIMIT 1),
      walk AS (
        SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM hub
        UNION
        SELECT v, dist + 1 FROM walk JOIN sym ON sym.u = walk.node
        WHERE dist < $PprIters),
      reach AS (SELECT COUNT(DISTINCT node) AS n_reached FROM walk)
      SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             (SELECT COUNT(*) FROM e) AS n_edges,
             (SELECT s FROM hub) AS seed_part,
             (SELECT n_reached FROM reach) AS n_reached,
             TRUE AS rank_sum_ok,
             TRUE AS seed_top_ok
    """)
  )

  /** Walk length for graph_random_walks. */
  val WalkLen = 4

  /** Deterministic random walks — the DeepWalk/node2vec corpus
    * primitive: one length-[[WalkLen]] walk per node over the
    * co-purchase graph, where step t out of node c picks neighbor
    * rank ((c·1103515245 + t·12345) mod 2³¹−1) mod deg(c) + 1 among
    * the id-ordered neighbors. The LCG-style hash replaces RNG state
    * so the walk corpus is REPRODUCIBLE — the property a distributed
    * embedding pipeline actually needs (re-runs, retries and engine
    * changes yield the same corpus), and what lets the DuckDB oracle
    * replay every hop exactly with a recursive CTE. All arithmetic is
    * exact BIGINT in both engines (|c|·1103515245 ≪ 2⁶³).
    *
    * Scale: the ranked-neighbor frame (edge-sized, rank via one
    * per-node window) is built once; each hop is ONE equi-join of the
    * node-sized walk frontier against it on (node, rank) — no
    * neighbor explosion, no per-row sampling state. WalkLen hops =
    * WalkLen joins, the standard distributed walk-corpus shape.
    */
  val graphRandomWalks = GraftQuery(
    "graph_random_walks",
    (s, dir) => {
      val (_, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("v"))
      // everything descends from the one shared sym frame, so every
      // join below is a self-join: qualify through per-round dataset
      // aliases (the analyzer's sanctioned disambiguation)
      val ranked = sym.as("sy")
        .withColumn("rank", row_number().over(w).cast("long"))
        .join(deg.as("dg"), col("sy.v") === col("dg.u"))
        .select(col("sy.u").as("u"), col("rank"), col("sy.v").as("v"),
          col("dg.deg").as("degv"))
        .cache()
      var walks = deg.select(col("u").as("start"), col("u").as("cur"),
        col("deg").as("degc"))
      val stepCols = scala.collection.mutable.ArrayBuffer.empty[String]
      for (t <- 1 to WalkLen) {
        val pick = ((col("cur") * lit(1103515245L) + lit(t.toLong * 12345L))
          % lit(2147483647L)) % col("degc") + lit(1L)
        val wp = walks.withColumn("pick", pick).as(s"w$t")
        val rk = ranked.as(s"r$t")
        walks = wp
          .join(rk, col(s"w$t.cur") === col(s"r$t.u") &&
            col(s"w$t.pick") === col(s"r$t.rank"))
          .select((Seq(col(s"w$t.start").as("start")) ++
            stepCols.map(c => col(s"w$t.$c").as(c)) ++ Seq(
            col(s"r$t.v").as(s"n$t"), col(s"r$t.v").as("cur"),
            col(s"r$t.degv").as("degc"))): _*)
        stepCols += s"n$t"
      }
      val out = walks.select((col("start") +: stepCols.map(col).toSeq): _*)
        .orderBy(col("start"))
      out.persist().count()
      ranked.unpersist(false)
      out
    },
    Some(s"""
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT a.p AS pa, b.p AS pb FROM items a
            JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
      ranked AS (
        SELECT s.u, s.v,
               CAST(row_number() OVER (PARTITION BY s.u ORDER BY s.v)
                 AS BIGINT) AS rank,
               dv.deg AS degv
        FROM sym s JOIN deg dv ON dv.u = s.v),
      walk AS (
        SELECT u AS start, CAST(0 AS BIGINT) AS t, u AS cur, deg AS degc
        FROM deg
        UNION ALL
        SELECT w.start, w.t + 1, r.v, r.degv
        FROM walk w JOIN ranked r
          ON r.u = w.cur
         AND r.rank = ((w.cur * 1103515245 + (w.t + 1) * 12345)
                       % 2147483647) % w.degc + 1
        WHERE w.t < $WalkLen)
      SELECT start,
             MAX(CASE WHEN t = 1 THEN cur END) AS n1,
             MAX(CASE WHEN t = 2 THEN cur END) AS n2,
             MAX(CASE WHEN t = 3 THEN cur END) AS n3,
             MAX(CASE WHEN t = 4 THEN cur END) AS n4
      FROM walk
      GROUP BY start
      ORDER BY start
    """)
  )

  /** Recursive-hierarchy rollup — the WITH RECURSIVE workload (BOM
    * explosion, org charts, account trees) Spark SQL lacks a keyword
    * for, shipped as an iterative closure build. The hierarchy is the
    * binary-heap parent function over suppliers (`parent(s) =
    * (s−1)/2`, root 0 — deterministic from real keys, no synthetic
    * table), and the output is the full recursive surface at once:
    * per-node depth, root, and SUBTREE rollups (count + exact decimal
    * balance sum), none of which a fixed-depth join chain can express.
    *
    * Scale: each round extends the ancestor frontier by ONE broadcast
    * join against the parent map (hierarchies are dimension-sized —
    * the fact-side rollup joins the closure once at the end), rounds =
    * tree depth (log n here), and `localCheckpoint` truncates lineage
    * per round as the other iterative operators do. Closure size is
    * n·depth rows — the same closure WITH RECURSIVE materializes.
    * Empty-frontier detection is the loop's only action per round.
    */
  val graphHierarchyRollup = GraftQuery(
    "graph_hierarchy_rollup",
    (s, dir) => {
      val t = Tables(s, dir)
      val sup = t.supplier
        .select(col("s_suppkey").cast("long").as("node"), col("s_acctbal"))
      val parents = sup.filter(col("node") > 0)
        .select(col("node").as("child"),
          ((col("node") - 1) / 2).cast("long").as("parent"))
      var frontier = sup
        .select(col("node"), col("node").as("anc"), lit(0L).as("steps"))
        .localCheckpoint(true)
      var closure = frontier
      var more = true
      while (more) {
        frontier = frontier.join(broadcast(parents),
            frontier("anc") === parents("child"))
          .select(col("node"), col("parent").as("anc"),
            (col("steps") + 1L).as("steps"))
          .localCheckpoint(true)
        more = !frontier.isEmpty
        if (more) closure = closure.union(frontier)
      }
      val stats = closure.join(sup.withColumnRenamed("node", "d"),
          closure("node") === col("d"))
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("subtree_n"),
          sumMoney(col("s_acctbal")).as("subtree_acctbal"))
      val depthRoot = closure.groupBy(col("node"))
        .agg(max(col("steps")).as("depth"), min(col("anc")).as("root"))
      depthRoot.join(stats, depthRoot("node") === stats("anc"))
        .select(col("node"), col("depth"), col("root"),
          col("subtree_n"), col("subtree_acctbal"))
        .orderBy(col("node"))
    },
    Some("""
      WITH RECURSIVE a AS (
        SELECT s_suppkey AS node, s_suppkey AS anc, CAST(0 AS BIGINT) AS steps
        FROM supplier
        UNION ALL
        SELECT node, (anc - 1) // 2, steps + 1 FROM a WHERE anc > 0),
      stats AS (
        SELECT anc, COUNT(*) AS subtree_n,
               CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 AS subtree_acctbal
        FROM a JOIN supplier s ON s.s_suppkey = a.node
        GROUP BY anc),
      dr AS (SELECT node, MAX(steps) AS depth, MIN(anc) AS root
             FROM a GROUP BY node)
      SELECT dr.node, depth, root, subtree_n, subtree_acctbal
      FROM dr JOIN stats ON stats.anc = dr.node
      ORDER BY dr.node
    """)
  )

  /** BFS depth cap: levels beyond it report as unreached — both
    * engines state the same bounded-exploration semantics, so the
    * output is well-defined even on a disconnected graph.
    */
  val MaxBfsDepth = 3

  /** Single-source shortest paths (unweighted BFS) from the smallest
    * part in the co-purchase graph: level sizes + per-level id range
    * + the unreached count. Frontier expansion is one equi-join + one
    * distinct + one anti-join against the visited set per round —
    * each on uniform keys, rounds = min(diameter, cap); frontiers
    * and the visited set are node-dimension frames, localCheckpointed
    * per round like every iterative operator here. The DuckDB oracle
    * is the textbook WITH RECURSIVE bfs + MIN(dist) spelling.
    */
  val graphBfsLevels = GraftQuery(
    "graph_bfs_levels",
    (s, dir) => {
      val (_, sym) = copurchaseGraphShared(s, dir)
      val nodes = sym.select(col("u").as("node")).distinct()
      val srcId = nodes.agg(min(col("node"))).head().getLong(0)
      var frontier = nodes.filter(col("node") === srcId)
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
      var visited = frontier
      var depth = 0L
      var more = true
      while (more && depth < MaxBfsDepth) {
        depth += 1
        frontier = frontier.join(sym, frontier("node") === sym("u"))
          .select(sym("v").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(depth).as("dist"))
          .localCheckpoint(true)
        more = !frontier.isEmpty
        if (more) visited = visited.union(frontier).localCheckpoint(true)
      }
      val unreached = nodes.join(visited, Seq("node"), "left_anti")
        .agg(count(lit(1)).as("n_unreached"))
      visited.groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .crossJoin(broadcast(unreached))
        .orderBy(col("dist"))
    },
    Some(s"""
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT a.p AS pa, b.p AS pb FROM items a
            JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      src AS (SELECT MIN(u) AS s FROM sym),
      bfs AS (
        SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src
        UNION
        SELECT v, dist + 1 FROM bfs JOIN sym ON sym.u = bfs.node
        WHERE dist < $MaxBfsDepth),
      d AS (SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node),
      unreached AS (
        SELECT COUNT(*) AS n_unreached
        FROM (SELECT DISTINCT u FROM sym) n
        WHERE u NOT IN (SELECT node FROM d))
      SELECT dist, COUNT(*) AS n_nodes,
             MIN(node) AS min_node, MAX(node) AS max_node, n_unreached
      FROM d CROSS JOIN unreached
      GROUP BY dist, n_unreached
      ORDER BY dist
    """)
  )

  /** Landmarks scored by the closeness query (top-degree, id
    * tie-break). */
  val ClosenessLandmarks = 4

  /** Hop horizon for bounded closeness — both engines state the same
    * bounded-exploration semantics (the graph_bfs_levels discipline).
    */
  val ClosenessHorizon = 4L

  /** Bounded-horizon closeness centrality from the top-degree
    * landmarks: multi-source BFS carrying a landmark column, closeness
    * = (reached−1)/Σdist over everything within [[ClosenessHorizon]]
    * hops. Horizon-bounded closeness is the variant that actually runs
    * at scale (exact closeness needs diameter rounds of global
    * frontier expansion per source; landmark services bound the
    * radius), and on this dense co-purchase graph (min degree ≈ 87)
    * the horizon covers the giant component anyway. Per round: one
    * frontier⋈edges equi-join + distinct + anti-join against the
    * (|landmarks|·|V|)-bounded visited frame, localCheckpointed. The
    * readout is ONE division of exact longs. The DuckDB oracle is the
    * WITH RECURSIVE bfs + MIN(dist) spelling with the same horizon.
    */
  val graphCloseness = GraftQuery(
    "graph_closeness",
    (s, dir) => {
      val (_, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val lms = deg.orderBy(col("d").desc, col("u"))
        .limit(ClosenessLandmarks).select(col("u").as("lm"))
      var frontier = lms
        .select(col("lm"), col("lm").as("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
      var visited = frontier
      var depth = 0L
      var more = true
      while (more && depth < ClosenessHorizon) {
        depth += 1
        frontier = frontier.join(sym, frontier("node") === sym("u"))
          .select(col("lm"), sym("v").as("node")).distinct()
          .join(visited.select(col("lm"), col("node")),
            Seq("lm", "node"), "left_anti")
          .select(col("lm"), col("node"), lit(depth).as("dist"))
          .localCheckpoint(true)
        more = !frontier.isEmpty
        if (more) visited = visited.union(frontier).localCheckpoint(true)
      }
      visited.groupBy(col("lm").as("landmark"))
        .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"))
        .select(col("landmark"), col("n_reached"), col("sum_dist"),
          when(col("sum_dist") === 0L, lit(0.0)).otherwise(
            (col("n_reached") - 1).cast(DoubleType) /
              col("sum_dist").cast(DoubleType)).as("closeness"))
        .orderBy(col("landmark"))
    },
    Some(s"""
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT a.p AS pa, b.p AS pb FROM items a
            JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
      lm AS (SELECT u AS lm FROM deg ORDER BY d DESC, u
             LIMIT $ClosenessLandmarks),
      bfs AS (
        SELECT lm, lm AS node, CAST(0 AS BIGINT) AS dist FROM lm
        UNION
        SELECT b.lm, s.v, b.dist + 1
        FROM bfs b JOIN sym s ON s.u = b.node
        WHERE b.dist < $ClosenessHorizon),
      d AS (SELECT lm, node, MIN(dist) AS dist FROM bfs GROUP BY 1, 2)
      SELECT lm AS landmark, CAST(COUNT(*) AS BIGINT) AS n_reached,
             CAST(SUM(dist) AS BIGINT) AS sum_dist,
             CASE WHEN SUM(dist) = 0 THEN 0.0
                  ELSE CAST(COUNT(*) - 1 AS DOUBLE)
                       / CAST(SUM(dist) AS DOUBLE) END AS closeness
      FROM d GROUP BY lm ORDER BY lm
    """)
  )

  /** Link prediction by common-neighbor counting for a QUERY set of
    * parts (every 100th part id): candidate b scores cn = |Γ(a)∩Γ(b)|
    * wedges through shared neighbors, already-adjacent pairs are
    * anti-joined away, and the top-5 per query (cn desc, id
    * tie-break) ship with their neighborhood-Jaccard overlap. The
    * co-purchase graph is DENSE (min degree ≈ 87 even at sf0.01), so
    * all-pairs wedge enumeration is Σd² ≈ quadratic — instead this is
    * the SERVING shape: per-query work is O(d̄²) through one
    * wedge join that starts from the query rows, independent of
    * corpus size, exactly how a candidate-generation stage runs next
    * to a recommender. The full-corpus variant needs hub-capped wedge
    * centers (the dedup df-cap move) and is documented, not shipped.
    */
  val graphLinkPrediction = GraftQuery(
    "graph_link_prediction",
    (s, dir) => {
      val (edges, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val qs = sym.where(pmod(col("u"), lit(100L)) === 0)
        .select(col("u").as("a"), col("v").as("z"))
      val wedges = qs
        .join(sym.select(col("u").as("z"), col("v").as("b")), Seq("z"))
        .where(col("b") =!= col("a"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      val nonAdj = wedges.join(edges,
        least(col("a"), col("b")) === col("pa") &&
          greatest(col("a"), col("b")) === col("pb"), "left_anti")
      val w = Window.partitionBy(col("a")).orderBy(col("cn").desc, col("b"))
      nonAdj
        .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 5)
        .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
          (col("cn").cast(DoubleType) /
            (col("da") + col("db") - col("cn")).cast(DoubleType)).as("jaccard"),
          col("rnk"))
        .orderBy(col("a"), col("rnk"))
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
      qs AS (SELECT u AS a, v AS z FROM sym WHERE u % 100 = 0),
      wedges AS (
        SELECT q.a, s.v AS b, COUNT(*) AS cn
        FROM qs q JOIN sym s ON q.z = s.u
        WHERE s.v <> q.a
        GROUP BY q.a, s.v),
      nonadj AS (
        SELECT w.* FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM e
                          WHERE e.pa = least(w.a, w.b)
                            AND e.pb = greatest(w.a, w.b))),
      wd AS (
        SELECT n.a, n.b, n.cn, da.d AS da, db.d AS db
        FROM nonadj n JOIN deg da ON n.a = da.u JOIN deg db ON n.b = db.u),
      r AS (
        SELECT a, b, cn, da, db,
               CAST(row_number() OVER (PARTITION BY a ORDER BY cn DESC, b)
                 AS BIGINT) AS rnk
        FROM wd)
      SELECT a, b, cn, da, db,
             CAST(cn AS DOUBLE) / CAST(da + db - cn AS DOUBLE) AS jaccard, rnk
      FROM r WHERE rnk <= 5
      ORDER BY a, rnk
    """)
  )

  /** Degree threshold for the k-core peel. The co-purchase graph is
    * dense and near-regular (min degree ≈ 40-50 at every SF, sharp
    * core transition near the median), so 60 sits in the band where
    * peeling removes a real-but-bounded fringe at sf0.001/0.01/0.1
    * instead of either no-op'ing or cascading to empty.
    */
  val KcoreK = 60L

  /** Simultaneous-removal peel rounds both engines run. The peel is
    * loud-fail on non-convergence (below), so the fixed cap in the
    * recursive oracle and the Spark loop always describe the SAME
    * fixpoint.
    */
  val KcoreMaxIter = 8

  /** k-core decomposition of the co-purchase graph: iteratively
    * delete every vertex whose CURRENT degree is below [[KcoreK]]
    * (simultaneous removal per round) until a fixpoint; emit the
    * surviving vertices with their within-core degree. The classic
    * iterative-peel graph operator, re-expressed as dataflow: each
    * round is one degree aggregation over the live symmetric edge
    * frame plus two broadcast semijoins against the (node-sized)
    * survivor set, with localCheckpoint truncating round lineage —
    * the connectedComponents discipline. Convergence within
    * [[KcoreMaxIter]] is `require`d, mirroring the CC guard: an
    * unconverged peel would silently emit a non-core. The DuckDB
    * oracle restates the peel as a WITH RECURSIVE iteration whose
    * recursive term recomputes both endpoint degrees with window
    * functions over a single self-reference — full engine parity for
    * a fixpoint, like graph_bfs_levels. At 100 TB the per-round cost
    * is one map-side-combined aggregation + broadcast filters; the
    * survivor set is vertex-dimension-sized.
    */
  /** Iterative simultaneous-removal peel: live symmetric edges of the
    * k-core of `sym` (columns u, v, both directions). Loud-fails if
    * the peel hasn't reached a fixpoint within `maxIter` rounds.
    */
  private[graft] def kcorePeel(
      sym: DataFrame, k: Long, maxIter: Int): DataFrame = {
    var alive = sym.select(col("u"), col("v")).localCheckpoint()
    var aliveCnt = alive.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      val keep = alive.groupBy(col("u"))
        .agg(count(lit(1)).as("du"))
        .filter(col("du") >= k)
      // survivor set is node-sized; guarded with the live edge count
      // as a conservative upper bound so a billion-edge peel falls
      // back to shuffle semi-joins instead of broadcasting
      val next = alive
        .join(broadcastIfSmall(keep.select(col("u").as("ku")), aliveCnt),
          col("u") === col("ku")).drop("ku")
        .join(broadcastIfSmall(keep.select(col("u").as("kv")), aliveCnt),
          col("v") === col("kv")).drop("kv")
        .localCheckpoint()
      val nextCnt = next.count()
      converged = nextCnt == aliveCnt
      alive = next
      aliveCnt = nextCnt
      rounds += 1
    }
    require(converged,
      s"k-core peel did not converge within $maxIter rounds")
    alive
  }

  val graphKcore = GraftQuery(
    "graph_kcore",
    (s, dir) => {
      val (_, sym) = copurchaseGraphShared(s, dir)
      kcorePeel(sym, KcoreK, KcoreMaxIter)
        .groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("core_degree"))
        .orderBy(col("node"))
    },
    Some(s"""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e
              UNION ALL SELECT pb, pa FROM e)
      SELECT node, core_degree FROM (
        WITH RECURSIVE alive(iter, u, v) AS (
          SELECT 0, u, v FROM sym
          UNION ALL
          SELECT iter + 1, u, v FROM (
            SELECT a.iter, a.u, a.v,
                   COUNT(*) OVER (PARTITION BY a.u) AS du,
                   COUNT(*) OVER (PARTITION BY a.v) AS dv
            FROM alive a WHERE a.iter < $KcoreMaxIter
          ) WHERE du >= $KcoreK AND dv >= $KcoreK)
        SELECT u AS node, COUNT(*) AS core_degree
        FROM alive WHERE iter = $KcoreMaxIter
        GROUP BY 1)
      ORDER BY node
    """)
  )

  /** Truss order: edges must sit in ≥ TrussK−2 triangles to survive. */
  val TrussK = 3L
  /** Peel-round cap shared with the recursive oracle (k-core rule). */
  val TrussMaxIter = 8

  /** Per-edge triangle support within `alive` (symmetric edge frame):
    * triangles are enumerated on the DEGREE-ORIENTED half frame
    * (graph_triangles' Chiba–Nishizeki trick — wedges open only at
    * each triangle's lowest-ranked vertex, so a hub cannot explode a
    * round quadratically), then each triangle credits its three
    * edges. Edges in zero triangles are absent from the result —
    * exactly the rows a ≥ k−2 (k ≥ 3) peel filter drops anyway.
    * Shared by the peel rounds and the final readout.
    */
  private def edgeSupport(alive: DataFrame): DataFrame = {
    val deg = alive.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val withDeg = alive.filter(col("u") < col("v"))
      .join(deg.select(col("u").as("ju"), col("d").as("dU")),
        col("u") === col("ju")).drop("ju")
      .join(deg.select(col("u").as("jv"), col("d").as("dV")),
        col("v") === col("jv")).drop("jv")
    val oriented = withDeg.select(
      when(col("dU") < col("dV") ||
          (col("dU") === col("dV") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("t"), col("dV").as("dt")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"), col("dU").as("dt")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    val e1 = oriented.select(col("s"), col("t").as("x"), col("dt").as("dx"))
    val e2 = oriented.select(col("s"), col("t").as("y"), col("dt").as("dy"))
    val tris = e1.join(e2, Seq("s"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .join(oriented.select(col("s").as("x"), col("t").as("y")), Seq("x", "y"))
      .select(col("s"), col("x"), col("y"))
    val triEdges = tris.select(col("s").as("a"), col("x").as("b"))
      .unionAll(tris.select(col("s").as("a"), col("y").as("b")))
      .unionAll(tris.select(col("x").as("a"), col("y").as("b")))
    val und = triEdges
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    und.unionAll(
      und.select(col("v").as("u"), col("u").as("v"), col("support")))
  }

  /** Iterative k-truss peel on a symmetric edge frame: drop every
    * edge in fewer than k−2 triangles, recompute, repeat to fixpoint
    * (simultaneous removal per round, convergence `require`d within
    * `maxIter` — the kcorePeel discipline). Returns the surviving
    * symmetric edges.
    */
  private[graft] def kTrussPeel(
      sym: DataFrame, k: Long, maxIter: Int): DataFrame = {
    var alive = sym.select(col("u"), col("v")).localCheckpoint()
    var aliveCnt = alive.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      val next = edgeSupport(alive)
        .filter(col("support") >= k - 2L)
        .select(col("u"), col("v"))
        .localCheckpoint()
      val nextCnt = next.count()
      converged = nextCnt == aliveCnt
      alive = next
      aliveCnt = nextCnt
      rounds += 1
    }
    require(converged,
      s"k-truss peel did not converge within $maxIter rounds")
    alive
  }

  /** k-truss decomposition of the support-pruned co-purchase graph:
    * the maximal subgraph where every edge closes at least
    * [[TrussK]]−2 triangles — the cohesion mining step above k-core
    * (a k-truss is a (k−1)-core of reliably-triangulated edges;
    * Cohen 2008). Peel rounds are one wedge self-join + aggregation
    * each over the (support-pruned, hence sparse) edge frame, with
    * localCheckpoint lineage and loud non-convergence; the emitted
    * rows are the undirected surviving edges with their within-truss
    * support, recomputed once on the fixpoint — exactly what the
    * WITH RECURSIVE oracle (triple self-reference: the edge plus its
    * two wedge arms) states. The wedge join runs on the
    * degree-ORIENTED half frame (graph_triangles' trick, inside
    * [[edgeSupport]]) so a hub cannot quadratically explode a round —
    * the property that keeps per-round cost O(m^{3/2}) at 100 TB.
    */
  val graphKtruss = GraftQuery(
    "graph_ktruss",
    (s, dir) => {
      val symPruned = copurchaseWeightedShared(s, dir)
        .filter(col("cnt") >= Mining.MinPairOrders)
        .select(col("u"), col("v"))
      val truss = kTrussPeel(symPruned, TrussK, TrussMaxIter)
      edgeSupport(truss)
        .filter(col("u") < col("v"))
        .orderBy(col("u"), col("v"))
    },
    Some(s"""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2),
      sym AS (SELECT pa AS u, pb AS v FROM e WHERE cnt >= ${Mining.MinPairOrders}
              UNION ALL SELECT pb, pa FROM e WHERE cnt >= ${Mining.MinPairOrders})
      SELECT u, v, support FROM (
        WITH RECURSIVE alive(iter, u, v) AS (
          SELECT 0, u, v FROM sym
          UNION ALL
          SELECT t.iter + 1, t.u, t.v FROM (
            SELECT a.iter, a.u, a.v, COUNT(*) AS supp
            FROM alive a
            JOIN alive x ON x.iter = a.iter AND x.u = a.u
            JOIN alive y ON y.iter = a.iter AND y.u = a.v AND y.v = x.v
            WHERE a.iter < $TrussMaxIter
            GROUP BY 1, 2, 3) t
          WHERE t.supp >= ${TrussK - 2})
        SELECT f.u, f.v, CAST(COUNT(*) AS BIGINT) AS support
        FROM alive f
        JOIN alive x ON x.iter = $TrussMaxIter AND x.u = f.u
        JOIN alive y ON y.iter = $TrussMaxIter AND y.u = f.v AND y.v = x.v
        WHERE f.iter = $TrussMaxIter AND f.u < f.v
        GROUP BY 1, 2)
      ORDER BY u, v
    """)
  )

  /** Degree assortativity (Newman): the Pearson correlation of
    * endpoint degrees over every directed edge — do hubs attach to
    * hubs (r > 0) or to the periphery (r < 0)? All moments accumulate
    * EXACTLY in one pass over the symmetric edge frame (two
    * broadcast joins against the node-sized degree frame attach the
    * endpoint degrees; the product sums widen through decimal so even
    * far past SF100's edge counts nothing wraps); the closed-form
    * tail then runs entirely in
    * doubles — identical IEEE ops on identical long sums in both
    * engines, rounded to 6. No shuffle beyond the degree aggregation.
    */
  val graphAssortativity = GraftQuery(
    "graph_assortativity",
    (s, dir) => {
      val (_, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val pairs = sym
        .join(broadcast(deg.select(col("u").as("ju"), col("d").as("du"))),
          col("u") === col("ju"))
        .join(broadcast(deg.select(col("u").as("jv"), col("d").as("dv"))),
          col("v") === col("jv"))
        .select(col("du"), col("dv"))
      // product sums widen through decimal (operands first — the
      // repo's exact-moment rule): Σ du·dv scales linearly with edge
      // count and leaves no 2⁶³ headroom past SF100 as raw longs
      def dd(c: Column): Column = c.cast(DecimalType(19, 0))
      val m = pairs.agg(
        count(lit(1)).as("n"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(dd(col("du")) * dd(col("dv"))).as("sxy"),
        sum(dd(col("du")) * dd(col("du"))).as("sxx"),
        sum(dd(col("dv")) * dd(col("dv"))).as("syy"))
      def dbl(c: Column): Column = c.cast(DoubleType)
      m.select(col("n").as("n_directed_edges"),
        round((dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
          (sqrt(dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))) *
           sqrt(dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))),
          6).as("assortativity"))
    },
    Some("""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e
              UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY 1),
      p AS (
        SELECT a.d AS du, b.d AS dv
        FROM sym s JOIN deg a ON a.u = s.u JOIN deg b ON b.u = s.v),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(du) AS BIGINT) AS sx, CAST(SUM(dv) AS BIGINT) AS sy,
               CAST(SUM(CAST(du AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0)))
                 AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(du AS DECIMAL(19,0)) * CAST(du AS DECIMAL(19,0)))
                 AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0)))
                 AS DECIMAL(38,0)) AS syy
        FROM p)
      SELECT n AS n_directed_edges,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS assortativity
      FROM m
    """)
  )

  /** HITS iteration count. */
  val HitsIters = 4

  /** HITS (hubs & authorities) over a BIPARTITE edge frame (c, p):
    * hub(c) and auth(p) start uniform; each round flows hub mass along
    * edges into raw authority scores, L1-normalizes, then flows back.
    * Exactness discipline matches PageRank: every message is quantized
    * to 10⁻¹⁸ and accumulated as two long limbs (order-free, codegen-
    * friendly), per-node raw scores stay ≤ 10¹⁸ because the source
    * vector is L1-normalized, the global normalizer is a DECIMAL(38)
    * sum of those exact longs (Σ_c hub·deg can pass 2⁶³), and each
    * score is ONE division of exact operands — bit-stable regardless
    * of partition count. One broadcast join + one map-side-combined
    * aggregation per direction per round; localCheckpoint truncates
    * the iterative lineage.
    */
  private[graft] def hits(
      s: SparkSession, edges: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val nC = edges.select(col("c")).distinct().count()
    val nP = edges.select(col("p")).distinct().count()
    // size-guarded rounds (pageRankWeighted's shape, one frame per
    // flow direction): broadcast the node-side score vector while it
    // fits broadcastMaxRows; past it, keep TWO cached edge views —
    // partitioned+sorted on c and on p — so each direction's
    // sort-merge join moves only the score vector
    val big = math.max(nC, nP) > broadcastMaxRows
    val byC = coPartitionForRounds(edges, "c", big)
    val byP = coPartitionForRounds(edges, "p", big)
    var hub = edges.select(col("c")).distinct()
      .select(col("c"), lit(1.0 / nC).as("score"))
    var auth: DataFrame = null
    def flow(src: DataFrame, from: String, to: String): DataFrame = {
      val q = round(col("score") * PrScale).cast("long")
      val raw = (if (from == "c") byC else byP)
        .join(if (big) src else broadcast(src), Seq(from))
        .select(col(to), shiftright(q, 30).as("hi"), (q % PrLimb).as("lo"))
        .groupBy(col(to))
        .agg((sum(col("hi")) * PrLimb + sum(col("lo"))).as("raw"))
        .cache()
      val tot = raw.agg(sum(col("raw").cast(DecimalType(38, 0))).as("t"))
      val out = raw.crossJoin(broadcast(tot))
        .select(col(to),
          (col("raw").cast(DoubleType) / col("t").cast(DoubleType))
            .as("score"))
        .localCheckpoint()
      raw.unpersist(false)
      out
    }
    for (_ <- 1 to iters) {
      auth = flow(hub, "c", "p")
      hub = flow(auth, "p", "c")
    }
    if (big) { byC.unpersist(false); byP.unpersist(false) }
    (hub, auth)
  }

  /** HITS on the customer→part purchase bipartite graph, gate-hashed
    * like graph_pagerank: the oracle pins the exact graph shape
    * (customer/part/edge counts, the max-degree customer with id
    * tie-break) while the score vectors' invariants ride as
    * Spark-verified booleans (both L1 sums at 1 within 1e-9, strict
    * positivity — every node touches ≥1 edge). Score VALUES are
    * pinned by GraphSpec against a dense in-memory iteration and an
    * analytic star case, since no SQL engine can restate the
    * fixpoint.
    */
  val graphHits = GraftQuery(
    "graph_hits",
    (s, dir) => {
      val t = Tables(s, dir)
      val edges = t.orders.select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .cache()
      val (hub, auth) = hits(s, edges, HitsIters)
      val shape = edges.agg(count(lit(1)).as("n_edges"),
        countDistinct(col("c")).as("n_custs"),
        countDistinct(col("p")).as("n_parts"))
      val topCust = edges.groupBy(col("c")).agg(count(lit(1)).as("cdeg"))
        .orderBy(col("cdeg").desc, col("c"))
        .limit(1)
        .select(col("c").as("top_cust"), col("cdeg").as("top_cust_degree"))
      val gates = hub.agg(
          (abs(sum(col("score")) - 1.0) < lit(1e-9)).as("hub_sum_ok"),
          (min(col("score")) > lit(0.0)).as("hub_positive_ok"))
        .crossJoin(auth.agg(
          (abs(sum(col("score")) - 1.0) < lit(1e-9)).as("auth_sum_ok"),
          (min(col("score")) > lit(0.0)).as("auth_positive_ok")))
      val out = shape.crossJoin(broadcast(topCust)).crossJoin(gates)
        .select(col("n_custs"), col("n_parts"), col("n_edges"),
          col("top_cust"), col("top_cust_degree"),
          col("hub_sum_ok"), col("hub_positive_ok"),
          col("auth_sum_ok"), col("auth_positive_ok"))
      out.persist().count()
      edges.unpersist(false)
      out
    },
    Some("""
      WITH ed AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      cd AS (SELECT c, COUNT(*) AS cdeg FROM ed GROUP BY c),
      top AS (SELECT c AS top_cust, cdeg AS top_cust_degree
              FROM cd ORDER BY cdeg DESC, c LIMIT 1)
      SELECT (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) FROM ed) AS n_custs,
             (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) FROM ed) AS n_parts,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges,
             (SELECT top_cust FROM top) AS top_cust,
             (SELECT CAST(top_cust_degree AS BIGINT) FROM top)
               AS top_cust_degree,
             TRUE AS hub_sum_ok, TRUE AS hub_positive_ok,
             TRUE AS auth_sum_ok, TRUE AS auth_positive_ok
    """)
  )

  /** Max degree a wedge CENTER may have in the full-corpus link
    * prediction. Bounds the wedge product at Σ_{d(z)≤cap} d(z)² ≤
    * |V|·cap² — the same df-cap move the n-gram dedup uses — and
    * sits in the low-degree fringe band every SF has (see KcoreK).
    */
  val LinkHubCap = 60L

  /** Pairs reported by the full-corpus prediction. */
  val LinkTopPairs = 50

  /** Full-corpus link prediction with HUB-CAPPED wedge centers — the
    * scale path graph_link_prediction's scaladoc promises: instead of
    * a query set, score EVERY non-adjacent pair, but count only
    * common neighbors whose degree ≤ [[LinkHubCap]]. On a dense graph
    * all-pairs wedge enumeration is Σd² (quadratic in the hub
    * degrees); capping the centers bounds it at |V|·cap² — linear in
    * vertices — while keeping exactly the discriminative wedges (a
    * shared neighbor of degree 5000 carries no signal; a shared
    * neighbor of degree 20 does). The cap is part of the operator's
    * SEMANTICS, stated identically in both engines, so the gate hash
    * proves the capped score — not an approximation of the uncapped
    * one. Scale: centers resolve from the degree frame (broadcast
    * semi-join), the wedge self-join fans out ≤ cap per center row,
    * and the global top-k is TakeOrdered, never a full sort.
    */
  val graphLinkPredictionGlobal = GraftQuery(
    "graph_link_prediction_global",
    (s, dir) => {
      val (edges, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val centers = deg.filter(col("d") <= LinkHubCap).select(col("u").as("z"))
      val cs = sym.join(broadcast(centers), col("u") === col("z"))
        .select(col("u").as("z"), col("v").as("n"))
      val wedges = cs.as("x")
        .join(cs.as("y"),
          col("x.z") === col("y.z") && col("x.n") < col("y.n"))
        .groupBy(col("x.n").as("a"), col("y.n").as("b"))
        .agg(count(lit(1)).as("cn"))
      wedges
        .join(edges, col("a") === col("pa") && col("b") === col("pb"),
          "left_anti")
        .orderBy(col("cn").desc, col("a"), col("b"))
        .limit(LinkTopPairs)
    },
    Some(s"""
      WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
      centers AS (SELECT u AS z FROM deg WHERE d <= $LinkHubCap),
      cs AS (SELECT s.u AS z, s.v AS n FROM sym s JOIN centers c ON s.u = c.z),
      wedges AS (
        SELECT x.n AS a, y.n AS b, CAST(COUNT(*) AS BIGINT) AS cn
        FROM cs x JOIN cs y ON x.z = y.z AND x.n < y.n
        GROUP BY 1, 2),
      nonadj AS (
        SELECT w.* FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM e
                          WHERE e.pa = w.a AND e.pb = w.b))
      SELECT a, b, cn FROM nonadj
      ORDER BY cn DESC, a, b
      LIMIT $LinkTopPairs
    """)
  )

  /** Landmark sources for the sampled betweenness (top-degree, id
    * tie-break — the closeness discipline). */
  val BetweennessSources = 3
  /** Hop horizon for the sampled betweenness — bounded-exploration
    * semantics stated identically in both engines. */
  val BetweennessHorizon = 3

  /** Sampled Brandes betweenness: forward hop-bounded multi-source
    * BFS computing per-(source, node) distance AND exact
    * shortest-path counts σ (longs — the frontier-sum recurrence),
    * then the standard backward dependency accumulation
    * δ(v) = Σ_succ σ(v)/σ(w)·(1+δ(w)) level by level descending.
    * Returns (lm, node, dist, sigma, delta). Every σ is exact; δ is
    * the only IEEE value. Per-round cost is one equi-join + one
    * map-side-combined aggregation on (source, node) keys — sampled
    * sources is exactly how betweenness runs at scale (exact Brandes
    * is one BFS per VERTEX; landmarks bound it to K).
    */
  private[graft] def brandesSampled(
      sym: DataFrame, sources: DataFrame, horizon: Int): DataFrame = {
    var frontier = sources.select(col("lm"), col("lm").as("node"),
      lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(true)
    var visited = frontier
    for (d <- 1 to horizon) {
      frontier = frontier.join(sym, frontier("node") === sym("u"))
        .select(col("lm"), sym("v").as("node"), col("sigma"))
        .join(visited.select(col("lm"), col("node")), Seq("lm", "node"), "left_anti")
        .groupBy(col("lm"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("lm"), col("node"), lit(d.toLong).as("dist"), col("sigma"))
        .localCheckpoint(true)
      visited = visited.union(frontier).localCheckpoint(true)
    }
    var levelDelta = visited.filter(col("dist") === horizon.toLong)
      .select(col("lm"), col("node"), col("sigma"), lit(0.0).as("delta"))
      .localCheckpoint(true)
    var out = visited.filter(col("dist") === horizon.toLong)
      .select(col("lm"), col("node"), col("dist"), col("sigma"),
        lit(0.0).as("delta"))
    for (d <- (horizon - 1) to 0 by -1) {
      val lower = visited.filter(col("dist") === d.toLong)
      val up = levelDelta.select(col("lm").as("lmU"), col("node").as("succ"),
        col("sigma").as("sigU"), col("delta").as("delU"))
      val contrib = lower.join(sym, lower("node") === sym("u"))
        .select(lower("lm"), lower("node"), lower("sigma"), sym("v").as("nxt"))
        .join(up, col("lm") === col("lmU") && col("nxt") === col("succ"))
        .groupBy(col("lm"), col("node"))
        .agg(sum(col("sigma").cast(DoubleType) / col("sigU").cast(DoubleType)
          * (lit(1.0) + col("delU"))).as("delta"))
      val cur = lower.join(contrib, Seq("lm", "node"), "left")
        .select(col("lm"), col("node"), col("dist"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      out = out.union(cur)
      levelDelta = cur.select(col("lm"), col("node"), col("sigma"), col("delta"))
    }
    out
  }

  /** Betweenness centrality from [[BetweennessSources]] top-degree
    * landmarks within [[BetweennessHorizon]] hops. The oracle hashes
    * the EXACT forward surface — per-(landmark, node) distance and
    * shortest-path count σ, restated in DuckDB as a WALK-COUNT
    * grouped recursion (walks of minimal length ARE shortest paths,
    * and the per-iteration walk vector is node-sized, so the
    * recursive CTE never enumerates paths) — while the IEEE
    * dependency values ride as Spark-verified gates: δ ≥ 0 and the
    * Brandes flow identity Σ_v δ(v) = Σ_w dist(w) (each target's unit
    * splits across its shortest-path ancestors). δ VALUES are pinned
    * by GraphSpec against dense recomputes on analytic graphs (path,
    * diamond).
    */
  val graphBetweennessSampled = GraftQuery(
    "graph_betweenness_sampled",
    (s, dir) => {
      val (_, sym) = copurchaseGraphShared(s, dir)
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val lms = deg.orderBy(col("d").desc, col("u"))
        .limit(BetweennessSources).select(col("u").as("lm"))
      val bw = brandesSampled(sym, lms, BetweennessHorizon)
      val gates = bw.groupBy(col("lm")).agg(
          min(col("delta")).as("minD"),
          sum(col("delta")).as("sumD"),
          sum(col("dist")).cast(DoubleType).as("sumDist"))
        .select(col("lm"),
          (col("minD") >= 0.0).as("delta_nonneg_ok"),
          (abs(col("sumD") - col("sumDist")) <
            lit(1e-6) * greatest(col("sumDist"), lit(1.0)))
            .as("brandes_identity_ok"))
      val out = bw.join(broadcast(gates), Seq("lm"))
        .select(col("lm").as("landmark"), col("node"), col("dist"),
          col("sigma"), col("delta_nonneg_ok"), col("brandes_identity_ok"))
        .orderBy(col("landmark"), col("node"))
      out.persist().count()
      out
    },
    Some(s"""
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS pa, b.p AS pb
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
      lms AS (SELECT u AS lm FROM deg ORDER BY d DESC, u
              LIMIT $BetweennessSources),
      w(iter, lm, node, cnt) AS (
        SELECT 0, lm, lm, CAST(1 AS BIGINT) FROM lms
        UNION ALL
        SELECT t.iter + 1, t.lm, t.node, t.cnt FROM (
          SELECT p.iter, p.lm, y.v AS node, CAST(SUM(p.cnt) AS BIGINT) AS cnt
          FROM w p JOIN sym y ON y.u = p.node
          WHERE p.iter < $BetweennessHorizon
          GROUP BY 1, 2, 3) t),
      d AS (SELECT lm, node, MIN(iter) AS dist FROM w GROUP BY 1, 2),
      sp AS (
        SELECT w.lm, w.node, d.dist, w.cnt AS sigma
        FROM w JOIN d ON w.lm = d.lm AND w.node = d.node AND w.iter = d.dist)
      SELECT lm AS landmark, node, CAST(dist AS BIGINT) AS dist,
             CAST(sigma AS BIGINT) AS sigma,
             TRUE AS delta_nonneg_ok, TRUE AS brandes_identity_ok
      FROM sp ORDER BY landmark, node
    """)
  )

  /** Hop horizon for the weighted SSSP — both engines state the same
    * bounded-relaxation semantics (the ClosenessHorizon discipline):
    * distances are exact over paths of at most this many edges.
    */
  val SsspHops = 4
  /** Numerator of the integer edge length `(C + cnt − 1) / cnt`:
    * frequently-co-bought pairs are CLOSE (cnt=1 → 100, cnt=100 → 1),
    * and the integer division is exact in both engines.
    */
  val SsspLenScale = 100L

  /** Weighted single-source shortest paths (hop-bounded Bellman-Ford)
    * from the co-purchase graph's min-id node, edge length =
    * `(100 + cnt − 1) / cnt` (integer "rarity" cost — frequent
    * co-purchases are short). Each round relaxes EVERY edge once and
    * keeps the per-node MIN: state is a node-sized frame carried
    * forward (never a path set), so round cost is one equi-join + one
    * map-side-combined min aggregation regardless of how many paths
    * exist — the shape that survives 100 TB, where path enumeration
    * explodes but the distance map stays |V|. All arithmetic is exact
    * longs. The DuckDB oracle states the SAME Bellman-Ford recursion:
    * a recursive CTE whose step re-derives the full grouped distance
    * map (carry ∪ relax → MIN), sidestepping the path-explosion that
    * makes the naive bfs-style spelling infeasible on a dense graph.
    */
  val graphSsspWeighted = GraftQuery(
    "graph_sssp_weighted",
    (s, dir) => {
      // len = ceil(100/cnt) == (100+cnt−1)//cnt for positive ints; the
      // double ceil is provably exact here (100/cnt sits ≥ 1/cnt from
      // any integer unless cnt divides 100, and 1/cnt ≫ ulp(100))
      val symW = copurchaseWeightedShared(s, dir)
        .select(col("u"), col("v"),
          ceil(lit(SsspLenScale).cast(DoubleType) / col("cnt").cast(DoubleType))
            .cast("long").as("len"))
      val srcId = symW.agg(min(col("u"))).head().getLong(0)
      var dist = symW.select(col("u").as("node")).distinct()
        .filter(col("node") === srcId)
        .select(col("node"), lit(0L).as("d"))
        .localCheckpoint(true)
      for (_ <- 1 to SsspHops) {
        val relaxed = dist.join(symW, dist("node") === symW("u"))
          .select(symW("v").as("node"), (dist("d") + col("len")).as("d"))
        dist = dist.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("d")).as("d"))
          .localCheckpoint(true)
      }
      dist.select(col("node"), col("d").as("dist")).orderBy(col("node"))
    },
    Some(s"""
      WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      we AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2),
      sym AS (
        SELECT pa AS u, pb AS v, ($SsspLenScale + cnt - 1) // cnt AS len
        FROM we
        UNION ALL
        SELECT pb, pa, ($SsspLenScale + cnt - 1) // cnt FROM we),
      src AS (SELECT MIN(u) AS s FROM sym),
      sp(iter, node, d) AS (
        SELECT 0, s, CAST(0 AS BIGINT) FROM src
        UNION ALL
        SELECT t.iter + 1, t.node, t.d FROM (
          SELECT iter, node, MIN(d) AS d FROM (
            SELECT p.iter, p.node, p.d FROM sp p WHERE p.iter < $SsspHops
            UNION ALL
            SELECT p.iter, y.v AS node, p.d + y.len AS d
            FROM sp p JOIN sym y ON y.u = p.node
            WHERE p.iter < $SsspHops)
          GROUP BY 1, 2) t)
      SELECT node, d AS dist FROM sp WHERE iter = $SsspHops
      ORDER BY node
    """)
  )

  def all: Seq[GraftQuery] =
    Seq(graphDegreeStats, graphTriangles, graphPagerank, graphItemRecs,
      graphPagerankWeighted, graphCustomerSimilarity, graphCommunities,
      graphHierarchyRollup, graphBfsLevels, graphLinkPrediction,
      graphKcore, graphAssortativity, graphKtruss,
      graphLinkPredictionGlobal, graphClusteringCoeff, graphHits,
      graphCloseness, graphSsspWeighted, graphBetweennessSampled,
      graphPersonalizedPagerank, graphRandomWalks)
}
