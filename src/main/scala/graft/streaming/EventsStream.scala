package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.functions.GraftFunctions._

/** Structured Streaming surface over the events table (SURVEY §2.6
  * streaming row). The reference has no streams; this is the engine
  * extension the builder brief requires: watermarked windowed
  * aggregation and arbitrary-stateful sessionization.
  *
  * Each query drives a real `readStream → transform → writeStream`
  * pipeline synchronously over the parquet input (memory sink +
  * `processAllAvailable`), then returns the sink table — so the
  * verify harness checks STREAMING results against the BATCH DuckDB
  * oracle, proving the two surfaces agree. At scale the same plans
  * run against a file/Kafka source with triggers; state lives in the
  * HDFS-backed state store, partitioned by group key.
  */
object EventsStream {

  // (events stream schema is derived from the actual parquet footer —
  // see eventsStream below — so a testdata regeneration that changes
  // the ts physical type cannot silently skew the stream.)

  /** Stream a single parquet file as a file-source directory. The
    * file stream source needs a directory; the sf tables are single
    * files, so expose them through a temp-dir symlink (a real
    * deployment points this at the landing directory the producer
    * appends to).
    */
  private def fileStream(
      s: SparkSession, dir: String, file: String, schema: StructType): DataFrame = {
    val src = java.nio.file.Paths.get(dir, file)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.createSymbolicLink(tmp.resolve(file), src)
    s.readStream.schema(schema).parquet(tmp.toString)
  }

  /** Stream events with the SAME schema + ts normalization the batch
    * reader uses ([[graft.sources.Tables.normalizeEventsTs]]): the
    * stream schema comes from the real parquet footer (batch schema
    * probe, with the nanos legacy fallback), then the conditional ts
    * rebuild makes nanos-as-long, micros-NTZ and plain timestamp files
    * all land on micro-precision TimestampType. Batch and stream
    * surfaces therefore agree by construction, whatever the producer
    * wrote.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.eventsRawSchema(s, dir)
    graft.sources.Tables.normalizeEventsTs(
      fileStream(s, dir, "events.parquet", schema))
  }

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** State-store partition count for the replay queries.
    *
    * Structured Streaming pins state partitioning at the first
    * checkpoint from `spark.sql.shuffle.partitions`, so it is a
    * deliberate sizing decision, not an inherited default: it scales
    * with keyed-state volume and ingest throughput, NOT with the
    * batch shuffle width. Per-trigger overhead (one state-store
    * provider + checkpoint per partition per trigger) is linear in
    * the partition count whether or not a partition holds state —
    * measured at sf0.1, 32 → 8 partitions halves replay wall time
    * (sessionize 4.7 → 2.3s, hourly agg 5.4 → 2.7s) with identical
    * results (keyed aggregation is partition-count-agnostic). At real
    * scale this knob goes UP — thousands of partitions for billions
    * of keys; here it is sized to the test corpus' keyspace.
    */
  def StatePartitions: Int =
    graft.Knobs.int("graft.stream.stateParts", 8,
      env = Some("GRAFT_STATE_PARTS"))

  private def runToTable(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = "graft_sink_" + UUID.randomUUID().toString.replace("-", "")
    val s = df.sparkSession
    // the streaming query snapshots the conf at start(); restore the
    // batch shuffle width for everything that runs after the replay
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    try {
      val q = df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** Watermarked tumbling-window aggregation (1h windows by event
    * type). Complete mode so a single-batch replay emits every
    * window; the DuckDB oracle is the equivalent batch aggregation —
    * streaming and batch must agree exactly.
    */
  val streamHourlyAgg = GraftQuery(
    "stream_hourly_agg",
    (s, dir) => {
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("sum_dec"))
      val out = runToTable(agg, OutputMode.Complete())
      out.select(
        tsString(col("window.start")).as("hour_start"),
        col("event_type"), col("n"),
        col("sum_dec").cast("double").as("sum_value")
      ).orderBy(col("hour_start"), col("event_type"))
    },
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_start, event_type
    """)
  )

  case class Ev(user_id: Long, tsMicros: Long, value: Double)
  case class SessionSummary(
      user_id: Long, n_sessions: Long, n_events: Long, max_session_events: Long)

  /** Running per-user session bookkeeping carried in GroupState
    * across triggers: time of the last event seen, session count so
    * far, events in the currently-open session, the max session size
    * observed, and total events.
    */
  case class SessState(
      lastTs: Long, sessions: Long, cur: Long, maxEv: Long, total: Long)

  /** Gap from one event to the next that closes a session. */
  val SessionGapMinutes = 30L
  private val GapMicros = SessionGapMinutes * 60L * 1000000L

  /** Fold an ascending-sorted batch of event times into the running
    * session bookkeeping. The shared kernel of both sessionization
    * state functions.
    */
  private def mergeSorted(st: SessState, ts: Array[Long]): SessState = {
    var last = st.lastTs
    var sessions = st.sessions
    var cur = st.cur
    var maxEv = st.maxEv
    var total = st.total
    var i = 0
    while (i < ts.length) {
      if (last == Long.MinValue || ts(i) - last > GapMicros) { sessions += 1; cur = 1 }
      else cur += 1
      if (cur > maxEv) maxEv = cur
      last = ts(i)
      total += 1
      i += 1
    }
    SessState(last, sessions, cur, maxEv, total)
  }

  /** The flatMapGroupsWithState function: merges this trigger's
    * (time-sorted) events into the accrued GroupState, so sessions
    * spanning trigger boundaries are counted once, and emits the
    * user's updated summary. Within a trigger events are sorted by
    * event time; across triggers arrival order must follow event time
    * (the file-replay and append-log case — reordering ACROSS
    * triggers is [[sessionFnEventTime]]'s job). Exposed for the
    * multi-trigger spec.
    */
  def sessionFn(user: Long, rows: Iterator[Ev], state: GroupState[SessState])
      : Iterator[SessionSummary] = {
    val ts = rows.map(_.tsMicros).toArray.sorted
    if (ts.isEmpty) return Iterator.empty
    val st = mergeSorted(
      state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L, 0L, 0L)), ts)
    state.update(st)
    Iterator.single(SessionSummary(user, st.sessions, st.total, st.maxEv))
  }

  /** Reorder-buffer state for [[sessionFnEventTime]]: `pending` holds
    * event times newer than the watermark (bounded by what can arrive
    * inside the watermark delay — O(events per user per delay), never
    * the full history), `frontier` is the watermark up to which the
    * summary has been finalized, `dropped` counts events that arrived
    * later than the frontier (late beyond watermark — the same events
    * a watermarked aggregation would discard).
    */
  case class ReorderState(
      pending: Seq[Long], frontier: Long, st: SessState, dropped: Long)

  /** Out-of-order-tolerant sessionization: events buffer in GroupState
    * until the watermark passes them, then merge into the summary in
    * EVENT-TIME order — so arrival order across triggers no longer
    * matters, the production shape for sources that deliver late data
    * (the documented limitation of [[sessionFn]]). An event-time
    * timeout re-fires the group whenever the watermark overtakes the
    * oldest buffered event, so summaries advance on no-data batches
    * too. Requires `withWatermark` upstream and
    * `GroupStateTimeout.EventTimeTimeout`.
    */
  def sessionFnEventTime(
      user: Long, rows: Iterator[Ev], state: GroupState[ReorderState])
      : Iterator[SessionSummary] = {
    val prior = state.getOption.getOrElse(
      ReorderState(Seq.empty, Long.MinValue, SessState(Long.MinValue, 0L, 0L, 0L, 0L), 0L))
    val wmMicros = state.getCurrentWatermarkMs() * 1000L
    val incoming = rows.map(_.tsMicros).toArray
    // later than the finalized frontier they are not: merging them now
    // would rewind already-emitted sessions — drop, like a watermarked
    // aggregation drops late rows, and keep the count observable
    val (late, ok) = incoming.partition(_ <= prior.frontier)
    val (ready, hold) = (prior.pending ++ ok).partition(_ <= wmMicros)
    val merged =
      if (ready.nonEmpty) mergeSorted(prior.st, ready.toArray.sorted) else prior.st
    val frontier =
      if (ready.nonEmpty) math.max(prior.frontier, wmMicros) else prior.frontier
    state.update(ReorderState(hold, frontier, merged, prior.dropped + late.length))
    if (hold.nonEmpty)
      // fire when the watermark passes the oldest buffered event (must
      // be strictly ahead of the current watermark to be settable)
      state.setTimeoutTimestamp(
        math.max(hold.min / 1000L, state.getCurrentWatermarkMs() + 1L))
    if (ready.nonEmpty)
      Iterator.single(SessionSummary(user, merged.sessions, merged.total, merged.maxEv))
    else Iterator.empty
  }

  /** Arbitrary-stateful sessionization via flatMapGroupsWithState:
    * per-user sessions close after a 30-minute silence. GroupState
    * carries the running bookkeeping (O(1) per user — never the
    * user's event history), so sessions that span trigger boundaries
    * are counted once and a hot user cannot OOM a task. The DuckDB
    * oracle recomputes sessions relationally (lag + gap counting) —
    * stateful streaming must agree with the relational definition.
    */
  val streamSessionize = GraftQuery(
    "stream_sessionize",
    (s, dir) => {
      import s.implicits._
      val evs = eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"), col("value"))
        .as[Ev]
      val summarized = evs
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(sessionFn _)
      runToTable(summarized.toDF(), OutputMode.Update())
        .orderBy(col("user_id"))
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > ${SessionGapMinutes * 60L * 1000000L}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        FROM e),
      per_sess AS (
        SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY 1, 2)
      SELECT user_id,
             COUNT(*) AS n_sessions,
             CAST(SUM(n) AS BIGINT) AS n_events,
             CAST(MAX(n) AS BIGINT) AS max_session_events
      FROM per_sess
      GROUP BY user_id
      ORDER BY user_id
    """)
  )

  /** Streaming model inference: a GBT trained on the batch table is
    * broadcast into a streaming transform — the streaming-scoring
    * pipeline of SURVEY §7.5. Training fits on a deterministic 1-in-4
    * sample (the production shape: the model is fit offline on a
    * sample, the STREAM is scored in full — fit cost must not scale
    * with corpus size), scoring covers every streamed event. The sink
    * aggregates per (event_type, prediction); StreamScoreSpec pins
    * stream-vs-batch scoring equality with the identically-trained
    * model, which also makes this deterministic (fixed seed).
    */
  /** The deterministic 1-in-4 training fit stream_score uses. */
  private def scoreModel(s: SparkSession, dir: String): graft.ml.GraftBoost.GraftBoostModel = {
    import graft.ml.GraftBoost
    val t = graft.sources.Tables(s, dir)
    val batch = t.events
      .filter(pmod(col("event_id"), lit(4)) === 0)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      .withColumn("label", (col("event_type") === "purchase").cast("double"))
    GraftBoost.train(batch, Seq("value", "k"), "label",
      GraftBoost.BoostParams(numRound = 5, maxDepth = 3, maxBins = 16))
  }

  /** The streamed (event_type, prediction, n) counts — the operator
    * output StreamScoreSpec compares against batch scoring.
    */
  def streamScoreCounts(s: SparkSession, dir: String): DataFrame =
    streamScoreCountsWith(scoreModel(s, dir), s, dir)

  private def streamScoreCountsWith(
      model: graft.ml.GraftBoost.GraftBoostModel,
      s: SparkSession, dir: String): DataFrame = {
    import graft.ml.GraftBoost
    val stream = eventsStream(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
    val scored = GraftBoost.predict(model, stream)
      .groupBy(col("event_type"), col("prediction"))
      .agg(count(lit(1)).as("n"))
    runToTable(scored, OutputMode.Complete())
      .orderBy(col("event_type"), col("prediction"))
  }

  /** Oracle-checkable form: per-event_type totals (exact — every
    * event is scored exactly once regardless of prediction) + a
    * parity boolean asserting the streamed counts equal batch scoring
    * with the identically-trained model (the StreamScoreSpec
    * equivalence, embedded in the gated query itself).
    */
  val streamScore = GraftQuery(
    "stream_score",
    (s, dir) => {
      import graft.ml.GraftBoost
      // ONE fit shared by the streaming and batch-parity paths — the
      // parity check must compare scoring, not re-train
      val model = scoreModel(s, dir)
      val streamed = streamScoreCountsWith(model, s, dir)
      streamed.persist().count()
      val t = graft.sources.Tables(s, dir)
      val all = t.events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      val batchCounts = GraftBoost.predict(model, all)
        .groupBy(col("event_type"), col("prediction"))
        .agg(count(lit(1)).as("n"))
      val keys = Seq("event_type", "prediction", "n")
      val sOnly = streamed.join(batchCounts, keys, "left_anti")
        .agg(count(lit(1)).as("a"))
      val bOnly = batchCounts.join(streamed, keys, "left_anti")
        .agg(count(lit(1)).as("b"))
      val diffs = sOnly.crossJoin(bOnly)
        .select((col("a") + col("b")).as("n_diff"))
      val out = streamed
        .groupBy(col("event_type"))
        .agg(sum(col("n")).cast("long").as("n_events"))
        .crossJoin(diffs)
        .select(col("event_type"), col("n_events"),
          (col("n_diff") === 0).as("parity_ok"))
        .orderBy(col("event_type"))
      out.persist().count()
      streamed.unpersist(false)
      out
    },
    Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, TRUE AS parity_ok
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """)
  )

  /** Streaming exact dedup: `dropDuplicates` on the normalized
    * content hash keeps the first-seen copy of every document as the
    * corpus streams in — the online form of `dedup_exact`. Keyed
    * state is one 128-bit hash per distinct document (a real
    * deployment bounds it with `dropDuplicatesWithinWatermark` over
    * ingest time). Output is the distinct hash set, so the streaming
    * result is deterministic and equals the batch DuckDB oracle
    * regardless of arrival order.
    */
  val streamDedupExact = GraftQuery(
    "stream_dedup_exact",
    (s, dir) => {
      val docs = fileStream(s, dir, "documents.parquet", documentsSchema)
      val hashed = docs
        .select(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
          .cast("binary")).as("content_hash"))
        .dropDuplicates("content_hash")
      runToTable(hashed, OutputMode.Append())
        .orderBy(col("content_hash"))
    },
    Some("""
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
      FROM documents
      ORDER BY content_hash
    """)
  )

  /** Stream-static enrichment join: the event stream joined to a
    * static per-user profile (batch-computed purchase counts) — the
    * canonical "enrich the stream with a dimension" pipeline. The
    * static side is built once and broadcast into every micro-batch;
    * only the streaming aggregation keeps state. Oracle: the same
    * join expressed in batch SQL.
    */
  val streamEnrichProfile = GraftQuery(
    "stream_enrich_profile",
    (s, dir) => {
      val t = graft.sources.Tables(s, dir)
      val profile = t.events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"))
      val enriched = eventsStream(s, dir)
        .join(broadcast(profile), Seq("user_id"), "left")
        .groupBy(col("event_type"),
          coalesce(col("n_purchases") > 0, lit(false)).as("buyer"))
        .agg(count(lit(1)).as("n"))
      runToTable(enriched, OutputMode.Complete())
        .orderBy(col("event_type"), col("buyer"))
    },
    Some("""
      WITH prof AS (
        SELECT user_id, COUNT(*) AS np FROM events
        WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT e.event_type, coalesce(p.np > 0, false) AS buyer, COUNT(*) AS n
      FROM events e LEFT JOIN prof p ON e.user_id = p.user_id
      GROUP BY 1, 2
      ORDER BY event_type, buyer
    """)
  )

  /** Sessionization via Spark's NATIVE session_window aggregation —
    * the declarative counterpart of the flatMapGroupsWithState form
    * (stream_sessionize): the state store merges overlapping
    * event-gap windows per user. Complete mode emits every merged
    * window (Spark rejects Update for session windows); per-user
    * session stats then reduce the window rows. Both forms must agree
    * with the relational DuckDB definition — same oracle as
    * stream_sessionize.
    * (Gap boundary: session_window starts a new session at
    * diff ≥ gap, the lag-based oracle at diff > gap; the corpus'
    * continuous timestamps never land exactly on the boundary.)
    */
  val streamSessionWindow = GraftQuery(
    "stream_session_window",
    (s, dir) => {
      val windows = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), s"$SessionGapMinutes minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
      runToTable(windows, OutputMode.Complete())
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("n")).cast("long").as("n_events"),
          max(col("n")).cast("long").as("max_session_events"))
        .orderBy(col("user_id"))
    },
    streamSessionize.oracle
  )

  /** Theta-sketch k for the streaming distinct state (~32 KB/key max). */
  val StreamThetaK = 4096

  /** Streaming approximate distinct: a theta/KMV sketch carried in
    * GroupState per event type, updated with codegen-hashed user ids
    * (xxhash64 runs in the stream's select, the state fn only folds
    * pre-hashed longs). The state per key is the serialized sketch —
    * BOUNDED at k·8 bytes no matter how many distinct users flow
    * through, which is the whole point: exact streaming distinct
    * state grows with the key universe, sketch state does not. At the
    * test corpora the user space is under k, so the sketch is in its
    * exact regime and the estimate equals the true distinct; the gate
    * still allows the ≥k estimation error so a corpus refresh cannot
    * flip the hash. Oracle: exact batch distinct per event type.
    */
  val streamThetaDistinct = GraftQuery(
    "stream_theta_distinct",
    (s, dir) => {
      import s.implicits._
      import graft.plans.ThetaSketch
      val hashed = eventsStream(s, dir)
        .select(col("event_type"), xxhash64(col("user_id")).as("h"))
        .as[(String, Long)]
      val estimates = hashed
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (et: String, rows: Iterator[(String, Long)],
           state: GroupState[Array[Byte]]) =>
            val sk = state.getOption.map(ThetaSketch.deserialize)
              .getOrElse(new ThetaSketch(StreamThetaK))
            rows.foreach(r => sk.update(r._2))
            state.update(sk.serialize())
            (et, sk.estimate())
        }
        .toDF("event_type", "theta_est")
      // the memory sink keeps one row per trigger update; the running
      // estimate is monotone non-decreasing, so the final value per
      // key is its max — robust to multi-batch replays
      val streamed = runToTable(estimates.toDF(), OutputMode.Update())
        .groupBy(col("event_type"))
        .agg(max(col("theta_est")).as("theta_est"))
      val t = graft.sources.Tables(s, dir)
      val exact = t.events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      exact.join(broadcast(streamed), Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("theta_est") - col("exact_distinct")) <=
            greatest(lit(2L), (col("exact_distinct") * 0.05).cast("long")))
            .as("sketch_ok"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
             TRUE AS sketch_ok
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """)
  )

  /** Attribution window for the stream-stream join. */
  val AttributionMinutes = 30L

  /** Stream-STREAM watermarked interval join: two independent event
    * streams (clicks, purchases) joined on user within a bounded
    * event-time window — the click-to-purchase attribution pipeline.
    * The interval condition (`p_ts` in `[c_ts, c_ts + 30 min]`) plus
    * the watermarks is what lets Spark BOUND the join state: each
    * side's buffered rows are evicted once the other side's watermark
    * passes the window, so state is (ingest rate × window), never the
    * full history. The joined pairs land in the sink append-only;
    * per-user attribution counts then reduce them in batch. Oracle:
    * the identical interval join in batch SQL — streaming and batch
    * must agree row-for-row.
    */
  val streamStreamJoin = GraftQuery(
    "stream_stream_join",
    (s, dir) => {
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $AttributionMinutes MINUTES"))
      runToTable(joined, OutputMode.Append())
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          sum(dec2(col("p_value"))).cast("double").as("attributed_value"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      SELECT c.user_id AS user_id,
             COUNT(*) AS n_attributed,
             CAST(SUM(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_value
      FROM events c JOIN events p
        ON c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.user_id = c.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL $AttributionMinutes MINUTE
      GROUP BY 1
      ORDER BY user_id
    """)
  )

  /** Watermarked stream-stream LEFT OUTER join — the click-attribution
    * join of stream_stream_join plus the rows an inner join silently
    * drops: clicks with NO purchase in their attribution window.
    * Outer semantics in Structured Streaming are watermark-driven: an
    * unmatched click's null-padded row emits only when the global
    * watermark (min over both inputs of max-event-time − 1h) passes
    * the end of its match window and its state is evicted — Spark
    * runs a final no-data micro-batch for exactly this eviction.
    * Clicks still inside the watermark horizon at end of replay
    * remain in state and do NOT emit, and the DuckDB oracle states
    * that exact cutoff: an unmatched click counts iff
    * c.ts + attribution window < min(max click ts, max purchase ts) − 1h.
    * That a batch engine can restate the cutoff in closed form is the
    * point of the check: emission is a pure function of the data, not
    * of trigger timing.
    */
  val streamStreamLeftOuter = GraftQuery(
    "stream_stream_left_outer",
    (s, dir) => {
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $AttributionMinutes MINUTES"),
        "leftOuter")
      runToTable(joined, OutputMode.Append())
        .groupBy(col("c_user").as("user_id"))
        .agg(
          sum(when(col("p_user").isNotNull, 1L).otherwise(0L)).as("n_attributed"),
          sum(when(col("p_user").isNull, 1L).otherwise(0L)).as("n_unattributed"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      WITH wm AS (
        SELECT least(
          (SELECT max(ts) FROM events WHERE event_type = 'click'),
          (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
          - INTERVAL 1 HOUR AS w),
      matched AS (
        SELECT c.user_id, COUNT(*) AS n_attributed
        FROM events c JOIN events p
          ON c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.user_id = c.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL $AttributionMinutes MINUTE
        GROUP BY 1),
      expired_unmatched AS (
        SELECT c.user_id, COUNT(*) AS n_unattributed
        FROM events c, wm
        WHERE c.event_type = 'click'
          AND c.ts + INTERVAL $AttributionMinutes MINUTE < wm.w
          AND NOT EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
              AND p.ts >= c.ts
              AND p.ts <= c.ts + INTERVAL $AttributionMinutes MINUTE)
        GROUP BY 1)
      SELECT COALESCE(m.user_id, e.user_id) AS user_id,
             CAST(COALESCE(m.n_attributed, 0) AS BIGINT) AS n_attributed,
             CAST(COALESCE(e.n_unattributed, 0) AS BIGINT) AS n_unattributed
      FROM matched m FULL OUTER JOIN expired_unmatched e
        ON e.user_id = m.user_id
      ORDER BY user_id
    """)
  )

  /** Watermarked stream-stream LEFT SEMI join — "which clicks
    * converted": each click emits AT MOST ONCE, as soon as any
    * purchase lands in its attribution window, regardless of how many
    * purchases match — the dedup the inner join can't express without
    * a post-aggregate. Same interval condition + watermarks as
    * stream_stream_join, so state stays (rate × window)-bounded; the
    * semi side's state entry is retired on first match instead of
    * fanning out. Emission is match-driven (not eviction-driven): a
    * purchase always arrives before its click's state expires (the
    * match window is 30 min, the watermark 1 h), so the batch oracle
    * is a plain EXISTS with no watermark-cutoff clause.
    */
  val streamStreamSemi = GraftQuery(
    "stream_stream_semi",
    (s, dir) => {
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $AttributionMinutes MINUTES"),
        "left_semi")
      runToTable(joined, OutputMode.Append())
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_converting_clicks"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      SELECT c.user_id AS user_id, COUNT(*) AS n_converting_clicks
      FROM events c
      WHERE c.event_type = 'click'
        AND EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
            AND p.ts >= c.ts
            AND p.ts <= c.ts + INTERVAL $AttributionMinutes MINUTE)
      GROUP BY 1
      ORDER BY user_id
    """)
  )

  /** Watermarked stream-stream FULL OUTER join — the complete
    * attribution ledger: matched (click, purchase) pairs, clicks that
    * never converted, AND purchases with no preceding click ("organic"
    * conversions the left join hides). Null-padded rows on EACH side
    * emit when the global watermark proves no future partner can
    * match: an unmatched click once wm passes the END of its forward
    * window (c_ts + attribution window), an unmatched purchase once
    * wm passes its own timestamp (its candidate clicks all have
    * c_ts ≤ p_ts, and rows below wm are no longer admitted). Both
    * cutoffs are stated in closed form by the DuckDB oracle — the
    * left-outer discipline extended to the symmetric case, proving
    * emission is a pure function of the data on both sides at once.
    */
  val streamStreamFullOuter = GraftQuery(
    "stream_stream_full_outer",
    (s, dir) => {
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $AttributionMinutes MINUTES"),
        "fullOuter")
      runToTable(joined, OutputMode.Append())
        .groupBy(coalesce(col("c_user"), col("p_user")).as("user_id"))
        .agg(
          sum(when(col("c_user").isNotNull && col("p_user").isNotNull, 1L)
            .otherwise(0L)).as("n_attributed"),
          sum(when(col("p_user").isNull, 1L).otherwise(0L))
            .as("n_unmatched_clicks"),
          sum(when(col("c_user").isNull, 1L).otherwise(0L))
            .as("n_organic_purchases"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      WITH wm AS (
        SELECT least(
          (SELECT max(ts) FROM events WHERE event_type = 'click'),
          (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
          - INTERVAL 1 HOUR AS w),
      matched AS (
        SELECT c.user_id, COUNT(*) AS n_attributed
        FROM events c JOIN events p
          ON c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.user_id = c.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL $AttributionMinutes MINUTE
        GROUP BY 1),
      expired_clicks AS (
        SELECT c.user_id, COUNT(*) AS n_unmatched_clicks
        FROM events c, wm
        WHERE c.event_type = 'click'
          AND c.ts + INTERVAL $AttributionMinutes MINUTE < wm.w
          AND NOT EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
              AND p.ts >= c.ts
              AND p.ts <= c.ts + INTERVAL $AttributionMinutes MINUTE)
        GROUP BY 1),
      expired_purchases AS (
        SELECT p.user_id, COUNT(*) AS n_organic_purchases
        FROM events p, wm
        WHERE p.event_type = 'purchase'
          AND p.ts < wm.w
          AND NOT EXISTS (
            SELECT 1 FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND p.ts >= c.ts
              AND p.ts <= c.ts + INTERVAL $AttributionMinutes MINUTE)
        GROUP BY 1)
      SELECT COALESCE(m.user_id, ec.user_id, ep.user_id) AS user_id,
             CAST(COALESCE(m.n_attributed, 0) AS BIGINT) AS n_attributed,
             CAST(COALESCE(ec.n_unmatched_clicks, 0) AS BIGINT)
               AS n_unmatched_clicks,
             CAST(COALESCE(ep.n_organic_purchases, 0) AS BIGINT)
               AS n_organic_purchases
      FROM matched m
      FULL OUTER JOIN expired_clicks ec ON ec.user_id = m.user_id
      FULL OUTER JOIN expired_purchases ep
        ON ep.user_id = COALESCE(m.user_id, ec.user_id)
      ORDER BY user_id
    """)
  )

  /** Reservoir size for the streaming weighted sampler. */
  val SampleR = 10

  case class DocKey(source: String, doc_id: Long, akey: Double)
  case class SampleState(topR: Seq[(Double, Long)], nSeen: Long)
  case class SampleOut(source: String, n_seen: Long, sample_ids: Seq[Long])

  /** Streaming weighted reservoir (Efraimidis–Spirakis A-ES) state
    * fn: keep the R largest (key, doc) pairs per source, where
    * key = ln(u)/w with u a deterministic per-doc uniform and w the
    * doc's weight — a streaming one-pass weighted sample without
    * replacement. State is O(R) per source no matter how much flows
    * through; because u derives from the doc id (not a runtime RNG),
    * the sample is a pure function of the data set — arrival order,
    * triggers, and partitioning cannot change it, which is what lets
    * the batch path verify the stream path exactly.
    */
  def weightedSampleFn(
      src: String, rows: Iterator[DocKey], state: GroupState[SampleState])
      : Iterator[SampleOut] = {
    val prior = state.getOption.getOrElse(SampleState(Seq.empty, 0L))
    var n = prior.nSeen
    val buf = scala.collection.mutable.ArrayBuffer[(Double, Long)](prior.topR: _*)
    rows.foreach { r => n += 1; buf += ((r.akey, r.doc_id)) }
    val top = buf.sortBy { case (k, id) => (-k, id) }.take(SampleR).toSeq
    state.update(SampleState(top, n))
    Iterator.single(SampleOut(src, n, top.map(_._2).sorted.toSeq))
  }

  /** The A-ES key column: ln(u)/weight, u = (hash >>> 11 + 1)/2^53 —
    * a deterministic uniform in (0, 1] derived from the doc id.
    * Computed with the SAME Spark expression on the stream and batch
    * sides, so both paths compare bit-identical doubles.
    */
  private def aesKey(idCol: org.apache.spark.sql.Column,
      weightCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    log((shiftrightunsigned(xxhash64(idCol), 11) + 1).cast("double")
      / lit((1L << 53).toDouble)) / weightCol

  /** Streaming weighted sampling: a per-source A-ES reservoir (longer
    * documents proportionally likelier, w = n_chars) maintained in
    * bounded GroupState while the corpus streams in — the online form
    * of the batch temperature/PPS samplers. The embedded parity gate
    * recomputes the same top-R selection relationally over the batch
    * table; stream and batch must pick the IDENTICAL sample. Oracle:
    * exact per-source counts (the sample itself is engine-specific —
    * the parity bit pins it).
    */
  val streamWeightedSample = GraftQuery(
    "stream_weighted_sample",
    (s, dir) => {
      import s.implicits._
      val keyed = fileStream(s, dir, "documents.parquet", documentsSchema)
        .select(col("source"), col("doc_id"),
          aesKey(col("doc_id"), col("n_chars").cast("double")).as("akey"))
        .as[DocKey]
      val sampled = keyed
        .groupByKey(_.source)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          weightedSampleFn _)
      // one row per trigger per source; n_seen is monotone, so the
      // final reservoir is the row with max n_seen
      val streamed = runToTable(sampled.toDF(), OutputMode.Update())
        .groupBy(col("source"))
        .agg(max(struct(col("n_seen"), col("sample_ids"))).as("m"))
        .select(col("source"), col("m.n_seen").as("n_docs"),
          col("m.sample_ids").as("stream_sample"))
      val t = graft.sources.Tables(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("akey").desc, col("doc_id"))
      val batchTop = t.documents
        .select(col("source"), col("doc_id"),
          aesKey(col("doc_id"), col("n_chars").cast("double")).as("akey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= SampleR)
        .groupBy(col("source"))
        .agg(sort_array(collect_list(col("doc_id"))).as("batch_sample"))
      streamed.join(batchTop, Seq("source"))
        .select(col("source"), col("n_docs"),
          size(col("stream_sample")).cast("long").as("sample_size"),
          (col("stream_sample") === col("batch_sample")).as("parity_ok"))
        .orderBy(col("source"))
    },
    Some("""
      SELECT source, COUNT(*) AS n_docs,
             LEAST(10, COUNT(*)) AS sample_size,
             TRUE AS parity_ok
      FROM documents
      GROUP BY source
      ORDER BY source
    """)
  )

  case class KeyedEv(user_id: Long, tsMicros: Long, event_id: Long, value: Double)
  case class LatestState(tsMicros: Long, event_id: Long, value: Double, n: Long)
  case class LatestOut(
      user_id: Long, n_events: Long, last_event_id: Long, last_value: Double)

  /** Changelog materialization state fn: latest value per key by
    * (event time, event id) — O(1) state per key, the streaming MERGE
    * that keeps a serving table current from an event feed. The
    * ordering is by EVENT time with a total tie-break, so the
    * materialized row is a pure function of the data set, not of
    * arrival order.
    */
  def latestFn(user: Long, rows: Iterator[KeyedEv], state: GroupState[LatestState])
      : Iterator[LatestOut] = {
    var st = state.getOption.getOrElse(LatestState(Long.MinValue, Long.MinValue, 0.0, 0L))
    rows.foreach { r =>
      val newer = r.tsMicros > st.tsMicros ||
        (r.tsMicros == st.tsMicros && r.event_id > st.event_id)
      st = LatestState(
        if (newer) r.tsMicros else st.tsMicros,
        if (newer) r.event_id else st.event_id,
        if (newer) r.value else st.value,
        st.n + 1)
    }
    state.update(st)
    Iterator.single(LatestOut(user, st.n, st.event_id, st.value))
  }

  /** Streaming changelog → serving snapshot: per-user latest purchase
    * value materialized in O(1) keyed state as events stream in (the
    * online counterpart of q44's batch CDC upsert). Oracle: the batch
    * last-per-key window over the same feed — stream and batch
    * snapshots must agree row-for-row.
    */
  val streamUpsertLatest = GraftQuery(
    "stream_upsert_latest",
    (s, dir) => {
      import s.implicits._
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
          col("event_id"), col("value"))
        .as[KeyedEv]
      val latest = purchases
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          latestFn _)
      // n_events is monotone per user: the final snapshot row wins
      runToTable(latest.toDF(), OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("last_event_id"), col("last_value")))
          .as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          col("m.last_event_id").as("last_event_id"),
          col("m.last_value").as("last_value"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH ranked AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
                 AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events WHERE event_type = 'purchase')
      SELECT user_id, n_events, event_id AS last_event_id, value AS last_value
      FROM ranked WHERE rn = 1
      ORDER BY user_id
    """)
  )

  case class CdcEv(user_id: Long, tsMicros: Long, event_id: Long,
      value: Double, isDelete: Boolean)
  case class CdcState(tsMicros: Long, event_id: Long, value: Double,
      isDelete: Boolean, n: Long)
  case class CdcOut(user_id: Long, n_ops: Long, last_event_id: Long,
      last_value: Double, is_deleted: Boolean)

  /** CDC apply with TOMBSTONES: latest op per key by (event time, id)
    * where a delete op suppresses the serving row instead of updating
    * it — the semantics stream_upsert_latest can't express, and the
    * half of changelog materialization (Debezium-style op streams,
    * compacted-topic replication) that actually bites in production.
    * A later upsert resurrects the key, so the snapshot is a pure
    * function of the data set regardless of arrival order. State is
    * O(1) per key; the tombstone marker itself must be RETAINED (not
    * dropped on delete) so late out-of-order upserts older than the
    * delete stay suppressed — at scale it ages out by event-time
    * timeout once the watermark passes it.
    */
  def cdcFn(user: Long, rows: Iterator[CdcEv], state: GroupState[CdcState])
      : Iterator[CdcOut] = {
    var st = state.getOption.getOrElse(
      CdcState(Long.MinValue, Long.MinValue, 0.0, isDelete = true, 0L))
    rows.foreach { r =>
      val newer = r.tsMicros > st.tsMicros ||
        (r.tsMicros == st.tsMicros && r.event_id > st.event_id)
      st = CdcState(
        if (newer) r.tsMicros else st.tsMicros,
        if (newer) r.event_id else st.event_id,
        if (newer) r.value else st.value,
        if (newer) r.isDelete else st.isDelete,
        st.n + 1)
    }
    state.update(st)
    Iterator.single(CdcOut(user, st.n, st.event_id, st.value, st.isDelete))
  }

  /** Streaming CDC snapshot with deletes: purchases upsert a user's
    * serving row, errors tombstone it; the materialized table contains
    * exactly the users whose LATEST op (event-time order, id
    * tie-break) was an upsert. Final snapshot = last emission per key
    * (n_ops is monotone) with tombstoned keys filtered — the batch
    * oracle is the same last-op-wins window with the delete rows
    * dropping out of the final WHERE.
    */
  val streamCdcTombstones = GraftQuery(
    "stream_cdc_tombstones",
    (s, dir) => {
      import s.implicits._
      val ops = eventsStream(s, dir)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
          col("event_id"), col("value"),
          (col("event_type") === "error").as("isDelete"))
        .as[CdcEv]
      val applied = ops
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          cdcFn _)
      runToTable(applied.toDF(), OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_ops"), col("last_event_id"),
          col("last_value"), col("is_deleted"))).as("m"))
        .filter(!col("m.is_deleted"))
        .select(col("user_id"), col("m.n_ops").as("n_ops"),
          col("m.last_event_id").as("last_event_id"),
          col("m.last_value").as("last_value"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH ops AS (
        SELECT user_id, ts, event_id, value, event_type
        FROM events WHERE event_type IN ('purchase', 'error')),
      ranked AS (
        SELECT user_id, event_id, value, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        FROM ops)
      SELECT user_id, CAST(n_ops AS BIGINT) AS n_ops,
             event_id AS last_event_id, value AS last_value
      FROM ranked WHERE rn = 1 AND event_type = 'purchase'
      ORDER BY user_id
    """)
  )

  /** Misra-Gries capacity for stream_heavy_hitters: small on purpose
    * so the n/(k+1) heavy-item guarantee BINDS on the test stream (the
    * derived key below concentrates ~25% of each type's arrivals on
    * one item — far above 1/9).
    */
  val StreamMGCapacity = 8

  /** Top users reported per event type. */
  val StreamHeavyTopN = 5

  /** Streaming frequent items: a Misra-Gries sketch per event type as
    * bounded GroupState (k counters = k strings + k longs per key, the
    * streaming analog of text_heavy_hitters). The item key is derived
    * 25%-hot (q39's skew trick) so the MG guarantee — any item with
    * frequency > n/(k+1) survives in the summary — is exercised for
    * real, not vacuously. Each trigger emits the running candidate
    * set; the last emission (max rows seen, monotone) is checked
    * against the exact batch counts: every provably-heavy item must
    * appear among the candidates (mg_ok). The hashable output is the
    * exact per-type top-5 — which the sketch's candidates must cover
    * for heavy items — with the coverage gate riding as a boolean.
    */
  val streamHeavyHitters = GraftQuery(
    "stream_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      import graft.plans.MGSketch
      val itemCol = when(pmod(col("user_id"), lit(4)) === 0, lit("hot_user"))
        .otherwise(concat(lit("u"), col("user_id")))
      val typed = eventsStream(s, dir)
        .select(col("event_type"), itemCol.as("item"))
        .as[(String, String)]
      val perTrigger = typed
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (et: String, rows: Iterator[(String, String)],
           state: GroupState[(Long, Array[Byte])]) =>
            val (seen0, bytes) = state.getOption.getOrElse((0L, null))
            val sk = if (bytes == null) new MGSketch(StreamMGCapacity)
                     else MGSketch.deserialize(bytes)
            var seen = seen0
            rows.foreach { r => sk.update(r._2); seen += 1 }
            state.update((seen, sk.serialize()))
            (et, seen, sk.items().map(_._1))
        }
        .toDF("event_type", "n_seen", "candidates")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("n_seen").desc)
      val lastTrigger = runToTable(perTrigger, OutputMode.Update())
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), explode(col("candidates")).as("item"))
      val t = graft.sources.Tables(s, dir)
      val exact = t.events
        .select(col("event_type"), itemCol.as("item"))
        .groupBy(col("event_type"), col("item"))
        .agg(count(lit(1)).as("cnt")).cache()
      val totals = exact.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n_type"))
      val heavy = exact.join(broadcast(totals), Seq("event_type"))
        .filter(col("cnt") * (StreamMGCapacity + 1) > col("n_type"))
      val missing = heavy
        .join(lastTrigger, Seq("event_type", "item"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cnt").desc, col("item"))
      val out = exact
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .filter(col("rank") <= StreamHeavyTopN)
        .crossJoin(broadcast(missing))
        .select(col("event_type"), col("rank"), col("item"), col("cnt"),
          (col("n_missing") === 0).as("mg_ok"))
        .orderBy(col("event_type"), col("rank"))
      out.persist().count()
      exact.unpersist(false)
      out
    },
    Some(s"""
      WITH ev AS (
        SELECT event_type,
               CASE WHEN user_id % 4 = 0 THEN 'hot_user'
                    ELSE 'u' || CAST(user_id AS VARCHAR) END AS item
        FROM events),
      ex AS (SELECT event_type, item, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
      ranked AS (
        SELECT event_type, item, cnt,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY cnt DESC, item) AS BIGINT) AS rank
        FROM ex)
      SELECT event_type, rank, item, cnt, TRUE AS mg_ok
      FROM ranked WHERE rank <= $StreamHeavyTopN
      ORDER BY event_type, rank
    """)
  )

  case class TypedEv(
      user_id: Long, event_id: Long, tsMicros: Long, event_type: String)

  /** Pattern-automaton state carried per user: the latest view time,
    * the latest click together with the view that preceded it, and
    * the match bookkeeping. O(1) per user — the automaton never
    * retains event history, only the frontier the pattern semantics
    * need (Long.MinValue = "none yet").
    */
  case class PatternState(
      lastView: Long, pairTv: Long, pairTc: Long,
      nPurchases: Long, nMatches: Long, firstMatch: Long,
      nEvents: Long = 0L)

  case class PatternSummary(
      user_id: Long, n_purchases: Long, n_matches: Long,
      first_match_us: Option[Long], n_events: Long = 0L)

  /** view→click→purchase completion window (purchase-anchored; sized
    * to the corpus' per-user event cadence — ~7% of purchases
    * complete the funnel, so both outcomes are exercised).
    */
  val PatternWindowMicros = 24L * 3600L * 1000000L

  /** CEP fold for [[streamPatternMatch]]: within a trigger, events
    * are processed in (event-time, event_id) order; a purchase
    * matches iff the latest prior click exists and the latest view
    * preceding THAT click falls within the pattern window before
    * the purchase (so view < click < purchase all inside the window —
    * the MATCH_RECOGNIZE `V any* C any* P` shape with LAST-per-stage
    * binding, which is exactly SQL-expressible for the oracle).
    * Cross-trigger arrival must follow event time (the replay/
    * append-log case, as [[sessionFn]]; the reorder-buffer upgrade is
    * [[sessionFnEventTime]]'s pattern).
    */
  def patternFn(
      user: Long, rows: Iterator[TypedEv], state: GroupState[PatternState])
      : Iterator[PatternSummary] = {
    val evs = rows.toArray.sortBy(e => (e.tsMicros, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(PatternState(
      Long.MinValue, Long.MinValue, Long.MinValue, 0L, 0L, Long.MinValue, 0L))
    st = st.copy(nEvents = st.nEvents + evs.length)
    var i = 0
    while (i < evs.length) {
      val e = evs(i)
      e.event_type match {
        case "view" =>
          st = st.copy(lastView = e.tsMicros)
        case "click" =>
          st = st.copy(pairTv = st.lastView, pairTc = e.tsMicros)
        case "purchase" =>
          val matched = st.pairTc != Long.MinValue &&
            st.pairTv != Long.MinValue &&
            st.pairTv >= e.tsMicros - PatternWindowMicros
          st = st.copy(
            nPurchases = st.nPurchases + 1,
            nMatches = st.nMatches + (if (matched) 1 else 0),
            firstMatch = if (matched && st.firstMatch == Long.MinValue)
              e.tsMicros else st.firstMatch)
        case _ => ()
      }
      i += 1
    }
    state.update(st)
    Iterator.single(PatternSummary(user, st.nPurchases, st.nMatches,
      if (st.firstMatch == Long.MinValue) None else Some(st.firstMatch),
      st.nEvents))
  }

  /** Streaming complex-event-processing: per-user funnel-pattern
    * completion (view→click→purchase within the pattern window) as an O(1)
    * keyed automaton — the streaming form of MATCH_RECOGNIZE that
    * engines bolt on as a separate CEP library, here a
    * flatMapGroupsWithState fold whose semantics the DuckDB oracle
    * restates with two chained window passes (latest-view-before-
    * each-click, then latest-click-before-each-purchase). State is
    * three timestamps + three counters per user regardless of event
    * volume or window length.
    */
  val streamPatternMatch = GraftQuery(
    "stream_pattern_match",
    (s, dir) => {
      import s.implicits._
      val evs = eventsStream(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsMicros"), col("event_type"))
        .as[TypedEv]
      val out = evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(patternFn _)
      // Update mode emits one cumulative row per (user, trigger);
      // keep only each user's FINAL-trigger row (max n_events — the
      // monotone per-user event counter), as streamQuantiles does
      val wLast = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      runToTable(out.toDF(), OutputMode.Update())
        .withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_purchases"), col("n_matches"),
          tsString(timestamp_micros(col("first_match_us"))).as("first_match_s"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      WITH base AS (
        SELECT user_id, event_id, event_type, ts,
               max(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_view
        FROM events),
      p2 AS (
        SELECT user_id, event_type, ts,
               last_value(CASE WHEN event_type = 'click'
                               THEN {'tc': ts, 'tv': last_view} END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pair
        FROM base)
      SELECT user_id,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
             COUNT(*) FILTER (WHERE event_type = 'purchase'
               AND pair.tv IS NOT NULL
               AND epoch_us(pair.tv) >= epoch_us(ts) - $PatternWindowMicros)
               AS n_matches,
             strftime(MIN(ts) FILTER (WHERE event_type = 'purchase'
               AND pair.tv IS NOT NULL
               AND epoch_us(pair.tv) >= epoch_us(ts) - $PatternWindowMicros),
               '%Y-%m-%d %H:%M:%S') AS first_match_s
      FROM p2
      GROUP BY user_id
      ORDER BY user_id
    """)
  )

  /** KLL accuracy budget: k=200 ⇒ one-sided rank error well under 3%
    * at this stream size; the audit gate asserts the realized rank of
    * each estimate, which is the guarantee KLL actually makes.
    */
  val StreamKllK = 200
  val StreamKllRankEps = 0.03

  /** Streaming percentile monitor: a per-event-type KLL sketch lives
    * in GroupState and absorbs each trigger's values — the latency-
    * dashboard shape (p50/p95 per service, continuously updated).
    * State is the KB-sized sketch binary regardless of stream length
    * (vs exact quantiles' unbounded buffer), updates are O(1)
    * amortized, and sketches would MERGE across repartitions or
    * window closes (same property the batch q35 aggregate uses).
    * The registered output audits the final-trigger estimates
    * against the exact batch distribution: realized rank within
    * [[StreamKllRankEps]] of target, plus a completeness bit proving
    * the sketch saw every event exactly once across triggers.
    */
  val streamQuantiles = GraftQuery(
    "stream_quantiles",
    (s, dir) => {
      import s.implicits._
      import graft.plans.KLLSketch
      val typed = eventsStream(s, dir)
        .select(col("event_type"), col("value")).as[(String, Double)]
      val perTrigger = typed.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (et: String, rows: Iterator[(String, Double)],
           state: GroupState[(Long, Array[Byte])]) =>
            val (seen0, bytes) = state.getOption.getOrElse((0L, null))
            val sk = if (bytes == null) new KLLSketch(StreamKllK)
                     else KLLSketch.deserialize(bytes)
            var seen = seen0
            rows.foreach { r => sk.update(r._2); seen += 1 }
            state.update((seen, sk.serialize()))
            (et, seen, sk.quantile(0.5), sk.quantile(0.95))
        }
        .toDF("event_type", "n_seen", "kll_p50", "kll_p95")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("n_seen").desc)
      val last = runToTable(perTrigger, OutputMode.Update())
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n_seen"),
          col("kll_p50"), col("kll_p95"))
      val t = graft.sources.Tables(s, dir)
      t.events.select(col("event_type"), col("value"))
        .join(broadcast(last), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          first(col("n_seen")).as("n_seen"),
          (sum(when(col("value") <= col("kll_p50"), 1L).otherwise(0L))
            / count(lit(1))).as("f50"),
          (sum(when(col("value") <= col("kll_p95"), 1L).otherwise(0L))
            / count(lit(1))).as("f95"))
        .select(col("event_type"), col("n_events"),
          (col("n_seen") === col("n_events")).as("complete"),
          (abs(col("f50") - 0.5) <= StreamKllRankEps &&
            abs(col("f95") - 0.95) <= StreamKllRankEps).as("sketch_ok"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, COUNT(*) AS n_events,
             TRUE AS complete, TRUE AS sketch_ok
      FROM events GROUP BY event_type ORDER BY event_type
    """)
  )

  /** Streaming incremental dedup: the arriving crawl increment (the
    * same modulo split dedup_incremental uses) screened per-document
    * against the STANDING corpus's content-hash set — batch-built
    * once, broadcast into every micro-batch (stream-static join, no
    * state store at all: the verdict needs no cross-batch memory
    * because the reference set is static within the run). This is the
    * streaming face of dedup_incremental's exact leg: at 100 TB the
    * broadcast set becomes a Bloom filter (exactly the
    * text_decontaminate_bloom build) with hash-set fallback on
    * probable hits. Append mode — each doc's verdict emits once.
    */
  val streamIncrementalDedup = GraftQuery(
    "stream_incremental_dedup",
    (s, dir) => {
      import graft.operators.Dedup.{IncrMod, IncrRem}
      val t = graft.sources.Tables(s, dir)
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      val corpusHashes = t.documents
        .filter(!(col("doc_id") % IncrMod === IncrRem))
        .select(md5(norm.cast("binary")).as("h")).distinct()
        .withColumn("in_corpus", lit(true))
      val verdicts = fileStream(s, dir, "documents.parquet", documentsSchema)
        .filter(col("doc_id") % IncrMod === IncrRem)
        .select(col("doc_id"), md5(norm.cast("binary")).as("h"))
        .join(broadcast(corpusHashes), Seq("h"), "left")
        .select(col("doc_id"), coalesce(col("in_corpus"), lit(false)).as("exact_dup"))
      runToTable(verdicts, OutputMode.Append())
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
        FROM documents),
      corpus AS (
        SELECT DISTINCT h FROM h
        WHERE doc_id % ${graft.operators.Dedup.IncrMod} <> ${graft.operators.Dedup.IncrRem})
      SELECT i.doc_id, (c.h IS NOT NULL) AS exact_dup
      FROM h i LEFT JOIN corpus c ON c.h = i.h
      WHERE i.doc_id % ${graft.operators.Dedup.IncrMod} = ${graft.operators.Dedup.IncrRem}
      ORDER BY i.doc_id
    """)
  )

  /** Streaming anomaly detection against a trailing EWMA baseline:
    * per user, each event's integer-cent value is compared to the
    * truncated power-of-2 EWMA of its PREVIOUS seven values (the
    * q58_ewma_smoothing discipline — weights 64..1, numerator and
    * denominator both exact integers), and flagged when it exceeds
    * 2× the baseline, as an integer cross-product compare
    * (`cents·den > 2·num`) so stream and batch agree bit-for-bit.
    * State per user is the last-7 ring (7 longs — O(keys) state, no
    * growth with stream length); rows are event-time-ordered inside
    * each micro-batch, and the ring carries ordering across batches,
    * so replay ≡ the batch lag-window oracle. The first events of a
    * user (empty baseline, den = 0) are never flagged — on both
    * engines.
    */
  val streamEwmaAnomaly = GraftQuery(
    "stream_ewma_anomaly",
    (s, dir) => {
      import s.implicits._
      val typed = eventsStream(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, Long, Long, Long)]
      val flagged = typed.groupByKey(_._1)
        .flatMapGroupsWithState[Array[Long], (Long, Long, Long, Long, Long, Boolean)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
           state: GroupState[Array[Long]]) =>
            var hist = state.getOption.getOrElse(Array.empty[Long]) // most recent first
            val out = rows.toArray.sortBy(r => (r._3, r._2)).map { r =>
              var num = 0L; var den = 0L
              var j = 0
              while (j < hist.length) {
                val wgt = 1L << (6 - j); num += hist(j) * wgt; den += wgt; j += 1
              }
              val anom = den > 0 && r._4 * den > 2L * num
              hist = (r._4 +: hist).take(7)
              (r._2, uid, r._4, num, den, anom)
            }
            state.update(hist)
            out.iterator
        }
        .toDF("event_id", "user_id", "cents", "base_num", "base_den", "is_anomaly")
      runToTable(flagged, OutputMode.Append()).orderBy(col("event_id"))
    },
    Some("""
      WITH base AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      lagged AS (
        SELECT user_id, event_id, cents,
               lag(cents, 1) OVER w AS c1, lag(cents, 2) OVER w AS c2,
               lag(cents, 3) OVER w AS c3, lag(cents, 4) OVER w AS c4,
               lag(cents, 5) OVER w AS c5, lag(cents, 6) OVER w AS c6,
               lag(cents, 7) OVER w AS c7
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      flags AS (
        SELECT event_id, user_id, cents,
               COALESCE(c1 * 64, 0) + COALESCE(c2 * 32, 0)
                 + COALESCE(c3 * 16, 0) + COALESCE(c4 * 8, 0)
                 + COALESCE(c5 * 4, 0) + COALESCE(c6 * 2, 0)
                 + COALESCE(c7, 0) AS num,
               CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                 + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                 + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                 + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
                 + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
                 + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
                 + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS den
        FROM lagged)
      SELECT event_id, user_id, cents,
             CAST(num AS BIGINT) AS base_num,
             CAST(den AS BIGINT) AS base_den,
             den > 0 AND cents * den > 2 * num AS is_anomaly
      FROM flags
      ORDER BY event_id
    """)
  )

  /** Windowed top-k on a stream: 6-hour tumbling windows, top-3 event
    * types per window by count (count desc, type tie-break). The
    * streaming leg carries only the windowed counts (watermarked
    * state, |windows|·|types| rows); the rank is a post-pass over the
    * emitted aggregate — at scale that is the dashboard query over
    * the sink table, windows-sized, never stream-sized. Oracle: the
    * identical batch window-rank over date_trunc'd 6h buckets (epoch
    * alignment on both engines).
    */
  val streamWindowedTopk = GraftQuery(
    "stream_windowed_topk",
    (s, dir) => {
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val out = runToTable(agg, OutputMode.Complete())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("win_start")).orderBy(col("n").desc, col("event_type"))
      out.select(tsString(col("window.start")).as("win_start"),
          col("event_type"), col("n"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy(col("win_start"), col("rnk"))
    },
    Some("""
      WITH c AS (
        -- epoch_us keeps the bucket math in exact integer micros:
        -- epoch(ts)::BIGINT would ROUND sub-second parts and push
        -- events in the 0.5s band below a boundary into the next
        -- window, diverging from Spark's flooring window()
        SELECT strftime(to_timestamp(
                 (epoch_us(ts) // 21600000000) * 21600),
                 '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT win_start, event_type, n,
               CAST(row_number() OVER (PARTITION BY win_start
                 ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        FROM c)
      SELECT win_start, event_type, n, rnk
      FROM r WHERE rnk <= 3
      ORDER BY win_start, rnk
    """)
  )

  /** Hopping (sliding) windowed aggregation — the overlapping-window
    * type the tumbling queries don't exercise: 6-hour windows sliding
    * every hour over purchase events, so each event contributes to
    * SIX windows and adjacent rows share 5/6 of their mass (the
    * smoothed load curve dashboards want). State is |open windows| ·
    * 1 row and each arrival updates 6 window slots — the documented
    * write amplification of hopping windows; at scale the slide/size
    * ratio IS the cost knob. Sums stay exact (cents longs); the batch
    * oracle replays each event into its 6 windows via a 0..5 offset
    * spine on the same integer-micros grid as Spark's window().
    */
  val streamHoppingAgg = GraftQuery(
    "stream_hopping_agg",
    (s, dir) => {
      val agg = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours", "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      runToTable(agg, OutputMode.Complete())
        .select(tsString(col("window.start")).as("win_start"),
          col("n"), col("cents"))
        .orderBy(col("win_start"))
    },
    Some("""
      WITH k AS (SELECT unnest(range(0, 6)) AS k),
      w AS (
        SELECT strftime(to_timestamp(
                 ((epoch_us(ts) // 3600000000) - k.k) * 3600),
                 '%Y-%m-%d %H:%M:%S') AS win_start,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events CROSS JOIN k
        WHERE event_type = 'purchase')
      SELECT win_start, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS cents
      FROM w
      GROUP BY 1
      ORDER BY 1
    """)
  )

  case class EvT(user_id: Long, tsMicros: Long, event_type: String)
  case class SessTop(
      user_id: Long, session_start_us: Long, n_events: Long,
      top_type: String, top_n: Long)

  /** Open-session payload for [[sessionTopFn]]: last event time, the
    * session's start, and the per-type counts of the session in
    * flight. State is O(|types|) per user — bounded by the type
    * domain, not the stream.
    */
  case class TopState(lastTs: Long, start: Long, counts: Map[String, Long])

  /** Per-SESSION modal event type via custom state — the session-
    * window top-k the two-level-aggregation formulation can't express
    * in Structured Streaming (no aggregate-above-aggregate on a
    * stream): one stateful pass assigns sessions AND folds the
    * per-type counts, emitting a session's row when the gap closes it
    * and a snapshot of the open session each trigger (counts only
    * grow, so "latest per (user, start)" — realized as max n_events —
    * is the final answer under any trigger slicing). Modal ties break
    * lexicographically; both engines state the rule.
    */
  def sessionTopFn(
      user: Long, rows: Iterator[EvT], state: GroupState[TopState])
      : Iterator[SessTop] = {
    val evs = rows.toArray.sortBy(_.tsMicros)
    if (evs.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(TopState(Long.MinValue, 0L, Map.empty))
    val out = Seq.newBuilder[SessTop]
    def snapshot(s: TopState): SessTop = {
      val (tt, tn) = s.counts.toSeq.minBy { case (t, n) => (-n, t) }
      SessTop(user, s.start, s.counts.valuesIterator.sum, tt, tn)
    }
    evs.foreach { e =>
      if (st.lastTs == Long.MinValue)
        st = TopState(e.tsMicros, e.tsMicros, Map(e.event_type -> 1L))
      else if (e.tsMicros - st.lastTs > GapMicros) {
        out += snapshot(st)
        st = TopState(e.tsMicros, e.tsMicros, Map(e.event_type -> 1L))
      } else st = TopState(e.tsMicros, st.start,
        st.counts + (e.event_type -> (st.counts.getOrElse(e.event_type, 0L) + 1L)))
    }
    out += snapshot(st) // open session's current answer
    state.update(st)
    out.result().iterator
  }

  /** Session-window top type per user session (30-min gap), checked
    * against the batch sessionization + modal-count oracle.
    */
  val streamSessionTopk = GraftQuery(
    "stream_session_topk",
    (s, dir) => {
      import s.implicits._
      val evs = eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
          col("event_type"))
        .as[EvT]
      val summ = evs.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(sessionTopFn _)
      val raw = runToTable(summ.toDF(), OutputMode.Update())
      // latest-per-session dedup (multi-trigger replays emit open-
      // session snapshots; n_events is monotone within a session)
      raw.groupBy(col("user_id"), col("session_start_us"))
        .agg(max(struct(col("n_events"), col("top_n"), col("top_type"))).as("m"))
        .select(col("user_id"),
          tsString(timestamp_micros(col("session_start_us"))).as("session_start_s"),
          col("m.n_events").as("n_events"),
          col("m.top_type").as("top_type"),
          col("m.top_n").as("top_n"))
        .orderBy(col("user_id"), col("session_start_s"))
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > ${SessionGapMinutes * 60L * 1000000L}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (
        SELECT user_id, ts, event_type,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM e),
      per AS (
        SELECT user_id, sid, event_type, COUNT(*) AS n
        FROM s GROUP BY 1, 2, 3),
      st AS (
        SELECT user_id, sid, MIN(ts) AS start_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY 1, 2),
      top AS (
        SELECT user_id, sid, event_type AS top_type, CAST(n AS BIGINT) AS top_n,
               row_number() OVER (PARTITION BY user_id, sid
                 ORDER BY n DESC, event_type) AS rn
        FROM per)
      SELECT st.user_id,
             strftime(st.start_ts, '%Y-%m-%d %H:%M:%S') AS session_start_s,
             st.n_events, t.top_type, t.top_n
      FROM st JOIN top t ON t.user_id = st.user_id AND t.sid = st.sid
      WHERE t.rn = 1
      ORDER BY st.user_id, session_start_s
    """)
  )

  /** Streaming distribution-drift monitor: per-hour KL divergence of
    * the window's event-type distribution from the global profile —
    * the alert that fires when a producer starts emitting a different
    * mix (an error storm, a dropped event class) before any absolute
    * count threshold trips. The STATEFUL half runs in the stream
    * (watermarked windowed counts — the same state machinery as
    * [[streamHourlyAgg]]); the drift score is stateless arithmetic on
    * the emitted window rows, joined against the profile frame. In
    * production the profile is a broadcast static table (yesterday's
    * counts); here it is the batch read of the same events, which
    * also makes the whole pipeline DuckDB-expressible. Log parity
    * follows the [[graft.operators.TextAnalysis.textKlSourceDrift]]
    * recipe: 6-decimal-rounded logs, decimal-exact weighted sums, one
    * IEEE division. Every window type exists in the global profile by
    * construction, so the KL is finite without smoothing.
    */
  val streamCategoryDrift = GraftQuery(
    "stream_category_drift",
    (s, dir) => {
      val counts = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val windowed = runToTable(counts, OutputMode.Complete())
        .select(tsString(col("window.start")).as("hour_start"),
          col("event_type"), col("c"))
      // category-sized cache: refTot and the join both read it —
      // without it the events table is scanned twice for the profile
      val ref = graft.sources.Tables(s, dir).events
        .groupBy(col("event_type")).agg(count(lit(1)).as("cr")).cache()
      val refTot = ref.agg(sum(col("cr")).as("nr"))
      val wTot = windowed.groupBy(col("hour_start")).agg(sum(col("c")).as("nw"))
      val lpW = round(log(col("c").cast(DoubleType) / col("nw").cast(DoubleType)), 6)
      val lpR = round(log(col("cr").cast(DoubleType) / col("nr").cast(DoubleType)), 6)
      windowed
        .join(broadcast(ref), Seq("event_type"))
        .join(broadcast(wTot), Seq("hour_start"))
        .crossJoin(broadcast(refTot))
        .select(col("hour_start"), col("nw"),
          ((dec6(lpW) - dec6(lpR)) * col("c")).as("wkl"))
        .groupBy(col("hour_start"))
        .agg(max(col("nw")).as("n_events"),
          round(sum(col("wkl")).cast(DoubleType)
            / max(col("nw")).cast(DoubleType), 6).as("kl_vs_global"))
        .orderBy(col("hour_start"))
    },
    Some("""
      WITH w AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      wt AS (SELECT hour_start, CAST(SUM(c) AS BIGINT) AS nw FROM w GROUP BY 1),
      r AS (SELECT event_type, COUNT(*) AS cr FROM events GROUP BY 1),
      rt AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM r)
      SELECT hour_start, MAX(nw) AS n_events,
             round(CAST(CAST(SUM(
                 (CAST(round(ln(CAST(c AS DOUBLE) / CAST(nw AS DOUBLE)), 6)
                    AS DECIMAL(25,6))
                  - CAST(round(ln(CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE)), 6)
                    AS DECIMAL(25,6))) * c) AS VARCHAR) AS DOUBLE)
               / CAST(MAX(nw) AS DOUBLE), 6) AS kl_vs_global
      FROM w JOIN r USING (event_type) JOIN wt USING (hour_start)
      CROSS JOIN rt
      GROUP BY hour_start
      ORDER BY hour_start
    """)
  )

  def all: Seq[GraftQuery] =
    Seq(streamHourlyAgg, streamSessionize, streamScore, streamDedupExact,
      streamEnrichProfile, streamSessionWindow, streamThetaDistinct,
      streamStreamJoin, streamStreamLeftOuter, streamStreamSemi,
      streamStreamFullOuter, streamWeightedSample,
      streamUpsertLatest, streamHeavyHitters, streamPatternMatch,
      streamQuantiles, streamIncrementalDedup, streamEwmaAnomaly,
      streamWindowedTopk, streamSessionTopk, streamCdcTombstones,
      streamHoppingAgg, streamCategoryDrift)
}
