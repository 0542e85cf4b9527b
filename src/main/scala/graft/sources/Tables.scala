package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet loaders for the test-table star schema (TESTDATA.md /
  * FIXTURES.md §2). Each accessor is a fresh lazy scan — Catalyst
  * prunes columns and pushes filters into the vectorized Parquet
  * reader, so callers should select/filter directly on these.
  *
  * The reference engine delegates all ingest to its host dataframe
  * library (reference `README.rst:36-39`); here the equivalent surface
  * is `spark.read` itself, wrapped for the known tables.
  */
final case class Tables(spark: SparkSession, dir: String) {

  private def load(name: String): DataFrame =
    Tables.fanOutDeficientScan(spark,
      spark.read.parquet(s"$dir/$name.parquet"), s"$dir/$name.parquet")

  def region: DataFrame     = load("region")
  def nation: DataFrame     = load("nation")
  def customer: DataFrame   = load("customer")
  def supplier: DataFrame   = load("supplier")
  def part: DataFrame       = load("part")
  def orders: DataFrame     = load("orders")
  def lineitem: DataFrame   = load("lineitem")

  /** Events with `ts` normalized to micro-precision TimestampType
    * regardless of how the producer wrote it — see
    * [[Tables.normalizeEventsTs]] for the supported physical schemas.
    */
  def events: DataFrame = Tables.fanOutDeficientScan(spark,
    Tables.normalizeEventsTs(Tables.eventsRaw(spark, dir)),
    s"$dir/events.parquet")

  def documents: DataFrame  = load("documents")
  def embeddings: DataFrame = load("embeddings")

  /** Register every table as a temp view so `spark.sql` queries can
    * reference them by name (same names the DuckDB oracle uses).
    */
  def registerAll(): Unit = {
    Seq(
      "region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings"
    ).foreach(n => load(n).createOrReplaceTempView(n))
    events.createOrReplaceTempView("events")
  }
}

object Tables {

  /** Raw batch scan of events.parquet. Plain read first; only if the
    * file carries TIMESTAMP(NANOS) — which vanilla Spark refuses —
    * fall back to the legacy nanos-as-long read. Scoping the legacy
    * flag to the failure path keeps it from leaking into unrelated
    * reads on the shared session when the data is ordinary micros.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    try spark.read.parquet(path)
    catch {
      case e: Throwable if isNanosRefusal(e) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(path)
    }
  }

  private def isNanosRefusal(e: Throwable): Boolean = {
    val msg = Option(e.getMessage).getOrElse("")
    msg.contains("NANOS") || msg.contains("nanosAsLong") ||
      msg.contains("Illegal Parquet type")
  }

  /** Schema of events.parquet as the engine reads it (post legacy-flag
    * fallback) — the stream source needs it up front.
    */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType =
    eventsRaw(spark, dir).schema

  /** Normalize the `ts` column to TimestampType (session tz is pinned
    * UTC) across the physical encodings the testdata generator has
    * produced over time:
    *   - INT64 nanos read as long (legacy nanosAsLong) → integer-divide
    *     to micros (same truncation DuckDB applies) and rebuild;
    *   - TIMESTAMP(MICROS) isAdjustedToUTC=false → TIMESTAMP_NTZ; cast
    *     to TimestampType, a wall-clock no-op under the UTC session;
    *   - already TimestampType → pass through.
    * A schema this reader does not recognize fails LOUDLY here rather
    * than hash-mismatching 30 queries downstream.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    val tsField = df.schema.fields.find(_.name == "ts").getOrElse(
      sys.error(s"events: no `ts` column in schema ${df.schema.treeString}"))
    tsField.dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        sys.error(
          s"events: unsupported ts type $other — teach Tables.normalizeEventsTs " +
            "about this encoding (testdata generator changed again?)")
    }
  }

  /** (bytes, rowGroups) per parquet file — footer metadata, read once
    * per path (files here are immutable test fixtures).
    */
  private val scanInfo = TrieMap.empty[String, (Long, Int)]

  /** Bytes of input one scan task should own before fanning wider
    * stops paying (shuffle + task-launch overhead vs. parallel
    * downstream compute). Overridable per run via
    * `-Dgraft.scan.fanout.bytesPerTask`; 0 disables the fan-out
    * entirely (layout-invariance sweeps force both settings).
    */
  private def fanOutBytesPerTask: Long =
    graft.Knobs.long("graft.scan.fanout.bytesPerTask", 64L * 1024,
      env = Some("GRAFT_SCAN_FANOUT_BYTES"), min = 0L)

  /** Only files up to this size are fanned out at the SOURCE layer.
    * The source-level repartition is cheap insurance: for an MB-scale
    * file the shuffle is ~free while a compute-heavy consumer (regex /
    * shingling / vector kernels over every row) gains the full core
    * count. For bigger deficient files the blanket shuffle taxes every
    * LIGHT consumer about the serial map + spill of the whole table
    * (ABAB-measured at sf0.1: +30-45 % on the light relational rows
    * for a lineitem-wide fan-out, while the heavy consumers that want
    * parallelism — ML fits, the shared dedup/graph builds — already
    * repartition explicitly at their own entry). Override via
    * `-Dgraft.scan.fanout.maxBytes` / `GRAFT_SCAN_FANOUT_MAX`.
    */
  private def fanOutMaxBytes: Long =
    graft.Knobs.long("graft.scan.fanout.maxBytes", 2L * 1024 * 1024,
      env = Some("GRAFT_SCAN_FANOUT_MAX"))

  /** Repartition a scan whose PHYSICAL layout cannot reach the
    * session's parallelism — the optimization-guide §2.5 "one huge
    * unsplittable file" remedy ("fix at the source if you can;
    * otherwise repartition immediately after the read").
    *
    * Spark assigns parquet ROW GROUPS to read tasks by byte-range
    * midpoint, so a file with fewer row groups than cores leaves the
    * scan — and everything narrow above it — on that many tasks no
    * matter how many splits `maxPartitionBytes`/`openCostInBytes`
    * carve (measured here: every sf0.1 table is ONE row group, so
    * every scan stage ran serially on 1 of 32 cores). The fix is
    * DEFICIENCY-GATED, not unconditional: a healthy layout (row
    * groups ≥ the parallelism the file's size warrants) passes
    * through untouched, so at cluster scale — where a 100 TB table
    * carries ~10⁶ row groups — this never fires and no shuffle is
    * added; and it is SIZE-CAPPED (see [[fanOutMaxBytes]]) so only
    * files whose shuffle is negligible get the blanket treatment.
    * Catalyst still prunes columns and pushes predicates through the
    * Repartition node into the scan, so only surviving rows/columns
    * are shuffled; round-robin with sortBeforeRepartition keeps the
    * layout deterministic per input.
    */
  private[graft] def fanOutDeficientScan(
      spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val perTask = fanOutBytesPerTask
    if (perTask <= 0) return df
    val (bytes, groups) = scanInfo.getOrElseUpdate(path, {
      try {
        val conf = spark.sessionState.newHadoopConf()
        val hp = new Path(path)
        val size = hp.getFileSystem(conf).getFileStatus(hp).getLen
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(hp, conf))
        val ng = try reader.getRowGroups.size finally reader.close()
        (size, ng)
      } catch { case _: Throwable => (0L, Int.MaxValue) } // unknown → leave alone
    })
    if (bytes > fanOutMaxBytes) return df
    val want = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, bytes / perTask)).toInt
    if (groups >= want || want <= 1) df else df.repartition(want)
  }
}
