package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Seeded input generators. Every value is a hash of (seed, stream,
  * row id), so one seed gives byte-identical inputs whatever the
  * session's core count; the engine only ever sees the written files.
  */
object Inputs {

  /** Marker the boosting frames use for a missing feature value. */
  val Marker: Double = -999.0
  val NumFeatures = 16
  val FeatureCols: Seq[String] = (0 until NumFeatures).map(j => s"x$j")

  /** Uniform [0, 1) draw for `stream` of row `id`. */
  def u(seed: Long, stream: Int, id: Column): Column =
    (xxhash64(lit(seed), lit(stream), id).bitwiseAND(lit((1L << 53) - 1))
      .cast("double") / lit((1L << 53).toDouble))

  private def pick(values: Seq[String], draw: Column): Column =
    element_at(array(values.map(lit): _*),
      (floor(draw * values.length) + 1).cast("int"))

  /** Boosting frame: `id`, 16 numeric features with ~10 % marker-missing
    * cells, a `holdout` flag (a 10 % hash split) and `label`. The label
    * is planted on x0 (dominant) plus x1..x3, so a fitted model beats
    * the constant prior by a structural margin. `classes` = 2 gives a
    * Bernoulli label on a logistic score; more gives class ids from a
    * noisy quantization of the same score.
    */
  def boostFrame(spark: SparkSession, rows: Long, seed: Long,
      classes: Int, files: Int): DataFrame = {
    val id = col("id")
    val raw = (0 until NumFeatures).map(j => u(seed, j, id) * lit(1.0 + j))
    val feats = raw.zipWithIndex.map { case (v, j) =>
      when(u(seed, 100 + j, id) < lit(0.1), lit(Marker)).otherwise(v).as(s"x$j")
    }
    val x0 = raw(0)
    val x1 = raw(1) / lit(2.0)
    val x2 = raw(2) / lit(3.0)
    val x3 = raw(3) / lit(4.0)
    val label =
      if (classes == 2) {
        val z = lit(8.0) * (x0 - lit(0.5)) + lit(3.0) * (x1 - lit(0.5)) +
          lit(4.0) * (x2 - lit(0.5)) * (x3 - lit(0.5))
        when(u(seed, 200, id) < lit(1.0) / (lit(1.0) + exp(-z)), lit(1.0))
          .otherwise(lit(0.0))
      } else {
        val t = x0 * lit(classes.toDouble) + (x1 - lit(0.5)) +
          (u(seed, 201, id) - lit(0.5))
        least(greatest(floor(t), lit(0L)), lit(classes - 1L)).cast("double")
      }
    spark.range(0L, rows, 1L, files)
      .select(Seq(id) ++ feats ++ Seq(
        (u(seed, 300, id) < lit(0.1)).as("holdout"), label.as("label")): _*)
  }

  private val Day = 86400L * 1000000L

  private def ntz(startMicros: Long, offsetMicros: Column): Column =
    timestamp_micros(lit(startMicros) + offsetMicros).cast(TimestampNTZType)

  /** Midnight of a whole day drawn uniformly from `days` days. */
  private def day(startMicros: Long, days: Int, draw: Column): Column =
    ntz(startMicros, floor(draw * days).cast("long") * lit(Day))

  private def money(draw: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + draw * lit(hi - lo), 2)

  private val Vocab = Seq("the", "a", "of", "to", "and", "in", "is", "it",
    "that", "for", "scan", "join", "hash", "merge", "sort", "window", "agg",
    "stream", "vector", "filter", "table", "row", "column", "batch", "query",
    "spark", "key", "value", "part", "order", "line", "customer", "fast",
    "slow", "big", "small", "data", "group", "dup", "v2", "x86", "plan.",
    "shuffle,", "task;", "node!", "ok?", "it's")

  val starTableNames: Seq[String] = Seq("region", "nation", "customer",
    "orders", "lineitem", "events", "documents")

  /** Star-schema tables with the engine's test-table schemas (one
    * single-row-group parquet file per table, timestamps as
    * TIMESTAMP(MICROS) without UTC adjustment), scaled by `orders`.
    */
  def starTables(spark: SparkSession, orders: Long, events: Long,
      docs: Long, seed: Long): Map[String, DataFrame] = {
    val id = col("id")
    val customers = math.max(100L, orders / 10)
    val users = math.max(50L, events / 60)
    val t1995 = 788918400L * 1000000L // 1995-01-01T00:00:00Z
    val t2024 = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    val region = spark.range(0L, 5L, 1L, 1).select(
      id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(0L, 25L, 1L, 1).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(0L, customers, 1L, 1).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(seed, 1, id) * 25).cast("int").as("c_nationkey"),
      money(u(seed, 2, id), -999.99, 9999.99).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), u(seed, 3, id)).as("c_mktsegment"))
    val ordersDf = spark.range(0L, orders, 1L, 4).select(
      id.as("o_orderkey"),
      floor(u(seed, 10, id) * customers).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, 11, id)).as("o_orderstatus"),
      money(u(seed, 12, id), 1000.0, 500000.0).as("o_totalprice"),
      day(t1995, 2400, u(seed, 13, id)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, 14, id)).as("o_orderpriority"),
      (floor(u(seed, 15, id) * 7) + 1).cast("int").as("n_lines"))
    // one row per (order, line number): the pair is unique, as the
    // window queries' tie-breakers require
    val lines = ordersDf
      .select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
    val lid = col("l_orderkey") * 8 + col("l_linenumber")
    val lineitem = lines.select(
      col("l_orderkey"),
      floor(u(seed, 20, lid) * 2000).cast("long").as("l_partkey"),
      floor(u(seed, 21, lid) * 100).cast("long").as("l_suppkey"),
      col("l_linenumber"),
      (floor(u(seed, 22, lid) * 50) + 1).cast("double").as("l_quantity"),
      money(u(seed, 23, lid), 900.0, 105000.0).as("l_extendedprice"),
      (floor(u(seed, 24, lid) * 11) / lit(100.0)).as("l_discount"),
      (floor(u(seed, 25, lid) * 9) / lit(100.0)).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 26, lid)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, 27, lid)).as("l_linestatus"),
      day(t1995 + Day, 2500, u(seed, 28, lid)).as("l_shipdate"))
    val eventsDf = spark.range(0L, events, 1L, 2).select(
      id.as("event_id"),
      ntz(t2024, floor(u(seed, 30, id) * (30L * Day)).cast("long")).as("ts"),
      floor(u(seed, 31, id) * users).cast("long").as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"),
        u(seed, 32, id)).as("event_type"),
      money(u(seed, 33, id), 0.01, 500.0).as("value"),
      format_string("{\"k\": %d}", floor(u(seed, 34, id) * 100).cast("long"))
        .as("props"))
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), (floor(u(seed, 40, id) * 80) + 10)
      .cast("int")), k => element_at(vocab,
      (pmod(xxhash64(lit(seed), lit(41), id, k), lit(Vocab.length.toLong)) + 1)
        .cast("int")))
    val documents = spark.range(0L, docs, 1L, 1)
      .select(id.as("doc_id"), concat_ws(" ", words).as("text"),
        pick(Seq("de", "en", "en", "en", "es", "fr", "zh"), u(seed, 42, id))
          .as("lang"),
        concat(lit("src"), floor(u(seed, 43, id) * 20).cast("string"))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "orders" -> ordersDf.drop("n_lines"), "lineitem" -> lineitem,
      "events" -> eventsDf, "documents" -> documents)
  }

  /** Write `df` as the single parquet file `<dir>/<name>.parquet`, the
    * layout of the engine's test tables. Returns the file's bytes.
    */
  def writeSingleFile(df: DataFrame, dir: String, name: String): Long = {
    val tmp = new File(dir, s"_$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    val dest = new File(dir, s"$name.parquet")
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
    dest.length()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of the files under `path` (a file or a directory). */
  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }
}
