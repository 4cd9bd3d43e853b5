package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ScopedConf

/** Loaders for the driver's deterministic parquet testdata
  * (see /root/repo/TESTDATA.md). Every `SparkEntry.queries` entry takes an
  * `sfDir` and reads only through here, so filter/column pushdown reaches
  * the parquet scan unimpeded (plain `spark.read.parquet`, no caching layer
  * that would block pruning at 100 TB).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Load + spread across the session's shuffle parallelism. The testdata
    * files are single-row-group parquet, which is UNSPLITTABLE — without
    * this, every downstream expression runs in one task per file. Use for
    * CPU-heavy pipelines (regex/text/vector math/unpivot); at cluster scale
    * the same guard applies whenever input splits are coarser than cores.
    */
  def loadPar(spark: SparkSession, sfDir: String, name: String): DataFrame =
    load(spark, sfDir, name).repartition(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 refuses to read
    * natively; read nanos as long and convert to a (micros) timestamp.
    * The read is set up in a session clone carrying the legacy setting
    * (the scan keeps that session), so the caller's session is unchanged.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = ScopedConf.withConf(s,
        "spark.sql.legacy.parquet.nanosAsLong" -> "true") { sc =>
      sc.out(load(sc.session, d, "events"))
    }
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    if (raw.schema("ts").dataType == LongType)
      // integer division: `/` on longs is double division in Spark SQL and
      // loses microsecond precision at nanosecond epoch magnitudes
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      // tz-less parquet micros infer as TIMESTAMP_NTZ in Spark 4, which
      // streaming watermarks reject (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
      // the session timezone is pinned UTC, so the LTZ cast keeps every
      // wall-clock value (and date_format output) identical
      raw.withColumn("ts", col("ts").cast("timestamp"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Local SparkSession for tests/benchmarks. 32 shuffle partitions to match
    * local[32]; on a real cluster this would be sized to 2-3x total cores.
    */
  def localSession(threads: Int = 4): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
