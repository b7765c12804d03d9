package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Canonical table access for the harness testdata
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * Every table is columnar parquet at rest — the engine's native format
  * (SURVEY.md §1.3). Loaders are thin: Catalyst handles column pruning and
  * predicate pushdown into the parquet scan, so callers simply
  * `.select`/`.filter` and the scan narrows automatically.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeNumerics(spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet"))

  /** The table's parquet schema, read once per path: reading it is a
    * footer job that every load would otherwise start again, and a table
    * never changes at its path. A table written at a new path is a new
    * key.
    */
  private[graft] def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    schemas.computeIfAbsent(s"$sfDir/$name.parquet", p => spark.read.parquet(p).schema)

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** DECIMAL → DOUBLE insurance (the numeric sibling of [[normalizeTs]]):
    * today's harness parquet stores TPC-H numerics as float64, but a
    * TPC-H-canonical producer would emit DECIMAL(p,2) — and every
    * aggregate gate would then return DecimalType sums (a different
    * result dtype, failing the driver's schema compare) without any
    * logic being wrong. Casting at the single load entry point keeps the
    * whole engine operating in double regardless of the producer's
    * numeric encoding; EncodingSpec pins q1's invariance under a
    * DECIMAL(12,2) regeneration.
    */
  def normalizeNumerics(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val decs = df.schema.fields.filter(_.dataType.isInstanceOf[DecimalType])
    decs.foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(DoubleType)))
  }

  /** Normalize an event-time column to TIMESTAMP (LTZ) across every
    * physical parquet encoding the harness data has shipped as:
    *
    *  - `TIMESTAMP(NANOS)` read as Long nanos under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` → integer-divide to µs
    *    (never via double: 1.7e18 ns overflows a 53-bit mantissa) and
    *    rebuild the timestamp;
    *  - `timestamp[us], isAdjustedToUTC=false` (pyarrow's default) read as
    *    TIMESTAMP_NTZ → cast to LTZ; under the UTC session timezone every
    *    engine session pins, the wall clock IS the instant, so this matches
    *    DuckDB's naive-timestamp epoch exactly;
    *  - `timestamp[us/ms], isAdjustedToUTC=true` → already LTZ, pass through.
    *
    * Works on batch and streaming DataFrames alike (pure column ops).
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}

/** Local SparkSession factory — the only session builder: tests, the
  * harness mains (Bench, Verify, Explain) and the runnable pipelines all
  * call it, so every surface runs under the same conf.
  *
  * `threads` defaults to `SPARK_GRAFT_CPUS` (else 4); this is the one
  * place that reads it. `localDir` sets `spark.local.dir` only when given:
  * left unset, a `-Dspark.local.dir` on the JVM (or Spark's own default)
  * stays in force.
  */
object GraftSession {
  def local(
      threads: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4),
      appName: String = "graft",
      localDir: Option[String] = None): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$threads]")
      .appName(appName)
      // local mode: shuffle partitions sized to cores, not the 200 default
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet may store TIMESTAMP(NANOS); read as Long nanos
      // (Tables.normalizeTs maps every encoding to TIMESTAMP)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = localDir.fold(builder)(builder.config("spark.local.dir", _)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
