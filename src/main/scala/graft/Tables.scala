package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver testdata (/root/testdata/sf*). Explicit, parquet-backed.
  *
  * Scale notes: every loader is a plain parquet scan, so Catalyst pushes
  * filters/column pruning into the scan (PushedFilters / ReadSchema). At
  * cluster scale these would be partitioned tables; the operators below never
  * assume single-partition inputs.
  */
object Tables {
  /** Money columns arrive as 2-decimal doubles in the fixtures; all sales
    * arithmetic happens in DecimalType so sums are exact and engine-portable
    * (double summation order would otherwise make oracle hashes flaky).
    */
  val Money: DecimalType = DecimalType(18, 2)

  /** Fixture timestamps have arrived in three parquet physical forms across
    * driver generations: TIMESTAMP(NANOS) (handled in [[events]]),
    * TIMESTAMP(MICROS, adjustedToUTC=true) (read as TIMESTAMP), and
    * TIMESTAMP(MICROS, adjustedToUTC=false) (read as TIMESTAMP_NTZ).
    * Normalize NTZ → TIMESTAMP at the load seam: the harness session runs
    * UTC, so the cast reinterprets the same micros as the same instant the
    * UTC-adjusted generations produced, and every downstream consumer
    * (`unix_micros`, `Row.getTimestamp`, the Verify parquet dumps the
    * oracle compares against) keeps one stable type surface. The read
    * reuses the schema resolved for the file's current listing
    * ([[pipelines.Warehouse.readParquet]]), so a night or a query that
    * loads an unchanged source runs no schema job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = pipelines.Warehouse.readParquet(spark, s"$dir/$name.parquet")
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp")))
  }

  /** Fan a small-file scan out to all cores. The fixture tables are single
    * parquet files with one row group, so the scan gets ONE partition and
    * every narrow stage behind it runs single-task (measured: the whole
    * shingle+minhash lineage of q22 in one 11 s task). A row-group can't be
    * split by maxPartitionBytes, so CPU-heavy per-row pipelines repartition
    * explicitly right after the scan: a ~KBs round-robin shuffle buys
    * full-core parallelism. At cluster scale inputs arrive in many files
    * and this becomes a cheap no-op-ish rebalance.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects ([PARQUET_TYPE_ILLEGAL]). Read it as raw nanos (legacy conf) and
    * truncate to microseconds with integer division — same ns→us truncation
    * DuckDB applies. Double division would corrupt: ns epochs ~1.7e18 exceed
    * the 2^53 double mantissa.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The stock-movement ledger role-played by `events` (FIXTURES.md §B):
    * art_id=user_id, tienda_id=user_id%3, fecha=ts, tipo_movimiento=event_type,
    * quantities = floor(value) (floor, not cast: DuckDB CAST(double AS BIGINT)
    * rounds while Spark truncates — floor agrees in both engines).
    * `error` events are absolute inventory counts (is_absolute), everything
    * else is a signed delta: purchase/view add stock, click/signup remove it.
    * Mirrors raw_stock_movements (reference
    * etl_inventory/sql/create_raw_stock_movements.sql:3-20).
    */
  def ledger(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val qty = floor(col("value")).cast("long")
    ev.select(
      col("event_id").as("id_origen"),
      col("user_id").as("art_id"),
      (col("user_id") % 3).cast("int").as("tienda_id"),
      col("ts").as("fecha"),
      col("event_type").as("tipo_movimiento"),
      (col("event_type") === "error").as("is_absolute"),
      when(col("event_type") === "error", lit(null).cast("long"))
        .when(col("event_type").isin("purchase", "view"), qty)
        .otherwise(-qty)
        .as("delta_cantidad"),
      when(col("event_type") === "error", qty).otherwise(lit(null).cast("long"))
        .as("abs_stock_after"),
      col("props").as("usuario")
    )
  }

  /** The same mapping as ANSI SQL for the DuckDB oracle. */
  val ledgerSql: String =
    """SELECT event_id AS id_origen, user_id AS art_id,
      |  CAST(user_id % 3 AS INTEGER) AS tienda_id, ts AS fecha,
      |  event_type AS tipo_movimiento,
      |  (event_type = 'error') AS is_absolute,
      |  CASE WHEN event_type = 'error' THEN NULL
      |       WHEN event_type IN ('purchase','view') THEN CAST(FLOOR(value) AS BIGINT)
      |       ELSE -CAST(FLOOR(value) AS BIGINT) END AS delta_cantidad,
      |  CASE WHEN event_type = 'error' THEN CAST(FLOOR(value) AS BIGINT)
      |       ELSE NULL END AS abs_stock_after,
      |  props AS usuario
      |FROM events""".stripMargin
}
