package graft.sources

import graft.pipelines.Fs
import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV side-channel sources/sinks (reference S11–S13):
  *
  *  - QA/debug append sinks with header management
  *    (etl_sales/seed_historical.py:40-48, S11/S14)
  *  - all-strings defensive reads (`dtype=str, keep_default_na=False` —
  *    etl_inventory/dq_exclusions_csv.py:53-55, S12)
  *  - the atomic dedup-append upsert: concat old+new, drop duplicate
  *    `uniq` keys, atomic replace (dq_exclusions_csv.py:57-66, S13).
  *
  * Spark-native mapping: a CSV *directory* instead of a single file; the
  * rewrite goes through [[Fs.replaceWith]] (write tmp → swap), the
  * closest plain-filesystem analog of the reference's tmp-file +
  * os.replace — the old log stays intact until the new one is fully
  * written.
  */
object Csv {

  /** S12: read a CSV with every column as a non-null string (missing →
    * empty string, matching keep_default_na=False).
    */
  def readAllStrings(spark: SparkSession, path: String, columns: Seq[String]): DataFrame = {
    val schema = StructType(columns.map(StructField(_, StringType, nullable = true)))
    val df = spark.read.schema(schema).option("header", "true").csv(path)
    df.na.fill("", columns)
  }

  /** S11: append rows to a CSV dataset; header handling is per-file and
    * automatic (every part file carries the header, readers merge).
    */
  def appendWithHeader(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).option("header", "true").csv(path)

  /** S13: idempotent dedup-append — union the existing log with new rows,
    * keep one row per `uniq` key with existing rows winning over incoming
    * (the reference's keep='first' after concat [old, new]), rewrite via
    * tmp+swap. Reuses the keyed last-wins machinery ([[Upsert]]); the
    * tiebreak inside a precedence class is the full row text, so repeated
    * runs over an incoming batch with duplicate keys pick the same row.
    * Returns the merged row count.
    */
  def dedupAppend(spark: SparkSession, path: String, incoming: DataFrame,
                  uniqCol: String = "uniq"): Long = {
    val cols = incoming.columns.toSeq
    def prioritized(df: DataFrame, p: Int): DataFrame =
      df.select(cols.map(col): _*)
        .withColumn("__p", lit(p))
        // JSON-encode the row: field quoting keeps column boundaries
        // unambiguous (("ab","c") vs ("a","bc")), so distinct rows never tie
        .withColumn("__tie", to_json(struct(cols.map(col): _*)))
    // existing rows outrank incoming (__p desc, existing = 1); inside a
    // class the highest row text wins, the bootstrap batch included
    val rows =
      if (!Fs.exists(spark, path)) prioritized(incoming, 0)
      else prioritized(readAllStrings(spark, path, cols), 1).unionByName(prioritized(incoming, 0))
    val merged = Upsert.latestPerKey(rows, Seq(uniqCol), "__p", "__tie").drop("__p", "__tie")
    val out = merged.cache()
    val n = out.count()
    Fs.replaceWith(spark, path)(tmp =>
      out.write.option("header", "true").csv(tmp))
    out.unpersist()
    n
  }
}
