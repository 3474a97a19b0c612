package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, and a batched decode/feature-extract stage over
  * `mapPartitions`. Training-data pipeline extension (no reference
  * counterpart).
  *
  * Byte-level features use the deterministic [[MediaDecoder.Stub]]
  * because the fixture payloads are text bytes and the q28 driver oracle
  * must be SQL-derivable; swapping the stub for a real decoder changes
  * no plan shape.
  *
  * Scale notes: payload rows are wide (binary blobs) — the pipeline never
  * shuffles them. Decode runs in the scan stage (narrow mapPartitions),
  * only the small feature rows flow downstream; at 100 TB that is the
  * difference between shuffling blobs and shuffling longs.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata, the schema a
    * 100 TB multimodal table would have (payload column stays opaque to
    * Catalyst; metadata columns are prunable/filterable).
    */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], kind: String)

  final case class MediaFeatures(doc_id: Long, n_bytes: Long, head_byte: Int, checksum: Long)

  /** Pluggable decoder. A real implementation would wrap libjpeg/FFmpeg
    * behind this exact interface; init happens once per partition in
    * [[decodeFeatures]], not per row.
    */
  trait MediaDecoder extends Serializable {
    def decode(doc_id: Long, payload: Array[Byte]): MediaFeatures
  }

  object MediaDecoder {
    /** Deterministic fake decode: byte length, first byte, and a 60-bit
      * md5-prefix checksum (bit-identical to the SQL `md5` oracle).
      */
    object Stub extends MediaDecoder {
      def decode(doc_id: Long, payload: Array[Byte]): MediaFeatures = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(payload).map("%02x".format(_)).mkString
        MediaFeatures(
          doc_id = doc_id,
          n_bytes = payload.length.toLong,
          // empty payload → 0, matching ascii('') in both Spark and DuckDB
          // (the oracle computes ascii(substr(text,1,1)))
          head_byte = if (payload.isEmpty) 0 else payload(0) & 0xff,
          checksum = java.lang.Long.parseLong(hex.take(15), 16))
      }
    }
  }

  /** `documents` as a media table: UTF-8 payload bytes + metadata. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("kind"))
      .as[MediaRow]
  }

  /** Batched decode: one decoder instance per partition, iterator-in /
    * iterator-out (no materialization of the partition).
    */
  def decodeFeatures(media: Dataset[MediaRow], decoder: MediaDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (e.g. native lib handle)
      rows.map(r => decoder.decode(r.doc_id, r.payload))
    }
  }

  /** The feature-extraction query: media table → stub decode → features.
    * Oracle-checkable because the stub is bytes-deterministic: n_bytes =
    * octet_length, head_byte = first byte (= code point: corpus is ASCII),
    * checksum = the shared 60-bit md5 prefix.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(mediaTable(spark, dir), MediaDecoder.Stub)
      .toDF()
      .orderBy(col("doc_id"))

  val mediaFeaturesSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(ascii(substr(text, 1, 1)) AS INT) AS head_byte,
      |  CAST('0x' || substr(md5(text),1,15) AS BIGINT) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin
}
