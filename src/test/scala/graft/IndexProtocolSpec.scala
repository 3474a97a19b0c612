package graft

import graft.pipelines.Warehouse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The at-rest index protocol's shared pieces on [[Warehouse]]: the
  * keyed retraction (`dropKeys`) and the batch key and epoch every delta
  * ledger persists.
  */
class IndexProtocolSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-protocol-$tag").toString

  private def idsOf(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  private def seeded(tag: String): Warehouse = {
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    val wh = new Warehouse(spark, tmpRoot(tag))
    wh.write("docs", (1L to 20L).toDF("doc_id"))
    wh.write("rows", (1L to 20L).flatMap(i => Seq(i -> "a", i -> "b")).toDF("doc_id", "v"))
    wh
  }

  private val survivors = (1L to 20L).filterNot(_ % 3 == 0).toSet

  test("dropKeys: ids whose lineage reads a swapped table still reach every later table") {
    val wh = seeded("lineage")
    // the id set is read from the FIRST table the call rewrites
    val ids = wh.read("docs").filter(col("doc_id") % 3 === 0)
    wh.dropKeys(ids, "doc_id", "docs", "rows")
    assert(idsOf(wh.read("docs")) == survivors)
    assert(idsOf(wh.read("rows")) == survivors)
    assert(wh.read("rows").count() == 2L * survivors.size)
  }

  test("dropKeys: a missing table is skipped, not created") {
    val wh = seeded("missing")
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    wh.dropKeys((3L to 20L by 3L).toDF("doc_id"), "doc_id", "docs", "never_ingested", "rows")
    assert(!wh.exists("never_ingested"))
    assert(idsOf(wh.read("docs")) == survivors)
    assert(idsOf(wh.read("rows")) == survivors)
  }

  test("dropKeys: tables are swapped in the order given") {
    val wh = seeded("order")
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    // a table without the key column fails its swap: the tables listed
    // before it are already swapped, the ones after it untouched
    wh.write("keyless", Seq(1L, 2L).toDF("other"))
    intercept[org.apache.spark.sql.AnalysisException] {
      wh.dropKeys((3L to 20L by 3L).toDF("doc_id"), "doc_id", "rows", "keyless", "docs")
    }
    assert(idsOf(wh.read("rows")) == survivors)
    assert(idsOf(wh.read("docs")) == (1L to 20L).toSet)
  }

  // ids deduped, in no particular order
  private val keyIds = Seq(42L, 7L, 1000003L, -5L, 0L, 91L)

  /** The batch key exactly as the ledgers persisted it before it had
    * one home.
    */
  private def literalKey(ids: DataFrame, salt: Column*): Long =
    ids.agg(coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)).as("h"),
        count(lit(1)).as("nd"))
      .select(xxhash64(Seq(col("h"), col("nd")) ++ salt: _*)).head().getLong(0)

  test("batchKey equals the persisted formula, unsalted and with the retract salt") {
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    val ids = keyIds.toDF("doc_id")
    val plain = Warehouse.batchKey(ids, "doc_id").head()
    assert(plain.getLong(0) == literalKey(ids))
    assert(plain.getLong(1) == keyIds.size)
    val epoch = 123456789L
    val salted = Warehouse.batchKey(ids, "doc_id", "retract", epoch).head().getLong(0)
    assert(salted == literalKey(ids, lit("retract"), lit(epoch)))
    val stamped = Warehouse.batchKey(ids, "doc_id", 0L).head().getLong(0)
    assert(stamped == literalKey(ids, lit(0L)))
    // order-free: any permutation of the set derives the same key
    assert(Warehouse.batchKey(keyIds.reverse.toDF("doc_id"), "doc_id").head().getLong(0) ==
      plain.getLong(0))
    // the empty set keys on (0, 0)
    assert(Warehouse.batchKey(Seq.empty[Long].toDF("doc_id"), "doc_id").head().getLong(0) ==
      literalKey(Seq.empty[Long].toDF("doc_id")))
    // on-disk values: a change here orphans every persisted ledger row
    assert(plain.getLong(0) == KeyPlain)
    assert(salted == KeySalted)
  }

  test("keyEpoch equals the persisted formula per sign; 0 on a missing ledger") {
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    val wh = new Warehouse(spark, tmpRoot("epoch"))
    assert(wh.keyEpoch("ledger", "nv", positive = true) == 0L)
    // repeated keys per sign: the epoch folds the DISTINCT keys
    wh.write("ledger", Seq(
      (11L, 3L), (11L, 1L), (12L, 2L), (-7L, -1L), (-7L, -4L), (99L, -2L), (13L, 0L))
      .toDF("batch_key", "nv"))
    def literal(pred: Column): Long =
      wh.read("ledger").filter(pred).select(col("batch_key")).distinct()
        .agg(coalesce(bit_xor(xxhash64(col("batch_key"))), lit(0L)))
        .head().getLong(0)
    val pos = wh.keyEpoch("ledger", "nv", positive = true)
    val neg = wh.keyEpoch("ledger", "nv", positive = false)
    assert(pos == literal(col("nv") > 0))
    assert(neg == literal(col("nv") < 0))
    assert(pos != neg)
    assert(pos == EpochPositive)
    assert(neg == EpochNegative)
  }

  private val KeyPlain = -2485546071722989744L
  private val KeySalted = -2245596063070422344L
  private val EpochPositive = 6520648674021482503L
  private val EpochNegative = 4606239581638885314L
}
