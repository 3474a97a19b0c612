package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.Upsert
import graft.pipelines.Warehouse

/** S8 keyed last-wins upsert semantics (reference
  * etl_sales/db/db_helpers.py:25-40): newer version wins, re-applying is
  * idempotent, ties break deterministically — and the sink contract of
  * [[Warehouse.upsert]], the one the JDBC sinks keep too (JdbcLiveSpec):
  * the batch's (ver, seq)-max row per key replaces the committed row.
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1704067200000L + s * 1000)

  test("last version wins per key") {
    val existing = Seq((1L, "a", ts(1), 1), (2L, "b", ts(1), 1))
      .toDF("k", "v", "version", "src")
    val incoming = Seq((2L, "B", ts(2), 2)).toDF("k", "v", "version", "src")
    val out = Upsert.upsertByKey(existing, incoming, Seq("k"), "version", "src")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B"))
  }

  test("idempotent: re-applying the same batch changes nothing") {
    val existing = Seq((1L, "a", ts(1), 1)).toDF("k", "v", "version", "src")
    val incoming = Seq((1L, "A", ts(2), 2)).toDF("k", "v", "version", "src")
    val once = Upsert.upsertByKey(existing, incoming, Seq("k"), "version", "src")
    val twice = Upsert.upsertByKey(once, incoming, Seq("k"), "version", "src")
    assert(twice.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A")))
  }

  test("equal versions break ties by the tiebreak column (incoming wins)") {
    val existing = Seq((1L, "old", ts(5), 1)).toDF("k", "v", "version", "src")
    val incoming = Seq((1L, "new", ts(5), 2)).toDF("k", "v", "version", "src")
    val out = Upsert.upsertByKey(existing, incoming, Seq("k"), "version", "src")
    assert(out.collect().head.getString(1) == "new")
  }

  // --- Warehouse.upsert: the UpsertSink contract on parquet ---------------

  private def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft-upsert").toString)

  private def inv(rows: (Long, Long, Long, Long)*) =
    rows.toDF("art_id", "qty", "ver", "seq")

  private def table(wh: Warehouse): Map[Long, (Long, Long, Long)] =
    wh.read("inv").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  private def upsert(wh: Warehouse, batch: org.apache.spark.sql.DataFrame): Unit =
    wh.upsert("inv", batch, Seq("art_id"), "ver", "seq")

  test("Warehouse.upsert: an in-batch duplicate resolves to the (ver, seq)-max row on a missing table") {
    val wh = freshWh()
    upsert(wh, inv((7L, 1L, 1L, 5L), (7L, 999L, 2L, 1L), (7L, 500L, 2L, 0L), (8L, 8L, 1L, 1L)))
    assert(wh.read("inv").count() == 2)
    assert(table(wh) == Map(7L -> ((999L, 2L, 1L)), 8L -> ((8L, 1L, 1L))))
  }

  test("Warehouse.upsert: a later lower-version batch overwrites, untouched keys survive, a replay is a no-op") {
    val wh = freshWh()
    upsert(wh, inv((1L to 20L).map(i => (i, i, 1L, i)): _*))
    upsert(wh, inv((7L, 999L, 2L, 1000L)))
    assert(table(wh)(7L) == ((999L, 2L, 1000L)))
    // the batch replaces the committed row whatever its version — the
    // same rule JdbcLiveSpec asserts for the Derby MERGE
    val late = inv((7L, 1L, 1L, 1L), (30L, 30L, 1L, 30L))
    upsert(wh, late)
    val t = table(wh)
    assert(t(7L) == ((1L, 1L, 1L)), "a later merge overwrites")
    assert(t(30L) == ((30L, 1L, 30L)), "new keys insert")
    assert((1L to 20L).filter(_ != 7L).forall(i => t(i) == ((i, 1L, i))), "untouched keys survive")
    assert(t.size == 21)
    upsert(wh, late)
    assert(table(wh) == t, "a replayed batch must be a no-op")
  }

  test("Warehouse.upsert: an incremental merge leaves ceil(bytes / target) files") {
    val wh = freshWh()
    upsert(wh, inv((1L to 200L).map(i => (i, i, 1L, i)): _*).repartition(3))
    upsert(wh, inv((150L to 400L).map(i => (i, -i, 2L, i)): _*).repartition(4))
    // a few KB at rest against the 128 MiB compaction target: one file,
    // however many partitions the committed table and the batch had
    assert(wh.dataFileCount("inv") == 1)
    val t = table(wh)
    assert(t.size == 400 && t(100L) == ((100L, 1L, 100L)) && t(300L) == ((-300L, 2L, 300L)))
  }
}
