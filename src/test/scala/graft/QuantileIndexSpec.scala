package graft

import graft.operators.{Analytics, QuantileIndex}
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q119 incremental-quantile index: incremental ≡ rebuild equality and
  * the four crash windows of the advance contract, each reconstructed
  * (the InBatchRedelivery / crash-seam discipline).
  */
class QuantileIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def freshRoot =
    java.nio.file.Files.createTempDirectory("tqidx_spec_").toString
  private def docs = Tables.documents(spark, dir)
  private def corpus = docs.filter(col("doc_id") % 10 < 8)
  private def batch = docs.filter(col("doc_id") % 10 >= 8)

  private def advance(root: String, b: DataFrame): Unit = {
    QuantileIndex.advance(spark, root, b)
    TransientCache.drain()
  }

  /** The effective histogram (Σnv at the ledger's finest
    * (g, source, v) grain) at rest under `root`.
    */
  private def histOf(root: String): Set[(String, String, Long, Long)] =
    new Warehouse(spark, root).read("tq_hist")
      .groupBy(col("g"), col("source"), col("v"))
      .agg(sum(col("nv")).as("nv"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  /** A clean two-night reference root: corpus, then batch. */
  private def cleanTwoNights(): String = {
    val r = freshRoot
    advance(r, corpus)
    advance(r, batch)
    r
  }

  test("incremental == rebuild: q119 equals q116 row for row") {
    val want = Analytics.groupedQuantiles(spark, dir).collect().toSeq
    TransientCache.drain()
    val got = QuantileIndex.deltaQuantiles(spark, dir).collect().toSeq
    TransientCache.drain()
    assert(got == want)
  }

  test("incremental == rebuild: q120 equals q118 row for row") {
    val want = Analytics.winsorizedStats(spark, dir).collect().toSeq
    TransientCache.drain()
    val got = QuantileIndex.deltaWinsorized(spark, dir).collect().toSeq
    TransientCache.drain()
    assert(got == want)
  }

  test("incremental == rebuild: q125 drift equals the full-scan formulation") {
    val fullHist = TransientCache.register(
      QuantileIndex.valsOf(docs)
        .groupBy(col("g"), col("source"), col("v"))
        .agg(count(lit(1)).as("nv")).cache())
    fullHist.count()
    val want = Analytics.lengthDriftOfHist(fullHist).collect().toSeq
    TransientCache.drain()
    val got = QuantileIndex.deltaDrift(spark, dir).collect().toSeq
    TransientCache.drain()
    assert(got.map(_.toSeq) == want.map(_.toSeq))
  }

  test("advance: committed night replays as a no-op; in-batch dups drop") {
    val root = freshRoot
    advance(root, corpus)
    val seeded = histOf(root)
    advance(root, corpus) // full redelivery of a committed night
    assert(histOf(root) == seeded)
    advance(root, batch.unionByName(batch)) // in-batch duplication
    assert(histOf(root) == histOf(cleanTwoNights()))
  }

  /** The night's delta rows exactly as the advance derives them for a
    * fully-novel batch, keyed off the OFFERED batch (crash contract 1).
    */
  private def nightDelta(b: DataFrame): DataFrame = {
    val bd = b.dropDuplicates("doc_id")
    val keyVal = QuantileIndex.docSetKey(bd.select(col("doc_id")))
      .head().getLong(0)
    QuantileIndex.valsOf(bd)
      .groupBy(col("g"), col("source"), col("v"))
      .agg(count(lit(1)).as("nv"))
      .select(lit(keyVal).as("batch_key"),
        col("g"), col("source"), col("v"), col("nv"))
  }

  private def docsOf(root: String): Set[Long] =
    new Warehouse(spark, root).read("tq_docs")
      .collect().map(_.getLong(0)).toSet

  private def markerOf(root: String): Set[Long] = {
    val wh = new Warehouse(spark, root)
    if (!wh.exists("tq_marker")) Set.empty
    else wh.read("tq_marker").collect().map(_.getLong(0)).toSet
  }

  test("advance: crash mid-hist-append (half the delta rows) converges") {
    val root = freshRoot
    advance(root, corpus)
    new Warehouse(spark, root)
      .append("tq_hist", nightDelta(batch).where(pmod(col("v"), lit(2)) === 0))
    advance(root, batch) // the replay appends exactly the missing rows
    val clean = cleanTwoNights()
    assert(histOf(root) == histOf(clean))
    assert(docsOf(root) == docsOf(clean))
  }

  test("advance: crash after hist append, before the manifest append, converges") {
    val root = freshRoot
    advance(root, corpus)
    new Warehouse(spark, root).append("tq_hist", nightDelta(batch))
    advance(root, batch) // replay: every delta row anti-joins away
    val clean = cleanTwoNights()
    assert(histOf(root) == histOf(clean),
      "replay after the un-committed crash must not double-count")
    assert(docsOf(root) == docsOf(clean))
    val committed = histOf(root)
    advance(root, batch) // and the night is now marker-committed
    assert(histOf(root) == committed)
  }

  test("advance: crash after hist append, MID-manifest-append, converges") {
    // the window the r14 full-rewrite design could not survive without
    // swapping the whole manifest: half the night's doc-ids landed in
    // tq_docs, the marker did not. The replay's novel set shrinks, but
    // batch_key is a function of the OFFERED batch, so every delta row
    // still anti-joins away, and the manifest append lands exactly the
    // missing doc-ids.
    val root = freshRoot
    advance(root, corpus)
    val wh = new Warehouse(spark, root)
    wh.append("tq_hist", nightDelta(batch))
    wh.append("tq_docs",
      batch.select(col("doc_id")).where(pmod(col("doc_id"), lit(2)) === 0))
    advance(root, batch) // the replay
    val clean = cleanTwoNights()
    assert(histOf(root) == histOf(clean),
      "a shrunken novel set must not re-append under the same key")
    assert(docsOf(root) == docsOf(clean),
      "the manifest append must land exactly the missing doc-ids")
  }

  test("advance: crash after both appends, before the marker swap, completes the commit") {
    val root = freshRoot
    advance(root, corpus)
    val wh = new Warehouse(spark, root)
    wh.append("tq_hist", nightDelta(batch))
    wh.append("tq_docs", batch.select(col("doc_id")))
    val preMarker = markerOf(root)
    advance(root, batch) // replay: appends nothing, swaps the marker
    val clean = cleanTwoNights()
    assert(histOf(root) == histOf(clean))
    assert(docsOf(root) == docsOf(clean))
    assert(markerOf(root).size == preMarker.size + 1,
      "the replay must complete the night's marker commit")
    val committed = histOf(root)
    advance(root, batch) // marker-gated no-op now
    assert(histOf(root) == committed)
  }

  test("advance: cross-night redelivery anti-joins away") {
    val root = freshRoot
    advance(root, corpus)
    advance(root, docs.filter(col("doc_id") % 10 === 8))
    // night 3 redelivers night 2's docs alongside the novel ones
    advance(root, batch)
    assert(histOf(root) == histOf(cleanTwoNights()))
  }

  test("advance: empty nights — cold seed and warm no-op") {
    val root = freshRoot
    advance(root, docs.limit(0)) // cold warehouse, empty first night
    val wh = new Warehouse(spark, root)
    assert(wh.exists("tq_hist") && wh.exists("tq_docs"))
    assert(wh.read("tq_hist").isEmpty && wh.read("tq_docs").isEmpty)
    advance(root, corpus) // the real seed rides the normal advance
    val seeded = histOf(root)
    advance(root, corpus.limit(0)) // warm empty night: no-op
    assert(histOf(root) == seeded)
    val clean = freshRoot
    advance(clean, corpus)
    assert(seeded == histOf(clean))
  }

  test("advance/retract tolerate a pre-n_docs tq_marker at-rest layout (degrade, never crash)") {
    val root = freshRoot
    advance(root, corpus)
    val wh = new Warehouse(spark, root)
    // strip the marker to the legacy single-column layout: a warehouse
    // written before n_docs joined the marker must keep replaying —
    // legacy rows never match the two-column gate, so the replay
    // re-derives an empty novel set, no-ops the appends, and
    // re-commits a two-column marker row (convergence, not a crash)
    wh.write("tq_marker", wh.read("tq_marker").select(col("batch_key")))
    val seeded = histOf(root)
    advance(root, corpus) // replay of the already-committed night
    assert(histOf(root) == seeded,
      "the legacy-marker replay must not double-count")
    assert(wh.read("tq_marker").columns.toSeq == Seq("batch_key", "n_docs"),
      "the replay must migrate the marker to the two-column layout")
    // retraction against a legacy marker: same degrade-never-crash path
    wh.write("tq_marker", wh.read("tq_marker").select(col("batch_key")))
    QuantileIndex.retract(spark, root, corpus.filter(col("doc_id") % 9 === 4))
    TransientCache.drain()
    val survivors = freshRoot
    advance(survivors, corpus.filter(col("doc_id") % 9 =!= 4))
    assert(histOf(root).filter(_._4 != 0L) == histOf(survivors),
      "retraction over a migrated marker must still cancel exactly")
  }

  test("reads come from the at-rest ledger: a poisoned index is visible") {
    // the q113/q115 discipline: if the read path rescanned the corpus,
    // corrupting the ledger would be invisible — so corrupt it and
    // require the output to move
    FixtureRoots.clear(spark)
    val wh = new Warehouse(spark, QuantileIndex.indexAtRest(spark, dir))
    TransientCache.drain()
    val firstLang = wh.read("tq_hist").select(col("g")).head().getString(0)
    // in place, under the fixture root the query re-opens
    wh.write("tq_hist", wh.read("tq_hist").where(col("g") =!= firstLang))
    try {
      val got = QuantileIndex.deltaQuantiles(spark, dir).collect().toSeq
      TransientCache.drain()
      val want = Analytics.groupedQuantiles(spark, dir).collect().toSeq
      TransientCache.drain()
      assert(got != want, "poisoned ledger must show in the read")
    } finally FixtureRoots.clear(spark)
  }

  test("streaming twin: micro-batched nights land the batch state") {
    val root = freshRoot
    val wh = new Warehouse(spark, root)
    graft.streaming.StreamingQuantileIndex.processBatch(wh, corpus, 0L)
    TransientCache.drain()
    graft.streaming.StreamingQuantileIndex.processBatch(wh, batch, 1L)
    TransientCache.drain()
    // a redelivered micro-batch (at-least-once delivery) is a no-op
    graft.streaming.StreamingQuantileIndex.processBatch(wh, batch, 2L)
    TransientCache.drain()
    assert(histOf(root) == histOf(cleanTwoNights()))
  }
}
