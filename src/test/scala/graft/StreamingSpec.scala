package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.Dedup
import graft.pipelines.{CorpusPipeline, Warehouse}
import graft.streaming.{StreamingAnn, StreamingDedup, StreamingDrift, StreamingIngest, StreamingRefine, StreamingWinnow, Twin}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class DocRow(doc_id: Long, text: String)

case class SrcDocRow(doc_id: Long, source: String, text: String)

case class EmbRow(vec_id: Long, embedding: Seq[Float])

case class LedgerEvent(fecha: Timestamp, tienda_id: Int, art_id: Long,
                       delta_cantidad: Option[Long])

case class IdEvent(event_id: Long, ts: Timestamp, event_type: String)

/** Structured-Streaming incremental layer: micro-batch ingest with
  * event-time watermark + idempotent last-wins parquet sink.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming daily net upserts idempotently across micro-batches") {
    val sql = spark.sqlContext
    import sql.implicits._
    val tmp = Files.createTempDirectory("graft-stream").toString
    val sink = s"$tmp/sink"
    val ckpt = s"$tmp/ckpt"

    val stream = MemoryStream[LedgerEvent](spark)
    val daily = StreamingIngest.dailyNetStream(stream.toDF())

    stream.addData(
      LedgerEvent(ts("2025-01-01 10:00:00"), 1, 7L, Some(5L)),
      LedgerEvent(ts("2025-01-01 11:00:00"), 1, 7L, Some(3L)),
      LedgerEvent(ts("2025-01-02 09:00:00"), 1, 7L, Some(-2L)))
    StreamingIngest.upsertSink(daily, sink, ckpt).start().awaitTermination()

    val r1 = spark.read.parquet(sink)
      .select("dia", "daily_delta").orderBy("dia")
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
    assert(r1 == Seq(("2025-01-01", 8L), ("2025-01-02", -2L)))

    // second micro-batch: a late event for day 1 (inside lateness) and a
    // new day — day-1 row must be UPDATED (last-wins), not duplicated
    stream.addData(
      LedgerEvent(ts("2025-01-01 23:00:00"), 1, 7L, Some(10L)),
      LedgerEvent(ts("2025-01-03 08:00:00"), 1, 7L, Some(1L)))
    StreamingIngest.upsertSink(daily, sink, ckpt).start().awaitTermination()

    val r2 = spark.read.parquet(sink)
      .select("dia", "daily_delta").orderBy("dia")
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
    assert(r2 == Seq(("2025-01-01", 18L), ("2025-01-02", -2L), ("2025-01-03", 1L)))

    // key uniqueness: exactly one row per (store, sku, day)
    val dups = spark.read.parquet(sink)
      .groupBy("tienda_id", "art_id", "dia").count().filter(col("count") > 1)
    assert(dups.isEmpty)
  }

  test("stateful balance carries per-key state across micro-batches") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.operators.Stock
    val tmp = Files.createTempDirectory("graft-state").toString

    val stream = MemoryStream[Stock.LedgerEv](spark)
    val out = graft.streaming.StatefulBalance(stream.toDS())
    val query = out.writeStream.format("memory").queryName("bal")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()

    def ev(id: Long, art: Long, t: String, abs: Option[Long], d: Option[Long]) =
      Stock.LedgerEv(id, art, 1, ts(t), abs.isDefined, d, abs)

    // batch 1: deltas then an absolute reset for art 7
    stream.addData(
      ev(1, 7L, "2025-01-01 10:00:00", None, Some(5L)),
      ev(2, 7L, "2025-01-01 11:00:00", Some(100L), None),
      ev(3, 8L, "2025-01-01 11:30:00", None, Some(-4L)))
    query.processAllAvailable()
    // batch 2: state must continue from 100 (art 7) and -4 (art 8)
    stream.addData(
      ev(4, 7L, "2025-01-02 09:00:00", None, Some(-30L)),
      ev(5, 8L, "2025-01-02 09:30:00", None, Some(10L)))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("bal")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = Set(
      (7L, 1L, 5L), (7L, 2L, 100L), (8L, 3L, -4L), // batch 1
      (7L, 4L, 70L), (8L, 5L, 6L)) // batch 2 continues persisted state
    assert(got == expected)

    // and it matches the batch window plan over the concatenated input
    val all = Seq(
      ev(1, 7L, "2025-01-01 10:00:00", None, Some(5L)),
      ev(2, 7L, "2025-01-01 11:00:00", Some(100L), None),
      ev(3, 8L, "2025-01-01 11:30:00", None, Some(-4L)),
      ev(4, 7L, "2025-01-02 09:00:00", None, Some(-30L)),
      ev(5, 8L, "2025-01-02 09:30:00", None, Some(10L))).toDF()
      .withColumn("tipo_movimiento", lit("x"))
    val batch = Stock.withBalance(all)
      .select(col("art_id"), col("id_origen"), col("balance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == got)
  }

  test("streaming sessionization finalizes sessions across micro-batches " +
    "and matches the batch window plan") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.SessEv
    val tmp = Files.createTempDirectory("graft-sess").toString

    // the whole sf0.001 events table, chronologically split into 3
    // micro-batches (in-order-per-key contract, as the day-replay ingest
    // guarantees)
    val evs = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[SessEv].collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    val chunks = evs.grouped((evs.size + 2) / 3).toSeq

    val stream = MemoryStream[SessEv](spark)
    val query = StreamingSessions(stream.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
    query.stop()

    val got = spark.table("sess")
      .select("user_id", "session_no", "session_start", "session_end",
        "n_events", "n_purchases")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4), r.getLong(5))).toSet

    // batch q36 result minus each user's last (still-open) session
    val batch = graft.operators.Sessions.sessionize(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4), r.getLong(5)))
    val finalized = batch.groupBy(_._1).values
      .flatMap(ss => ss.sortBy(_._2).dropRight(1)).toSet

    assert(got == finalized && got.nonEmpty)
  }

  test("watermark dedup drops cross-batch re-deliveries (at-least-once -> exactly-once)") {
    val sql = spark.sqlContext
    import sql.implicits._
    val tmp = Files.createTempDirectory("graft-dedup").toString

    val stream = MemoryStream[IdEvent](spark)
    val query = StreamingIngest.dedupStream(stream.toDF(), Seq("event_id"), "ts")
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    // batch 1: two events; batch 2 re-delivers event 1 (the reference's
    // full-day re-read) plus a new event — the duplicate must be dropped
    stream.addData(IdEvent(1L, ts("2025-03-01 10:00:00"), "a"),
      IdEvent(2L, ts("2025-03-01 11:00:00"), "b"))
    query.processAllAvailable()
    stream.addData(IdEvent(1L, ts("2025-03-01 10:00:00"), "a"),
      IdEvent(3L, ts("2025-03-01 12:00:00"), "c"))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("dedup_t").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("streaming tumbling windows equal the q48 batch aggregation") {
    val sql = spark.sqlContext
    import sql.implicits._
    val rows = Seq(
      IdEvent(1L, ts("2025-04-01 10:05:00"), "click"),
      IdEvent(2L, ts("2025-04-01 10:55:00"), "click"),
      IdEvent(3L, ts("2025-04-01 11:05:00"), "view"),
      IdEvent(4L, ts("2025-04-01 10:20:00"), "view"))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("event_type"), col("n_events"))

    val stream = MemoryStream[IdEvent](spark)
    stream.addData(rows.take(2))
    stream.addData(rows.drop(2))
    val query = agg(stream.toDF())
      .writeStream.format("memory").queryName("tumb_t")
      .outputMode("complete")
      .start()
    query.processAllAvailable()
    query.stop()

    val got = spark.table("tumb_t").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = agg(rows.toDF()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && got.size == 3)
  }

  /** The warehouse's corpus index, as the dedup twin re-opens it. */
  private def corpusIdx(dir: String, wh: Warehouse) =
    Dedup.corpusIndexAt(spark, wh.root, Dedup.seenCorpus(spark, dir))

  /** A simulated process restart: every in-memory memo the document
    * twins and the fixture queries keep is dropped.
    */
  private def clearAllMemos(): Unit = {
    FixtureRoots.clear(spark)
    graft.operators.Similarity.clearKmeansMemo(spark)
    TransientCache.drain()
  }

  test("streaming dedup twin: two micro-batch nights == the batch loop; replay is a no-op") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-sdedup").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    def night(m: Int): Seq[DocRow] = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text")).as[DocRow].collect().toSeq

    // night 1 and night 2 arrive as separate micro-batches of one stream
    val stream = MemoryStream[DocRow](spark)
    stream.addData(night(8): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingDedup.processBatch(dir, wh, b))
      .start().awaitTermination()
    stream.addData(night(9): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingDedup.processBatch(dir, wh, b))
      .start().awaitTermination()

    val got = wh.read("dedup_pairs")
      .collect().map(_.mkString("|")).toSet
    // the batch reference: full-corpus q22 pairs restricted to each
    // night x its corpus-so-far (night 2's corpus includes night 1) —
    // exactly the nightly-loop differential, now reached via the stream
    val all = Dedup.minhashLsh(spark, dir).cache()
    TransientCache.drain()
    def expected(batchMod: Int, corpusMax: Int): Set[String] =
      all.filter((col("da") % 10 === batchMod && col("db") % 10 < corpusMax) ||
          (col("db") % 10 === batchMod && col("da") % 10 < corpusMax))
        .select(
          when(col("da") % 10 === batchMod, col("da")).otherwise(col("db")).as("di"),
          when(col("da") % 10 === batchMod, col("db")).otherwise(col("da")).as("dc"),
          col("jaccard"))
        .collect().map(_.mkString("|")).toSet
    assert(got == (expected(8, 8) ++ expected(9, 9)))
    assert(got.nonEmpty, "fixture must contain streaming near-dups")

    // replay of an already-processed batch (at-least-once delivery):
    // the seen-ledger filter + keyed appends make it a no-op on both
    // the pair table and the index
    val idx = corpusIdx(dir, wh)
    // the stream ADVANCED the warehouse index: every doc of both nights
    // is in it now (foreachBatch clones the session — each micro-batch
    // re-opens the same at-rest tables)
    assert(idx.bands.select(col("doc_id")).distinct().count() ==
      Tables.documents(spark, dir)
        .filter(size(graft.functions.TextFns.toks(col("text"))) >= 3).count())
    val (nb, ns) = (idx.bands.count(), idx.shingles.count())
    StreamingDedup.processBatch(dir, wh, night(8).toDF())
    assert(wh.read("dedup_pairs").collect().map(_.mkString("|")).toSet == got)
    val idx2 = corpusIdx(dir, wh)
    assert(idx2.bands.count() == nb && idx2.shingles.count() == ns)
    all.unpersist(false)
  }

  test("streaming dedup: replay repairs a crash between the two index appends") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-crash").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    def night(m: Int) = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text"))
    // reference: the uncrashed path over the same two batches
    StreamingDedup.processBatch(dir, wh, night(8).as[DocRow].collect().toSeq.toDF())
    val wantPairs = wh.read("dedup_pairs").collect().map(_.mkString("|")).toSet
    val wantIdx = corpusIdx(dir, wh)
    val (wantB, wantS) = (wantIdx.bands.count(), wantIdx.shingles.count())

    // crash simulation: night 8's pairs were appended and the FIRST index
    // append (corpus_shingles) committed, then the process died before
    // the corpus_band_index append — the exact window the per-table
    // guards exist for
    val wh2 = new Warehouse(spark, s"$tmp/wh2")
    val idx0 = corpusIdx(dir, wh2) // the base index, at rest in wh2
    // the pre-crash screen MATERIALIZED before the crash is simulated:
    // the screen's unseenBatch guard reads corpus_shingles, and the
    // append below refreshes that path's file listing — a lazy p0 would
    // re-evaluate against post-crash state and see its docs as seen
    val p0 = Dedup.screenAgainstIndexOf(idx0, night(8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    TransientCache.drain()
    wh2.append("corpus_shingles", Dedup.shingleRowsOf(night(8)))
    wh2.append("dedup_pairs", p0.toDF("di", "dc", "jaccard"))
    // "restart": the next micro-batch re-opens the at-rest tables as they are
    assert(corpusIdx(dir, wh2).bands
      .filter(col("doc_id") % 10 === 8).isEmpty, "crash state: bands missing")
    // redelivery of the same micro-batch must append exactly the missing
    // band side and no duplicate of anything else
    StreamingDedup.processBatch(dir, wh2, night(8).as[DocRow].collect().toSeq.toDF())
    val idx1 = corpusIdx(dir, wh2)
    assert(idx1.bands.count() == wantB && idx1.shingles.count() == wantS)
    assert(wh2.read("dedup_pairs").collect().map(_.mkString("|")).toSet == wantPairs)
  }

  test("streaming dedup: replay after BOTH data appends land (manifest behind) adds no self-pairs") {
    // the worst crash window for the manifest seen-ledger: shingles AND
    // bands at rest, manifest not. A replayed screen that re-admitted
    // these docs would band-match them against their OWN at-rest rows
    // (jaccard 1.0) and their batch siblings — NOVEL pairs the (di, dc)
    // anti-join cannot absorb (a review-pass finding). The screen's
    // unseenBatch residual probe must drop them instead.
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-crash2").toString
    def night(m: Int) = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text"))
    // reference: the uncrashed path
    val wh = new Warehouse(spark, s"$tmp/wh")
    StreamingDedup.processBatch(dir, wh, night(8).as[DocRow].collect().toSeq.toDF())
    val wantPairs = wh.read("dedup_pairs").collect().map(_.mkString("|")).toSet
    val wantIdx = corpusIdx(dir, wh)
    val (wantB, wantS, wantD) =
      (wantIdx.bands.count(), wantIdx.shingles.count(), wantIdx.docs.count())

    // crash simulation: pairs + BOTH index data appends committed, the
    // corpus_docs append did not
    val wh2 = new Warehouse(spark, s"$tmp/wh2")
    val idx0 = corpusIdx(dir, wh2)
    // pre-crash screen materialized BEFORE the crash sim (see the
    // sibling crash spec: the guard re-lists appended paths)
    val p0 = Dedup.screenAgainstIndexOf(idx0, night(8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    TransientCache.drain()
    val sh8 = Dedup.shingleRowsOf(night(8)).localCheckpoint(true)
    wh2.append("corpus_shingles", sh8)
    wh2.append("corpus_band_index", Dedup.bandsOf(sh8))
    wh2.append("dedup_pairs", p0.toDF("di", "dc", "jaccard"))
    // "restart": the next micro-batch re-opens the at-rest tables as they are
    assert(corpusIdx(dir, wh2).docs
      .filter(col("doc_id") % 10 === 8).isEmpty, "crash state: manifest behind")
    // redelivery: no new pairs (especially no di == dc), manifest repaired
    StreamingDedup.processBatch(dir, wh2, night(8).as[DocRow].collect().toSeq.toDF())
    val gotPairs = wh2.read("dedup_pairs").collect().map(_.mkString("|")).toSet
    assert(gotPairs == wantPairs, "replay must add no self/sibling pairs")
    assert(wh2.read("dedup_pairs").filter(col("di") === col("dc")).isEmpty)
    val idx1 = corpusIdx(dir, wh2)
    assert(idx1.bands.count() == wantB && idx1.shingles.count() == wantS &&
      idx1.docs.count() == wantD)
  }

  test("streaming dedup: a durable index root survives a process restart") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    def night(m: Int) = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text"))
    // the fixture's per-dir q74 index holds the base corpus alone, and
    // no stream advances it
    def memoAtBase(): Unit = {
      val docs = Dedup.corpusIndex(spark, dir).docs
      assert(docs.filter(col("doc_id") % 10 >= 8).isEmpty && !docs.isEmpty,
        "the fixture index must hold only the base corpus")
    }

    // reference: both nights in ONE process lifetime
    clearAllMemos()
    val tmpRef = Files.createTempDirectory("graft-durable-ref").toString
    val whRef = new Warehouse(spark, s"$tmpRef/wh")
    StreamingDedup.processBatch(dir, whRef, night(8).as[DocRow].collect().toSeq.toDF())
    StreamingDedup.processBatch(dir, whRef, night(9).as[DocRow].collect().toSeq.toDF())
    val want = whRef.read("dedup_pairs").collect().map(_.mkString("|")).toSet
    assert(want.nonEmpty)

    // restarted run: night 8, then a SIMULATED RESTART (every memo
    // wiped), then night 9 — the index is at rest in the warehouse
    val tmp = Files.createTempDirectory("graft-durable").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    clearAllMemos()
    memoAtBase()
    StreamingDedup.processBatch(dir, wh, night(8).as[DocRow].collect().toSeq.toDF())
    memoAtBase()
    clearAllMemos() // "restart": in-memory memos gone
    memoAtBase()
    StreamingDedup.processBatch(dir, wh, night(9).as[DocRow].collect().toSeq.toDF())
    // night 9 still deduped against streamed night 8 ⇒ restart lost nothing
    assert(wh.read("dedup_pairs").collect().map(_.mkString("|")).toSet == want)
    memoAtBase()
    clearAllMemos()
  }

  test("streaming winnow twin: two micro-batch nights == the batch loop; replay is a no-op") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-swinnow").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val docs = Tables.documents(spark, dir)
    def night(m: Int): Seq[DocRow] = docs
      .filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text")).as[DocRow].collect().toSeq

    // night 1 and night 2 arrive as separate micro-batches of one stream
    val stream = MemoryStream[DocRow](spark)
    stream.addData(night(8): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingWinnow.processBatch(dir, wh, b))
      .start().awaitTermination()
    stream.addData(night(9): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingWinnow.processBatch(dir, wh, b))
      .start().awaitTermination()

    val got = wh.read("winnow_pairs").collect().map(_.mkString("|")).toSet
    // the batch reference: the full q86 pair computation over exactly the
    // docs visible each night (corpus-so-far ∪ batch — the df universe an
    // incremental screen must reproduce), restricted to batch x corpus —
    // the WinnowSpec nightly-loop differential, now reached via the stream
    def expected(batchMod: Int, corpusMax: Int): Set[String] = {
      val uni = docs.filter(col("doc_id") % 10 < corpusMax ||
        col("doc_id") % 10 === batchMod)
      val s = Dedup.winnowPairsOf(Dedup.winnowFingerprintsOf(uni))
        .filter((col("da") % 10 === batchMod && col("db") % 10 < corpusMax) ||
          (col("db") % 10 === batchMod && col("da") % 10 < corpusMax))
        .select(
          when(col("da") % 10 === batchMod, col("da")).otherwise(col("db")).as("di"),
          when(col("da") % 10 === batchMod, col("db")).otherwise(col("da")).as("dc"),
          col("shared"), col("sim"))
        .collect().map(_.mkString("|")).toSet
      TransientCache.drain()
      s
    }
    assert(got == (expected(8, 8) ++ expected(9, 9)))
    assert(got.nonEmpty, "fixture must contain streaming winnow overlaps")

    // the stream ADVANCED the warehouse index: both nights' docs are in
    // the manifest now (foreachBatch clones the session — each
    // micro-batch re-opens the same at-rest tables)
    def winIdx() = Dedup.winnowIndexAt(spark, wh.root, Dedup.seenCorpus(spark, dir))
    val idx = winIdx()
    assert(idx.docs.filter(col("doc_id") % 10 >= 8).count() ==
      docs.filter(col("doc_id") % 10 >= 8 && col("text").isNotNull).count())
    val (nf, nd) = (idx.fingerprints.count(), idx.docs.count())
    // replay of an already-processed batch (at-least-once delivery): the
    // seen-ledger + keyed appends make it a no-op on pairs AND index
    StreamingWinnow.processBatch(dir, wh, night(8).toDF())
    assert(wh.read("winnow_pairs").collect().map(_.mkString("|")).toSet == got)
    val idx2 = winIdx()
    assert(idx2.fingerprints.count() == nf && idx2.docs.count() == nd)
  }

  test("streaming winnow: a durable index root survives a process restart") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    def night(m: Int) = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text"))
    // the fixture's per-dir q88 index holds the base corpus alone, and
    // no stream advances it
    def memoAtBase(): Unit = {
      val docs = Dedup.winnowIndexAtRest(spark, dir).docs
      assert(docs.filter(col("doc_id") % 10 >= 8).isEmpty && !docs.isEmpty,
        "the fixture index must hold only the base corpus")
    }

    // reference: both nights in ONE process lifetime
    clearAllMemos()
    val tmpRef = Files.createTempDirectory("graft-wdurable-ref").toString
    val whRef = new Warehouse(spark, s"$tmpRef/wh")
    StreamingWinnow.processBatch(dir, whRef, night(8).as[DocRow].collect().toSeq.toDF())
    StreamingWinnow.processBatch(dir, whRef, night(9).as[DocRow].collect().toSeq.toDF())
    val want = whRef.read("winnow_pairs").collect().map(_.mkString("|")).toSet
    assert(want.nonEmpty)

    // restarted run: night 8, then a SIMULATED RESTART (every memo
    // wiped), then night 9 — the index must remember night 8 from the
    // warehouse
    val tmp = Files.createTempDirectory("graft-wdurable").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    clearAllMemos()
    memoAtBase()
    StreamingWinnow.processBatch(dir, wh, night(8).as[DocRow].collect().toSeq.toDF())
    memoAtBase()
    clearAllMemos() // "restart": in-memory memos gone
    memoAtBase()
    StreamingWinnow.processBatch(dir, wh, night(9).as[DocRow].collect().toSeq.toDF())
    // night 9 still screened against streamed night 8 ⇒ restart lost nothing
    assert(wh.read("winnow_pairs").collect().map(_.mkString("|")).toSet == want)
    memoAtBase()
    clearAllMemos()
  }

  test("streaming ann twin: two micro-batch nights == the batch loop; replay is a no-op") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    def night(m: Int): Seq[EmbRow] = emb.filter(col("vec_id") % 10 === m)
      .select(col("vec_id"), col("embedding")).as[EmbRow].collect().toSeq
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    // reference: the batch loop (the replay unit TrainingOpsSpec verifies
    // differentially) driven directly, one fresh index
    graft.operators.Similarity.clearKmeansMemo(spark)
    val tmpRef = Files.createTempDirectory("graft-sann-ref").toString
    val whRef = new Warehouse(spark, s"$tmpRef/wh")
    StreamingAnn.processBatch(dir, whRef, night(8).toDF())
    StreamingAnn.processBatch(dir, whRef, night(9).toDF())
    val want = asSet(whRef.read("ann_matches"))
    assert(want.nonEmpty, "fixture must contain streaming ann matches")

    // streamed: the same two nights as micro-batches of one stream —
    // equality proves the foreachBatch wiring (cloned-session memos,
    // checkpoint restarts) preserves the loop exactly
    graft.operators.Similarity.clearKmeansMemo(spark)
    val tmp = Files.createTempDirectory("graft-sann").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val stream = MemoryStream[EmbRow](spark)
    stream.addData(night(8): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingAnn.processBatch(dir, wh, b))
      .start().awaitTermination()
    stream.addData(night(9): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingAnn.processBatch(dir, wh, b))
      .start().awaitTermination()
    assert(asSet(wh.read("ann_matches")) == want)

    // the stream ADVANCED the warehouse index: every vector of both
    // nights is absorbed, so a replay is a no-op on matches AND index
    val codes = wh.read("corpus_codes")
    assert(codes.filter(col("vec_id") % 10 >= 8).count() ==
      emb.filter(col("vec_id") % 10 >= 8).count())
    val nc = codes.count()
    StreamingAnn.processBatch(dir, wh, night(8).toDF())
    assert(asSet(wh.read("ann_matches")) == want)
    assert(wh.read("corpus_codes").count() == nc)
    graft.operators.Similarity.clearKmeansMemo(spark)
  }

  test("streaming ann: a durable index root survives a process restart") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    def night(m: Int): Seq[EmbRow] = emb.filter(col("vec_id") % 10 === m)
      .select(col("vec_id"), col("embedding")).as[EmbRow].collect().toSeq
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // the fixture's per-dir q89 index holds the base corpus alone, and
    // no stream advances it
    def memoAtBase(): Unit = {
      val codes = graft.operators.Similarity.annIndexAtRest(spark, dir).codes
      assert(codes.filter(col("vec_id") % 10 >= 8).isEmpty && !codes.isEmpty,
        "the fixture index must hold only the base corpus")
    }

    // reference: both nights in ONE process lifetime
    clearAllMemos()
    val tmpRef = Files.createTempDirectory("graft-anndur-ref").toString
    val whRef = new Warehouse(spark, s"$tmpRef/wh")
    StreamingAnn.processBatch(dir, whRef, night(8).toDF())
    StreamingAnn.processBatch(dir, whRef, night(9).toDF())
    val want = asSet(whRef.read("ann_matches"))
    assert(want.nonEmpty)

    // restarted run: night 8, a SIMULATED RESTART (every memo wiped; the
    // fits legitimately re-memoize — they are deterministic), night 9
    val tmp = Files.createTempDirectory("graft-anndur").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    clearAllMemos()
    memoAtBase()
    StreamingAnn.processBatch(dir, wh, night(8).toDF())
    memoAtBase()
    clearAllMemos() // "restart"
    memoAtBase()
    StreamingAnn.processBatch(dir, wh, night(9).toDF())
    // night 9 still searched against streamed night 8 ⇒ restart lost nothing
    assert(asSet(wh.read("ann_matches")) == want)
    memoAtBase()
    clearAllMemos()
  }

  test("streaming refine twin: micro-batch nights == batch nights; mid-cycle crash replay converges") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    def night(m: Int): Seq[SrcDocRow] = docs.filter(col("doc_id") % 10 === m)
      .as[SrcDocRow].collect().toSeq
    def seed(wh: Warehouse): Unit = {
      wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
      wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
        col("source") =!= CorpusPipeline.BenchSource))
    }
    val tables = Seq("corpus_raw", "corpus_live", "live_keys",
      "live_index/corpus_shingles", "live_index/corpus_band_index",
      "live_index/corpus_docs", "live_winnow/corpus_winnow",
      "live_winnow/corpus_winnow_docs")
    // the maintained distribution is compared through its AGGREGATED
    // view: delta rows are keyed by append history (a crash-replayed
    // lane legitimately splits the same counts across different
    // batch keys), and the aggregate IS the semantic contract
    def state(wh: Warehouse): Map[String, Set[String]] =
      tables.map(t => t -> wh.read(t).collect().map(_.mkString("|")).toSet).toMap +
        ("live_token_counts:agg" -> CorpusPipeline.liveTokenCounts(wh)
          .collect().map(_.mkString("|")).toSet)

    // batch reference: two clean refineIncremental nights; the night-8
    // lane tables are captured mid-way for the crash simulation below
    val tmp = Files.createTempDirectory("graft-srefine").toString
    val whRef = new Warehouse(spark, s"$tmp/ref")
    seed(whRef)
    CorpusPipeline.refineIncremental(whRef, night(8).toDF())
    val n8Lane = Seq("corpus_raw", "corpus_live", "live_keys").map { t =>
      val df = whRef.read(t); (t, df.schema, df.collect().toSeq)
    }
    CorpusPipeline.refineIncremental(whRef, night(9).toDF())
    TransientCache.drain()
    val want = state(whRef)

    // the same nights as two micro-batches of one stream
    val wh = new Warehouse(spark, s"$tmp/wh")
    seed(wh)
    val stream = MemoryStream[SrcDocRow](spark)
    stream.addData(night(8): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingRefine.processBatch(wh, b))
      .start().awaitTermination()
    stream.addData(night(9): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      (b, _) => StreamingRefine.processBatch(wh, b))
      .start().awaitTermination()
    assert(state(wh) == want, "streamed nights != batch nights")

    // at-least-once: a replayed fully-committed night is a no-op
    StreamingRefine.processBatch(wh, night(8).toDF())
    assert(state(wh) == want, "replay of a committed night must be a no-op")

    // mid-cycle crash, the WORST window of the append order: raw ledger,
    // corpus_live, and live_keys committed; NEITHER live index advanced.
    // On replay the exact screen drops the whole batch (its keys are all
    // seen), and the index advances must still land via the at-rest
    // corpus_live read-back — the order contract's central claim.
    val whC = new Warehouse(spark, s"$tmp/crash")
    seed(whC)
    whC.write("corpus_live", whC.read("corpus_clean"))
    whC.write("live_keys",
      Dedup.exactDedupOf(whC.read("corpus_live")).select(col("k")))
    Dedup.corpusIndexAt(spark, s"${whC.root}/live_index", whC.read("corpus_live"))
    Dedup.winnowIndexAt(spark, s"${whC.root}/live_winnow", whC.read("corpus_live"))
    n8Lane.foreach { case (t, schema, rows) =>
      import scala.jdk.CollectionConverters._
      whC.write(t, spark.createDataFrame(rows.asJava, schema))
    }
    StreamingRefine.processBatch(whC, night(8).toDF()) // the replay
    StreamingRefine.processBatch(whC, night(9).toDF())
    TransientCache.drain()
    assert(state(whC) == want, "mid-cycle crash replay did not converge")
  }

  test("the streaming aggregation plan also runs in plain batch mode") {
    val sql = spark.sqlContext
    import sql.implicits._
    val batch = Seq(
      LedgerEvent(ts("2025-02-01 10:00:00"), 2, 1L, Some(4L)),
      LedgerEvent(ts("2025-02-01 12:00:00"), 2, 1L, None),
      LedgerEvent(ts("2025-02-02 10:00:00"), 2, 1L, Some(6L))).toDF()
    val out = StreamingIngest.dailyNetStream(batch)
      .select("dia", "daily_delta", "n_events").orderBy("dia")
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("2025-02-01", 4L, 2L), ("2025-02-02", 6L, 1L)))
  }

  test("streaming gated refine: a spam micro-batch quarantines; a normal one refines") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-sgate").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
    wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))
    def night(m: Int): Seq[SrcDocRow] = docs.filter(col("doc_id") % 10 === m)
      .as[SrcDocRow].collect().toSeq
    val spam = (9000L until 9030L).map(i =>
      SrcDocRow(i, "spamnet", "zqzq vrvr kjkj zqzq wmwm vrvr"))

    val stream = MemoryStream[SrcDocRow](spark)
    stream.addData(night(8): _*)
    StreamingRefine.gatedSink(stream.toDF(), wh, s"$tmp/ckpt")
      .start().awaitTermination()
    val liveAfterNormal = wh.read("corpus_live").count()
    assert(!wh.exists("corpus_quarantine"),
      "an in-distribution micro-batch must not quarantine")
    assert(liveAfterNormal >
      wh.read("corpus_clean").count(), "night 8 should refine into live")

    stream.addData(spam: _*)
    StreamingRefine.gatedSink(stream.toDF(), wh, s"$tmp/ckpt")
      .start().awaitTermination()
    assert(wh.read("corpus_quarantine").count() == 30)
    assert(wh.read("corpus_live").count() == liveAfterNormal,
      "a gated micro-batch must not touch corpus_live")
    TransientCache.drain()
  }

  test("streaming funnel: micro-batches == batch fold; an open chain survives a restart") {
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEv
    val sql = spark.sqlContext
    import sql.implicits._
    val tmp = Files.createTempDirectory("graft-sfunnel").toString
    val base = 1700000000L
    def pack(offSec: Long, step: Long): Long = (base + offSec) * 8 + step

    val stream = MemoryStream[FunnelEv](spark)
    // foreachBatch sink: unlike the memory sink it supports restarting
    // from the checkpoint — the point of this test
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def run(): Unit = {
      val q = StreamingFunnel(stream.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingFunnel.FunnelRow], _: Long) =>
          batch.collect().foreach(r => emitted.add(r.user_id -> r.funnel_depth))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    // batch 1: u1 view+click (chain OPEN at depth 2); u2 full chain
    stream.addData(
      FunnelEv(1L, pack(0, 1)), FunnelEv(1L, pack(100, 2)),
      FunnelEv(2L, pack(0, 1)), FunnelEv(2L, pack(10, 2)), FunnelEv(2L, pack(20, 3)))
    run()
    // RESTART (new query, same checkpoint): u1's purchase arrives inside
    // the window of the chain opened BEFORE the restart — the packed
    // state must carry (best, depth, start) across and complete to 3;
    // u3's purchase alone never chains
    stream.addData(FunnelEv(1L, pack(200, 3)), FunnelEv(3L, pack(0, 3)))
    run()

    import scala.jdk.CollectionConverters._
    val emits = emitted.asScala.toArray
    // running emissions: u1 reads 2 after batch 1, then 3 after batch 2
    assert(emits.filter(_._1 == 1L).toSeq == Seq((1L, 2L), (1L, 3L)), emits.toSeq.toString)
    val last = emits.zipWithIndex.groupBy(_._1._1)
      .map { case (u, es) => u -> es.maxBy(_._2)._1._2 }
    // final per-user depth == the batch fold over the concatenated input
    val all = Seq(
      (1L, new java.sql.Timestamp((base + 0) * 1000L), "view"),
      (1L, new java.sql.Timestamp((base + 100) * 1000L), "click"),
      (1L, new java.sql.Timestamp((base + 200) * 1000L), "purchase"),
      (2L, new java.sql.Timestamp((base + 0) * 1000L), "view"),
      (2L, new java.sql.Timestamp((base + 10) * 1000L), "click"),
      (2L, new java.sql.Timestamp((base + 20) * 1000L), "purchase"),
      (3L, new java.sql.Timestamp((base + 0) * 1000L), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val batch = graft.operators.Sessions.windowFunnelOf(all).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(last == batch && batch == Map(1L -> 3L, 2L -> 3L, 3L -> 0L),
      s"streamed $last vs batch $batch")
  }

  test("streaming transitions: pairs across a batch boundary; aggregated == batch matrix") {
    import graft.streaming.StreamingTransitions
    import graft.streaming.StreamingTransitions.{TransEv, TransRow}
    val sql = spark.sqlContext
    import sql.implicits._
    val tmp = Files.createTempDirectory("graft-strans").toString
    val base = 1700000000L
    def us(offSec: Long): Long = (base + offSec) * 1000000L
    def code(t: String): Int = StreamingTransitions.Types.indexOf(t) + 1

    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Int)]()
    val stream = MemoryStream[TransEv](spark)
    def run(): Unit = {
      val q = StreamingTransitions(stream.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[TransRow], _: Long) =>
          batch.collect().foreach(r =>
            emitted.add((r.user_id, r.from_code, r.to_code)))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    // batch 1: u1 view->click inside the gap; u2 one event (no pair yet)
    stream.addData(
      TransEv(1L, us(0), 1L, code("view")),
      TransEv(1L, us(100), 2L, code("click")),
      TransEv(2L, us(0), 3L, code("view")))
    run()
    // RESTART from checkpoint: u1's purchase chains off the click CARRIED
    // in state; u2's next event is PAST the 6 h gap — the chain breaks
    // exactly as q105's window filter drops the pair
    stream.addData(
      TransEv(1L, us(200), 4L, code("purchase")),
      TransEv(2L, us(7L * 3600), 5L, code("view")))
    run()

    import scala.jdk.CollectionConverters._
    val got = emitted.asScala.toSeq.sorted
    assert(got == Seq(
      (1L, code("view"), code("click")),
      (1L, code("click"), code("purchase"))).sorted, got.toString)

    // aggregated emitted pairs == the batch q105 matrix numerators over
    // the concatenated input (pair counts are additive across batches)
    val all = Seq(
      (1L, new java.sql.Timestamp(us(0) / 1000), 1L, "view"),
      (1L, new java.sql.Timestamp(us(100) / 1000), 2L, "click"),
      (1L, new java.sql.Timestamp(us(200) / 1000), 4L, "purchase"),
      (2L, new java.sql.Timestamp(us(0) / 1000), 3L, "view"),
      (2L, new java.sql.Timestamp(us(7L * 3600) / 1000), 5L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val batchCells = graft.operators.Sessions.sessionTransitionsOf(all)
      .collect().map(r => ((code(r.getString(0)), code(r.getString(1))), r.getLong(2))).toMap
    val streamedCells = got.groupBy(p => (p._2, p._3))
      .map { case (k, vs) => k -> vs.size.toLong }
    assert(streamedCells == batchCells,
      s"streamed $streamedCells vs batch $batchCells")
  }

  test("streaming sequence: triple state across a restart; finals aggregate to the batch q106 distribution") {
    import graft.streaming.StreamingSequence
    import graft.streaming.StreamingSequence.{SeqEv, SeqRow}
    val sql = spark.sqlContext
    import sql.implicits._
    val tmp = Files.createTempDirectory("graft-sseq").toString
    val base = 1700000000L

    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Option[Long])]()
    val stream = MemoryStream[SeqEv](spark)
    def run(): Unit = {
      val q = StreamingSequence(stream.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[SeqRow], _: Long) =>
          batch.collect().foreach(r => emitted.add((r.user_id, r.funnel_depth, r.conv)))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    // batch 1: u1 opens view+click (depth 2); u2 full chain IN-batch with
    // a click-before-view reordering inside the batch (the sort handles
    // it: click@10 precedes view@20 and must NOT count, click@30 does);
    // u5 view+click at the SAME second (strict > keeps depth 1)
    stream.addData(
      SeqEv(1L, base + 0, 1), SeqEv(1L, base + 100, 2),
      SeqEv(2L, base + 10, 2), SeqEv(2L, base + 20, 1),
      SeqEv(2L, base + 30, 2), SeqEv(2L, base + 40, 3),
      SeqEv(5L, base + 50, 1), SeqEv(5L, base + 50, 2))
    run()
    // RESTART (new query, same checkpoint): u1's purchase completes the
    // chain opened BEFORE the restart — conv must span it (t3 − t1 =
    // 200); u3 is purchase-only (depth 0)
    stream.addData(SeqEv(1L, base + 200, 3), SeqEv(3L, base + 5, 3))
    run()

    import scala.jdk.CollectionConverters._
    val emits = emitted.asScala.toArray
    // running emissions: u1 reads depth 2 after batch 1, then (3, conv=200)
    assert(emits.filter(_._1 == 1L).toSeq ==
      Seq((1L, 2L, None), (1L, 3L, Some(200L))), emits.toSeq.toString)
    val last = emits.zipWithIndex.groupBy(_._1._1)
      .map { case (u, es) => val f = es.maxBy(_._2)._1; u -> (f._2, f._3) }
    assert(last == Map(1L -> (3L, Some(200L)), 2L -> (3L, Some(20L)),
      3L -> (0L, None), 5L -> (1L, None)), last.toString)

    // final per-user rows aggregate to the batch q106 distribution over
    // the concatenated input (same depth counts and conv stats)
    def t(off: Long) = new java.sql.Timestamp((base + off) * 1000L)
    val all = Seq(
      (1L, t(0), "view"), (1L, t(100), "click"), (1L, t(200), "purchase"),
      (2L, t(10), "click"), (2L, t(20), "view"), (2L, t(30), "click"),
      (2L, t(40), "purchase"),
      (3L, t(5), "purchase"),
      (5L, t(50), "view"), (5L, t(50), "click"))
      .toDF("user_id", "ts", "event_type")
    val batch = graft.operators.Sessions.sequenceConvertOf(all).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val streamedDist = last.groupBy(_._2._1).map { case (d, us) =>
      d -> (us.size.toLong, us.flatMap(_._2._2).minOption) }
    batch.foreach { case (d, (n, mn)) =>
      assert(streamedDist(d) == ((n, mn)),
        s"depth $d: streamed ${streamedDist(d)} vs batch ${(n, mn)}")
    }
    assert(batch.keySet == streamedDist.keySet)
  }

  test("streaming retention: one emission per user-week across a restart; aggregated == batch q104 cells") {
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.{RetEv, RetRow}
    val sql = spark.sqlContext
    import sql.implicits._
    val tmp = Files.createTempDirectory("graft-sret").toString
    val day0 = 19700L // an arbitrary epoch day; cohort = day0 DIV 7

    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val stream = MemoryStream[RetEv](spark)
    def run(): Unit = {
      val q = StreamingRetention(stream.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[RetRow], _: Long) =>
          batch.collect().foreach(r =>
            emitted.add((r.user_id, r.cohort_week, r.week_offset)))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    // batch 1: u1 active twice in week 0 (ONE activation) + once in
    // week 1; u2 active in its own week 0 only
    stream.addData(
      RetEv(1L, day0), RetEv(1L, day0 + 2), RetEv(1L, day0 + 8),
      RetEv(2L, day0 + 1))
    run()
    // RESTART from checkpoint: u1 returns in week 3 (cohort pinned by
    // the CARRIED first_day) twice — the second activation dedup'd by
    // the carried seen set; u2's week-1 return lands in u1's cohort
    // (different fd, same fd DIV 7); u3 starts a new cohort
    stream.addData(
      RetEv(1L, day0 + 22), RetEv(1L, day0 + 23),
      RetEv(2L, day0 + 9), RetEv(3L, day0 + 14))
    run()

    import scala.jdk.CollectionConverters._
    val got = emitted.asScala.toSeq
    assert(got.size == got.distinct.size, s"duplicate activations: $got")
    // u1's cohort never moves across the restart
    assert(got.filter(_._1 == 1L).map(_._2).distinct == Seq(day0 / 7))

    // aggregated activations == the batch q104 cells over the
    // concatenated input (n_active per (cohort, offset); sizes = the
    // offset-0 slice)
    def t(d: Long) = new java.sql.Timestamp(d * 86400L * 1000L)
    val all = Seq(
      (1L, t(day0)), (1L, t(day0 + 2)), (1L, t(day0 + 8)),
      (1L, t(day0 + 22)), (1L, t(day0 + 23)),
      (2L, t(day0 + 1)), (2L, t(day0 + 9)),
      (3L, t(day0 + 14)))
      .toDF("user_id", "ts")
    val batchCells = graft.operators.Sessions.retentionCohortsOf(all)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val streamedCells = got.groupBy(e => (e._2, e._3))
      .map { case (k, vs) => k -> vs.size.toLong }
    assert(streamedCells == batchCells,
      s"streamed $streamedCells vs batch $batchCells")
  }

  test("streaming retention index: user-week advance across batches + restart; replay is an anti-join no-op") {
    import graft.streaming.StreamingRetentionIndex
    import graft.streaming.StreamingRetentionIndex.IdxEv
    import graft.operators.Sessions
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-sretidx").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val bounds = ev.agg(min(col("day")), max(col("day"))).head()
    val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    // TIME-split nights (the in-order-per-user contract), not hash splits
    def night(pred: org.apache.spark.sql.Column): Seq[IdxEv] =
      ev.filter(pred).select(col("user_id"), col("ts")).as[IdxEv]
        .collect().toSeq

    val stream = MemoryStream[IdxEv](spark)
    // batch 0 seeds (cold warehouse — the first batch IS the seed)
    stream.addData(night(col("day") < cut): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      StreamingRetentionIndex.processBatch(wh, _, _))
      .start().awaitTermination()
    // RESTART (new query, same checkpoint): batch 1 advances the tables
    stream.addData(night(col("day") >= cut): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      StreamingRetentionIndex.processBatch(wh, _, _))
      .start().awaitTermination()

    def tables(): (Seq[(Long, Long)], Seq[(Long, Long)]) = (
      wh.read("ret_user").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq,
      wh.read("ret_weeks").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq)
    // streamed ≡ batch rebuild over the full event log
    val rb = Files.createTempDirectory("graft-sretidx-rb").toString
    Sessions.retentionIndexAt(spark, rb, Tables.events(spark, dir))
    val w2 = new Warehouse(spark, rb)
    val want = (
      w2.read("ret_user").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq,
      w2.read("ret_weeks").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq)
    val streamed = tables()
    assert(streamed == want, "streamed index != batch rebuild")

    // at-least-once: a DIRECT replay of batch 1 appends nothing — the
    // row-level anti-joins are the ledger
    StreamingRetentionIndex.processBatch(wh,
      ev.filter(col("day") >= cut).select(col("user_id"), col("ts")), 1L)
    assert(tables() == streamed, "replayed advance must be a no-op")
  }

  test("streaming transitions index: ledger advance across batches + restart; replayed batch no-ops on the marker") {
    import graft.streaming.StreamingTransitionsIndex
    import graft.streaming.StreamingTransitionsIndex.TrEv
    import graft.operators.Sessions
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-stridx").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val bounds = ev.agg(min(col("day")), max(col("day"))).head()
    val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    def night(pred: org.apache.spark.sql.Column): Seq[TrEv] =
      ev.filter(pred)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[TrEv].collect().toSeq

    val stream = MemoryStream[TrEv](spark)
    stream.addData(night(col("day") < cut): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      StreamingTransitionsIndex.processBatch(wh, _, _))
      .start().awaitTermination()
    // RESTART (new query, same checkpoint): batch 1 advances
    stream.addData(night(col("day") >= cut): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      StreamingTransitionsIndex.processBatch(wh, _, _))
      .start().awaitTermination()

    def cells(): Map[(String, String), Long] =
      wh.read("tr_deltas").groupBy(col("from_type"), col("to_type"))
        .agg(sum(col("n")).as("n")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // streamed ledger ≡ the batch q105 matrix over the full event log
    // (boundary pairs spanning the micro-batch split ride the carry)
    val want = Sessions.sessionTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val streamed = cells()
    assert(streamed == want, "streamed ledger != batch matrix")

    // at-least-once: a DIRECT replay of batch 1 no-ops on the night
    // marker (tr_last is stamped with its key)
    val lastBefore = wh.read("tr_last").collect().map(_.toString).sorted.toSeq
    StreamingTransitionsIndex.processBatch(wh,
      ev.filter(col("day") >= cut)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")), 1L)
    assert(cells() == streamed, "replayed batch moved the ledger")
    assert(wh.read("tr_last").collect().map(_.toString).sorted.toSeq ==
      lastBefore, "replayed batch moved the carry")
  }

  test("streaming quantile index: histogram advance across batches + restart; replay no-ops on the manifest") {
    import graft.streaming.StreamingQuantileIndex
    import graft.streaming.StreamingQuantileIndex.QDoc
    import graft.operators.{Analytics, QuantileIndex}
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-stqidx").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val docs = Tables.documents(spark, dir)
    def night(pred: org.apache.spark.sql.Column): Seq[QDoc] =
      docs.filter(pred)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .as[QDoc].collect().toSeq

    val stream = MemoryStream[QDoc](spark)
    // batch 0 seeds (cold warehouse — the first micro-batch IS the seed)
    stream.addData(night(col("doc_id") % 10 < 8): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      StreamingQuantileIndex.processBatch(wh, _, _))
      .start().awaitTermination()
    // RESTART (new query, same checkpoint): batch 1 advances the ledger
    stream.addData(night(col("doc_id") % 10 >= 8): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(
      StreamingQuantileIndex.processBatch(wh, _, _))
      .start().awaitTermination()
    TransientCache.drain()

    def hist(): Map[(String, String, Long), Long] =
      wh.read("tq_hist").groupBy(col("g"), col("source"), col("v"))
        .agg(sum(col("nv")).as("nv")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
        .toMap
    // streamed ledger ≡ the batch two-night advance, at the finest grain
    val rb = Files.createTempDirectory("graft-stqidx-rb").toString
    QuantileIndex.advance(spark, rb, docs.filter(col("doc_id") % 10 < 8))
    TransientCache.drain()
    QuantileIndex.advance(spark, rb, docs.filter(col("doc_id") % 10 >= 8))
    TransientCache.drain()
    val w2 = new Warehouse(spark, rb)
    val want = w2.read("tq_hist").groupBy(col("g"), col("source"), col("v"))
      .agg(sum(col("nv")).as("nv")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val streamed = hist()
    assert(streamed == want, "streamed ledger != batch advance")

    // the READ off the fully-committed ledger equals the q116 full scan
    // (the whole corpus is now at rest — no in-flight night to merge)
    val merged = TransientCache.register(
      wh.read("tq_hist").groupBy(col("g"), col("v"))
        .agg(sum(col("nv")).as("nv")).cache())
    merged.count()
    val got = Analytics.rankCutsHist(merged, "g",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99).map { case (nm, q) =>
        nm -> ((n: org.apache.spark.sql.Column) =>
          floor((n - 1) * lit(q)).cast("long") + lit(1L)) })
      .select(
        when(col("g") === lit(Analytics.NullGroup), lit(null).cast("string"))
          .otherwise(col("g")).as("lang"),
        col("p50"), col("p90"), col("p99"), col("n").as("n_docs"))
      .orderBy(col("lang").asc_nulls_first).collect().toSeq
    TransientCache.drain()
    val wantRead = Analytics.groupedQuantiles(spark, dir).collect().toSeq
    TransientCache.drain()
    assert(got == wantRead, "at-rest read != full-scan quantiles")

    // at-least-once: a DIRECT replay of batch 1 no-ops on the manifest
    StreamingQuantileIndex.processBatch(wh,
      docs.filter(col("doc_id") % 10 >= 8), 1L)
    TransientCache.drain()
    assert(hist() == streamed, "replayed batch moved the ledger")
  }

  test("streaming cardinality: register advance across batches + restart; replay is an algebraic no-op") {
    import graft.streaming.StreamingCardinality
    import graft.operators.Sketch
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-scard").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def night(m: Int): Seq[DocRow] =
      docs.filter(col("doc_id") % 10 === m).as[DocRow].collect().toSeq

    val stream = MemoryStream[DocRow](spark)
    // batch 0 seeds (cold warehouse — the first batch IS the seed)
    stream.addData(night(0): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(StreamingCardinality.processBatch(wh, _, _))
      .start().awaitTermination()
    // RESTART (new query, same checkpoint): batch 1 advances the table
    // the first query left behind
    stream.addData(night(1): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(StreamingCardinality.processBatch(wh, _, _))
      .start().awaitTermination()

    def regs(): Seq[(Long, Int)] = wh.read("hll_regs")
      .select(col("reg"), col("mj")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // streamed ≡ batch rebuild over the concatenated nights
    val want = Sketch.registersOf(StreamingCardinality.batchHashes(
      docs.filter(col("doc_id") % 10 <= 1))).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val streamed = regs()
    assert(streamed == want, "streamed registers != batch rebuild")
    assert(wh.read("hll_log").count() == 2, "one estimate reading per batch")

    // at-least-once: a DIRECT replay of batch 1 (same id) cannot move
    // the registers (max absorbs it) and the keyed log append drops it
    StreamingCardinality.processBatch(wh,
      docs.filter(col("doc_id") % 10 === 1), 1L)
    assert(regs() == streamed, "replayed advance must be a no-op")
    assert(wh.read("hll_log").count() == 2, "replayed reading must not re-log")
  }

  test("streaming drift monitor: per-epoch readings; keyed replay is a no-op") {
    val sql = spark.sqlContext
    import sql.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("graft-sdrift").toString
    val wh = new Warehouse(spark, s"$tmp/wh")
    val docs = Tables.documents(spark, dir)
    wh.write("corpus_live", docs.filter(col("doc_id") % 10 < 8)
      .select(col("doc_id"), col("source"), col("text")))
    def night(m: Int): Seq[DocRow] = docs.filter(col("doc_id") % 10 === m)
      .select(col("doc_id"), col("text")).as[DocRow].collect().toSeq

    val stream = MemoryStream[DocRow](spark)
    // epoch 0 ticks with NO maintained table — the stateless fallback
    // path (the monitor must never seed shared state itself: the
    // refreshFull-race review finding)
    stream.addData(night(8): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(StreamingDrift.processBatch(wh, _, _))
      .start().awaitTermination()
    assert(!wh.exists("live_token_counts"),
      "the monitor must not write the maintained distribution")
    // the serial ingest lane seeds; epoch 1 reads the maintained table
    // — bit-identical readings either way (the exact-integer identity)
    CorpusPipeline.seedTokenCounts(wh)
    stream.addData(night(9): _*)
    Twin.sink(stream.toDF(), s"$tmp/ckpt")(StreamingDrift.processBatch(wh, _, _))
      .start().awaitTermination()

    val log = wh.read("drift_log").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // one (batch, corpus_live) reading per epoch, epoch ids from the
    // stream's own counter
    assert(log.keySet == Set((0L, "batch"), (0L, "corpus_live"),
      (1L, "batch"), (1L, "corpus_live")))
    assert(log.values.forall { case (d, n) => d >= 0.0 && d <= 2.0 && n > 0 })
    // the logged epoch-0 reading IS the direct q96 probe of that night
    val direct = CorpusPipeline.batchDrift(wh, night(8).toDF()).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    TransientCache.drain()
    assert(log((0L, "batch")) == direct("batch"))
    assert(log((0L, "corpus_live")) == direct("corpus_live"))
    // at-least-once redelivery of epoch 0: the (batch_id, source) keyed
    // append drops the recomputed rows
    StreamingDrift.processBatch(wh, night(8).toDF(), 0L)
    assert(wh.read("drift_log").count() == 4)

    // retention: keep only the newest epoch; idempotent; a window wider
    // than the log is a no-op
    StreamingDrift.retainEpochs(wh, 1)
    def keys() = wh.read("drift_log").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keys() == Set((1L, "batch"), (1L, "corpus_live")),
      s"retention must keep exactly the newest epoch, got ${keys()}")
    StreamingDrift.retainEpochs(wh, 1)
    assert(keys() == Set((1L, "batch"), (1L, "corpus_live")))
    StreamingDrift.retainEpochs(wh, 10)
    assert(wh.read("drift_log").count() == 2)

    // the in-loop cadence (r11 advice: single-writer serialization —
    // the cut runs on the foreachBatch thread between ticks, never
    // racing an append): a new epoch processed with retain=1 leaves
    // exactly itself
    StreamingDrift.processBatch(wh, night(8).toDF(), 2L, retain = 1)
    assert(keys() == Set((2L, "batch"), (2L, "corpus_live")),
      s"retain cadence must cut to the newest epoch, got ${keys()}")
  }
}
