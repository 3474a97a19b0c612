package graft

import java.nio.file.Files

import graft.operators.{Analytics, Dedup, QuantileIndex, Sessions, Similarity, Sketch}
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Soak for the seven incremental-index streaming twins: ~20
  * micro-batches per family with at-least-once redeliveries injected
  * (every 5th batch is delivered twice, the serial-nights contract's
  * replay unit), asserting
  *
  *   (a) at-rest state stays calendar/value/entity-bounded, MEASURED
  *       after every batch — never a function of batch count or
  *       redelivery count;
  *   (b) a redelivered batch moves NO at-rest table (exactly-once
  *       effect, measured as row-count identity);
  *   (c) the final at-rest state ≡ one batch rebuild over the same
  *       data.
  *
  * Six families drive `processBatch` directly — the foreachBatch body
  * IS the batch advance (streamed ≡ batch is an identity of code,
  * proven per-family by the StreamingSpec sink+checkpoint tests); the
  * quantile family additionally soaks through a REAL checkpointed
  * stream: 20 separate AvailableNow runs against one checkpoint, i.e.
  * 20 restarts.
  */
class StreamingSoakSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val dir01 = "/root/testdata/sf0.01"
  private val Batches = 20

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"graft_soak_${tag}_").toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Redelivery cadence: batch i is processed twice when i % 5 == 4 —
    * always the LATEST batch (the serial-nights contract: a crashed
    * night replays before the next is offered).
    */
  private def withReplay(i: Int)(run: () => Unit): Unit = {
    run()
    if (i % 5 == 4) run()
  }

  /** Interleaved retraction schedule for the six control-lane soaks —
    * ≥3 retractions per family, containing a full
    * retract → re-offer → retract → re-offer cycle of one entity set
    * (R, the epoch-stamp fix's streamed exercise) plus a second set
    * (R2) retracted for good, so the final rebuild reference is a
    * genuine survivor set.
    */
  private val RetractR = Set(6, 14)
  private val ReofferR = Set(10, 18)
  private val RetractR2 = Set(16)
  private def retractsUpTo(i: Int): Int =
    (RetractR ++ RetractR2).count(_ <= i)

  test("soak: quantile index — 20 checkpointed nights + replays + interleaved retract/re-offer cycles; final == survivor rebuild") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.streaming.StreamingQuantileIndex
    import graft.streaming.StreamingQuantileIndex.QDocOp
    val tmp = tmpRoot("tq")
    val wh = new Warehouse(spark, s"$tmp/wh")
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val support = QuantileIndex.valsOf(docs)
      .select(col("g"), col("source"), col("v")).distinct().count()
    def qops(df: DataFrame, op: String): Seq[QDocOp] = df
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().map(r =>
        QDocOp(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), op))
      .toSeq
    def sliceDf(i: Int): DataFrame = docs.filter(col("doc_id") % Batches === i)
    val R = sliceDf(2)  // retracted twice, re-offered twice — survives
    val R2 = sliceDf(3) // retracted for good at night 16

    val stream = MemoryStream[QDocOp](spark)
    for (i <- 0 until Batches) {
      // a REAL micro-batch: one AvailableNow run per night against the
      // same checkpoint — every iteration is also a restart; retract
      // and re-offer messages ride the SAME batch as the night's docs
      val batch: Seq[QDocOp] =
        qops(sliceDf(i), "advance") ++
        (if (ReofferR(i)) qops(R, "advance") else Nil) ++
        (if (RetractR(i)) qops(R, "retract") else Nil) ++
        (if (RetractR2(i)) qops(R2, "retract") else Nil)
      stream.addData(batch: _*)
      graft.streaming.Twin.sink(stream.toDF(), s"$tmp/ckpt")(
        StreamingQuantileIndex.processControlBatch(wh, _, _))
        .start().awaitTermination()
      TransientCache.drain()
      if (i % 5 == 4) { // redelivery of the latest batch, outside the stream
        StreamingQuantileIndex.processControlBatch(wh, batch.toDF(), i.toLong)
        TransientCache.drain()
      }
      // value/entity/calendar bounds, measured per batch (the negative
      // retraction rows reuse the corpus value support, so the support
      // bound holds through every cancellation)
      assert(wh.read("tq_hist")
        .select(col("g"), col("source"), col("v")).distinct().count() <= support,
        s"night $i: tq_hist support outgrew the corpus value support")
      assert(wh.read("tq_docs").count() <= nDocs,
        s"night $i: manifest outgrew the offered doc set")
      // markers: one per committed night + one per retraction + at most
      // one per post-retraction redelivery (the epoch moved, so the
      // replay re-commits under a fresh key — converging, O(nights))
      assert(wh.read("tq_marker").count() <=
        (i + 1) + retractsUpTo(i) + (i / 5 + 1),
        s"night $i: marker outgrew nights + retraction events")
    }
    // final at-rest state == one batch rebuild over the SURVIVORS
    // (R went through two full retract/re-offer cycles and is present;
    // R2 stayed retracted)
    def hist(root: String): Map[(String, String, Long), Long] =
      new Warehouse(spark, root).read("tq_hist")
        .groupBy(col("g"), col("source"), col("v"))
        .agg(sum(col("nv")).as("nv")).filter(col("nv") =!= 0).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
        .toMap
    val rb = tmpRoot("tqrb")
    QuantileIndex.advance(spark, rb, docs.filter(col("doc_id") % Batches =!= 3))
    TransientCache.drain()
    assert(hist(s"$tmp/wh") == hist(rb), "soaked ledger != survivor rebuild")
    assert(wh.read("tq_docs").count() ==
      new Warehouse(spark, rb).read("tq_docs").count())
  }

  test("soak: cardinality registers — 20 micro-batches + replays stay register-bounded; final == rebuild") {
    import graft.streaming.StreamingCardinality
    val wh = new Warehouse(spark, tmpRoot("hll"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def slice(i: Int): DataFrame = docs.filter(col("doc_id") % Batches === i)
    for (i <- 0 until Batches) {
      withReplay(i)(() => StreamingCardinality.processBatch(wh, slice(i), i.toLong))
      assert(wh.read("hll_regs").count() <= Sketch.HllM,
        s"batch $i: register table outgrew m=${Sketch.HllM}")
      assert(wh.read("hll_log").count() == i + 1,
        s"batch $i: replays must not re-log readings")
    }
    val want = Sketch.registersOf(StreamingCardinality.batchHashes(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val got = wh.read("hll_regs").select(col("reg"), col("mj")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(got == want, "soaked registers != batch rebuild")
  }

  // The event twins' opt-out/opt-in cycle entities: U cycles out and
  // back twice (the epoch-discipline exercise), V opts out for good at
  // night 16 — while opted out, a user's future events also leave the
  // FEED (a real opt-out filters ingestion, not just state)
  private def uPred = col("user_id") % 7 === 3
  private def vPred = col("user_id") % 7 === 5
  private def uOptedOut(i: Int): Boolean =
    (i > 6 && i < 10) || (i > 14 && i < 18)

  test("soak: retention index — 20 day-sliced nights + replays + opt-out/opt-in cycles; final == survivor rebuild") {
    import graft.streaming.StreamingRetentionIndex
    val wh = new Warehouse(spark, tmpRoot("ret"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val b = ev.agg(min(col("day")), max(col("day"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val step = math.max(1L, (hi - lo + Batches) / Batches)
    val users = ev.select(col("user_id")).distinct().count()
    val userWeeks = ev.select(col("user_id"),
      expr("day DIV 7").as("w")).distinct().count()
    def feedSlice(i: Int): DataFrame = {
      var s = ev.filter(col("day") >= lo + i * step &&
        col("day") < lo + (i + 1) * step)
      if (uOptedOut(i)) s = s.filter(!uPred)
      if (i > 16) s = s.filter(!vPred)
      s
    }
    // opt-in re-ingests the user's COMPLETE history to date (in-order
    // holds: the user is absent from ret_user, so every day is new)
    def history(p: org.apache.spark.sql.Column, i: Int): DataFrame =
      ev.filter(p && col("day") < lo + (i + 1) * step)
    def rEv(df: DataFrame) = df.select(col("user_id"), col("ts"))
    def op(df: DataFrame, o: String) = df.withColumn("op", lit(o))
    for (i <- 0 until Batches) {
      // TIME-ordered slices (the in-order-per-user contract); trailing
      // slices may be empty — an empty night must no-op
      var m = op(rEv(feedSlice(i)), "advance")
      if (ReofferR(i)) m = m.unionByName(op(rEv(history(uPred, i)), "advance"))
      if (RetractR(i)) m = m.unionByName(op(rEv(ev.filter(uPred)), "retract"))
      if (RetractR2(i)) m = m.unionByName(op(rEv(ev.filter(vPred)), "retract"))
      withReplay(i)(() => StreamingRetentionIndex.processControlBatch(wh, m, i.toLong))
      assert(wh.read("ret_user").count() <= users,
        s"night $i: ret_user outgrew the user set")
      assert(wh.read("ret_weeks").count() <= userWeeks,
        s"night $i: ret_weeks outgrew the user-week support")
    }
    // final == rebuild over the surviving users' events (U cycled back
    // with full history both times; V stayed out)
    val rb = tmpRoot("retrb")
    Sessions.retentionIndexAt(spark, rb, Tables.events(spark, dir).filter(!vPred))
    val w2 = new Warehouse(spark, rb)
    assert(rowsOf(wh.read("ret_user")) == rowsOf(w2.read("ret_user")),
      "soaked ret_user != survivor rebuild")
    assert(rowsOf(wh.read("ret_weeks")) == rowsOf(w2.read("ret_weeks")),
      "soaked ret_weeks != survivor rebuild")
  }

  test("soak: transitions ledger — 20 day-sliced nights + replays + opt-out/opt-in cycles; cells == survivor matrix") {
    import graft.streaming.StreamingTransitionsIndex
    val wh = new Warehouse(spark, tmpRoot("tr"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val b = ev.agg(min(col("day")), max(col("day"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val step = math.max(1L, (hi - lo + Batches) / Batches)
    val types = ev.select(col("event_type")).distinct().count()
    val users = ev.select(col("user_id")).distinct().count()
    def tEv(df: DataFrame) = df.select(col("user_id"), col("ts"),
      col("event_id"), col("event_type"))
    def feedSlice(i: Int): DataFrame = {
      var s = ev.filter(col("day") >= lo + i * step &&
        col("day") < lo + (i + 1) * step)
      if (uOptedOut(i)) s = s.filter(!uPred)
      if (i > 16) s = s.filter(!vPred)
      s
    }
    // the retract payload is the user's complete INGESTED history (the
    // CDC delete payload); with the feed exclusions above that is
    // exactly every event with day < the next slice's start
    def history(p: org.apache.spark.sql.Column, i: Int): DataFrame =
      ev.filter(p && col("day") < lo + (i + 1) * step)
    def op(df: DataFrame, o: String) = df.withColumn("op", lit(o))
    for (i <- 0 until Batches) {
      var m = op(tEv(feedSlice(i)), "advance")
      if (ReofferR(i)) m = m.unionByName(op(tEv(history(uPred, i)), "advance"))
      if (RetractR(i)) m = m.unionByName(op(tEv(history(uPred, i)), "retract"))
      if (RetractR2(i)) m = m.unionByName(op(tEv(history(vPred, i)), "retract"))
      withReplay(i)(() => StreamingTransitionsIndex.processControlBatch(wh, m, i.toLong))
      assert(wh.read("tr_deltas").count() <=
        ((i + 1) + retractsUpTo(i)) * types * types,
        s"night $i: ledger outgrew (nights + retractions) x |types|^2")
      assert(wh.read("tr_last").count() <= users,
        s"night $i: carry outgrew the user set")
    }
    // net cells == the q105 matrix over the surviving users' events
    // (U's cancel/re-ingest cycles net to their full-sequence pairs)
    val cells = wh.read("tr_deltas").groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n")).filter(col("n") =!= 0).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rb = tmpRoot("trrb")
    (0 until Batches).foreach { i =>
      Sessions.advanceTransitionsIndex(spark, rb,
        tEv(ev.filter(!vPred && col("day") >= lo + i * step &&
          col("day") < lo + (i + 1) * step)))
    }
    val want = new Warehouse(spark, rb).read("tr_deltas")
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n")).filter(col("n") =!= 0).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells == want, "soaked net cells != survivor matrix")
  }

  /** The op-mixed control batch for night `i`: the night's arrivals
    * plus the schedule's retract/re-offer messages over (R, R2).
    */
  private def controlMix(i: Int, slice: DataFrame, r: DataFrame,
                         r2: DataFrame): DataFrame = {
    def op(df: DataFrame, o: String) = df.withColumn("op", lit(o))
    var m = op(slice, "advance")
    if (ReofferR(i)) m = m.unionByName(op(r, "advance"))
    if (RetractR(i)) m = m.unionByName(op(r, "retract"))
    if (RetractR2(i)) m = m.unionByName(op(r2, "retract"))
    m
  }

  test("soak: minhash index — 20 nights + replays + interleaved retract/re-offer cycles; final == survivor one-shot append") {
    import graft.streaming.StreamingDedup
    // the twin's warehouse holds its pairs AND its index
    val wh = new Warehouse(spark, tmpRoot("mhwh"))
    val docs = Tables.documents(spark, dir01)
    val held = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"))
    val total = docs.count()
    def slice(i: Int): DataFrame =
      held.filter(expr(s"doc_id DIV 10") % Batches === i)
    for (i <- 0 until Batches) {
      withReplay(i)(() => StreamingDedup.processControlBatch(dir01, wh,
        controlMix(i, slice(i), slice(2), slice(3))))
      // entity bounds: the manifest never outgrows the docs ever
      // offered, and the data tables never hold docs off the manifest
      assert(wh.read("corpus_docs").count() <= total,
        s"night $i: manifest outgrew the corpus")
      assert(wh.read("corpus_band_index").select(col("doc_id")).distinct()
        .count() <= wh.read("corpus_docs").count(),
        s"night $i: band rows for unmanifested docs")
    }
    // final index state == one-shot append of the SURVIVORS (R cycled
    // back in twice; R2 stayed retracted)
    val rootB = tmpRoot("mhB")
    Dedup.appendToCorpusIndexOf(
      Dedup.corpusIndexAt(spark, rootB, Dedup.seenCorpus(spark, dir01)),
      held.filter(expr(s"doc_id DIV 10") % Batches =!= 3))
    val whB = new Warehouse(spark, rootB)
    for (t <- Seq("corpus_shingles", "corpus_band_index", "corpus_docs"))
      assert(rowsOf(wh.read(t)) == rowsOf(whB.read(t)),
        s"soaked $t != survivor one-shot append")
  }

  test("soak: winnow index — 20 nights + replays + interleaved retract/re-offer cycles; final == survivor one-shot append") {
    import graft.streaming.StreamingWinnow
    // the twin's warehouse holds its pairs AND its index
    val wh = new Warehouse(spark, tmpRoot("wnwh"))
    val docs = Tables.documents(spark, dir01)
    val held = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"))
    val total = docs.count()
    def slice(i: Int): DataFrame =
      held.filter(expr(s"doc_id DIV 10") % Batches === i)
    for (i <- 0 until Batches) {
      withReplay(i)(() => StreamingWinnow.processControlBatch(dir01, wh,
        controlMix(i, slice(i), slice(2), slice(3))))
      assert(wh.read("corpus_winnow_docs").count() <= total,
        s"night $i: manifest outgrew the corpus")
      assert(wh.read("corpus_winnow").select(col("doc_id")).distinct()
        .count() <= wh.read("corpus_winnow_docs").count(),
        s"night $i: fingerprint rows for unmanifested docs")
    }
    val rootB = tmpRoot("wnB")
    Dedup.appendToWinnowIndexOf(
      Dedup.winnowIndexAt(spark, rootB, Dedup.seenCorpus(spark, dir01)),
      held.filter(expr(s"doc_id DIV 10") % Batches =!= 3))
    val whB = new Warehouse(spark, rootB)
    for (t <- Seq("corpus_winnow", "corpus_winnow_docs"))
      assert(rowsOf(wh.read(t)) == rowsOf(whB.read(t)),
        s"soaked $t != survivor one-shot append")
  }

  test("soak: ann index — 20 nights + replays + interleaved retract/re-offer cycles; final == survivor one-shot append") {
    import graft.streaming.StreamingAnn
    Similarity.clearKmeansMemo(spark)
    // the twin's warehouse holds its matches AND its codes table
    val wh = new Warehouse(spark, tmpRoot("annwh"))
    val emb = Tables.embeddings(spark, dir01)
    val held = emb.filter(col("vec_id") % 10 >= 8)
      .select(col("vec_id"), col("embedding"))
    val total = emb.count()
    def slice(i: Int): DataFrame =
      held.filter(expr(s"vec_id DIV 10") % Batches === i)
    for (i <- 0 until Batches) {
      withReplay(i)(() => StreamingAnn.processControlBatch(dir01, wh,
        controlMix(i, slice(i), slice(2), slice(3))))
      assert(wh.read("corpus_codes").count() <= total,
        s"night $i: code table outgrew the vector set")
    }
    // the fit is frozen (memoized off the same corpus), so a survivor
    // one-shot append must code every vector identically (retracted
    // codes removed FAISS-style, re-offered ones re-encoded byte-equal)
    val rootB = tmpRoot("annB")
    Similarity.appendAnnWith(Similarity.annIndexAt(spark, dir01, rootB),
      Similarity.corpusKmeansCentroids(spark, dir01), Similarity.corpusPqCodebooks(spark, dir01),
      held.filter(expr(s"vec_id DIV 10") % Batches =!= 3))
    val whB = new Warehouse(spark, rootB)
    assert(rowsOf(wh.read("corpus_codes")) == rowsOf(whB.read("corpus_codes")),
      "soaked corpus_codes != survivor one-shot append")
  }
}
