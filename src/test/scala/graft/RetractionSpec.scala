package graft

import java.nio.file.Files

import graft.operators.{Dedup, QuantileIndex, Sessions, Similarity, Sketch, TextOps}
import graft.pipelines.{CorpusPipeline, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The retraction lane: every at-rest index family must support "a doc
  * (or user) deleted in a later night" — takedowns, opt-outs,
  * contaminated-source recalls — with the contract
  *
  *   retract ≡ rebuild-without-those-docs, at EVERY table boundary,
  *
  * each proven against an INDEPENDENTLY built over-the-survivors index
  * (never against the retract path itself). Per family the mechanism
  * matches the state algebra: per-row stores (band/winnow/ANN codes/
  * retention) drop rows via guarded anti-join tmp-swaps; the ADDITIVE
  * ledgers (quantile cube, transitions matrix) cancel via NEGATIVE
  * delta rows under retraction keys; the non-invertible max-algebra
  * HLL documents and implements rebuild-on-retract. Replays no-op,
  * crash windows converge, and a retracted doc RE-OFFERED later counts
  * as novel again (takedown reversal). The quantile family additionally
  * rides the driver gate as q126 (oracle = full scan over survivors)
  * and has a streamed control-message twin.
  */
class RetractionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"graft_retr_${tag}_").toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def docs = Tables.documents(spark, dir)
  private def corpus = docs.filter(col("doc_id") % 10 < 8)
  // the retraction target: 1/9 of the corpus (q126's fixture predicate)
  private def retracted = docs.filter(expr(QuantileIndex.RetractPredSql))
  private def surviving = corpus.filter(col("doc_id") % 9 =!= 4)

  // ---------------------------------------------------- quantile cube

  private def histOf(root: String): Map[(String, String, Long), Long] =
    new Warehouse(spark, root).read("tq_hist")
      .groupBy(col("g"), col("source"), col("v"))
      .agg(sum(col("nv")).as("nv")).filter(col("nv") =!= 0)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap

  private def manifestOf(root: String): Set[Long] =
    new Warehouse(spark, root).read("tq_docs").collect().map(_.getLong(0)).toSet

  /** The retraction's negative delta exactly as [[QuantileIndex.retract]]
    * derives it — for crash-window reconstruction. The key carries the
    * root's retract-side epoch (xor of committed POSITIVE keys), as the
    * production path's does.
    */
  private def negDelta(root: String, b: DataFrame): DataFrame = {
    val epoch = new Warehouse(spark, root).read("tq_hist")
      .filter(col("nv") > 0).select(col("batch_key")).distinct()
      .agg(coalesce(bit_xor(xxhash64(col("batch_key"))), lit(0L)))
      .head().getLong(0)
    val ids = b.dropDuplicates("doc_id")
    val keyVal = ids.select(col("doc_id")).agg(
        coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)).as("h"),
        count(lit(1)).as("nd"))
      .select(xxhash64(col("h"), col("nd"), lit("retract"), lit(epoch)).as("k"))
      .head().getLong(0)
    QuantileIndex.valsOf(ids)
      .groupBy(col("g"), col("source"), col("v"))
      .agg((-count(lit(1))).as("nv"))
      .select(lit(keyVal).as("batch_key"),
        col("g"), col("source"), col("v"), col("nv"))
  }

  test("quantile cube: retract == rebuild-without at every boundary; replay no-ops; re-offer restores") {
    val a = tmpRoot("tqa")
    QuantileIndex.advance(spark, a, corpus)
    TransientCache.drain()
    QuantileIndex.retract(spark, a, retracted)
    TransientCache.drain()
    val b = tmpRoot("tqb")
    QuantileIndex.advance(spark, b, surviving)
    TransientCache.drain()
    assert(histOf(a) == histOf(b),
      "cancelled ledger must read as a rebuild that never saw the docs")
    assert(manifestOf(a) == manifestOf(b),
      "retracted ids must leave the manifest (re-offer counts as novel)")

    // replay of the committed retraction: the marker gates a FULL no-op
    val rawHist = rowsOf(new Warehouse(spark, a).read("tq_hist"))
    QuantileIndex.retract(spark, a, retracted)
    TransientCache.drain()
    assert(rowsOf(new Warehouse(spark, a).read("tq_hist")) == rawHist,
      "a replayed retraction must not re-append negative rows")

    // retracting never-ingested docs is a no-op on hist and manifest
    QuantileIndex.retract(spark, a, docs.filter(col("doc_id") % 10 === 9))
    TransientCache.drain()
    assert(histOf(a) == histOf(b) && manifestOf(a) == manifestOf(b))

    // re-offer (takedown reversal / the revision story): the docs ride
    // the normal advance as novel and the cube restores exactly
    QuantileIndex.advance(spark, a, retracted)
    TransientCache.drain()
    val full = tmpRoot("tqfull")
    QuantileIndex.advance(spark, full, corpus)
    TransientCache.drain()
    assert(histOf(a) == histOf(full) && manifestOf(a) == manifestOf(full),
      "retract + re-offer must restore the advance-only state")
  }

  test("quantile cube: retract → re-offer → retract cycles cancel (epoch-stamped keys)") {
    // subset cycle: the doc-revision story composed twice — the second
    // retraction re-derives the SAME id set, so without the epoch
    // stamp it would reproduce the first retraction's key, hit the
    // marker gate, and silently no-op
    val a = tmpRoot("tqcyc")
    QuantileIndex.advance(spark, a, corpus)
    QuantileIndex.retract(spark, a, retracted)
    QuantileIndex.advance(spark, a, retracted) // re-offer
    QuantileIndex.retract(spark, a, retracted) // retract AGAIN
    TransientCache.drain()
    val surv = tmpRoot("tqcycs")
    QuantileIndex.advance(spark, surv, surviving)
    TransientCache.drain()
    assert(histOf(a) == histOf(surv),
      "the second retraction of a re-offered set silently no-oped")
    assert(manifestOf(a) == manifestOf(surv))
    // the committed second retraction replays as a no-op (its epoch —
    // the positive-key set — is untouched by its own negative appends)
    val histRows = rowsOf(new Warehouse(spark, a).read("tq_hist"))
    QuantileIndex.retract(spark, a, retracted)
    TransientCache.drain()
    assert(rowsOf(new Warehouse(spark, a).read("tq_hist")) == histRows,
      "a replayed second retraction must still marker-gate")
    // third leg: the cycle composes indefinitely (re-offer restores again)
    QuantileIndex.advance(spark, a, retracted)
    TransientCache.drain()
    val full = tmpRoot("tqcycf")
    QuantileIndex.advance(spark, full, corpus)
    TransientCache.drain()
    assert(histOf(a) == histOf(full) && manifestOf(a) == manifestOf(full),
      "the second re-offer must restore the advance-only state")

    // whole-night cycle: the re-offer batch is SET-IDENTICAL to the
    // committed-then-retracted night — the advance-side epoch (xor of
    // retraction keys) keeps it off the original night's marker and
    // row guards, so it restores instead of being gated away
    val w = tmpRoot("tqwn")
    QuantileIndex.advance(spark, w, corpus)
    QuantileIndex.retract(spark, w, corpus)
    TransientCache.drain()
    assert(histOf(w).isEmpty && manifestOf(w).isEmpty,
      "retracting the whole night must cancel the cube to zero")
    QuantileIndex.advance(spark, w, corpus) // set-identical re-offer
    TransientCache.drain()
    assert(histOf(w) == histOf(full) && manifestOf(w) == manifestOf(full),
      "a re-offer night set-identical to a retracted night must restore")
    QuantileIndex.retract(spark, w, corpus) // and the cycle closes
    TransientCache.drain()
    assert(histOf(w).isEmpty && manifestOf(w).isEmpty,
      "re-retracting the restored night must cancel again")
  }

  test("quantile cube: retraction crash windows converge under replay") {
    // window 1: crash mid-negative-append (half the rows landed)
    val r1 = tmpRoot("tqc1")
    QuantileIndex.advance(spark, r1, corpus)
    new Warehouse(spark, r1)
      .append("tq_hist", negDelta(r1, retracted).where(pmod(col("v"), lit(2)) === 0))
    QuantileIndex.retract(spark, r1, retracted) // the replay
    TransientCache.drain()
    val clean = tmpRoot("tqcl")
    QuantileIndex.advance(spark, clean, corpus)
    QuantileIndex.retract(spark, clean, retracted)
    TransientCache.drain()
    assert(histOf(r1) == histOf(clean) && manifestOf(r1) == manifestOf(clean),
      "mid-append crash: the replay must land exactly the missing rows")

    // window 2: crash after the full negative append AND the manifest
    // swap, before the marker — the replay's restriction is empty, so
    // nothing may re-append (no double-cancel), and the marker completes
    val r2 = tmpRoot("tqc2")
    QuantileIndex.advance(spark, r2, corpus)
    val w2 = new Warehouse(spark, r2)
    w2.append("tq_hist", negDelta(r2, retracted))
    w2.write("tq_docs",
      w2.read("tq_docs").join(
        retracted.select(col("doc_id")).dropDuplicates("doc_id"),
        Seq("doc_id"), "left_anti"))
    QuantileIndex.retract(spark, r2, retracted) // the replay
    TransientCache.drain()
    assert(histOf(r2) == histOf(clean) && manifestOf(r2) == manifestOf(clean),
      "post-swap crash: the replay must not double-cancel")
    val markers = w2.read("tq_marker").count()
    QuantileIndex.retract(spark, r2, retracted) // now marker-gated
    TransientCache.drain()
    assert(w2.read("tq_marker").count() == markers,
      "the completed retraction must be marker-gated")
  }

  test("q126 read == the full scan over the surviving docs (the driver row, locally)") {
    val got = QuantileIndex.retractQuantiles(spark, dir).collect().toSeq
    TransientCache.drain()
    // the q41 formulation over the survivor universe, independently
    val surv = docs.filter(!expr(QuantileIndex.RetractPredSql))
      .select(col("lang"),
        size(graft.functions.TextFns.toks(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_tokens"))
    val ranked = surv
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
    def pick(q: Double) = max(when(
      col("rn") === floor((col("n") - 1) * lit(q)).cast("long") + 1,
      col("n_tokens")))
    val want = ranked.groupBy(col("lang"))
      .agg(pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"),
        max(col("n")).as("n_docs"))
      .orderBy(col("lang").asc_nulls_first)
      .collect().toSeq
    assert(got == want, "post-retraction read != survivor full scan")
  }

  test("streaming control lane: retract messages through the checkpointed stream == the nightly path") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.streaming.StreamingQuantileIndex
    import graft.streaming.StreamingQuantileIndex.QDocOp
    val tmp = tmpRoot("tqstream")
    val wh = new Warehouse(spark, s"$tmp/wh")
    def ops(b: DataFrame, op: String): Seq[QDocOp] = b
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().map(r =>
        QDocOp(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), op))
      .toSeq
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[QDocOp](spark)
    // four add nights, a retract control message, one more add night —
    // every micro-batch a REAL AvailableNow run against one checkpoint
    val batches: Seq[Seq[QDocOp]] =
      (0 until 4).map(i => ops(corpus.filter(pmod(col("doc_id"), lit(4)) === i),
        "advance")) :+
      ops(retracted, "retract") :+
      ops(docs.filter(col("doc_id") % 10 === 8), "advance")
    batches.zipWithIndex.foreach { case (b, i) =>
      stream.addData(b: _*)
      graft.streaming.Twin.sink(stream.toDF(), s"$tmp/ckpt")(
        StreamingQuantileIndex.processControlBatch(wh, _, _))
        .start().awaitTermination()
      TransientCache.drain()
      if (i == 4) { // redeliver the retraction control message
        StreamingQuantileIndex.processControlBatch(wh, b.toDF(), i.toLong)
        TransientCache.drain()
      }
    }
    // nightly path over the same history
    val nightly = tmpRoot("tqnightly")
    QuantileIndex.advance(spark, nightly, corpus)
    QuantileIndex.retract(spark, nightly, retracted)
    QuantileIndex.advance(spark, nightly, docs.filter(col("doc_id") % 10 === 8))
    TransientCache.drain()
    assert(histOf(s"$tmp/wh") == histOf(nightly),
      "streamed control lane != nightly retraction path")
    // ... and both == a rebuild that never saw the retracted docs
    val rebuild = tmpRoot("tqrebuild")
    QuantileIndex.advance(spark, rebuild,
      surviving.unionByName(docs.filter(col("doc_id") % 10 === 8)))
    TransientCache.drain()
    assert(histOf(s"$tmp/wh") == histOf(rebuild))
    assert(manifestOf(s"$tmp/wh") == manifestOf(rebuild))
  }

  test("control lane: a NULL op verb folds in exactly like op = advance") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.streaming.StreamingQuantileIndex
    import graft.streaming.StreamingQuantileIndex.QDocOp
    val night = docs.filter(col("doc_id") % 10 === 8)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().toSeq
    def laneWith(op: String): String = {
      val root = tmpRoot("tqverb")
      StreamingQuantileIndex.processControlBatch(new Warehouse(spark, root),
        night.map(r => QDocOp(r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), op)).toDF(), 0L)
      TransientCache.drain()
      root
    }
    val (nullOp, advance) = (laneWith(null), laneWith("advance"))
    assert(manifestOf(nullOp).size == night.size, "a NULL verb must not drop rows")
    Seq("tq_hist", "tq_docs", "tq_marker").foreach { t =>
      assert(rowsOf(new Warehouse(spark, nullOp).read(t)) ==
        rowsOf(new Warehouse(spark, advance).read(t)), s"$t differs")
    }
  }

  test("control lane: an unknown op verb fails fast, naming it, and leaves the index byte-unchanged") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.streaming.StreamingQuantileIndex
    import graft.streaming.StreamingQuantileIndex.QDocOp
    val root = tmpRoot("tqbadverb")
    val wh = new Warehouse(spark, root)
    QuantileIndex.advance(spark, root, docs.filter(col("doc_id") % 10 === 8))
    TransientCache.drain()
    def bytesOf(t: String): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(root, t)
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
    }
    val tables = Seq("tq_hist", "tq_docs", "tq_marker")
    val before = tables.map(bytesOf)
    // a valid advance rides the same batch: routing must refuse the
    // whole micro-batch before either half runs
    val batch = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().toSeq.zipWithIndex.map { case (r, i) =>
        QDocOp(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          if (i == 0) "purge" else "advance")
      }
    val err = intercept[IllegalArgumentException](
      StreamingQuantileIndex.processControlBatch(wh, batch.toDF(), 0L))
    assert(err.getMessage.contains("purge"), err.getMessage)
    assert(tables.map(bytesOf) == before, "a refused batch must not touch the index")
  }

  test("q127 read == the screen against an independently rebuilt survivor index (the driver row, locally)") {
    val got = Dedup.retractMinhash(spark, dir).collect().toSeq
    TransientCache.drain()
    val b = Dedup.corpusIndexAt(spark, tmpRoot("mh127"),
      surviving.select(col("doc_id"), col("text")))
    val want = Dedup.screenAgainstIndexOf(b,
      docs.filter(col("doc_id") % 10 >= 8)).collect().toSeq
    TransientCache.drain()
    assert(got == want, "post-retraction screen != survivor-rebuilt screen")
  }

  test("q128 read == the full scan over the surviving users (the driver row, locally)") {
    val got = Sessions.retractRetention(spark, dir).collect().toSeq
    TransientCache.drain()
    // the q104 formulation over the survivor universe, independently
    val want = Sessions.retentionCohortsOf(
      Tables.events(spark, dir).filter(!expr(Sessions.RetractUsersPredSql)))
      .collect().toSeq
    TransientCache.drain()
    assert(got == want, "post-retraction read != survivor full scan")
  }

  // ------------------------------------------- band + winnow + ANN

  test("band index: retract == independent rebuild over survivors; idempotent; re-offer == full build") {
    val ids = retracted.select(col("doc_id"))
    val a = Dedup.corpusIndexAt(spark, tmpRoot("mha"),
      corpus.select(col("doc_id"), col("text")))
    val ra = Dedup.retractFromCorpusIndexOf(a, ids)
    val b = Dedup.corpusIndexAt(spark, tmpRoot("mhb"),
      surviving.select(col("doc_id"), col("text")))
    val tables = Seq("corpus_docs", "corpus_shingles", "corpus_band_index")
    for (t <- tables)
      assert(rowsOf(new Warehouse(spark, ra.root).read(t)) ==
        rowsOf(new Warehouse(spark, b.root).read(t)),
        s"$t: retract != rebuild over survivors")
    // idempotent
    val again = Dedup.retractFromCorpusIndexOf(ra, ids)
    for (t <- tables)
      assert(rowsOf(new Warehouse(spark, again.root).read(t)) ==
        rowsOf(new Warehouse(spark, b.root).read(t)), s"$t: replay moved rows")
    // re-offer: the retracted docs append as novel and restore the
    // full-corpus state (content-deterministic signatures)
    val back = Dedup.appendToCorpusIndexOf(again,
      retracted.select(col("doc_id"), col("text")))
    val full = Dedup.corpusIndexAt(spark, tmpRoot("mhf"),
      corpus.select(col("doc_id"), col("text")))
    for (t <- tables)
      assert(rowsOf(new Warehouse(spark, back.root).read(t)) ==
        rowsOf(new Warehouse(spark, full.root).read(t)),
        s"$t: retract + re-offer != full build")
    // the cycle closes (by construction for swap-based stores):
    // retracting the re-offered docs AGAIN == the survivor rebuild
    val cyc = Dedup.retractFromCorpusIndexOf(back, ids)
    for (t <- tables)
      assert(rowsOf(new Warehouse(spark, cyc.root).read(t)) ==
        rowsOf(new Warehouse(spark, b.root).read(t)),
        s"$t: retract → re-offer → retract != survivor rebuild")
  }

  test("winnow index: retract == independent rebuild over survivors; idempotent; re-offer == full build") {
    val ids = retracted.select(col("doc_id"))
    val a = Dedup.winnowIndexAt(spark, tmpRoot("wna"),
      corpus.select(col("doc_id"), col("text")))
    val ra = Dedup.retractFromWinnowIndexOf(a, ids)
    val b = Dedup.winnowIndexAt(spark, tmpRoot("wnb"),
      surviving.select(col("doc_id"), col("text")))
    val tables = Seq("corpus_winnow_docs", "corpus_winnow")
    for (t <- tables)
      assert(rowsOf(new Warehouse(spark, ra.root).read(t)) ==
        rowsOf(new Warehouse(spark, b.root).read(t)),
        s"$t: retract != rebuild over survivors")
    val again = Dedup.retractFromWinnowIndexOf(ra, ids)
    val back = Dedup.appendToWinnowIndexOf(again,
      retracted.select(col("doc_id"), col("text")))
    val full = Dedup.winnowIndexAt(spark, tmpRoot("wnf"),
      corpus.select(col("doc_id"), col("text")))
    for (t <- tables)
      assert(rowsOf(new Warehouse(spark, back.root).read(t)) ==
        rowsOf(new Warehouse(spark, full.root).read(t)),
        s"$t: retract + re-offer != full build")
    val cyc = Dedup.retractFromWinnowIndexOf(back, ids)
    for (t <- tables)
      assert(rowsOf(new Warehouse(spark, cyc.root).read(t)) ==
        rowsOf(new Warehouse(spark, b.root).read(t)),
        s"$t: retract → re-offer → retract != survivor rebuild")
  }

  test("ann codes: retract == remove_ids == rebuild over survivors (frozen fits); re-offer == full build") {
    val cents = Similarity.corpusKmeansCentroids(spark, dir)
    val cbs = Similarity.corpusPqCodebooks(spark, dir)
    val emb = Tables.spread(Tables.embeddings(spark, dir))
    val corpusV = emb.filter(col("vec_id") % 10 < 8)
    val subV = corpusV.filter(col("vec_id") % 9 === 4)
    val survV = corpusV.filter(col("vec_id") % 9 =!= 4)
    val ra = tmpRoot("anna"); val wa = new Warehouse(spark, ra)
    wa.write("corpus_codes",
      Similarity.pqCodesOf(Similarity.vecsOf(corpusV), cents, cbs))
    val idx = Similarity.AnnIndex(wa.read("corpus_codes"), ra)
    val retr = Similarity.retractFromAnnIndexOf(idx, subV.select(col("vec_id")))
    // == a from-scratch encode over the survivors with the same frozen
    // fits (one row per vector; survivor codes byte-stable)
    val rb = tmpRoot("annb"); val wb = new Warehouse(spark, rb)
    wb.write("corpus_codes",
      Similarity.pqCodesOf(Similarity.vecsOf(survV), cents, cbs))
    assert(rowsOf(wa.read("corpus_codes")) == rowsOf(wb.read("corpus_codes")),
      "retract != rebuild over survivors")
    // idempotent, then re-offer restores the full build
    val again = Similarity.retractFromAnnIndexOf(retr, subV.select(col("vec_id")))
    assert(rowsOf(wa.read("corpus_codes")) == rowsOf(wb.read("corpus_codes")))
    Similarity.appendAnnWith(again, cents, cbs,
      subV.select(col("vec_id"), col("embedding")))
    val rf = tmpRoot("annf"); val wf = new Warehouse(spark, rf)
    wf.write("corpus_codes",
      Similarity.pqCodesOf(Similarity.vecsOf(corpusV), cents, cbs))
    assert(rowsOf(wa.read("corpus_codes")) == rowsOf(wf.read("corpus_codes")),
      "retract + re-offer != full build")
    // the cycle closes: remove_ids of the re-offered vectors == survivors
    Similarity.retractFromAnnIndexOf(again, subV.select(col("vec_id")))
    assert(rowsOf(wa.read("corpus_codes")) == rowsOf(wb.read("corpus_codes")),
      "retract → re-offer → retract != survivor rebuild")
  }

  // -------------------------------------------------- HLL + event tier

  test("hll registers: rebuild-on-retract == a fresh build over survivors (documented non-invertibility)") {
    val hashes = Dedup.shingleIndex(spark, dir)
    val corpusH = hashes.filter(col("doc_id") % 10 < 8)
    val root = tmpRoot("hll")
    Sketch.hllIndexAt(spark, root, corpusH.select(col("sh_h")))
    val survH = corpusH.filter(col("doc_id") % 9 =!= 4).select(col("sh_h"))
    Sketch.retractHllRebuild(spark, root, survH)
    val wh = new Warehouse(spark, root)
    def flat(): Seq[String] =
      rowsOf(wh.read("hll_regs").select(col("reg"), col("mj")))
    assert(flat() == rowsOf(Sketch.registersOf(survH)),
      "rebuild-on-retract != fresh build over survivors")
    Sketch.retractHllRebuild(spark, root, survH) // idempotent by determinism
    assert(flat() == rowsOf(Sketch.registersOf(survH)))
    TransientCache.drain()
  }

  test("hll epoch stripes: retract = drop affected windows + re-max their survivors; untouched stripes never move") {
    val hashes = Dedup.shingleIndex(spark, dir)
    val corpusH = hashes.filter(col("doc_id") % 10 < 8)
    val root = tmpRoot("hlle")
    // four ingest windows, advanced as stripes
    (0 until 4).foreach { e =>
      Sketch.advanceHllEpoch(spark, root, e.toLong,
        corpusH.filter(pmod(col("doc_id"), lit(4)) === e).select(col("sh_h")))
    }
    val wh = new Warehouse(spark, root)
    // the reader's collapse over stripes == the flat full build
    assert(rowsOf(wh.read("hll_regs")
        .groupBy(col("reg")).agg(max(col("mj")).as("mj"))) ==
      rowsOf(Sketch.registersOf(corpusH.select(col("sh_h")))),
      "collapsed stripes != flat build over the same stream")
    // takedown hits only window 2: survivors of that window, labeled
    val surv2 = corpusH.filter(pmod(col("doc_id"), lit(4)) === 2 &&
        col("doc_id") % 9 =!= 4)
      .select(lit(2L).as("epoch"), col("sh_h"))
    val untouchedBefore = rowsOf(wh.read("hll_regs").filter(col("epoch") =!= 2))
    Sketch.retractHllEpochs(spark, root, Seq(2L), surv2)
    // the O(affected windows) claim, literally: other stripes unmoved
    assert(rowsOf(wh.read("hll_regs").filter(col("epoch") =!= 2)) ==
      untouchedBefore, "unaffected stripes must be copied byte-identically")
    // == a fresh striped build whose window 2 never saw the docs
    val clean = tmpRoot("hllc")
    (0 until 4).foreach { e =>
      val w = corpusH.filter(pmod(col("doc_id"), lit(4)) === e)
      Sketch.advanceHllEpoch(spark, clean, e.toLong,
        (if (e == 2) w.filter(col("doc_id") % 9 =!= 4) else w)
          .select(col("sh_h")))
    }
    def stripes(r: String): Seq[String] =
      rowsOf(new Warehouse(spark, r).read("hll_regs"))
    assert(stripes(root) == stripes(clean),
      "stripe retraction != rebuild whose window never saw the docs")
    Sketch.retractHllEpochs(spark, root, Seq(2L), surv2) // idempotent
    assert(stripes(root) == stripes(clean))
    TransientCache.drain()
  }

  test("retention index: user opt-out == rebuild over surviving users; crash window converges") {
    val ev = Tables.events(spark, dir)
    val optOut = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 5 === 2)
    val survEv = ev.join(optOut, Seq("user_id"), "left_anti")
    val a = tmpRoot("reta")
    Sessions.retentionIndexAt(spark, a, ev)
    Sessions.retractRetentionUsers(spark, a, optOut)
    val b = tmpRoot("retb")
    Sessions.retentionIndexAt(spark, b, survEv)
    for (t <- Seq("ret_user", "ret_weeks"))
      assert(rowsOf(new Warehouse(spark, a).read(t)) ==
        rowsOf(new Warehouse(spark, b).read(t)),
        s"$t: retract != rebuild over surviving users")
    // idempotent replay
    Sessions.retractRetentionUsers(spark, a, optOut)
    assert(rowsOf(new Warehouse(spark, a).read("ret_weeks")) ==
      rowsOf(new Warehouse(spark, b).read("ret_weeks")))
    // crash window: ret_user swapped, ret_weeks not (the readable-state
    // order: a fd-less user is invisible to the q113 read) — the
    // replayed retraction finishes the drop
    val c = tmpRoot("retc")
    Sessions.retentionIndexAt(spark, c, ev)
    val wc = new Warehouse(spark, c)
    wc.write("ret_user",
      wc.read("ret_user").join(optOut, Seq("user_id"), "left_anti"))
    Sessions.retractRetentionUsers(spark, c, optOut)
    for (t <- Seq("ret_user", "ret_weeks"))
      assert(rowsOf(wc.read(t)) == rowsOf(new Warehouse(spark, b).read(t)),
        s"$t: mid-crash replay must converge")
    // the cycle closes: re-offer the opted-out users' complete history
    // as a night (a re-entering user's fd re-derives from the batch),
    // then retract again — swap-based, so both legs are by construction
    Sessions.advanceRetentionIndex(spark, a, ev.filter(col("user_id") % 5 === 2))
    val fullIdx = tmpRoot("retf")
    Sessions.retentionIndexAt(spark, fullIdx, ev)
    for (t <- Seq("ret_user", "ret_weeks"))
      assert(rowsOf(new Warehouse(spark, a).read(t)) ==
        rowsOf(new Warehouse(spark, fullIdx).read(t)),
        s"$t: opt-out + re-offer != full build")
    Sessions.retractRetentionUsers(spark, a, optOut)
    for (t <- Seq("ret_user", "ret_weeks"))
      assert(rowsOf(new Warehouse(spark, a).read(t)) ==
        rowsOf(new Warehouse(spark, b).read(t)),
        s"$t: retract → re-offer → retract != survivor rebuild")
  }

  test("transitions ledger: user opt-out cancels additively == rebuild over surviving users; replay + crash converge") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val bnd = ev.agg(min(col("day")), max(col("day"))).head()
    val (lo, hi) = (bnd.getLong(0), bnd.getLong(1))
    val step = math.max(1L, (hi - lo + 4) / 4)
    def slice(e: DataFrame, i: Int): DataFrame = e
      .filter(col("day") >= lo + i * step && col("day") < lo + (i + 1) * step)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val optOutPred = col("user_id") % 5 === 2
    val history = ev.filter(optOutPred)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))

    def cellsOf(root: String): Map[(String, String), Long] =
      new Warehouse(spark, root).read("tr_deltas")
        .groupBy(col("from_type"), col("to_type"))
        .agg(sum(col("n")).as("n")).filter(col("n") =!= 0)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    def carryOf(root: String): Seq[String] =
      rowsOf(new Warehouse(spark, root).read("tr_last")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))

    val a = tmpRoot("tra")
    (0 until 4).foreach(i => Sessions.advanceTransitionsIndex(spark, a, slice(ev, i)))
    Sessions.retractTransitionsUsers(spark, a, history)
    val b = tmpRoot("trb")
    (0 until 4).foreach(i =>
      Sessions.advanceTransitionsIndex(spark, b, slice(ev.filter(!optOutPred), i)))
    assert(cellsOf(a) == cellsOf(b),
      "cancelled cells != rebuild over surviving users")
    assert(carryOf(a) == carryOf(b),
      "retracted users' carry must leave tr_last")
    // replay: the restriction (users still in tr_last) is empty — no-op
    val rawDeltas = rowsOf(new Warehouse(spark, a).read("tr_deltas"))
    Sessions.retractTransitionsUsers(spark, a, history)
    assert(rowsOf(new Warehouse(spark, a).read("tr_deltas")) == rawDeltas,
      "a replayed retraction must not re-append negative rows")
    // crash window: the negated delta fully landed, tr_last not yet
    // swapped — the replay must not double-cancel and must finish the swap
    val c = tmpRoot("trc")
    (0 until 4).foreach(i => Sessions.advanceTransitionsIndex(spark, c, slice(ev, i)))
    val wc = new Warehouse(spark, c)
    val epoch = wc.read("tr_last").select(col("night_key"))
      .head(1).headOption.map(_.getLong(0)).getOrElse(0L)
    val key = history.dropDuplicates("event_id").agg(
        coalesce(bit_xor(xxhash64(col("event_id"))), lit(0L)).as("h"),
        count(lit(1)).as("ne"))
      .select(xxhash64(col("h"), col("ne"), lit("retract"), lit(epoch))
        .as("batch_key"))
    wc.append("tr_deltas",
      Sessions.transitionDelta(None, history.dropDuplicates("event_id"))
        .withColumn("n", -col("n"))
        .crossJoin(broadcast(key))
        .select(col("batch_key"), col("from_type"), col("to_type"), col("n")))
    Sessions.retractTransitionsUsers(spark, c, history) // the replay
    assert(cellsOf(c) == cellsOf(b), "mid-crash replay double-cancelled")
    assert(carryOf(c) == carryOf(b))
    // the cycle closes: re-ingest the opted-out users' complete history
    // as a fresh night (the CDC re-offer shape), then retract again —
    // tr_last's NEW night marker stamps the second retraction's key, so
    // it cancels instead of colliding with the first retraction's rows
    Sessions.advanceTransitionsIndex(spark, a, history)
    val d = tmpRoot("trd")
    (0 until 4).foreach(i => Sessions.advanceTransitionsIndex(spark, d, slice(ev, i)))
    assert(cellsOf(a) == cellsOf(d),
      "opt-out + re-ingest != the full-ingestion totals")
    Sessions.retractTransitionsUsers(spark, a, history)
    assert(cellsOf(a) == cellsOf(b),
      "retract → re-ingest → retract != survivor rebuild")
    assert(carryOf(a) == carryOf(b))
  }

  private def op(df: DataFrame, o: String): DataFrame =
    df.withColumn("op", lit(o))

  test("streaming control lanes: the three screen twins route advance/retract, sweep their pairs, and no-op on redelivery") {
    import graft.streaming.{StreamingAnn, StreamingDedup, StreamingWinnow}
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    val b8 = docs.filter(col("doc_id") % 10 === 8).select(col("doc_id"), col("text"))
    val b9 = docs.filter(col("doc_id") % 10 === 9).select(col("doc_id"), col("text"))
    val retrDocs = retracted.select(col("doc_id"), col("text"))
    val ids = retracted.select(col("doc_id"))

    // --- fuzzy tier: advance, then a MIXED batch (arrivals + a retract
    // control message), then the mixed batch REDELIVERED; each twin's
    // warehouse holds its pairs AND its index
    val whD = new Warehouse(spark, tmpRoot("scDwh"))
    val mixed = op(b9, "advance").unionByName(op(retrDocs, "retract"))
    StreamingDedup.processControlBatch(dir, whD, op(b8, "advance"))
    StreamingDedup.processControlBatch(dir, whD, mixed)
    val dTabs = Seq("corpus_docs", "corpus_shingles", "corpus_band_index")
    val before = dTabs.map(t => t -> rowsOf(whD.read(t))).toMap +
      ("pairs" -> rowsOf(whD.read("dedup_pairs")))
    StreamingDedup.processControlBatch(dir, whD, mixed) // redelivery
    dTabs.foreach(t => assert(rowsOf(whD.read(t)) == before(t),
      s"$t moved on a redelivered control batch"))
    assert(rowsOf(whD.read("dedup_pairs")) == before("pairs"))
    // retracted ids gone from index AND pairs (either side)
    dTabs.foreach(t =>
      assert(whD.read(t).join(ids, Seq("doc_id"), "left_semi").isEmpty, t))
    assert(whD.read("dedup_pairs")
      .join(ids.withColumnRenamed("doc_id", "dc"), Seq("dc"), "left_semi").isEmpty)
    // end state == an index independently built over survivors + both
    // streamed batches (content-deterministic signatures)
    val rebuilt = Dedup.corpusIndexAt(spark, tmpRoot("scDrb"),
      surviving.select(col("doc_id"), col("text"))
        .unionByName(b8).unionByName(b9))
    for (t <- dTabs)
      assert(rowsOf(whD.read(t)) ==
        rowsOf(new Warehouse(spark, rebuilt.root).read(t)),
        s"$t: streamed control lane != survivor rebuild")

    // --- winnow tier
    val whW = new Warehouse(spark, tmpRoot("scWwh"))
    StreamingWinnow.processControlBatch(dir, whW, op(b8, "advance"))
    StreamingWinnow.processControlBatch(dir, whW, mixed)
    StreamingWinnow.processControlBatch(dir, whW, mixed) // redelivery
    for (t <- Seq("corpus_winnow_docs", "corpus_winnow"))
      assert(whW.read(t).join(ids, Seq("doc_id"), "left_semi").isEmpty, t)
    assert(whW.read("winnow_pairs")
      .join(ids.withColumnRenamed("doc_id", "dc"), Seq("dc"), "left_semi").isEmpty)

    // --- embedding tier
    val whA = new Warehouse(spark, tmpRoot("scAwh"))
    val emb = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    val v8 = emb.filter(col("vec_id") % 10 === 8)
    val v9 = emb.filter(col("vec_id") % 10 === 9)
    val retrV = emb.filter(col("vec_id") % 10 < 8 && col("vec_id") % 9 === 4)
    val vMixed = op(v9, "advance").unionByName(op(retrV, "retract"))
    StreamingAnn.processControlBatch(dir, whA, op(v8, "advance"))
    val vids = retrV.select(col("vec_id"))
    // queries whose pre-retraction top-k names a soon-retracted neighbor
    val affectedQ = whA.read("ann_matches")
      .join(vids, Seq("vec_id"), "left_semi").select(col("q_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(affectedQ.nonEmpty,
      "fixture must produce at least one query naming a retracted neighbor")
    StreamingAnn.processControlBatch(dir, whA, vMixed)
    StreamingAnn.processControlBatch(dir, whA, vMixed) // redelivery
    assert(whA.read("corpus_codes")
      .join(vids, Seq("vec_id"), "left_semi").isEmpty)
    assert(whA.read("ann_matches")
      .join(vids, Seq("vec_id"), "left_semi").isEmpty,
      "matches naming a retracted neighbor must be swept")
    // the sweep is WHOLE-QUERY: no rank holes left behind —
    val leftQ = whA.read("ann_matches").select(col("q_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(affectedQ.intersect(leftQ).isEmpty,
      "a query naming a retracted neighbor must be dropped whole")
    // — and a redelivered original query batch cannot backfill the
    // dropped queries against the post-retraction index (the codes-
    // table seen guard): no q_id ever mixes two screenings' rankings
    StreamingAnn.processControlBatch(dir, whA, op(v8, "advance"))
    assert(whA.read("ann_matches")
      .join(affectedQ.toSeq.toDF("q_id"), Seq("q_id"), "left_semi").isEmpty,
      "redelivered queries must not half-rebuild swept results")
  }

  test("streaming control lanes: the event twins treat retract as a user opt-out message") {
    import graft.streaming.{StreamingRetentionIndex, StreamingTransitionsIndex}
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val bnd = ev.agg(min(col("day")), max(col("day"))).head()
    val (lo, hi) = (bnd.getLong(0), bnd.getLong(1))
    val step = math.max(1L, (hi - lo + 2) / 2) // two slices cover everything
    def slice(i: Int): DataFrame = ev
      .filter(col("day") >= lo + i * step && col("day") < lo + (i + 1) * step)
    val optOutPred = col("user_id") % 5 === 2
    val history = ev.filter(optOutPred)

    // --- retention: advance slice 0; mixed batch = slice 1 + opt-out
    val whR = new Warehouse(spark, tmpRoot("scR"))
    def rEv(df: DataFrame) = df.select(col("user_id"), col("ts"))
    StreamingRetentionIndex.processControlBatch(whR, op(rEv(slice(0)), "advance"), 0L)
    val rMixed = op(rEv(slice(1)), "advance").unionByName(op(rEv(history), "retract"))
    StreamingRetentionIndex.processControlBatch(whR, rMixed, 1L)
    val beforeR = Seq("ret_user", "ret_weeks").map(t => t -> rowsOf(whR.read(t))).toMap
    StreamingRetentionIndex.processControlBatch(whR, rMixed, 2L) // redelivery
    Seq("ret_user", "ret_weeks").foreach(t =>
      assert(rowsOf(whR.read(t)) == beforeR(t), s"$t moved on redelivery"))
    // == rebuild over the surviving users' events
    val rb = tmpRoot("scRrb")
    Sessions.retentionIndexAt(spark, rb, ev.filter(!optOutPred))
    for (t <- Seq("ret_user", "ret_weeks"))
      assert(rowsOf(whR.read(t)) == rowsOf(new Warehouse(spark, rb).read(t)),
        s"$t: streamed opt-out != survivor rebuild")

    // --- transitions: same shape; the retract message carries the
    // users' complete ingested history (the CDC delete payload)
    val whT = new Warehouse(spark, tmpRoot("scT"))
    def tEv(df: DataFrame) = df.select(col("user_id"), col("ts"),
      col("event_id"), col("event_type"))
    StreamingTransitionsIndex.processControlBatch(whT, op(tEv(slice(0)), "advance"), 0L)
    val tMixed = op(tEv(slice(1)), "advance").unionByName(op(tEv(history), "retract"))
    StreamingTransitionsIndex.processControlBatch(whT, tMixed, 1L)
    StreamingTransitionsIndex.processControlBatch(whT, tMixed, 2L) // redelivery
    def cellsOf(root: String): Map[(String, String), Long] =
      new Warehouse(spark, root).read("tr_deltas")
        .groupBy(col("from_type"), col("to_type"))
        .agg(sum(col("n")).as("n")).filter(col("n") =!= 0)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val tb = tmpRoot("scTrb")
    (0 until 2).foreach(i =>
      Sessions.advanceTransitionsIndex(spark, tb, tEv(slice(i).filter(!optOutPred))))
    assert(cellsOf(whT.root) == cellsOf(tb),
      "streamed opt-out cells != survivor rebuild")
    assert(whT.read("tr_last").filter(optOutPred).isEmpty,
      "opted-out users' carry must leave tr_last")
  }

  // ------------------------------------------------------ live lane

  test("published shards: retractFromLive sweeps corpus_shards in the same call; refreshFull + publish converge") {
    val wh = new Warehouse(spark, tmpRoot("shards"))
    val docsAll = Tables.spread(docs)
      .select(col("doc_id"), col("source"), col("text"))
    wh.write("corpus_raw", docsAll.filter(col("doc_id") % 10 < 8))
    CorpusPipeline.refreshFull(wh)
    CorpusPipeline.publish(wh)
    TransientCache.drain()
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    // pinned as literals: the retraction swaps the corpus_live files a
    // lazy lineage would re-read
    val ids = wh.read("corpus_live").select(col("doc_id"))
      .filter(col("doc_id") % 9 === 4)
      .collect().map(_.getLong(0)).toSeq.toDF("doc_id")
    // load-bearing fixture: some retracted docs ARE published
    assert(!wh.read("corpus_shards").join(ids, Seq("doc_id"), "left_semi").isEmpty,
      "fixture must publish at least one soon-retracted doc")
    val keep = rowsOf(wh.read("corpus_shards")
      .join(ids, Seq("doc_id"), "left_anti"))

    CorpusPipeline.retractFromLive(wh, ids)
    // the takedown SLA: immediately post-retract — not at the next
    // refresh — no published shard contains a retracted doc
    assert(wh.read("corpus_shards").join(ids, Seq("doc_id"), "left_semi").isEmpty,
      "published shards still hold retracted ids right after the call")
    // and the sweep is surgical: surviving shard rows are untouched
    // (the packing is NOT re-run — budgets keep their holes)
    assert(rowsOf(wh.read("corpus_shards")) == keep,
      "the shard sweep must move nothing but the retracted rows")
    TransientCache.drain()

    // the cadence pairing still converges: refreshFull + re-publish ==
    // a publish over a pipeline that NEVER saw the retracted docs
    CorpusPipeline.refreshFull(wh)
    CorpusPipeline.publish(wh)
    TransientCache.drain()
    val whB = new Warehouse(spark, tmpRoot("shardsB"))
    whB.write("corpus_raw", wh.read("corpus_raw")) // the purged raw ledger
    CorpusPipeline.refreshFull(whB)
    CorpusPipeline.publish(whB)
    TransientCache.drain()
    assert(rowsOf(wh.read("corpus_shards")) == rowsOf(whB.read("corpus_shards")),
      "refreshFull + re-publish != publish over survivors")
  }

  test("live lane: retractFromLive purges every table, keeps the maintained invariants, re-screens re-offers, and refreshFull cannot resurrect") {
    val wh = new Warehouse(spark, tmpRoot("live"))
    val docsAll = Tables.spread(docs)
      .select(col("doc_id"), col("source"), col("text"))
    // the incremental spec's hand-seeded base: %10<8 is the refined
    // corpus, nights 8 and 9 arrive through the screens
    wh.write("corpus_raw", docsAll.filter(col("doc_id") % 10 < 8))
    wh.write("corpus_clean", docsAll.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))
    CorpusPipeline.refineIncremental(wh, docsAll.filter(col("doc_id") % 10 === 8))
    CorpusPipeline.refineIncremental(wh, docsAll.filter(col("doc_id") % 10 === 9))
    TransientCache.drain()

    // targets: 15 night-admitted docs (their live text is the original
    // text, so the re-offer below is byte-identical) + one raw-only doc
    // (never admitted — the purge must still reach the raw ledger)
    val admitted = wh.read("corpus_live").filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(15)
      .collect().map(_.getLong(0)).toSeq
    val rawOnly = wh.read("corpus_raw")
      .join(wh.read("corpus_live").select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id")).orderBy(col("doc_id")).limit(1)
      .collect().map(_.getLong(0)).toSeq
    assert(admitted.size == 15 && rawOnly.size == 1)
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    val ids = (admitted ++ rawOnly).toDF("doc_id")
    val ghostKeys = Dedup.exactDedupOf(
        wh.read("corpus_live").join(ids, Seq("doc_id"), "left_semi"))
      .select(col("k")).collect().map(_.getString(0)).toSet

    CorpusPipeline.retractFromLive(wh, ids)

    val docTables = Seq("corpus_live", "corpus_raw",
      "live_index/corpus_shingles", "live_index/corpus_band_index",
      "live_index/corpus_docs", "live_winnow/corpus_winnow",
      "live_winnow/corpus_winnow_docs")
    for (t <- docTables)
      assert(wh.read(t).join(ids, Seq("doc_id"), "left_semi").isEmpty,
        s"$t still holds retracted ids")
    assert(wh.read("live_keys").collect().map(_.getString(0)).toSet
      .intersect(ghostKeys).isEmpty,
      "retracted docs' content keys must leave the ledger (no ghost rejects)")
    // the maintained-distribution invariant survives the cancellation
    assert(rowsOf(CorpusPipeline.liveTokenCounts(wh)) ==
      rowsOf(TextOps.tokenCountsOf(wh.read("corpus_live"))),
      "liveTokenCounts != recompute after retraction")
    // idempotent replay across every table
    val before = docTables.map(t => t -> rowsOf(wh.read(t))).toMap
    val keysBefore = rowsOf(wh.read("live_keys"))
    val countsBefore = rowsOf(wh.read("live_token_counts"))
    CorpusPipeline.retractFromLive(wh, ids)
    docTables.foreach(t => assert(rowsOf(wh.read(t)) == before(t), t))
    assert(rowsOf(wh.read("live_keys")) == keysBefore)
    assert(rowsOf(wh.read("live_token_counts")) == countsBefore,
      "a replayed retraction must not re-append negative token rows")
    TransientCache.drain()

    // refreshFull cannot resurrect: the rebuild is a deterministic
    // function of the purged corpus_raw (refreshFull == refine over raw
    // is CorpusPipelineSpec's standing identity)
    CorpusPipeline.refreshFull(wh)
    for (t <- Seq("corpus_raw", "corpus_clean", "corpus_mixed", "corpus_live"))
      assert(wh.read(t).join(ids, Seq("doc_id"), "left_semi").isEmpty,
        s"refreshFull resurrected retracted ids in $t")
    TransientCache.drain()

    // re-offer (takedown reversal): the ghost keys are gone, so the
    // exact screen drops NOTHING — the re-offer is re-screened fresh,
    // never auto-rejected by its own history
    val reoffer = docsAll.join(admitted.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val log = CorpusPipeline.refineIncremental(wh, reoffer)
      .map(c => c.stage -> c).toMap
    assert(log("live_exact").rows_out == log("live_quality").rows_out,
      "re-offered content must not be dropped by its own retracted keys")
    assert(rowsOf(CorpusPipeline.liveTokenCounts(wh)) ==
      rowsOf(TextOps.tokenCountsOf(wh.read("corpus_live"))),
      "liveTokenCounts != recompute after the re-offer night")
    TransientCache.drain()

    // ... and the cycle closes: a SECOND retraction of the re-offered
    // docs derives a fresh epoch-stamped key (the re-offer night's
    // positive delta key advanced the epoch), so it cancels again
    // instead of no-oping on the first retraction's guard rows
    CorpusPipeline.retractFromLive(wh, ids)
    for (t <- docTables)
      assert(wh.read(t).join(ids, Seq("doc_id"), "left_semi").isEmpty,
        s"$t still holds ids after the second retraction of the cycle")
    assert(rowsOf(CorpusPipeline.liveTokenCounts(wh)) ==
      rowsOf(TextOps.tokenCountsOf(wh.read("corpus_live"))),
      "liveTokenCounts != recompute after the cycle's second retraction")
    TransientCache.drain()
  }
}
