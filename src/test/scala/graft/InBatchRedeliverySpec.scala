package graft

import java.nio.file.Files

import graft.operators.{Dedup, Similarity}
import graft.pipelines.{CorpusPipeline, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-batch redelivery across every incremental seam: the at-rest
  * guards (manifest + residual anti-joins) only know COMMITTED rows, so
  * a source that redelivers a key WITHIN one micro-batch is invisible
  * to them — without the entry-seam dropDuplicates, signature rows
  * double at rest, shared counts double in screens, and the pipeline
  * appends a doc twice. Contract, all tiers: a batch with every row
  * duplicated behaves EXACTLY like the clean batch — screens
  * bit-identical, at-rest tables bit-identical (as multisets: row
  * counts matter here, a Set comparison would hide the doubling).
  */
class InBatchRedeliverySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Multiset view — duplicates are the whole point of this spec. */
  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def docs = Tables.documents(spark, dir)
  private def night = docs.filter(col("doc_id") % 10 === 8)

  test("fuzzy tier: a duplicated batch screens and appends like the clean batch") {
    def idxAt(root: String) = Dedup.corpusIndexAt(spark, root, Dedup.seenCorpus(spark, dir))
    val rootA = Files.createTempDirectory("graft_rdl_shA_").toString
    val cleanScreen = bag(Dedup.screenAgainstIndexOf(idxAt(rootA), night))
    TransientCache.drain()
    val dupScreen = bag(Dedup.screenAgainstIndexOf(idxAt(rootA), night.union(night)))
    TransientCache.drain()
    assert(dupScreen == cleanScreen, "fuzzy screen must collapse in-batch duplicates")
    assert(cleanScreen.nonEmpty)

    Dedup.appendToCorpusIndexOf(idxAt(rootA), night)
    val whA = new Warehouse(spark, rootA)
    val want = Seq("corpus_shingles", "corpus_band_index", "corpus_docs")
      .map(t => t -> bag(whA.read(t))).toMap
    val rootB = Files.createTempDirectory("graft_rdl_shB_").toString
    Dedup.appendToCorpusIndexOf(idxAt(rootB), night.union(night))
    val whB = new Warehouse(spark, rootB)
    want.foreach { case (t, rows) =>
      assert(bag(whB.read(t)) == rows,
        s"duplicated-batch append must equal clean append at $t")
    }
  }

  test("winnow tier: a duplicated batch screens and appends like the clean batch") {
    def idxAt(root: String) = Dedup.winnowIndexAt(spark, root, Dedup.seenCorpus(spark, dir))
    val rootA = Files.createTempDirectory("graft_rdl_wA_").toString
    val cleanScreen = bag(Dedup.screenWinnowAgainstIndexOf(idxAt(rootA), night))
    TransientCache.drain()
    val dupScreen = bag(Dedup.screenWinnowAgainstIndexOf(idxAt(rootA), night.union(night)))
    TransientCache.drain()
    assert(dupScreen == cleanScreen, "winnow screen must collapse in-batch duplicates")
    assert(cleanScreen.nonEmpty)

    Dedup.appendToWinnowIndexOf(idxAt(rootA), night)
    val whA = new Warehouse(spark, rootA)
    val want = Seq("corpus_winnow", "corpus_winnow_docs")
      .map(t => t -> bag(whA.read(t))).toMap
    val rootB = Files.createTempDirectory("graft_rdl_wB_").toString
    Dedup.appendToWinnowIndexOf(idxAt(rootB), night.union(night))
    val whB = new Warehouse(spark, rootB)
    want.foreach { case (t, rows) =>
      assert(bag(whB.read(t)) == rows,
        s"duplicated-batch append must equal clean append at $t")
    }
  }

  test("ann tier: a duplicated batch screens like the clean batch") {
    // (the append side is spec'd in TrainingOpsSpec's key-uniqueness
    // assertion; this is the screen side — duplicate probes would
    // corrupt the per-query rank sequences)
    FixtureRoots.clear(spark)
    val emb = Tables.spread(Tables.embeddings(spark, dir))
    val vnight = emb.filter(col("vec_id") % 10 >= 8)
    val clean = bag(Similarity.screenAnnAgainstIndex(spark, dir, vnight))
    val dup = bag(Similarity.screenAnnAgainstIndex(spark, dir, vnight.union(vnight)))
    assert(dup == clean, "ANN screen must collapse in-batch duplicates")
    assert(clean.nonEmpty)
    FixtureRoots.clear(spark)
    Similarity.clearKmeansMemo(spark)
  }

  test("pipeline night: a duplicated batch == the clean batch on every state table") {
    val sdocs = Tables.spread(docs).select(col("doc_id"), col("source"), col("text"))
    def seed(wh: Warehouse): Unit = {
      wh.write("corpus_raw", sdocs.filter(col("doc_id") % 10 < 8))
      wh.write("corpus_clean", sdocs.filter(col("doc_id") % 10 < 8 &&
        col("source") =!= CorpusPipeline.BenchSource))
    }
    val batch = sdocs.filter(col("doc_id") % 10 === 8)
    val tables = Seq("corpus_raw", "corpus_live", "live_keys",
      "live_index/corpus_shingles", "live_index/corpus_band_index",
      "live_index/corpus_docs", "live_winnow/corpus_winnow",
      "live_winnow/corpus_winnow_docs")
    val whA = new Warehouse(spark, Files.createTempDirectory("graft_rdl_pA_").toString)
    seed(whA)
    CorpusPipeline.refineIncremental(whA, batch)
    TransientCache.drain()
    val whB = new Warehouse(spark, Files.createTempDirectory("graft_rdl_pB_").toString)
    seed(whB)
    CorpusPipeline.refineIncremental(whB, batch.union(batch))
    TransientCache.drain()
    tables.foreach(t => assert(bag(whB.read(t)) == bag(whA.read(t)),
      s"duplicated-batch night must equal clean night at $t"))
  }

  test("transitions tier: a night with a redelivered event == the clean night on ledger, carry AND night key") {
    // an event redelivered WITHIN one night would (a) form an adjacent
    // duplicate under the lag window — a spurious X→X self-transition —
    // and (b) xor-cancel its own hash out of eventSetKey, so the dirty
    // night's marker could never reconcile a later clean replay
    import graft.operators.Sessions
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val corpus = ev.filter(col("event_id") % 10 < 8)
    val night = ev.filter(col("event_id") % 10 >= 8)
    def run(batch: DataFrame): (Seq[String], Seq[String], Warehouse) = {
      val wh = new Warehouse(spark,
        Files.createTempDirectory("graft_rdl_tr_").toString)
      Sessions.advanceTransitionsIndex(spark, wh.root, corpus)
      Sessions.advanceTransitionsIndex(spark, wh.root, batch)
      (bag(wh.read("tr_deltas")), bag(wh.read("tr_last")), wh)
    }
    val (cleanLedger, cleanLast, _) = run(night)
    val (dupLedger, dupLast, whDup) = run(night.union(night.limit(3)))
    assert(dupLedger == cleanLedger,
      "redelivered-event night must commit the clean ledger rows")
    assert(dupLast == cleanLast,
      "redelivered-event night must stamp the CLEAN night key")
    // the marker parity matters operationally: a later CLEAN replay of
    // the same night must short-circuit, not double-append
    Sessions.advanceTransitionsIndex(spark, whDup.root, night)
    assert(bag(whDup.read("tr_deltas")) == cleanLedger,
      "clean replay after a dirty night must be a no-op")
  }
}
