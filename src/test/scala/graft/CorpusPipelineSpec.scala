package graft

import java.nio.file.Files

import graft.operators.{Contamination, Dedup, TextOps}
import graft.pipelines.{CorpusPipeline, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus refinement: the stage chain must enforce its
  * invariants (monotone counts through the dropping stages, no
  * contaminated or benchmark doc in the final corpus, the mix matching
  * the q78-derived rates), agree with the standalone operators it
  * composes, and re-run to identical tables (idempotence — the §2.9
  * discipline, training-data tier).
  */
class CorpusPipelineSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("corpus refinement: stage invariants, operator agreement, idempotent re-run") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-wh").toString)
    val log = CorpusPipeline.refine(wh, dir)
    assert(log.map(_.stage) == Seq("corpus_raw", "corpus_quality",
      "corpus_exact", "corpus_span", "corpus_clean", "corpus_leaked",
      "corpus_split", "corpus_mixed"))
    val counts = log.map(c => c.stage -> c.rows_out).toMap

    // monotone through the dropping stages; ingest is lossless
    assert(counts("corpus_raw") ==
      Tables.documents(spark, dir).count())
    assert(counts("corpus_raw") >= counts("corpus_quality"))
    assert(counts("corpus_quality") >= counts("corpus_exact"))
    assert(counts("corpus_exact") >= counts("corpus_span"))
    assert(counts("corpus_span") >= counts("corpus_clean"))
    assert(counts("corpus_clean") >= counts("corpus_split"))
    assert(counts("corpus_split") == counts("corpus_clean") - counts("corpus_leaked"),
      "the split stage drops exactly the quarantined eval docs")
    // the chain must DO something on the fixture, not pass it through
    assert(counts("corpus_clean") < counts("corpus_raw"))
    // the persisted stage log is the returned log
    assert(wh.read("corpus_stage_log").count() == log.size)

    // stage 1 agrees with standalone q18: survivors are exactly the
    // non-benchmark docs scoring >= the cut
    val quality = wh.read("corpus_quality").cache()
    val expectQ = rowsOf(TextOps.qualityScore(spark, dir)
      .filter(col("score") >= CorpusPipeline.QualityCut).select(col("doc_id"))
      .join(Tables.documents(spark, dir)
          .filter(col("source") =!= CorpusPipeline.BenchSource)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi"))
    assert(rowsOf(quality.select(col("doc_id"))) == expectQ)

    // stage 2: no two surviving docs share a normalized-content key
    val exact = wh.read("corpus_exact")
    val dupKeys = Dedup.exactDedupOf(exact).filter(col("n_docs") > 1)
    assert(dupKeys.isEmpty, "exact stage must leave canonical docs only")

    // stage 3: span stage agrees with standalone q76 on the surviving
    // docs (md5 of the rewritten text matches q76's clean_md5 for every
    // doc that reached the span stage)
    val span = wh.read("corpus_span").cache()
    val q76 = TextOps.spanCleanOf(exact)
      .select(col("doc_id"), md5(col("clean_text")).as("m"))
    val mism = span.select(col("doc_id"), md5(col("text")).as("m2"))
      .join(q76, Seq("doc_id"))
      .filter(col("m") =!= col("m2"))
    assert(mism.isEmpty)
    TransientCache.drain()

    // stage 4: no contaminated doc survives — rescoring the survivors
    // against the pristine benchmark flags nothing, and no benchmark doc
    // leaked into any training stage
    val clean = wh.read("corpus_clean").cache()
    val bench = Tables.documents(spark, dir)
      .filter(col("source") === CorpusPipeline.BenchSource)
      .select(col("doc_id"), col("source"), col("text"))
    val rescore = Contamination.contaminationOf(clean.unionByName(bench))
    assert(rescore.filter(col("flagged")).isEmpty)
    assert(clean.filter(col("source") === CorpusPipeline.BenchSource).isEmpty)
    assert(quality.filter(col("source") === CorpusPipeline.BenchSource).isEmpty)

    // stage 5: the quarantine agrees with the standalone q87 composition
    // over the clean table, split labels follow the q34 content-hash
    // rule, and the audit re-run over the SURVIVING corpus is empty —
    // no published pair straddles the train/eval boundary
    val splitT = wh.read("corpus_split").cache()
    val leaked = wh.read("corpus_leaked")
    val expectLeaks = Contamination.splitLeakageOf(clean, Dedup.shingleRowsOf(clean))
    assert(rowsOf(leaked) == rowsOf(expectLeaks))
    TransientCache.drain()
    // on this fixture the quarantine is EMPTY — and that is the point:
    // the upstream exact-dedup and span-rewrite stages already removed
    // the near-dup content q87 flags on the RAW corpus (the standalone
    // q87 finds leaks; the refined corpus has none left to leak). The
    // drop path is exercised non-vacuously in the mini-universe test
    // below, so an empty audit here is a verified outcome, not a
    // dormant code path.
    import graft.functions.TextFns.hash60
    assert(splitT.filter(col("split") =!=
      when(hash60(col("text")) % 100 < Contamination.TrainPct, "train")
        .when(hash60(col("text")) % 100 <
          Contamination.TrainPct + Contamination.ValPct, "val")
        .otherwise("test")).isEmpty,
      "split labels must follow the q34 content-hash rule")
    assert(Contamination.splitLeakageOf(
      splitT.select(col("doc_id"), col("source"), col("text")),
      Dedup.shingleRowsOf(splitT)).isEmpty,
      "the surviving corpus must contain zero straddling near-dup pairs")
    TransientCache.drain()

    // stage 6: the final mix matches the q78-derived rates — per-source
    // copy counts equal the deterministic replication recomputed from
    // the split table (exact), and land near expected_docs (the
    // hash-Bernoulli concentration check)
    val mixed = wh.read("corpus_mixed").cache()
    val weights = TextOps.mixtureWeightsOf(splitT).cache()
    val rates = weights.select(col("source"),
      (col("expected_docs") / col("n_docs")).as("rate"))
    val expectMix = TextOps.resampleAtRates(splitT, rates)
    assert(rowsOf(mixed.select(col("doc_id"), col("source"), col("copy_id"))) ==
      rowsOf(expectMix.select(col("doc_id"), col("source"), col("copy_id"))))
    val bySource = mixed.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("actual"))
      .join(weights.select(col("source"), col("expected_docs")), Seq("source"))
    assert(bySource.filter(
      abs(col("actual") - col("expected_docs")) >
        lit(0.2) * col("expected_docs") + lit(3.0)).isEmpty,
      "per-source mix must track the q78-derived expectation")
    TransientCache.drain()

    // publish: every mixed row lands in exactly one shard, shards honor
    // the token budget up to one document's overhang (a doc larger than
    // the budget spans its start shard alone), and the at-rest layout is
    // partitioned by shard (one directory per shard — partition pruning
    // is the reader contract)
    val nShards = CorpusPipeline.publish(wh)
    assert(nShards > 1, "fixture must fill more than one shard")
    val shards = wh.read("corpus_shards").cache()
    assert(shards.count() == mixed.count())
    assert(rowsOf(shards.select(col("doc_id"), col("copy_id"))) ==
      rowsOf(mixed.select(col("doc_id"), col("copy_id"))))
    val maxDoc = shards.agg(max(col("n_tokens"))).first().getInt(0)
    assert(shards.groupBy(col("shard")).agg(sum(col("n_tokens")).as("t"))
      .filter(col("t") > TextOps.ShardBudget + maxDoc).isEmpty)
    assert(new java.io.File(s"${wh.root}/corpus_shards/shard=0").isDirectory,
      "shard output must be a partitioned directory layout")
    // the leakage contract survives publication: the q87 audit over the
    // PUBLISHED corpus (distinct docs — replicas are exact copies and
    // cannot straddle) finds nothing
    val pubDocs = shards.select(col("doc_id"), col("source"), col("text")).distinct()
    assert(Contamination.splitLeakageOf(pubDocs, Dedup.shingleRowsOf(pubDocs)).isEmpty,
      "published shards must contain zero straddling near-dup pairs")
    TransientCache.drain()
    // ... and every published row carries its split label
    assert(shards.filter(col("split").isNull).isEmpty)
    // the load half reports to the metric table, keyed: re-publishing
    // replaces its row instead of duplicating it
    def shardLog() = wh.read("corpus_stage_log")
      .filter(col("stage") === "corpus_shards")
    assert(shardLog().count() == 1)
    assert(CorpusPipeline.publish(wh) == nShards)
    assert(shardLog().count() == 1)
    shards.unpersist(false)

    // idempotent re-run: every table byte-identical in content
    val before = Seq("corpus_raw", "corpus_quality", "corpus_exact",
      "corpus_span", "corpus_clean", "corpus_leaked", "corpus_split",
      "corpus_mixed")
      .map(t => t -> rowsOf(wh.read(t))).toMap
    val log2 = CorpusPipeline.refine(wh, dir)
    assert(log2 == log)
    before.foreach { case (t, rows) => assert(rowsOf(wh.read(t)) == rows, t) }

    Seq(quality, span, clean, splitT, mixed, weights).foreach(_.unpersist(false))
  }

  test("incremental refinement: each night == the standalone screens; replay is a no-op") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-wh-incr").toString)
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    // hand-seeded base: the refined corpus role-played by the %10<8
    // non-benchmark slice (raw text — the boundary identity is about the
    // SCREENS, not the base's provenance); the benchmark slice stays
    // pristine in corpus_raw, q61/q74's %10>=8 docs arrive as nights
    wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
    wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))
    def night(m: Int) = docs.filter(col("doc_id") % 10 === m)

    // the full-recompute reference at one boundary: the standalone
    // operators (q18 cut, q20 canonical vs the seen keys, q33 vs the
    // pristine bench, q22-banded near-dup verify vs the live corpus)
    def expectSurvivors(liveB: DataFrame, seenKeys: DataFrame,
                        batch: DataFrame): DataFrame = {
      val q = batch.filter(col("source") =!= CorpusPipeline.BenchSource)
        .join(TextOps.qualityScoreOf(batch)
            .filter(col("score") >= CorpusPipeline.QualityCut).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      val novel = Dedup.exactDedupOf(q).join(seenKeys, Seq("k"), "left_anti")
      val e = q.join(novel.select(col("canonical_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val bench = wh.read("corpus_raw")
        .filter(col("source") === CorpusPipeline.BenchSource)
      val flagged = Contamination.contaminationOf(e.unionByName(bench),
        CorpusPipeline.BenchSource).filter(col("flagged")).select(col("doc_id"))
      val c = e.join(flagged, Seq("doc_id"), "left_anti")
      // banded fuzzy reference (same LSH family the screen uses — an
      // exhaustive reference would assert recall banding does not claim)
      val sh = Dedup.shingleRowsOf(liveB.unionByName(c))
      val bands = Dedup.bandsOf(sh)
      val ci = bands.join(c.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("di"), col("band"), col("sig"))
      val co = bands.join(liveB.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("dc"), col("band"), col("sig"))
      val cand = ci.join(co, Seq("band", "sig")).select(col("di"), col("dc")).distinct()
      val sets = sh.groupBy(col("doc_id")).agg(collect_list(col("sh_h")).as("s"))
      val dropped = cand
        .join(sets.select(col("doc_id").as("di"), col("s").as("sa")), Seq("di"))
        .join(sets.select(col("doc_id").as("dc"), col("s").as("sb")), Seq("dc"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("j", col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter")))
        .filter(col("j") >= Dedup.JaccardThreshold)
        .select(col("di").as("doc_id")).distinct()
      val f = c.join(dropped, Seq("doc_id"), "left_anti")
      // deterministic winnow reference: the q88 delta contract — the
      // full-rebuild q86 pairs over live ∪ fuzzy-survivors, restricted
      // to survivor × live (the screen's df universe is exactly this)
      val wfp = Dedup.winnowFingerprintsOf(liveB.unionByName(f))
      val wdrop = Dedup.winnowPairsOf(wfp)
        .join(f.select(col("doc_id").as("da")), Seq("da"), "left_semi")
        .join(liveB.select(col("doc_id").as("db")), Seq("db"), "left_semi")
        .select(col("da").as("doc_id"))
        .unionByName(Dedup.winnowPairsOf(wfp)
          .join(f.select(col("doc_id").as("db")), Seq("db"), "left_semi")
          .join(liveB.select(col("doc_id").as("da")), Seq("da"), "left_semi")
          .select(col("db").as("doc_id")))
        .distinct()
      f.join(wdrop, Seq("doc_id"), "left_anti")
    }

    var totalIn = 0L; var totalKept = 0L; var winnowDropped = 0L
    Seq(8, 9).foreach { m =>
      val liveB =
        if (wh.exists("corpus_live")) wh.read("corpus_live")
        else wh.read("corpus_clean")
      val keysB =
        if (wh.exists("live_keys")) wh.read("live_keys")
        else Dedup.exactDedupOf(liveB).select(col("k"))
      val surv = expectSurvivors(liveB, keysB, night(m))
      val expectLive = rowsOf(liveB) ++ rowsOf(surv)
      totalIn += night(m).count(); totalKept += surv.count()
      val stageLog = CorpusPipeline.refineIncremental(wh, night(m))
      winnowDropped += stageLog.filter(_.stage == "live_winnow")
        .map(s => s.rows_in - s.rows_out).sum
      assert(rowsOf(wh.read("corpus_live")) == expectLive,
        s"night $m: incremental state != standalone-screen recompute")
      TransientCache.drain()
    }
    assert(totalKept > 0, "nights must contribute survivors")
    assert(totalKept < totalIn, "the screens must drop something")
    // the deterministic stage is NON-VACUOUS here: the fixture contains
    // shared-run overlaps below the jaccard threshold (q88 pairs ⊅ q74
    // pairs — 6 batch docs at sf0.001), so stage 5 must drop docs the
    // probabilistic stage 4 passed
    assert(winnowDropped > 0,
      "the winnow stage must catch shared-run docs the fuzzy screen missed")

    // replay of a fully-committed night: no-op on the corpus, the key
    // ledger, and all three live-index tables
    val tables = Seq("corpus_live", "live_keys", "live_index/corpus_shingles",
      "live_index/corpus_band_index", "live_index/corpus_docs",
      "live_winnow/corpus_winnow", "live_winnow/corpus_winnow_docs")
    val before = tables.map(t => t -> rowsOf(wh.read(t))).toMap
    CorpusPipeline.refineIncremental(wh, night(8))
    tables.foreach(t => assert(rowsOf(wh.read(t)) == before(t), t))
    TransientCache.drain()
  }

  test("the split stage's drop removes every straddling pair (non-vacuous)") {
    // the refined fixture audits clean (see above), so exercise the
    // stage's drop logic on a universe KNOWN to leak: exactly the docs
    // of the standalone q87's reported pairs. Labels derive from text
    // alone, so the mini-universe reproduces the same straddles.
    val leak = Contamination.splitLeakage(spark, dir)
    TransientCache.drain()
    val ids = leak.select(explode(array(col("eval_id"), col("train_id"))).as("doc_id"))
      .distinct()
    // both frames are pinned with localCheckpoint, not cache(): each
    // audit nests three cached stages, and plan-string generation prints
    // an InMemoryRelation's cached plan transitively without sharing, so
    // audit-over-audit-over-audit lineage made every job's plan
    // description several GB (heap OOM even at -Xmx5g)
    val uni = Tables.documents(spark, dir).join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()
    val found = Contamination.splitLeakageOf(uni, Dedup.shingleRowsOf(uni))
      .localCheckpoint()
    assert(found.count() > 0, "the leaking mini-universe must be detected")
    TransientCache.drain()
    // the pipeline's drop: remove the EVAL side of every reported pair
    val kept = uni.join(found.select(col("eval_id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    assert(Contamination.splitLeakageOf(kept, Dedup.shingleRowsOf(kept)).isEmpty,
      "dropping the flagged eval docs must remove every straddling pair")
    TransientCache.drain()
  }

  test("N nights + refreshFull == one clean refine over the union, at every table boundary") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-wh-refresh").toString)
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    // the incremental-lane seed of the earlier test: %10<8 base, nights
    // 8 and 9 — so the nightly raw ledger's union is the WHOLE fixture,
    // and refine(dir) is the clean-reference run over the same union
    wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
    wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))
    CorpusPipeline.refineIncremental(wh, docs.filter(col("doc_id") % 10 === 8))
    TransientCache.drain()
    CorpusPipeline.refineIncremental(wh, docs.filter(col("doc_id") % 10 === 9))
    TransientCache.drain()
    // the raw ledger holds the union — UNSCREENED: dropped docs too
    assert(rowsOf(wh.read("corpus_raw")) == rowsOf(docs),
      "the nightly lane must keep corpus_raw == union of all raw inputs")

    CorpusPipeline.refreshFull(wh)

    // clean-refine reference over the same union; live lane seeded
    // exactly as a first refineIncremental would seed it
    val wh2 = new Warehouse(spark, Files.createTempDirectory("graft-wh-union").toString)
    CorpusPipeline.refine(wh2, dir)
    wh2.write("corpus_live", wh2.read("corpus_clean"))
    wh2.write("live_keys",
      Dedup.exactDedupOf(wh2.read("corpus_live")).select(col("k")))
    Dedup.corpusIndexAt(spark, s"${wh2.root}/live_index", wh2.read("corpus_live"))
    Dedup.winnowIndexAt(spark, s"${wh2.root}/live_winnow", wh2.read("corpus_live"))
    TransientCache.drain()

    val tables = Seq("corpus_raw", "corpus_quality", "corpus_exact",
      "corpus_span", "corpus_clean", "corpus_leaked", "corpus_split",
      "corpus_mixed", "corpus_stage_log", "corpus_live", "live_keys",
      "live_index/corpus_shingles", "live_index/corpus_band_index",
      "live_index/corpus_docs", "live_winnow/corpus_winnow",
      "live_winnow/corpus_winnow_docs")
    tables.foreach(t => assert(rowsOf(wh.read(t)) == rowsOf(wh2.read(t)),
      s"nights+refresh != clean refine at table $t"))

    // refreshFull is idempotent: a second reconciliation of the same
    // raw ledger reproduces every table verbatim
    val before = tables.map(t => t -> rowsOf(wh.read(t))).toMap
    CorpusPipeline.refreshFull(wh)
    tables.foreach(t => assert(rowsOf(wh.read(t)) == before(t),
      s"second refreshFull changed $t"))
    TransientCache.drain()
  }

  test("replay after the raw-ledger append converges (bench slice excludes the batch)") {
    import spark.implicits._
    // A batch carrying its own benchmark-source doc B plus a training
    // doc D that shares B's text. Clean night: the bench slice is read
    // from corpus_raw BEFORE the batch lands there, so D is screened
    // against the PRE-EXISTING benchmark only and survives. A crash
    // after the (guarded, order-first) corpus_raw append replays the
    // body with B already at rest — without the batch anti-join on the
    // bench slice, the replayed screen would flag D and the final state
    // would depend on crash timing (the reviewed convergence bug).
    def seed(tag: String): Warehouse = {
      val wh = new Warehouse(spark,
        Files.createTempDirectory(s"graft-wh-$tag").toString)
      val docs = Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"), col("text"))
      wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
      wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
        col("source") =!= CorpusPipeline.BenchSource))
      wh
    }
    // long enough to clear the q18 cut comfortably (the token-count
    // term saturates at 100 tokens)
    val sharedText = Seq.fill(6)(
      "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight without any rest")
      .mkString(" ")
    val batch = Seq(
      (9001L, CorpusPipeline.BenchSource, sharedText),
      (9002L, "srcX", sharedText)).toDF("doc_id", "source", "text")

    // clean night
    val whClean = seed("replay-clean")
    CorpusPipeline.refineIncremental(whClean, batch)

    // crashed night: the corpus_raw append committed (B at rest), then
    // the body replays from the top
    val whCrash = seed("replay-crash")
    whCrash.append("corpus_raw", batch)
    CorpusPipeline.refineIncremental(whCrash, batch)

    Seq("corpus_live", "live_keys", "corpus_raw").foreach { t =>
      assert(whClean.read(t).collect().map(_.mkString("|")).toSet ==
        whCrash.read(t).collect().map(_.mkString("|")).toSet,
        s"replay after the raw append diverged at $t")
    }
    // and D genuinely survived (the scenario is non-vacuous: had the
    // replayed bench slice included B, D would have been flagged)
    assert(whCrash.read("corpus_live").filter(col("doc_id") === 9002L).count() == 1,
      "training doc sharing the batch's own bench text must survive both runs")
    TransientCache.drain()
  }

  test("drift-gated ingest: spam nights quarantine whole; normal nights refine") {
    import spark.implicits._
    def seed(tag: String): Warehouse = {
      val wh = new Warehouse(spark,
        Files.createTempDirectory(s"graft-wh-$tag").toString)
      val docs = Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"), col("text"))
      wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
      wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
        col("source") =!= CorpusPipeline.BenchSource))
      wh
    }
    val wh = seed("gate")
    val whRef = seed("gate-ref")
    val night8 = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 8)
      .select(col("doc_id"), col("source"), col("text"))

    // an in-distribution night takes the refine branch: stage log and
    // every live table match the ungated cycle bit-for-bit
    val gated = CorpusPipeline.refineIncrementalGated(wh, night8)
    val ungated = CorpusPipeline.refineIncremental(whRef, night8)
    assert(gated == ungated, s"gated $gated vs ungated $ungated")
    assert(!wh.exists("corpus_quarantine"))
    Seq("corpus_live", "live_keys").foreach { t =>
      assert(wh.read(t).collect().map(_.mkString("|")).toSet ==
        whRef.read(t).collect().map(_.mkString("|")).toSet,
        s"gated in-distribution night diverged at $t")
    }

    // a spam flood (one nonsense distribution, disjoint vocabulary)
    // reads far above the gate: quarantined WHOLE, live state untouched
    val spam = spark.range(9000L, 9040L)
      .select(col("id").as("doc_id"), lit("spamnet").as("source"),
        lit("zqzq vrvr kjkj zqzq wmwm vrvr").as("text"))
    val liveBefore = wh.read("corpus_live").count()
    val g2 = CorpusPipeline.refineIncrementalGated(wh, spam)
    assert(g2 == Seq(CorpusPipeline.StageCount("live_drift_gate", 40L, 40L)),
      s"spam night should gate, got $g2")
    assert(wh.read("corpus_quarantine").count() == 40)
    assert(wh.read("corpus_live").count() == liveBefore,
      "quarantine lane must not touch corpus_live")

    // at-least-once replay of the spam night: same branch, keyed
    // append drops everything
    val g3 = CorpusPipeline.refineIncrementalGated(wh, spam)
    assert(g3 == Seq(CorpusPipeline.StageCount("live_drift_gate", 40L, 0L)))
    assert(wh.read("corpus_quarantine").count() == 40)
    TransientCache.drain()
  }

  test("gate_log lifecycle: refusals replay as recorded until refreshFull retires them, then re-evaluate") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-wh-gl").toString)
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
    wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))
    val night9 = docs.filter(col("doc_id") % 10 === 9)

    // an in-distribution night refused under an absurdly strict gate:
    // the decision is a WAL row, so a replay under the DEFAULT gate
    // re-takes the RECORDED branch even though a re-reading would admit
    val g1 = CorpusPipeline.refineIncrementalGated(wh, night9, maxDrift = 0.0)
    TransientCache.drain()
    assert(g1.head.stage == "live_drift_gate", s"strict gate must refuse, got $g1")
    assert(wh.read("gate_log").count() == 1)
    val liveBefore = wh.read("corpus_live").count()
    val g2 = CorpusPipeline.refineIncrementalGated(wh, night9)
    TransientCache.drain()
    assert(g2.head.stage == "live_drift_gate",
      s"pre-refresh replay must honor the recorded refusal, got $g2")
    assert(wh.read("gate_log").count() == 1, "a replay derives no second decision")
    assert(wh.read("corpus_live").count() == liveBefore)

    // refreshFull retires the log with the distribution it was relative
    // to (missing, never stale) ...
    CorpusPipeline.refreshFull(wh)
    TransientCache.drain()
    assert(!wh.exists("gate_log"),
      "refreshFull must retire gate_log alongside the token-count retire")
    // the refresh re-refines corpus_raw through the FULL chain, so the
    // post-refresh corpus is the new admission baseline
    val liveRefreshed = wh.read("corpus_live").count()

    // ... so the SAME doc set re-offered is RE-EVALUATED: under the
    // default gate the in-distribution night now admits and refines in
    val g3 = CorpusPipeline.refineIncrementalGated(wh, night9)
    TransientCache.drain()
    assert(g3.exists(_.stage == "live_quality"),
      s"post-refresh re-offer must re-evaluate (and here admit), got $g3")
    assert(wh.read("gate_log").count() == 1 &&
      wh.read("gate_log").filter(col("admitted")).count() == 1,
      "the re-offer derives one fresh decision")
    assert(wh.read("corpus_live").count() > liveRefreshed,
      "the admitted re-offer must refine into the live corpus")
  }

  test("quarantine review: admit-all == never gated at every boundary; partial admits retain refusals") {
    import spark.implicits._
    def seed(tag: String): Warehouse = {
      val wh = new Warehouse(spark,
        Files.createTempDirectory(s"graft-wh-$tag").toString)
      val docs = Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"), col("text"))
      wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
      wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
        col("source") =!= CorpusPipeline.BenchSource))
      wh
    }
    val spam = spark.range(9000L, 9040L)
      .select(col("id").as("doc_id"), lit("spamnet").as("source"),
        lit("zqzq vrvr kjkj zqzq wmwm vrvr").as("text"))

    // gated warehouse vs the never-gated counterfactual
    val wh = seed("review")
    val whRef = seed("review-ref")
    CorpusPipeline.refineIncrementalGated(wh, spam)
    assert(wh.exists("corpus_quarantine"), "spam night must gate (non-vacuous)")
    TransientCache.drain()
    CorpusPipeline.refineIncremental(whRef, spam)
    TransientCache.drain()

    // admit-all: the review re-offers the whole night through the
    // ungated body, then retires the empty quarantine — the warehouse
    // must land EXACTLY where the never-gated one did
    val log = CorpusPipeline.reviewQuarantine(wh)
    assert(log.head == CorpusPipeline.StageCount("quarantine_review", 40L, 40L))
    assert(!wh.exists("corpus_quarantine"),
      "an emptied quarantine must be retired, restoring the never-gated state")
    val tables = Seq("corpus_live", "live_keys", "corpus_raw",
      "live_token_counts", "live_index/corpus_shingles",
      "live_index/corpus_band_index", "live_index/corpus_docs",
      "live_winnow/corpus_winnow", "live_winnow/corpus_winnow_docs")
    tables.foreach(t => assert(rowsOf(wh.read(t)) == rowsOf(whRef.read(t)),
      s"admit-all review != never-gated night at table $t"))
    // a second review of the drained warehouse is a no-op
    assert(CorpusPipeline.reviewQuarantine(wh) == Nil)
    TransientCache.drain()

    // partial admit: refusals retained with the review reason; the
    // same admit replayed re-offers nothing and keeps the refusals
    val wh2 = seed("review-partial")
    CorpusPipeline.refineIncrementalGated(wh2, spam)
    TransientCache.drain()
    val half: DataFrame => DataFrame = df => df.filter(col("doc_id") < 9020L)
    val log2 = CorpusPipeline.reviewQuarantine(wh2, half)
    assert(log2.head == CorpusPipeline.StageCount("quarantine_review", 40L, 20L))
    val qq = wh2.read("corpus_quarantine").cache()
    assert(qq.count() == 20)
    assert(qq.filter(col("reason") =!= "review_refused").isEmpty,
      "retained docs must carry the review refusal reason")
    assert(qq.filter(col("doc_id") < 9020L).isEmpty,
      "admitted docs must leave the quarantine")
    val log3 = CorpusPipeline.reviewQuarantine(wh2, half)
    assert(log3.head == CorpusPipeline.StageCount("quarantine_review", 20L, 0L))
    assert(wh2.read("corpus_quarantine").count() == 20)
    qq.unpersist(false)
    TransientCache.drain()
  }

  /** Every physical node reachable from an executed plan (AQE stages,
    * reused exchanges, cache-build plans, subqueries) — the PlanLintSpec
    * walk, reused here for the pipeline-lane questions: what does the
    * nightly gate READ, and does any lane plan go quadratic?
    */
  /** Walk every reachable node. `staticWalk = true` descends adaptive
    * roots into their PRE-AQE `initialPlan` instead of the executed one
    * — the lane lint's shuffle budgets count THAT shape, because one
    * seeded-night execution proved to flip an AQE join decision (6 ↔ 7
    * exchanges) with SESSION HISTORY at identical code and data
    * (isolated-cold vs full-suite order, both deterministic) — the
    * static shape is the structural claim and is order-independent.
    * Cartesian/BNLJ/text-scan checks stay on the executed walk: what
    * actually ran is the safety claim.
    */
  private def planNodes(root: org.apache.spark.sql.execution.SparkPlan,
                        staticWalk: Boolean = false)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def descend(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other => other.children
    }
    def goStatic(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil
      else p +: (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case other => descend(other)
      }).flatMap(goStatic) // subqueries skipped: static counts only
    if (staticWalk) return goStatic(root)
    def go(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil else p +: (descend(p) ++ p.subqueries).flatMap(go)
    go(root)
  }

  /** All parquet scan root-paths reachable from a frame's executed plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    planNodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  /** Per-phase pins for the lane lint below: (total ShuffleExchange
    * nodes across the phase's executions, max shuffles in any single
    * execution, BroadcastNestedLoopJoin instances, executions scanning
    * corpus text). The BNLJ instances are all the q77-discipline 1-row
    * broadcasts (the night's doc-set key + the gate's token total; the
    * refresh chain's mixture totals/normalizers) — none grows with the
    * corpus. The text-scan pin is the "corpus_live's text never rides a
    * plan that only needs doc_ids" ceiling made exact: the screens, the
    * index advances and the refresh rebuilds legitimately read text;
    * the gate, the key ledger, the toAdd anti-joins and the metric
    * counts must not — a new plan hauling `text` bumps the count and
    * fails here for a conscious repin.
    */
  private case class LanePins(shuffles: Int, maxPerExec: Int,
                              bnlj: Int, textScans: Int)

  test("pipeline-lane lint: registry-grade pins (shuffle budgets, BNLJ whitelist, corpus-text scans) over the gated cycle") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    // capture EVERY SQL execution each production lane issues — writes,
    // counts, collects — and walk their final adaptive plans: the
    // nightly/refresh path gets the registry PlanLintSpec treatment
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = { captured.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-wh-lanelint").toString)
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
    wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))
    import spark.implicits._
    val spam = spark.range(9500L, 9520L)
      .select(col("id").as("doc_id"), lit("spamnet").as("source"),
        lit("qqzz wvwv qqzz kjkj").as("text"))

    val phases = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[QueryExecution])]
    // Phase boundaries must be EXACT: listener delivery is async, and a
    // quiet-poll settle window (750 ms stable) proved racy under
    // full-suite load — a straggling event from one phase's last job
    // landed in the next phase's capture (+1/−1 pin flakes, observed
    // twice). The bus is FIFO per queue, so a MARKER execution posted
    // after the body flushes deterministically: once the marker's event
    // arrives, every event from the body has arrived before it.
    def phase(name: String)(body: => Unit): Unit = {
      captured.clear()
      body
      TransientCache.drain()
      spark.range(1).select(lit("__lane_marker__").as("m")).collect()
      def hasMarker = captured.asScala.exists(
        _.executedPlan.toString.contains("__lane_marker__"))
      val deadline = System.nanoTime() + 30e9.toLong
      while (!hasMarker && System.nanoTime() < deadline) Thread.sleep(50)
      assert(hasMarker, s"phase $name: listener bus never delivered the marker")
      phases += name -> captured.asScala.toSeq.filterNot(
        _.executedPlan.toString.contains("__lane_marker__"))
    }
    // the walk must see ORDER-INDEPENDENT plans (the registry lint's
    // rule, verbatim): a cached fragment left behind by an earlier test
    // in this suite substitutes an InMemoryRelation into a lane plan and
    // this walk then counts the fragment's BUILD shuffles against the
    // phase's pin (observed once: night_seeded drifted 106 -> 107 in the
    // full-suite order while passing isolated). Every pin below was
    // taken cold — reset memos and the session cache to the same state.
    graft.operators.Graph.clearMemo(spark)
    graft.operators.Similarity.clearKmeansMemo(spark)
    graft.FixtureRoots.clear(spark)
    graft.operators.Dedup.clearCorpusBloom(spark)
    TransientCache.drain()
    spark.catalog.clearCache()
    spark.listenerManager.register(listener)
    try {
      phase("night_seeded")(
        CorpusPipeline.refineIncrementalGated(wh, docs.filter(col("doc_id") % 10 === 8)))
      phase("night_gated")(CorpusPipeline.refineIncrementalGated(wh, spam))
      phase("night_warm")(
        CorpusPipeline.refineIncrementalGated(wh, docs.filter(col("doc_id") % 10 === 9)))
      phase("review_drain")(CorpusPipeline.reviewQuarantine(wh))
      phase("refresh_full")(CorpusPipeline.refreshFull(wh))
    } finally spark.listenerManager.unregister(listener)

    val whBase = new java.io.File(wh.root).getName
    def corpusTables(s: FileSourceScanExec): Seq[String] =
      s.relation.location.rootPaths.map(_.toString)
        .filter(_.contains(whBase)).map(_.split('/').last)
    def stats(qes: Seq[QueryExecution]): LanePins = {
      val walks = qes.map(qe => planNodes(qe.executedPlan))
      // shuffle budgets pin the STATIC shape (see planNodes) — the
      // executed walk stays the source for the safety checks below
      val sh = qes.map(qe =>
        planNodes(qe.executedPlan, staticWalk = true)
          .count(_.isInstanceOf[ShuffleExchangeExec]))
      LanePins(
        sh.sum, if (sh.isEmpty) 0 else sh.max,
        walks.map(_.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])).sum,
        walks.count(_.exists {
          case s: FileSourceScanExec =>
            corpusTables(s).exists(Set("corpus_live", "corpus_raw")) &&
              s.requiredSchema.fieldNames.contains("text")
          case _ => false
        }))
    }
    val observed = phases.map { case (n, qes) => n -> stats(qes) }.toMap
    // diffing aid for pin investigations: per-execution shuffle counts
    // even when the pins pass (GRAFT_LANE_DEBUG=1 in the env)
    if (sys.env.contains("GRAFT_LANE_DEBUG"))
      println(phases.map { case (n, qes) =>
        s"LANEDEBUG $n: " + qes.map(qe =>
          planNodes(qe.executedPlan, staticWalk = true)
            .count(_.isInstanceOf[ShuffleExchangeExec])).mkString(",")
      }.mkString("\n"))

    // no cartesian anywhere, in any phase — the absolute rule
    phases.foreach { case (name, qes) =>
      val cart = qes.filter(qe =>
        planNodes(qe.executedPlan).exists(_.isInstanceOf[CartesianProductExec]))
      assert(cart.isEmpty, s"cartesian product in lane phase $name:\n" +
        cart.map(_.executedPlan.toString.take(2000)).mkString("\n---\n"))
    }
    assert(phases.map(_._2.size).sum > 40,
      s"non-vacuous: the cycle must register many executions, saw ${phases.map(_._2.size).sum}")

    // the registry-grade pins (r11 judge task #1). Regenerate by
    // running this test — the failure message prints paste-able lines.
    // shuffle totals/maxima below are STATIC-plan counts (see planNodes):
    // higher than what AQE executes (runtime join flips and empty-
    // relation propagation remove exchanges) but order-independent —
    // the executed totals proved session-history-sensitive at identical
    // code and data (one seeded-night AQE join re-decision, 6 ↔ 7)
    val pinned = Map(
      // first night pays the one-time seeds (live_keys hash, token-count
      // seed tokenize, both index builds) — 8 text scans, two 1-row
      // BNLJ broadcasts (night key + gate total)
      "night_seeded" -> LanePins(125, 18, 2, 8), // r17: shingleRowsOf lost its distinct exchange (4 instances across seeds+screens)
      // a refused night touches NO live state: the gate reading (1-row
      // total broadcast) + the quarantine append — zero text scans
      "night_gated" -> LanePins(15, 8, 1, 0),
      // the steady-state night: screens + guarded appends + both index
      // advances; text rides ONLY the screens' batch frames and the
      // batchInLive index reads (2)
      "night_warm" -> LanePins(117, 18, 2, 2), // r17: shingle-tier distinct removed (3 screen/advance instances)
      // admit-all review re-offers through the warm-night body, but the
      // quarantined spam never reaches corpus_live (every screen drops
      // it pre-index), so no corpus text scan at all; the static total
      // is far above the executed one here — AQE's empty-relation
      // propagation collapses most of the re-offer screens at runtime
      "review_drain" -> LanePins(88, 18, 0, 0), // r17: same shingle-tier change through the re-offer screens
      // refresh: the full refine chain over corpus_raw + live reseeds;
      // the three BNLJ are the q78 mixture 1-row totals/normalizers
      "refresh_full" -> LanePins(47, 10, 3, 7)) // r17: shingle distinct removed from the refine chain (also drops the max-per-exec peak 11 -> 10)
    val driftNames = phases.map(_._1)
      .filterNot(n => pinned.get(n).contains(observed(n)))
    val drift = driftNames.map(n => s"""      "$n" -> ${observed(n)},""")
    // on drift, print the per-execution shuffle breakdown so a one-off
    // extra execution (listener-bus stragglers, suite-order artifacts)
    // is distinguishable from a real plan regression without a rerun
    lazy val breakdown = phases.filter(p => driftNames.contains(p._1))
      .map { case (n, qes) =>
        s"$n:\n" + qes.map { qe =>
          val sh = planNodes(qe.executedPlan, staticWalk = true)
            .count(_.isInstanceOf[ShuffleExchangeExec])
          val head = qe.executedPlan.toString.linesIterator
            .find(_.trim.nonEmpty).getOrElse("?").take(120)
          f"  $sh%3d  $head"
        }.mkString("\n")
      }.mkString("\n")
    assert(drift.isEmpty,
      "lane plan drift — more shuffles/BNLJ/text-scans is a regression (fix the plan), " +
        "fewer is an improvement (re-pin consciously). Observed lines to paste:\n" +
        drift.mkString("\n") + "\nper-execution shuffle breakdown:\n" + breakdown)
  }

  test("maintained token distribution == recompute across nights, replayed deltas, and refresh; the gate scans no corpus text") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-wh-tc").toString)
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    wh.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
    wh.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))

    def recount(): Set[String] = rowsOf(TextOps.tokenCountsOf(wh.read("corpus_live")))
    def maintained(): Set[String] = rowsOf(CorpusPipeline.liveTokenCounts(wh))

    // two gated in-distribution nights: the maintained distribution IS
    // tokenCountsOf(corpus_live) at every boundary
    CorpusPipeline.refineIncrementalGated(wh, docs.filter(col("doc_id") % 10 === 8))
    TransientCache.drain()
    assert(maintained() == recount(), "maintained != recompute after night 1")
    CorpusPipeline.refineIncrementalGated(wh, docs.filter(col("doc_id") % 10 === 9))
    TransientCache.drain()
    assert(maintained() == recount(), "maintained != recompute after night 2")
    // both admitted nights persisted their decision exactly once
    assert(wh.read("gate_log").filter(col("admitted")).count() == 2)

    // a replayed (or partially-committed) delta append writes
    // byte-identical keyed rows — the read must collapse them
    val dup = wh.read("live_token_counts")
      .filter(col("batch_key") =!= 0L).localCheckpoint(true)
    assert(dup.count() > 0, "nights must have written keyed delta rows")
    wh.append("live_token_counts", dup)
    assert(maintained() == recount(), "replayed delta rows must collapse at read")

    // crash window: the token delta committed, the corpus_live append
    // did NOT start. Replaying the night must converge — toAdd is
    // recomputed over the un-advanced corpus, lands the same doc set
    // under the same night key, and the (batch_key, tok) guard appends
    // nothing new (the partial-commit twin of this window has its own
    // test below).
    val whC = new Warehouse(spark, Files.createTempDirectory("graft-wh-tc-crash").toString)
    whC.write("corpus_raw", docs.filter(col("doc_id") % 10 < 8))
    whC.write("corpus_clean", docs.filter(col("doc_id") % 10 < 8 &&
      col("source") =!= CorpusPipeline.BenchSource))
    CorpusPipeline.seedTokenCounts({
      // seed corpus_live first, as the body's guards would
      if (!whC.exists("corpus_live"))
        whC.write("corpus_live", whC.read("corpus_clean"))
      whC
    })
    // inject the committed half of the crashed nights: the keyed delta
    // rows the clean run produced (wh's night rows are exactly what the
    // crashed attempts wrote — same base, same batches)
    val crashedDelta = wh.read("live_token_counts")
      .filter(col("batch_key") =!= 0L).localCheckpoint(true)
    whC.append("live_token_counts", crashedDelta)
    CorpusPipeline.refineIncremental(whC, docs.filter(col("doc_id") % 10 === 8))
    TransientCache.drain()
    CorpusPipeline.refineIncremental(whC, docs.filter(col("doc_id") % 10 === 9))
    TransientCache.drain()
    assert(rowsOf(CorpusPipeline.liveTokenCounts(whC)) ==
      rowsOf(TextOps.tokenCountsOf(whC.read("corpus_live"))),
      "crash-window replay must converge the maintained distribution")
    assert(rowsOf(whC.read("corpus_live")) == rowsOf(wh.read("corpus_live")),
      "crash-window replay must converge the corpus itself")

    // maintained and fallback (tokenize-the-corpus) drift readings are
    // bit-identical — exact integers end to end
    val probe = docs.filter(col("doc_id") % 10 === 7)
    val whF = new Warehouse(spark, Files.createTempDirectory("graft-wh-tc-fb").toString)
    whF.write("corpus_live", wh.read("corpus_live"))
    def reading(w: Warehouse): Seq[(String, Double)] = {
      val r = CorpusPipeline.batchDrift(w, probe).collect()
        .map(x => x.getString(0) -> x.getDouble(1)).toSeq
      TransientCache.drain(); r
    }
    assert(reading(wh) == reading(whF),
      "maintained drift must equal the recomputed drift bit-for-bit")

    // the maintained gate reads the counts table, never the corpus text
    val gatePlan = CorpusPipeline.batchDrift(wh, probe)
    gatePlan.collect()
    val paths = scanPaths(gatePlan)
    assert(paths.exists(_.contains("live_token_counts")),
      "the gate must read the maintained distribution (non-vacuous walk)")
    assert(!paths.exists(_.contains("corpus_live")),
      s"the nightly gate must not scan corpus_live; scans: $paths")
    TransientCache.drain()

    // refreshFull collapses the accumulated deltas back to one seed and
    // re-establishes the identity over the refreshed corpus
    CorpusPipeline.refreshFull(wh)
    assert(maintained() == recount(), "maintained != recompute after refreshFull")
    assert(wh.read("live_token_counts").select(col("batch_key")).distinct().count() == 1,
      "refreshFull must collapse the delta table to a single seed")
    TransientCache.drain()
  }

  test("r11 advice: a PARTIAL corpus_live commit must not double-count the night's token delta") {
    // The worst window of the worst case: the night's delta committed
    // whole (the appends are sequential jobs), the corpus_live append
    // crashed mid-commit with only PART of toAdd's files visible. The
    // replay's toAdd shrinks to the remainder — under the old
    // set-of-toAdd keying that minted a NEW batch_key and a second
    // delta covering the remainder (a permanent overcount until
    // refreshFull). The night-keyed (batch_key, tok) anti-join guard
    // must append nothing and converge both tables to the clean run.
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    val base = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 === 8)

    // clean-run warehouse: the ground truth the replay must converge to
    val whA = new Warehouse(spark, Files.createTempDirectory("graft-wh-pc-a").toString)
    whA.write("corpus_raw", base)
    whA.write("corpus_clean", base.filter(col("source") =!= CorpusPipeline.BenchSource))
    CorpusPipeline.refineIncremental(whA, batch)
    TransientCache.drain()
    val nightDelta = whA.read("live_token_counts")
      .filter(col("batch_key") =!= 0L).localCheckpoint(true)
    val added = whA.read("corpus_live")
      .join(whA.read("corpus_clean").select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    assert(added.count() > 2, "non-vacuous: the night must add several docs")

    // crash-state warehouse, reconstructed exactly: pre-night seeds and
    // indexes (the index advance is LAST — it had not run), the batch in
    // corpus_raw (its append precedes the delta), the delta committed
    // whole, and HALF of toAdd visible in corpus_live
    val whB = new Warehouse(spark, Files.createTempDirectory("graft-wh-pc-b").toString)
    whB.write("corpus_raw", base)
    whB.write("corpus_clean", base.filter(col("source") =!= CorpusPipeline.BenchSource))
    whB.write("corpus_live", whB.read("corpus_clean"))
    whB.write("live_keys",
      Dedup.exactDedupOf(whB.read("corpus_live")).select(col("k")))
    CorpusPipeline.seedTokenCounts(whB)
    Dedup.corpusIndexAt(spark, s"${whB.root}/live_index", whB.read("corpus_live"))
    Dedup.winnowIndexAt(spark, s"${whB.root}/live_winnow", whB.read("corpus_live"))
    whB.append("corpus_raw",
      batch.join(whB.read("corpus_raw").select(col("doc_id")),
        Seq("doc_id"), "left_anti"))
    whB.append("live_token_counts", nightDelta)
    // half the added docs (they all end in 8 — split on the tens digit)
    val half = added.filter(col("doc_id") % 20 === 8)
    assert(half.count() > 0 && half.count() < added.count(),
      "the injected commit must be genuinely partial")
    whB.append("corpus_live", half)
    TransientCache.drain()

    // the replay: must land the remaining docs, append NO delta rows,
    // and restore maintained == recompute bit-for-bit
    CorpusPipeline.refineIncremental(whB, batch)
    TransientCache.drain()
    assert(rowsOf(whB.read("corpus_live")) == rowsOf(whA.read("corpus_live")),
      "replay must converge corpus_live to the clean night")
    assert(rowsOf(CorpusPipeline.liveTokenCounts(whB)) ==
      rowsOf(TextOps.tokenCountsOf(whB.read("corpus_live"))),
      "partial-commit replay must not overcount the maintained distribution")
    assert(rowsOf(whB.read("live_token_counts")) == rowsOf({
      whA.read("live_token_counts")
    }), "the delta table itself must converge to the clean run's rows")
  }

  test("batchDrift: the nightly off-distribution alarm orders by separation") {
    import spark.implicits._
    val wh = new Warehouse(spark, Files.createTempDirectory("graft-wh-drift").toString)
    wh.write("corpus_live",
      Seq((1L, "s", "x y z x y z"), (2L, "s", "x y z z y x"))
        .toDF("doc_id", "source", "text"))
    def driftOf(batch: Seq[(Long, String, String)]): Double = {
      val out = CorpusPipeline.batchDrift(wh,
          batch.toDF("doc_id", "source", "text")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      TransientCache.drain()
      assert(out.keySet == Set("corpus_live", "batch"))
      out("batch")
    }
    // same distribution -> exactly 0 (the q96 exact-integer property);
    // overlapping-but-shifted sits strictly between; disjoint maxes out
    val same = driftOf(Seq((10L, "n", "x y z y x z")))
    val shifted = driftOf(Seq((10L, "n", "x x x x y z")))
    val disjoint = driftOf(Seq((10L, "n", "p q r p q r")))
    assert(same == 0.0, s"identical distribution must read 0, got $same")
    assert(shifted > same && disjoint > shifted,
      s"drift must order by separation: $same < $shifted < $disjoint")
    assert(disjoint <= 2.0)
  }
}
