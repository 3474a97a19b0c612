package graft

import graft.operators.{Contamination, Dedup}
import org.apache.spark.sql.functions._

/** q85/q86 winnowing + q87 split-leakage audit.
  *
  * The load-bearing property is winnowing's DETERMINISTIC detection
  * guarantee (Schleimer et al. 2003): any shared token run of length
  * ≥ w + k − 1 contains at least one full gram window common to both
  * documents, and both documents select that window's minimum hash — so
  * a shared fingerprint is certain, not probabilistic. The first test
  * machine-checks exactly that bound with injected spans.
  */
class WinnowSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  import Dedup.{WinnowK, WinnowW}

  // distinct filler vocabularies so the two docs share ONLY the span
  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("guarantee: a shared run of w+k-1 tokens always yields a shared fingerprint") {
    val span = words("shared", WinnowW + WinnowK - 1) // exactly the bound
    val a = (words("aaa", 20) ++ span ++ words("bbb", 20)).mkString(" ")
    val b = (words("ccc", 5) ++ span ++ words("ddd", 35)).mkString(" ")
    val fp = Dedup.winnowFingerprintsOf(docsDf(Seq((1L, a), (2L, b))))
    val shared = fp.filter(col("doc_id") === 1L)
      .join(fp.filter(col("doc_id") === 2L), Seq("fp_h"), "inner")
    assert(shared.count() >= 1,
      "winnowing guarantee violated: no shared fingerprint for a w+k-1-token run")
  }

  test("fingerprints are a subset of the doc's own gram hashes") {
    import graft.functions.TextFns._
    val docs = Tables.documents(spark, dir).limit(50)
    val fp = Dedup.winnowFingerprintsOf(docs)
    val grams = Tables.spread(docs)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), explode(shingles3All(col("t"))).as("s"))
      .select(col("doc_id"), hash60(col("s")).as("fp_h"))
      .distinct()
    assert(fp.join(grams, Seq("doc_id", "fp_h"), "left_anti").isEmpty,
      "a selected fingerprint is not one of the doc's gram hashes")
  }

  test("short docs (< w grams) degrade to exactly one global-min fingerprint") {
    import graft.functions.TextFns._
    val text = words("tiny", WinnowK + 1).mkString(" ") // 2 grams < w
    val fp = Dedup.winnowFingerprintsOf(docsDf(Seq((7L, text)))).collect()
    assert(fp.length === 1)
    val minGram = docsDf(Seq((7L, text)))
      .select(explode(shingles3All(toks(col("text")))).as("s"))
      .select(min(hash60(col("s")))).head().getLong(0)
    assert(fp.head.getLong(1) === minGram)
  }

  test("q86 detects injected near-duplicates and sim is a valid ratio") {
    val pairs = Dedup.winnowPairs(spark, dir).collect()
    assert(pairs.nonEmpty, "fixture should contain winnow-overlap pairs")
    pairs.foreach { r =>
      val (da, db, shared, sim) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(da < db)
      assert(shared >= Dedup.WinnowMinShared.toLong)
      assert(sim > 0.0 && sim <= 1.0, s"sim out of range: $sim")
    }
  }

  test("q86 pair sim is exactly shared/min(|fpa|,|fpb|) against the index") {
    // nf is defined over the df <= WinnowMaxDf KEEP set (the operator's
    // documented semantics), not the raw index — the two only coincide
    // while the boilerplate guard stays dormant at fixture scale, and
    // this spec must encode the guarded definition either way
    val fp = Dedup.winnowIndex(spark, dir)
    val keep = fp.join(
      fp.groupBy(col("fp_h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= Dedup.WinnowMaxDf),
      Seq("fp_h"))
    val nf = keep.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.winnowPairs(spark, dir).collect().foreach { r =>
      val expect = r.getLong(2).toDouble / math.min(nf(r.getLong(0)), nf(r.getLong(1)))
      assert(r.getDouble(3) === expect)
    }
  }

  test("q88 delta winnow == q86 pairs restricted to batch x corpus") {
    // the incremental path (persisted winnow index + batch-only
    // fingerprint work) must lose nothing against the full-corpus
    // recompute: same pair set, same shared counts and sims, for
    // exactly the pairs crossing the batch/corpus boundary
    FixtureRoots.clear(spark)
    val delta = Dedup.deltaWinnow(spark, dir)
      .collect().map(_.mkString("|")).toSet
    TransientCache.drain()
    val full = Dedup.winnowPairs(spark, dir)
      .filter((col("da") % 10 >= 8 && col("db") % 10 < 8) ||
        (col("db") % 10 >= 8 && col("da") % 10 < 8))
      .select(
        when(col("da") % 10 >= 8, col("da")).otherwise(col("db")).as("di"),
        when(col("da") % 10 >= 8, col("db")).otherwise(col("da")).as("dc"),
        col("shared"), col("sim"))
      .collect().map(_.mkString("|")).toSet
    TransientCache.drain()
    assert(delta == full)
    assert(delta.nonEmpty, "fixture must contain cross-boundary winnow overlaps")
  }

  test("q88 nightly loop: screen -> append -> screen == rebuild; append idempotent") {
    // an index of its own, built from the base corpus (% 10 < 8)
    val root = java.nio.file.Files.createTempDirectory("graft-winloop").toString
    def current() = Dedup.winnowIndexAt(spark, root, Dedup.seenCorpus(spark, dir))
    val docs = Tables.documents(spark, dir)
    val night1 = docs.filter(col("doc_id") % 10 === 8)
    val night2 = docs.filter(col("doc_id") % 10 === 9)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // from-scratch reference at each boundary: the FULL q86 pair
    // computation over exactly the docs visible that night (corpus-so-far
    // ∪ batch — the df universe an incremental screen must reproduce),
    // restricted to batch x corpus pairs
    def expected(batchMod: Int, corpusMax: Int): Set[String] = {
      val uni = docs.filter(col("doc_id") % 10 < corpusMax ||
        col("doc_id") % 10 === batchMod)
      val s = asSet(Dedup.winnowPairsOf(Dedup.winnowFingerprintsOf(uni))
        .filter((col("da") % 10 === batchMod && col("db") % 10 < corpusMax) ||
          (col("db") % 10 === batchMod && col("da") % 10 < corpusMax))
        .select(
          when(col("da") % 10 === batchMod, col("da")).otherwise(col("db")).as("di"),
          when(col("da") % 10 === batchMod, col("db")).otherwise(col("da")).as("dc"),
          col("shared"), col("sim")))
      TransientCache.drain()
      s
    }
    val s1 = asSet(Dedup.screenWinnowAgainstIndexOf(current(), night1))
    TransientCache.drain()
    assert(s1 == expected(8, 8))
    val widened = Dedup.appendToWinnowIndexOf(current(), night1)
    // the append must land in data AND manifest
    val n1docs = night1.filter(col("text").isNotNull).count()
    assert(widened.fingerprints.filter(col("doc_id") % 10 === 8)
      .select(col("doc_id")).distinct().count() == n1docs)
    assert(widened.docs.filter(col("doc_id") % 10 === 8).count() == n1docs)
    val s2 = asSet(Dedup.screenWinnowAgainstIndexOf(current(), night2))
    TransientCache.drain()
    assert(s2 == expected(9, 9))
    assert((s1 ++ s2).nonEmpty, "fixture must contain nightly winnow overlaps")
    // idempotence: re-appending night1 changes NOTHING
    val idx = current()
    val (fp0, docs0) = (asSet(idx.fingerprints), asSet(idx.docs))
    assert(idx.fingerprints.count() == fp0.size && idx.docs.count() == docs0.size,
      "index rows must be key-unique")
    val again = Dedup.appendToWinnowIndexOf(current(), night1)
    assert(asSet(again.fingerprints) == fp0 && asSet(again.docs) == docs0)
    assert(again.fingerprints.count() == fp0.size && again.docs.count() == docs0.size)
    assert(asSet(Dedup.screenWinnowAgainstIndexOf(current(), night2)) == s2)
    TransientCache.drain()
  }

  test("q88 replay repairs a crash between the data append and the manifest append") {
    val night1 = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft-wincrash").toString
    def at(root: String) = Dedup.winnowIndexAt(spark, root, Dedup.seenCorpus(spark, dir))
    // reference: the uncrashed append over the same batch
    val want = Dedup.appendToWinnowIndexOf(at(s"$tmp/ref"), night1)
    val (wantFp, wantDocs) = (want.fingerprints.count(), want.docs.count())
    // crash simulation: the data append committed, the process died
    // before the manifest append — the exact window the residual guard
    // exists for
    val root = s"$tmp/idx"
    at(root) // the base index, at rest
    val iwh = new graft.pipelines.Warehouse(spark, root)
    iwh.append("corpus_winnow",
      Dedup.winnowFingerprintsOf(night1)
        .join(iwh.read("corpus_winnow_docs"), Seq("doc_id"), "left_anti"))
    // "restart": re-open the at-rest tables as they are
    assert(at(root).docs
      .filter(col("doc_id") % 10 === 8).isEmpty, "crash state: manifest behind")
    // redelivery appends exactly the missing manifest side, no dup rows
    val repaired = Dedup.appendToWinnowIndexOf(at(root), night1)
    assert(repaired.fingerprints.count() == wantFp && repaired.docs.count() == wantDocs)
  }

  test("q88 screen skips docs whose fingerprints landed without a manifest row") {
    // the winnow edition of the self-pair crash window: data append
    // committed, manifest append not — a redelivered screen must not
    // pair the batch with its own at-rest rows (sim 1.0 self-pairs)
    FixtureRoots.clear(spark)
    val night1 = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 8)
    val idx0 = Dedup.winnowIndexAtRest(spark, dir)
    // the crash, in place: the data rows land under the fixture root,
    // the manifest rows do not; the screen re-opens the root
    val iwh = new graft.pipelines.Warehouse(spark, idx0.root)
    iwh.append("corpus_winnow",
      Dedup.winnowFingerprintsOf(night1)
        .join(iwh.read("corpus_winnow_docs"), Seq("doc_id"), "left_anti"))
    val replayed = Dedup.screenWinnowAgainstIndex(spark, dir, night1)
    assert(replayed.isEmpty,
      "a partially-appended batch must not screen against its own rows")
    TransientCache.drain()
    FixtureRoots.clear(spark)
  }

  test("q88 corpus side is the at-rest index: bare scans, and injection drives output") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join}
    FixtureRoots.clear(spark)
    val real = Dedup.deltaWinnow(spark, dir).collect().toSeq
    TransientCache.drain()
    // 1. the index frames (data AND the seen-doc manifest) are plain
    //    file scans — the manifest answers "which docs exist" without
    //    an aggregate over the data table (the r8 seen-set finding)
    val idx = Dedup.winnowIndexAtRest(spark, dir)
    Seq("corpus_winnow" -> idx.fingerprints, "corpus_winnow_docs" -> idx.docs)
      .foreach { case (table, t) =>
        val plan = t.queryExecution.optimizedPlan
        assert(plan.collectLeaves().size == 1)
        assert(plan.collect { case n @ (_: Aggregate | _: Generate | _: Join) => n }.isEmpty,
          s"index frame must be a bare scan, got:\n$plan")
        assert(t.queryExecution.executedPlan.toString.contains(s"${idx.root}/$table"),
          s"index frame must scan the at-rest $table files")
      }
    // 2. poisoned index ==> empty output: the screen demonstrably READS
    //    the at-rest table under its fixture root instead of
    //    re-fingerprinting the corpus
    val wh = new graft.pipelines.Warehouse(spark, idx.root)
    wh.write("corpus_winnow", wh.read("corpus_winnow").limit(0))
    assert(Dedup.deltaWinnow(spark, dir).isEmpty)
    TransientCache.drain()
    // 3. a rebuild after clearing restores the real answer
    FixtureRoots.clear(spark)
    assert(Dedup.deltaWinnow(spark, dir).collect().toSeq == real)
    TransientCache.drain()
  }

  test("q88 durable root: the at-rest winnow index survives a process restart") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-winidx-durable").toString
    val root = s"$tmp/idx"
    val night1 = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 8)
    val night2 = Tables.documents(spark, dir).filter(col("doc_id") % 10 === 9)
    def at() = Dedup.winnowIndexAt(spark, root, Dedup.seenCorpus(spark, dir))
    Dedup.appendToWinnowIndexOf(at(), night1)
    val wantS2 = Dedup.screenWinnowAgainstIndexOf(at(), night2)
      .collect().map(_.mkString("|")).toSet
    TransientCache.drain()
    // "restart": every fixture root wiped — the index is at rest under
    // root, which the registry never deletes
    FixtureRoots.clear(spark)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root)),
      "caller-owned root must survive FixtureRoots.clear")
    // night 2 still screens against streamed night 1 => nothing lost
    assert(Dedup.screenWinnowAgainstIndexOf(at(), night2)
      .collect().map(_.mkString("|")).toSet == wantS2)
    assert(at().docs.filter(col("doc_id") % 10 === 8).count() > 0)
    TransientCache.drain()
  }

  test("q87 rows straddle the split boundary with verified jaccard") {
    import graft.functions.TextFns._
    val split = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(hash60(col("text")) % 100 < Contamination.TrainPct, "train")
          .when(hash60(col("text")) % 100 <
            Contamination.TrainPct + Contamination.ValPct, "val")
          .otherwise("test").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Contamination.splitLeakage(spark, dir).collect()
    assert(rows.nonEmpty, "fixture should contain cross-split leaks")
    assert(rows.map(_.getLong(0)).distinct.length === rows.length,
      "one best-match row per leaked eval doc")
    rows.foreach { r =>
      val (evalId, sp, trainId, jac) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))
      assert(split(evalId) === sp)
      assert(sp != "train")
      assert(split(trainId) === "train")
      assert(jac >= Dedup.JaccardThreshold)
    }
  }

  test("q87 output is exactly the exhaustive cross-split best-matches it recalls") {
    // exhaustive reference: every cross-split pair's exact jaccard via the
    // inverted shingle index (no banding) — q87's rows must agree with it
    // on jaccard and never exceed the exhaustive best match
    import graft.functions.TextFns._
    val sh = Dedup.shingleIndex(spark, dir)
    val split = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(hash60(col("text")) % 100 < Contamination.TrainPct, "train")
          .otherwise("eval").as("sp"))
    val e = sh.join(split.filter(col("sp") === "eval"), Seq("doc_id"))
      .select(col("doc_id").as("de"), col("sh_h"))
    val t = sh.join(split.filter(col("sp") === "train"), Seq("doc_id"))
      .select(col("doc_id").as("dt"), col("sh_h"))
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exhaustive = e.join(t, Seq("sh_h"))
      .groupBy(col("de"), col("dt")).agg(count(lit(1)).as("shared"))
      .join(n.withColumnRenamed("doc_id", "de").withColumnRenamed("n", "ne"), Seq("de"))
      .join(n.withColumnRenamed("doc_id", "dt").withColumnRenamed("n", "nt"), Seq("dt"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("ne") + col("nt") - col("shared")))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
      .select(col("de"), col("dt"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = Contamination.splitLeakage(spark, dir).collect()
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(exhaustive.contains(key), s"q87 emitted a non-pair $key")
      assert(exhaustive(key) === r.getDouble(3), "jaccard disagrees with exhaustive")
    }
  }
}
