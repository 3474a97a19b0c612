package graft

import graft.operators.{Dedup, Similarity}
import graft.pipelines.Warehouse
import org.apache.spark.sql.functions._

/** Compaction contract for the append-only index tiers (the one ops
  * cost of the closed-loop design at 100 TB — months of guarded
  * nightly appends ARE the small-files problem):
  *
  *   - `Warehouse.compact` is content-preserving and idempotent, and
  *     actually shrinks the file count (measured, not assumed);
  *   - `compactIfFragmented` fires only past its threshold;
  *   - compact-then-screen ≡ screen, bit-identical, for all three
  *     incremental tiers (q74 fuzzy, q88 deterministic, q89 semantic) —
  *     so a nightly compaction can never change what a screen reports;
  *   - manifests survive verbatim, and a post-compaction append still
  *     honors the append ≡ rebuild contract.
  */
class CompactionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("event-tier cadence probe: 100 synthetic nights keep tr_deltas files and rows bounded; read path == one full rebuild") {
    // the q115 ledger grows |types|² rows per night and its advance
    // rides compactIfFragmented — this measures the small-files bill
    // for the EVENT tier the way the tests above measure the document
    // tier, at a probe-tight threshold (same code path the production
    // 256-file cadence drives, observable inside 100 nights)
    import spark.implicits._
    import graft.operators.Sessions
    val wh = new Warehouse(spark, tmpRoot("trcadence"))
    val types = Seq("a", "b", "c")
    val nights = 100
    val maxFiles = 16
    var eid = 0L
    var maxSeen = 0
    val all = Seq.newBuilder[(Long, java.sql.Timestamp, Long, String)]
    for (n <- 0 until nights) {
      val rows = for { u <- 1 to 2; j <- 0 until 3 } yield {
        eid += 1
        (u.toLong,
          new java.sql.Timestamp((86400L * n + u * 3600 + j * 60) * 1000L),
          eid, types((n + u + j) % types.size))
      }
      all ++= rows
      Sessions.advanceTransitionsIndex(spark, wh.root,
        rows.toDF("user_id", "ts", "event_id", "event_type"))
      wh.compactIfFragmented("tr_deltas", maxFiles)
      maxSeen = math.max(maxSeen, wh.dataFileCount("tr_deltas"))
    }
    // the cadence bound: post-cadence file count never runs past the
    // threshold plus one night's appends
    assert(maxSeen <= maxFiles + 8, s"file count ran away: $maxSeen")
    // the ledger row bound: ≤ nights·|types|² (cells per night), never
    // a function of event count
    val ledgerRows = wh.read("tr_deltas").count()
    assert(ledgerRows <= nights.toLong * types.size * types.size,
      s"ledger rows $ledgerRows exceed the nights x |types|^2 bound")
    // 100 append+compact cycles must be invisible to the read path
    val cells = wh.read("tr_deltas").groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = Sessions.sessionTransitionsOf(
        all.result().toDF("user_id", "ts", "event_id", "event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells == full, "100 compacted nights != one full rebuild")
  }

  test("quantile-cube cadence probe: 100 synthetic nights keep tq_hist/tq_docs files bounded and the manifest append-only; read path == one full rebuild") {
    // the r15 redesign's bill, measured: the manifest is APPEND-ONLY
    // (the r14 full nightly rewrite is gone), so outside compaction
    // nights every at-rest file written in an earlier night survives a
    // later night byte-untouched — per-night I/O is O(novel docs),
    // plus the amortized compaction rewrite the cadence bounds
    import spark.implicits._
    import graft.operators.QuantileIndex
    val wh = new Warehouse(spark, tmpRoot("tqcadence"))
    val nights = 100
    val maxFiles = 16
    val langs = Seq("en", "de", null)
    val sources = Seq("web", "book")
    var maxHist = 0
    var maxDocs = 0
    val all = Seq.newBuilder[(Long, String, String, String)]
    def listing(table: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"${wh.root}/$table")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    for (n <- 0 until nights) {
      val rows = (0 until 20).map { j =>
        val id = n * 20L + j
        (id, langs((n + j) % langs.size), sources(j % sources.size),
          ("tok " * ((n + j) % 7 + 1)).trim)
      }
      all ++= rows
      val histBefore = listing("tq_hist")
      val docsBefore = listing("tq_docs")
      QuantileIndex.advance(spark, wh.root,
        rows.toDF("doc_id", "lang", "source", "text"))
      TransientCache.drain()
      val histAfter = listing("tq_hist")
      val docsAfter = listing("tq_docs")
      // append-only outside compaction: a night that did not compact
      // leaves every pre-existing file byte-identical in place
      if (histBefore.keySet.subsetOf(histAfter.keySet))
        assert(histBefore.forall { case (k, v) => histAfter(k) == v },
          s"night $n rewrote an existing tq_hist file")
      if (docsBefore.keySet.subsetOf(docsAfter.keySet))
        assert(docsBefore.forall { case (k, v) => docsAfter(k) == v },
          s"night $n rewrote an existing tq_docs file")
      wh.compactIfFragmented("tq_hist", maxFiles)
      wh.compactIfFragmented("tq_docs", maxFiles)
      maxHist = math.max(maxHist, wh.dataFileCount("tq_hist"))
      maxDocs = math.max(maxDocs, wh.dataFileCount("tq_docs"))
    }
    assert(maxHist <= maxFiles + 8, s"tq_hist file count ran away: $maxHist")
    assert(maxDocs <= maxFiles + 8, s"tq_docs file count ran away: $maxDocs")
    val docs = all.result()
    // manifest == every doc ever offered, exactly once
    assert(wh.read("tq_docs").count() == docs.size)
    assert(wh.read("tq_docs").distinct().count() == docs.size)
    // marker == one committed row per night
    assert(wh.read("tq_marker").count() == nights)
    // 100 append+compact cycles must be invisible to the read path:
    // Σnv at the ledger's finest grain == one full-rebuild histogram
    val atRest = wh.read("tq_hist")
      .groupBy(col("g"), col("source"), col("v"))
      .agg(sum(col("nv")).as("nv")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val full = QuantileIndex.valsOf(
        docs.toDF("doc_id", "lang", "source", "text"))
      .groupBy(col("g"), col("source"), col("v"))
      .agg(count(lit(1)).as("nv")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(atRest == full, "100 compacted nights != one full rebuild")
  }

  test("compact preserves content, shrinks files, and is idempotent") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpRoot("compact"))
    (1 to 12).foreach(i =>
      wh.append("t", (i * 100 until i * 100 + 100).toDF("x")))
    val before = wh.dataFileCount("t")
    val want = rowsOf(wh.read("t"))
    assert(before >= 12, s"12 appends should fragment (saw $before files)")

    wh.compact("t")
    val after = wh.dataFileCount("t")
    assert(after < before, s"compaction must shrink the file count ($before -> $after)")
    assert(after == 1, s"KBs of data coalesce to one 128 MiB-target file (saw $after)")
    assert(rowsOf(wh.read("t")) == want, "compaction must preserve content")

    wh.compact("t") // idempotent: same layout, same content
    assert(wh.dataFileCount("t") == after)
    assert(rowsOf(wh.read("t")) == want)
  }

  test("a crash between the swap renames heals: readers see the old table") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpRoot("heal"))
    wh.write("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val rows = wh.read("t").collect().map(_.mkString("|")).toSet

    // simulate the mid-swap crash window: target renamed away to .bak,
    // the commit rename never ran (the reviewed window that used to
    // read as "table missing" and trigger a silent stale reseed)
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(s"${wh.root}/t")
    val fs = target.getFileSystem(conf)
    fs.rename(target, new org.apache.hadoop.fs.Path(s"${wh.root}/t.bak"))
    assert(!fs.exists(target), "window precondition")

    // exists() heals: rolls the complete old table back into place
    assert(wh.exists("t"), "heal must complete the interrupted swap")
    assert(wh.read("t").collect().map(_.mkString("|")).toSet == rows)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${wh.root}/t.bak")))

    // the post-commit window (both present): heal drops the leftover bak
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${wh.root}/t.bak"))
    assert(wh.read("t").collect().map(_.mkString("|")).toSet == rows)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${wh.root}/t.bak")),
      "heal must clear a committed swap's backup")

    // end-to-end: compact itself goes through the healed swap
    wh.compact("t")
    assert(wh.read("t").collect().map(_.mkString("|")).toSet == rows)
  }

  test("a crashed swap's stranded tmp dir is retired by the next swap") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpRoot("tmpgc"))
    wh.write("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val rows = wh.read("t").collect().map(_.mkString("|")).toSet
    // simulate the pre-rename crash: the tmp write landed in full, the
    // swap never started — heal() has nothing to do, and the orphan
    // would otherwise sit there forever (a full table copy of storage)
    val conf = spark.sparkContext.hadoopConfiguration
    val dead = new org.apache.hadoop.fs.Path(s"${wh.root}/t.tmp-deadbeef")
    val fs = dead.getFileSystem(conf)
    fs.mkdirs(dead)
    fs.create(new org.apache.hadoop.fs.Path(dead, "part-0.parquet")).close()
    // the next swap of the SAME table retires the orphan and commits
    wh.write("t", Seq((3L, "c")).toDF("k", "v"))
    assert(!fs.exists(dead), "stale tmp must be retired by the next swap")
    assert(wh.read("t").collect().map(_.mkString("|")).toSet == Set("3|c"))
    // unrelated tables' swaps leave other tables' tmps alone
    wh.write("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    fs.mkdirs(dead)
    wh.write("other", Seq((9L, "z")).toDF("k", "v"))
    assert(fs.exists(dead), "a swap must only collect its own table's orphans")
    fs.delete(dead, true)
    assert(rows.nonEmpty)
  }

  test("compactIfFragmented fires only past the threshold") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpRoot("cadence"))
    (1 to 6).foreach(i => wh.append("t", Seq(i).toDF("x")))
    val frag = wh.dataFileCount("t")
    wh.compactIfFragmented("t", maxFiles = 100) // under threshold: no-op
    assert(wh.dataFileCount("t") == frag)
    wh.compactIfFragmented("t", maxFiles = 3) // over threshold: rewrites
    assert(wh.dataFileCount("t") == 1)
  }

  test("compact-then-screen == screen for all three tiers; manifests intact") {
    val docs = Tables.documents(spark, dir)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    val seen = Dedup.seenCorpus(spark, dir)

    // fuzzy tier (q74's screen) at a durable root, fragmented by a real append
    val shRoot = tmpRoot("cshidx")
    def shIdx() = Dedup.corpusIndexAt(spark, shRoot, seen) // re-opens at rest
    Dedup.appendToCorpusIndexOf(shIdx(), batch.filter(col("doc_id") % 10 === 8))
    val shWant = rowsOf(Dedup.screenAgainstIndexOf(shIdx(), batch))
    val shWh = new Warehouse(spark, shRoot)
    val shTables = Seq("corpus_shingles", "corpus_band_index", "corpus_docs")
    val shManifest = rowsOf(shWh.read("corpus_docs"))
    val shFilesBefore = shTables.map(shWh.dataFileCount)
    shTables.foreach(shWh.compact(_))
    assert(shTables.map(shWh.dataFileCount).sum < shFilesBefore.sum,
      s"fuzzy-tier compaction must shrink files ($shFilesBefore)")
    // reopen over the new layout
    assert(rowsOf(Dedup.screenAgainstIndexOf(shIdx(), batch)) == shWant,
      "q74 must be bit-identical across compaction")
    assert(rowsOf(shWh.read("corpus_docs")) == shManifest,
      "the seen-doc manifest must survive compaction verbatim")
    TransientCache.drain()

    // deterministic tier (q88's screen)
    val wRoot = tmpRoot("cwinidx")
    def wIdx() = Dedup.winnowIndexAt(spark, wRoot, seen)
    val wWant = rowsOf(Dedup.screenWinnowAgainstIndexOf(wIdx(), batch))
    val wWh = new Warehouse(spark, wRoot)
    Seq("corpus_winnow", "corpus_winnow_docs").foreach(wWh.compact(_))
    assert(rowsOf(Dedup.screenWinnowAgainstIndexOf(wIdx(), batch)) == wWant,
      "q88 must be bit-identical across compaction")
    // a post-compaction append still honors append == rebuild: the night
    // lands exactly the unseen docs' fingerprints, and the manifest
    // matches the data table's distinct docs
    Dedup.appendToWinnowIndexOf(wIdx(), batch)
    assert(rowsOf(wWh.read("corpus_winnow_docs")) ==
      rowsOf(wWh.read("corpus_winnow").select(col("doc_id")).distinct()),
      "manifest must equal the data table's doc set after the append")
    TransientCache.drain()

    // semantic tier (q89's screen)
    val aRoot = tmpRoot("cannidx")
    val vbatch = Tables.spread(Tables.embeddings(spark, dir)).filter(col("vec_id") % 10 >= 8)
    def aScreen() = rowsOf(Similarity.screenAnnWith(spark, dir,
      Similarity.annIndexAt(spark, dir, aRoot), Similarity.corpusKmeansCentroids(spark, dir),
      Similarity.corpusPqCodebooks(spark, dir), vbatch))
    val aWant = aScreen()
    new Warehouse(spark, aRoot).compact("corpus_codes")
    assert(aScreen() == aWant, "q89 must be bit-identical across compaction")
  }
}
