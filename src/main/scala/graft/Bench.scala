package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query seconds.
  *
  * Attribution contract (so per-query numbers are trustworthy):
  *
  *  - Shared cross-query caches (the shingle index, union ledger, simhash
  *    signatures, legacy agg, stock points, q74's at-rest corpus index,
  *    the q71/q73 Lloyd fit, and the CC label memo — each entry in the
  *    code lists its consumer queries) are built BEFORE the timed loop
  *    and billed to their own `cache` map — a query's number is the
  *    marginal cost of that query, not whichever query alphabetically
  *    first touched a shared intermediate. The cache-build total is still
  *    part of the headline `value` (it is real work, just attributed
  *    honestly).
  *
  *  - Queries are materialized via `queryExecution.toRdd.count()`: a
  *    DataFrame `count()` lets Catalyst prune the presentation sort and
  *    final project that Verify actually hashes, undercounting them; the
  *    executed-plan RDD runs the exact physical plan — sort, project and
  *    all — without collecting rows to the driver.
  *
  *  - Hash tier: Bench times the production xxhash64 mode (the
  *    TextFns.hashMode default); Verify pins md5 for DuckDB oracle
  *    parity. The plans are identical apart from the hash expression —
  *    the mode is recorded in the output line.
  *
  *  - Noise: the full sorted query list runs SPARK_GRAFT_REPEAT times
  *    (default 2) as complete INTERLEAVED sweeps — sweep 1 end-to-end,
  *    then sweep 2 — and each query reports its MINIMUM across sweeps.
  *    The box this runs on shows minutes-long windows where effective
  *    CPU drops ~2× (host contention invisible to guest steal
  *    accounting; probed with a fixed 32-way spin loop). Back-to-back
  *    repeats of the same query sample the SAME window twice, so one
  *    throttled window used to poison a contiguous alphabetical block
  *    of queries; sweeps separate a query's two samples by a whole
  *    sweep (~20 s), so a window must span both sweeps to survive the
  *    min. The single-threaded calibration loop is timed before, between
  *    and after the sweeps (`calib_sec`) so throttling is visible in the
  *    output rather than silently inflating queries.
  *
  *  - Output stays under the driver's ~2 KB line capture: query keys
  *    are the bare `qNN` prefix (the full names live in SparkEntry),
  *    and per-query / per-cache times are INTEGER CENTISECONDS
  *    (`"q01":109` = 1.09 s; 10 ms resolution — below run-to-run
  *    noise), flagged by `"q_unit":"cs"` emitted in the tail right
  *    before them. Field order is defensive: the capture keeps the
  *    line's TAIL, so `hash`, `q_unit`, the headline `value` and the
  *    full `queries` map go LAST and any clipping eats only the
  *    metadata head (r3/r4 lost `total` and q01–q18, r5 lost the
  *    hash-tier field, to exactly this; post-diet the full 72-query
  *    line measures ~1.1 KB — ~0.9 KB of headroom).
  *
  *  - Isolated-probe mode: `SPARK_GRAFT_ONLY=q51,q66` restricts the
  *    sweeps to the named queries (bare `qNN` or full name), for
  *    adjudicating contention suspects without a full-sweep run —
  *    pair with SPARK_GRAFT_REPEAT=5 for more min-samples. Only the
  *    shared caches the selected queries consume are built (marginal-
  *    cost attribution unchanged; a probe of a cache-free query like
  *    q66 now starts timing immediately).
  *
  *  - Per-query transient caches are evicted via TransientCache.drain()
  *    after each materialization, so sweep 2 rebuilds them like a cold
  *    query would (a leaked candidate cache made repeat samples
  *    dishonestly cheap) and nothing pins blocks after the run.
  */
object Bench {

  /** Execute the full physical plan (incl. presentation sort) without
    * driver-side collection.
    */
  private def materialize(df: DataFrame): Unit = {
    df.queryExecution.toRdd.count(): Unit
  }

  /** Fixed single-threaded xorshift spin — a machine-speed yardstick
    * (~0.4 s unthrottled). Reported, never subtracted.
    */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("") // keep the loop observable
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Unmeasured warmup: first query otherwise pays JVM/JIT/codegen/parquet
    // reader init (~5 s) and the ranking becomes run-order noise. A failed
    // warm-up read is not fatal (the timed sweep reports it), but it is
    // named on stderr; stdout stays the one JSON line.
    def warm(what: String)(body: => Unit): Unit =
      try body
      catch { case NonFatal(e) =>
        System.err.println(s"bench warm-up: $what failed: ${e.toString.linesIterator.next()}")
      }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      warm(s"table $t")(spark.read.parquet(s"$sfDir/$t.parquet").count(): Unit)
    }
    // events.parquet carries TIMESTAMP(NANOS) — a plain read fails, so warm
    // it through the loader that sets nanosAsLong (it feeds the ledger too)
    warm("table events")(Tables.events(spark, sfDir).count(): Unit)
    warm("frame Stock.dailyNet")(materialize(graft.operators.Stock.dailyNet(spark, sfDir)))

    // default 3 sweeps: with 2, one throttled window spanning both sweeps
    // can poison a query's min (r7's q37/q38/q40 artifacts); a third
    // sample makes the min robust to any single bad window for ~60 s of
    // extra driver bench time
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt.max(1)
    // bare qNN key — the full names live in SparkEntry; short keys keep
    // the output line well under the driver's ~2 KB capture
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(sel => sel.contains(n) || sel.contains(shortKey(n))) }
    val selected = named.map(p => shortKey(p._1)).toSet

    // Shared-cache builds, timed individually (see attribution contract).
    // count() on the to-be-cached frame materializes the whole
    // InMemoryRelation (cache storage is plan-wide, not column-pruned).
    // Each entry carries its CONSUMER set, so an isolated probe
    // (SPARK_GRAFT_ONLY) builds only the caches its queries actually
    // read — a q66 probe used to pay ~30 s of builds for a ~3 s payload.
    val sharedCaches: Seq[(String, Set[String], () => Unit)] = Seq(
      ("legacy", Set("q02", "q03", "q04"),
        () => operators.Sales.legacyAggDecimal(spark, sfDir).cache().count(): Unit),
      ("ledger", Set("q08", "q09"),
        () => operators.Ledger.unionLedger(spark, sfDir).count(): Unit),
      ("stock", Set("q13", "q14", "q54"),
        () => operators.Stock.stockPoints(spark, sfDir).count(): Unit),
      ("shingle", Set("q19", "q21", "q22", "q35", "q40", "q61", "q72", "q80",
        "q84", "q87", "q98", "q108", "q109"),
        () => operators.Dedup.shingleIndex(spark, sfDir).count(): Unit),
      // the vocab-bounded bigram MODEL shared by the LM and collocation
      // tiers (cache the model, never the exploded corpus stream)
      ("bigram", Set("q92", "q94", "q100"),
        () => operators.TextOps.bigramCounts(spark, sfDir).count(): Unit),
      // the winnowed-fingerprint index (q85's artifact, q86's join input)
      ("winnow", Set("q85", "q86"),
        () => operators.Dedup.winnowIndex(spark, sfDir).count(): Unit),
      // at-rest corpus winnow index (q88's incremental corpus side) —
      // the winnow twin of bandidx
      ("winidx", Set("q88"),
        () => operators.Dedup.winnowIndexAtRest(spark, sfDir): Unit),
      ("simhash", Set("q23", "q24", "q45", "q62", "q99", "q110"),
        () => operators.Dedup.simhashSig(spark, sfDir).count(): Unit),
      // at-rest corpus band+shingle index (q74's incremental corpus side):
      // the build writes the parquet tables eagerly and memoizes the reads
      ("bandidx", Set("q74"),
        () => operators.Dedup.corpusIndex(spark, sfDir): Unit),
      // the shared Lloyd fit (q71 assignment, q73 block key, q79
      // prototypes): driver-state memo, billed here so the consumers'
      // marginals are assignment-only
      ("kmfit", Set("q71", "q73", "q79", "q81", "q83"),
        () => operators.Similarity.kmeansCentroids(spark, sfDir): Unit),
      // the PQ codebooks build ON the coarse fit (listed after it so the
      // memo hit is guaranteed and this tier bills only the PQ pass)
      ("pqfit", Set("q83"),
        () => operators.Similarity.pqCodebooks(spark, sfDir): Unit),
      // the q89 tier's FROZEN corpus-side fits (trained on vec_id%10<8
      // only — the incremental contract forbids the batch in training)
      // and the at-rest codes build they feed; billed separately so
      // q89's marginal is screen-only, like q74/q88
      ("ckmfit", Set("q89"),
        () => operators.Similarity.corpusKmeansCentroids(spark, sfDir): Unit),
      ("cpqfit", Set("q89"),
        () => operators.Similarity.corpusPqCodebooks(spark, sfDir): Unit),
      ("annidx", Set("q89"),
        () => operators.Similarity.annIndexAtRest(spark, sfDir): Unit),
      // the q119/q120 tier's at-rest quantile histogram (corpus-side
      // tokenize + ledger/manifest writes) — billed here so both
      // readers' marginals are read-path only, like bandidx/winidx
      ("tqidx", Set("q119", "q120", "q125"),
        () => operators.QuantileIndex.indexAtRest(spark, sfDir): Unit),
      // the q126 retraction fixture (its OWN root: seed advance + one
      // retract — the shared tqidx tier must never see the retraction)
      ("rqidx", Set("q126"),
        () => operators.QuantileIndex.retractedIndexAtRest(spark, sfDir): Unit),
      // the q127 retracted band-index fixture (build + three-table swap)
      ("rbandidx", Set("q127"),
        () => operators.Dedup.retractedCorpusIndex(spark, sfDir): Unit),
      // the q128 retracted retention fixture (seed + per-user swaps —
      // its OWN root: the shared q113 index must never see it)
      ("rretidx", Set("q128"),
        () => operators.Sessions.retractedRetentionIndexAtRest(spark, sfDir): Unit),
      // the corpus seen-set bitset (256 KB driver state via the typed
      // Bloom Aggregator; consumes the shingle cache, listed after it)
      ("bloom", Set("q84"),
        () => operators.Dedup.corpusBloom(spark, sfDir): Unit),
      // cc_components LAST so the iterative CC loop (scheduler/JIT-
      // latency-bound, ~3x cost on a cold JVM) builds on a JVM already
      // warmed by the declarative cache builds above. Billing it
      // here keeps it out of q45's marginal number honestly: q45/q62
      // then measure their own grouping/join over the memoized labels,
      // and the build cost is visible in cache_build instead of
      // vanishing into the memo (the pre-r5 bench billed q45 at its
      // memo-hit cost and the build escaped the headline entirely).
      ("cc", Set("q45", "q62"),
        () => operators.Graph.simhashComponents(spark, sfDir).count(): Unit))
    // a failed tier build is listed in "failed" as cache:<tier> — never
    // swallowed, or a broken tier would read as a cheap one
    val cacheTimes = sharedCaches
      .filter { case (_, consumers, _) => consumers.exists(selected) }
      .map { case (name, _, build) =>
        val t0 = System.nanoTime()
        val ok = try { build(); true } catch { case NonFatal(_) => false }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    val calibs = scala.collection.mutable.ArrayBuffer(calibrate())
    // interleaved sweeps: all queries once, then all again (see contract)
    val sweeps = (1 to repeat).map { _ =>
      val sweep = named.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { materialize(fn(spark, sfDir)); true }
                 catch { case NonFatal(_) => false }
        val dt = (System.nanoTime() - t0) / 1e9
        TransientCache.drain() // eviction outside the timed window
        (name, dt, ok)
      }
      calibs += calibrate()
      sweep
    }
    val results = named.indices.map { i =>
      val samples = sweeps.map(_(i))
      (samples.head._1, samples.map(_._2).min, samples.forall(_._3))
    }
    def f3(v: Double): String = f"$v%.3f"
    def f2(v: Double): String = f"$v%.2f"
    // integer centiseconds (10 ms — well under run-to-run noise) + bare
    // qNN keys: 72 queries at "qNN_name":0.00 overran the ~2 KB driver
    // capture two rounds running
    def cs(v: Double): String = math.round(v * 100).toString
    val qs = results.map { case (k, v, _) => "\"" + shortKey(k) + "\":" + cs(v) }
      .mkString("{", ",", "}")
    val failed = (results.collect { case (k, _, false) => shortKey(k) } ++
        cacheTimes.collect { case (k, _, false) => s"cache:$k" })
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val cb = cacheTimes.map { case (k, v, _) => "\"" + k + "\":" + cs(v) }
      .mkString("{", ",", "}")
    val cacheTotal = cacheTimes.map(_._2).sum
    val total = results.map(_._2).sum + cacheTotal
    val calibStr = calibs.map(f2).mkString("[", ",", "]")
    val sfName = new java.io.File(sfDir).getName
    val failedPart = if (failed == "[]") "" else s""""failed":$failed,"""
    // tail-ordered: everything after "calib" must survive a head clip —
    // hash/q_unit/value/queries are the fields the judge reads.
    // One unit per representation: every per-query / per-cache entry AND
    // cache_total_cs are integer centiseconds (q_unit); only the headline
    // "value" is float seconds, labelled by the top-level "unit" (the
    // driver contract) — a consumer summing cache entries against the
    // total now compares like with like. RENAME NOTE (r7): the float-secs
    // "cache_total" key of BENCH_r06 and earlier became "cache_total_cs"
    // (integer cs); artifacts before BENCH_r07.json carry the old key.
    println(s"""{"metric":"total","unit":"sec","sf":"$sfName","repeat":$repeat,"calib":$calibStr,$failedPart"cache":$cb,"hash":"${graft.functions.TextFns.hashMode}","q_unit":"cs","cache_total_cs":${cs(cacheTotal)},"value":${f3(total)},"queries":$qs}""")
    spark.stop()
  }
}
