package graft

import graft.functions.KmvSketch
import graft.operators.Sketch
import org.apache.spark.sql.functions._

/** The typed KMV Aggregator: exactness below capacity, partitioning
  * invariance (mergeability), and agreement with the relational KMV
  * formulation behind q40.
  */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  test("exact below capacity, stable estimate above it") {
    val small = (1L to 40L).toDS()
    val exact = small.select(KmvSketch.distinctEstimate(64)).head()
    assert(exact == 40.0)

    // 10k distinct pseudo-hashes evenly spread over the 2^60 space
    val big = (1L to 10000L).map(i => i * (1152921504606846976L / 10000L)).toDS()
    val est = big.select(KmvSketch.distinctEstimate(64)).head()
    assert(math.abs(est - 10000.0) / 10000.0 < 0.3)
  }

  test("estimate is invariant under repartitioning and duplication") {
    val vals = (1L to 5000L).map(i => i * (1152921504606846976L / 5000L))
    val base = vals.toDS().repartition(1)
      .select(KmvSketch.distinctEstimate(64)).head()
    val shuffled = new scala.util.Random(3).shuffle(vals)
    val dupes = (shuffled ++ shuffled.take(2000)).toDS().repartition(17)
      .select(KmvSketch.distinctEstimate(64)).head()
    assert(base == dupes) // merge-order independent AND distinct-correct
  }

  test("matches the relational q40 estimator on the shared fixture") {
    val dir = "/root/testdata/sf0.001"
    val rel = Sketch.kmvDistinct(spark, dir)
      .select(col("kmv_estimate")).head().getDouble(0)
    val agg = Sketch.shingleHashes(spark, dir)
      .as[Long].select(KmvSketch.distinctEstimate(Sketch.K)).head()
    assert(rel == agg)
  }

  // ----------------------------------- q108: HLL register-space sketch

  test("q108 HLL: estimate within the m=256 error envelope on a known universe") {
    // 20k distinct strings through the PRODUCTION hash — unlike KMV
    // (which only needs uniform values), HLL reads bit patterns, so an
    // evenly-SPACED synthetic stream has degenerate leading-zero runs
    // and estimates garbage (observed: rel_err 0.98). The standard
    // error at m=256 is 1.04/16 = 6.5%; allow 4 sigma
    val n = 20000L
    val h = spark.range(n).select(graft.functions.TextFns.hash60(
      concat(lit("hll:"), col("id").cast("string"))).as("sh_h"))
    val row = Sketch.hllOf(h).head()
    assert(row.getLong(0) == 256L)
    assert(row.getLong(4) == n, "exact distinct must be exact")
    assert(row.getDouble(5) < 0.26, s"rel_err ${row.getDouble(5)}")
  }

  test("q108 HLL: output is invariant under duplication and repartitioning") {
    // max is idempotent and merge-order-free: the sketch of a stream
    // union its own shuffle must be BIT-identical — the union-by-max
    // algebra a multi-shard merge relies on
    val vals = (1L to 5000L).map(i => i * 230584300921369L + 7L)
    val base = Sketch.hllOf(vals.toDF("sh_h").repartition(1)).collect()
    val dup = Sketch.hllOf(
      (vals ++ new scala.util.Random(5).shuffle(vals).take(2345))
        .toDF("sh_h").repartition(17)).collect()
    assert(base.toSeq == dup.toSeq)
  }

  test("q108 HLL: register maxima and scaled sum match a driver recompute on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val row = Sketch.hllDistinct(spark, dir).head()
    val hashes = Sketch.shingleHashes(spark, dir).as[Long].collect()
    val regs = Array.fill(256)(0)
    hashes.foreach { h =>
      val hq = h / 256
      val rk = if (hq > 0) 53 - (64 - java.lang.Long.numberOfLeadingZeros(hq)) else 53
      val r = (h % 256).toInt
      if (rk > regs(r)) regs(r) = rk
    }
    val sumScaled = regs.map(m => 1L << (53 - m)).sum
    val est = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0 /
      sumScaled.toDouble
    assert(row.getLong(1) == regs.count(_ > 0).toLong, "nonzero registers")
    assert(row.getLong(2) == sumScaled, "scaled harmonic sum (exact integer)")
    assert(row.getDouble(3) == est, "the one double division is bit-identical")
    assert(row.getLong(4) == hashes.distinct.length.toLong)
  }

  test("HllSketch: typed registers and estimate match relational q108 bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    val typed = Sketch.shingleHashes(spark, dir).as[Long]
      .select(graft.functions.HllSketch.registers(Sketch.HllM)).head()
    // relational sparse registers, densified driver-side
    val dense = new Array[Int](Sketch.HllM)
    Sketch.registersOf(Sketch.shingleHashes(spark, dir)).collect()
      .foreach(r => dense(r.getLong(0).toInt) = r.getInt(1))
    assert(typed.toSeq == dense.toSeq,
      "typed Aggregator registers != relational hash-agg registers")
    val rel = Sketch.hllDistinct(spark, dir).head().getDouble(3)
    assert(graft.functions.HllSketch.estimate(typed) == rel,
      "typed estimate must be bit-identical to the relational division")
  }

  // ------------------------------ q109: incremental HLL (at-rest regs)

  test("q109 delta HLL == full rebuild bit-for-bit (the union-by-max algebra)") {
    val dir = "/root/testdata/sf0.001"
    FixtureRoots.clear(spark)
    val delta = Sketch.deltaHll(spark, dir).collect().toSeq
    val full = Sketch.hllOf(Sketch.shingleHashes(spark, dir))
      .select(col("m"), col("n_nonzero_regs"), col("sum_scaled"),
        col("hll_estimate")).collect().toSeq
    TransientCache.drain()
    assert(delta == full,
      s"incremental must equal rebuild exactly: $delta vs $full")
  }

  test("q109 reads the at-rest table: a poisoned register index changes the estimate") {
    val dir = "/root/testdata/sf0.001"
    FixtureRoots.clear(spark)
    Sketch.hllIndexAtRest(spark, dir)
    val root = FixtureRoots.root(spark, "hllidx", dir)(_ => fail("hllidx was not built"))
    val wh = new graft.pipelines.Warehouse(spark, root)
    // in place: every register claims a max-rank 53 observation — an
    // estimate no real corpus side produces
    wh.write("hll_regs", spark.range(256)
      .select(col("id").as("reg"), lit(53).as("mj")))
    try {
      val poisoned = Sketch.deltaHll(spark, dir).select(col("n_nonzero_regs"))
        .head().getLong(0)
      assert(poisoned == 256L,
        "all 256 poisoned registers must surface through the merge — " +
          "if not, the query is not reading the at-rest table")
    } finally FixtureRoots.clear(spark)
  }

  test("q109 advance: append == rebuild registers; a replayed batch is a no-op (no ledger needed)") {
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_hlladv_").toString
    try {
      val sh = graft.operators.Dedup.shingleIndex(spark, dir)
      val corpus = sh.filter(col("doc_id") % 10 < 8).select(col("sh_h"))
      val batch = sh.filter(col("doc_id") % 10 >= 8).select(col("sh_h"))
      Sketch.hllIndexAt(spark, root, corpus)
      // the batch lane's striped advance: the night lands as its own
      // (epoch, reg, mj) stripe beside the epoch-0 seed
      Sketch.advanceHllEpoch(spark, root, 1L, batch)
      val wh = new graft.pipelines.Warehouse(spark, root)
      // the reader's collapse: max-merge across stripes
      def regsNow(): Seq[(Long, Int)] = wh.read("hll_regs")
        .groupBy(col("reg")).agg(max(col("mj")).as("mj")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      def rawNow(): Seq[String] = wh.read("hll_regs").collect()
        .map(_.mkString("|")).sorted.toSeq
      val advanced = regsNow()
      val rebuilt = Sketch.registersOf(sh.select(col("sh_h"))).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(advanced == rebuilt, "advance-then-read != rebuild-from-scratch")
      // at-least-once delivery: the replayed stripe re-derives
      // byte-identical rows and the anti-join drops every one —
      // idempotent WITHOUT a doc manifest, at the ROW level
      val raw = rawNow()
      Sketch.advanceHllEpoch(spark, root, 1L, batch)
      assert(rawNow() == raw, "replayed striped advance must be a no-op")
      // ... and the collapsed lane's algebraic idempotence still holds
      // (the streamed twin's advance, collapsing the stripes is fine
      // for a lane that never retracts per-epoch)
      Sketch.appendToHllIndex(spark, root, batch)
      assert(regsNow() == advanced, "replayed collapsed advance must be a no-op")
    } finally graft.pipelines.Fs.delete(spark, root)
  }

  test("q109 advance: a pre-striping flat register table migrates on the first striped op") {
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_hllmig_").toString
    try {
      val sh = graft.operators.Dedup.shingleIndex(spark, dir)
      val corpus = sh.filter(col("doc_id") % 10 < 8).select(col("sh_h"))
      val batch = sh.filter(col("doc_id") % 10 >= 8).select(col("sh_h"))
      val wh = new graft.pipelines.Warehouse(spark, root)
      // the legacy at-rest layout: (reg, mj), no epoch column — a
      // striped op must REWRITE it as stripe 0, never append 3-column
      // files beside 2-column ones (parquet footers would disagree)
      wh.write("hll_regs", Sketch.registersOf(corpus))
      Sketch.advanceHllEpoch(spark, root, 1L, batch)
      assert(wh.read("hll_regs").columns.toSeq == Seq("epoch", "reg", "mj"),
        "the first striped op must migrate the legacy layout")
      val collapsed = wh.read("hll_regs")
        .groupBy(col("reg")).agg(max(col("mj")).as("mj")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val rebuilt = Sketch.registersOf(sh.select(col("sh_h"))).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(collapsed == rebuilt, "post-migration advance != rebuild")
    } finally graft.pipelines.Fs.delete(spark, root)
  }

  // ------------------------- q90: value-carrying KMV quantile estimate

  test("q90 sample quantiles: estimates bracket the true corpus ranks (DKW)") {
    val dir = "/root/testdata/sf0.001"
    val rows = Sketch.sampleQuantiles(spark, dir).collect()
    assert(rows.map(_.getDouble(0)).toSeq == Sketch.QuantPs)
    val chars = graft.Tables.documents(spark, dir)
      .select(col("n_chars")).as[Long].collect().sorted
    val n = chars.length.toDouble
    assert(rows.head.getLong(2) == math.min(Sketch.QuantK.toLong, chars.length.toLong))
    // Runtime-derived bracket, not a pinned fixture value: the est for
    // probe p must sit where the TRUE empirical CDF is within ±0.15 of p
    // (DKW at K=256 puts the deviation beyond 0.15 at ~1e-5 per probe,
    // so a benign fixture regeneration cannot trip this).
    rows.foreach { r =>
      val (p, est) = (r.getDouble(0), r.getLong(1))
      val below = chars.count(_ < est) / n   // CDF just under est
      val atOrBelow = chars.count(_ <= est) / n
      assert(below <= p + 0.15 && atOrBelow >= p - 0.15,
        s"p=$p est=$est cdf=[$below,$atOrBelow]")
    }
  }

  test("QuantileSketch: typed twin of q90 is bit-identical, partitioning-invariant") {
    val dir = "/root/testdata/sf0.001"
    val rel = Sketch.sampleQuantiles(spark, dir).collect().map(_.getLong(1)).toSeq
    val rows = graft.Tables.documents(spark, dir)
      .select(
        graft.functions.TextFns.hash60(
          concat(lit("squant:"), col("doc_id").cast("string"))).as("_1"),
        col("doc_id").as("_2"), col("n_chars").as("_3"))
      .as[(Long, Long, Long)]
    val typed = rows
      .select(graft.functions.QuantileSketch.estimates(Sketch.QuantK, Sketch.QuantPs))
      .head()
    // same hash, same tiebreak => the SAME 256-doc sample => equal, not close
    assert(typed == rel)
    val reparted = rows.repartition(13)
      .select(graft.functions.QuantileSketch.estimates(Sketch.QuantK, Sketch.QuantPs))
      .head()
    assert(reparted == typed)
  }

  test("QuantileSketch: grouped per-lang quantiles in one hash-agg") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.documents(spark, dir)
      .select(col("lang").as("_1"),
        graft.functions.TextFns.hash60(
          concat(lit("squant:"), col("doc_id").cast("string"))).as("_2"),
        col("doc_id").as("_3"), col("n_chars").as("_4"))
      .as[(String, Long, Long, Long)]
    // capacity above every group size: the buffer IS the group, so the
    // grouped sketch must equal the exact per-group rank selection
    val got = rows.groupByKey(_._1).mapValues(r => (r._2, r._3, r._4))
      .agg(graft.functions.QuantileSketch.estimates(1 << 20, Seq(0.25, 0.5, 0.75)))
      .collect().toMap
    val exact = rows.collect().groupBy(_._1).map { case (lang, g) =>
      val sorted = g.map(_._4).sorted
      lang -> Seq(0.25, 0.5, 0.75).map(p =>
        sorted(math.floor(p * (sorted.length - 1)).toInt))
    }
    assert(got == exact)
  }

  test("q90 sample quantiles: bottom-k plans as TakeOrderedAndProject, and re-runs agree") {
    val dir = "/root/testdata/sf0.001"
    val df = Sketch.sampleQuantiles(spark, dir)
    // the claimed scale shape: per-partition top-k + one driver merge —
    // never a corpus-wide sort feeding a limit
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(df.collect().toSeq == Sketch.sampleQuantiles(spark, dir).collect().toSeq)
  }

  test("q124 grouped sketch: beyond k the estimate equals the relational bottom-k rank read") {
    // the regime the driver row deliberately filters out (n_docs > k):
    // the udaf-registered Aggregator must equal the relational
    // ORDER BY (h, id) LIMIT k sample read at the exact rank, under
    // any partitioning
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val k = 16
    val rows = (1 to 200).map(i =>
      ("g" + (i % 2), (i.toLong * 7919) % 1000003, i.toLong,
        (i.toLong * 13) % 500))
    val df = rows.toDF("g", "h", "id", "v")
    val qs = udaf(new graft.functions.QuantileSketch(k, Seq(0.5)),
      ExpressionEncoder[(Long, Long, Long)]())
    def run(parts: Int): Map[String, Long] =
      df.repartition(parts)
        .groupBy(col("g"))
        .agg(element_at(qs(col("h"), col("id"), col("v")), 1).as("p50"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run(3)
    assert(run(7) == got, "merge tree must not move the sample")
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val sample = rs.sortBy(t => (t._2, t._3)).take(k).map(_._4).sorted
      g -> sample(math.floor(0.5 * (sample.length - 1)).toInt)
    }
    assert(got == want)
  }
}
