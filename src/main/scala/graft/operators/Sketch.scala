package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distinct-count sketching. HLL (Spark's approx_count_distinct) is the
  * production default but is engine-specific, so the oracle-checkable
  * demonstrator is KMV (k-minimum-values, Bar-Yossef et al. 2002): keep
  * the k smallest values of a uniform hash; the k-th smallest h_k
  * estimates density, giving n̂ = (k−1) · H / h_k over hash space H.
  * Deterministic — same hash, same estimate, any engine.
  *
  * Scale: the k-minimum pass is a per-partition top-k (TakeOrderedAndProject
  * — no full sort, no full shuffle; only k rows per partition move), which
  * is exactly how a distributed KMV union works: sketches merge by keeping
  * the k smallest of the union. The exact count alongside is for the
  * fixture-scale accuracy check; at 100 TB you'd keep only the sketch.
  */
object Sketch {

  val K = 64
  private val HashSpace = 1152921504606846976.0 // 2^60, exact in double

  /** The (non-distinct) shingle-hash stream — the input both KMV forms
    * consume: the relational q40 below and the typed
    * [[graft.functions.KmvSketch]] Aggregator (their estimates must
    * agree bit-for-bit, see KmvSketchSpec).
    */
  def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleIndex(spark, dir).select(col("sh_h"))

  /** q40 — KMV distinct-count estimate of the corpus' distinct 3-gram
    * shingles (via the shared cached shingle index) vs the exact count.
    * One summary row: exact, k, estimate, relative error.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    // cached: consumed by both the exact count and the top-k below —
    // without it the distinct exchange over the shingle index runs twice;
    // registered for post-materialization eviction (TransientCache)
    val h = graft.TransientCache.register(
      Dedup.shingleIndex(spark, dir).select(col("sh_h")).distinct().cache())
    val hk = h.orderBy(col("sh_h")).limit(K)
      .agg(max(col("sh_h")).as("hk"))
    h.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hk)
      .withColumn("k", lit(K.toLong))
      .withColumn("kmv_estimate",
        lit((K - 1).toDouble) * lit(HashSpace) / col("hk").cast("double"))
      .withColumn("rel_err",
        abs(col("kmv_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"))
      .select(col("n_exact"), col("k"), col("kmv_estimate"), col("rel_err"))
  }

  val kmvDistinctSql: String = {
    import graft.functions.TextFns._
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |sh AS (SELECT doc_id, unnest($shingles3AllSql) AS s FROM toks),
      |h AS (SELECT DISTINCT ${hash60Sql("s")} AS sh_h FROM sh),
      |kth AS (SELECT max(sh_h) AS hk FROM
      |         (SELECT sh_h FROM h ORDER BY sh_h LIMIT $K)),
      |est AS (
      |  SELECT (SELECT count(*) FROM h) AS n_exact,
      |    CAST($K AS BIGINT) AS k,
      |    CAST(${K - 1} AS DOUBLE) * 1152921504606846976.0
      |      / CAST(hk AS DOUBLE) AS kmv_estimate
      |  FROM kth)
      |SELECT n_exact, k, kmv_estimate,
      |  abs(kmv_estimate - CAST(n_exact AS DOUBLE))
      |    / CAST(n_exact AS DOUBLE) AS rel_err
      |FROM est""".stripMargin
  }

  // --------------------------------------------------- HLL registers

  /** q108's register count (2^8 — the standard-error knob: 1.04/√m ≈ 6.5%). */
  val HllM = 256

  /** q108 — HyperLogLog distinct-count over the SAME shingle universe as
    * q40's KMV, so the two sketches are directly comparable. This is the
    * production cardinality sketch (Flajolet et al. 2007) expressed
    * relationally and kept ENGINE-PORTABLE — the property Spark's own
    * `approx_count_distinct` (also HLL) gives up:
    *
    *   - register = low 8 hash bits, rank ρ = position of the leftmost
    *     1-bit in the remaining 52 (computed EXACTLY as
    *     `53 − length(bin(hq))` — a string-length identity for
    *     ⌊log2⌋+1, immune to the float-log2 boundary bugs; all-zero
    *     window ⇒ the standard w+1 sentinel 53);
    *   - the m register maxima come from ONE hash-agg over the
    *     NON-distinct hash stream — max is idempotent, so HLL never
    *     needs the distinct exchange KMV's top-k rides (the whole point
    *     of the sketch at 100 TB: partial-agg map-side max into 256
    *     cells, merge = element-wise max — the same union-by-max
    *     algebra as a multi-shard sketch merge);
    *   - the harmonic mean stays EXACT until one double op: Σ 2^−Mj is
    *     carried scaled by 2^53 — `1 << (53−Mj)` summed as BIGINT over
    *     the present registers plus an arithmetic (m − n_present)·2^53
    *     term for the absent ones (max 256·2^53 < 2^63, never rounds;
    *     see [[hllEstimate]]) — so both engines divide the same exact
    *     integer into the same double-literal alpha·m²·2^53 (forced
    *     DOUBLE with exponent notation: a bare `0.7213` parses as
    *     DECIMAL in BOTH engines and decimal-mixed arithmetic drifts
    *     ~4e-9 off the IEEE value — caught by the driver-recompute
    *     spec). The small-range linear-counting branch
    *     (E ≤ 2.5m with zero registers) needs ln(), whose last ulp is
    *     not engine-portable — deliberately out of the checked output
    *     (this universe sits far above it); n_zero_regs is reported so
    *     a caller can apply it.
    *
    * One summary row: m, nonzero registers, the exact scaled harmonic
    * sum, the raw HLL estimate, the exact count (fixture-scale accuracy
    * check, as in q40), relative error.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame =
    // shared cached shingle index feeds both the register pass (non-
    // distinct) and the exact-count pass (distinct) — no extra cache tier
    hllOf(shingleHashes(spark, dir))

  /** The sparse (register, max-rank) frame over any non-distinct `sh_h`
    * stream — ONE partial-aggregated hash-agg into ≤ m cells; also the
    * at-rest row format of the q109 incremental index (max-merge is the
    * sketch's union algebra, so `registersOf(a ∪ b)` ≡ element-wise max
    * of `registersOf(a)` and `registersOf(b)` — the identity both the
    * delta query and its oracle check lean on).
    */
  private[graft] def registersOf(h: DataFrame): DataFrame = h
    .select(expr(s"sh_h % $HllM").as("reg"), expr(s"sh_h DIV $HllM").as("hq"))
    .select(col("reg"),
      when(col("hq") > 0, lit(53) - length(bin(col("hq"))))
        .otherwise(lit(53)).as("rk"))
    .groupBy(col("reg")).agg(max(col("rk")).as("mj"))

  /** The exact scaled harmonic sum + the one double division: 1 row
    * (m, n_nonzero_regs, sum_scaled, hll_estimate) from a sparse
    * register frame. Registers ABSENT from the sparse frame are
    * accounted arithmetically — each contributes exactly 2^53 to the
    * scaled sum and a present register always has rank ≥ 1, so
    * n_nonzero = n_present and sum = Σ_present 2^(53−Mj) +
    * (m − n_present)·2^53 — no densify join, no 256-row dimension
    * frame: the whole estimate tail is ONE aggregation over ≤ m rows
    * (the first formulation joined a range frame and cost two join
    * exchanges for nothing; the oracle deliberately keeps the densify
    * formulation as the independent machinery).
    */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame =
    regs.agg(
      count(lit(1)).as("n_present"),
      expr("sum(shiftleft(CAST(1 AS BIGINT), 53 - mj))").as("s_present"))
      .select(lit(HllM.toLong).as("m"),
        col("n_present").as("n_nonzero_regs"),
        (coalesce(col("s_present"), lit(0L)) +
          (lit(HllM.toLong) - col("n_present")) * lit(9007199254740992L))
          .as("sum_scaled"))
      .withColumn("hll_estimate",
        expr("0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0" +
          " * 9007199254740992.0e0 / CAST(sum_scaled AS DOUBLE)"))

  /** The register/estimate chain over any non-distinct `sh_h` stream. */
  private[graft] def hllOf(h: DataFrame): DataFrame = {
    val exact = h.distinct().agg(count(lit(1)).as("n_exact"))
    hllEstimate(registersOf(h)).crossJoin(exact)
      .withColumn("rel_err",
        abs(col("hll_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"))
  }

  /** Oracle: identical register/rank arithmetic (DuckDB's `bin`/`<<`
    * match Spark's bit-for-bit on BIGINT), identical constant-folded
    * alpha expression — the one double division lands on the same exact
    * integer in both engines.
    */
  val hllDistinctSql: String = {
    import graft.functions.TextFns._
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |sh AS (SELECT doc_id, unnest($shingles3AllSql) AS s FROM toks),
      |h AS (SELECT ${hash60Sql("s")} AS sh_h FROM sh),
      |r AS (
      |  SELECT sh_h % $HllM AS reg,
      |    CASE WHEN sh_h // $HllM > 0
      |         THEN 53 - length(bin(sh_h // $HllM)) ELSE 53 END AS rk
      |  FROM h),
      |regs AS (SELECT reg, max(rk) AS mj FROM r GROUP BY reg),
      |dense AS (
      |  SELECT COALESCE(regs.mj, 0) AS mj
      |  FROM range(0, $HllM) t(reg) LEFT JOIN regs ON t.reg = regs.reg),
      |s AS (
      |  SELECT count(CASE WHEN mj = 0 THEN 1 END) AS n_zero,
      |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mj AS INT)) AS BIGINT)
      |      AS sum_scaled
      |  FROM dense),
      |e AS (SELECT count(*) AS n_exact FROM (SELECT DISTINCT sh_h FROM h)),
      |est AS (
      |  SELECT CAST($HllM AS BIGINT) AS m,
      |    CAST($HllM - n_zero AS BIGINT) AS n_nonzero_regs, sum_scaled,
      |    0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
      |      * 9007199254740992.0e0 / CAST(sum_scaled AS DOUBLE)
      |      AS hll_estimate,
      |    n_exact
      |  FROM s, e)
      |SELECT m, n_nonzero_regs, sum_scaled, hll_estimate, n_exact,
      |  abs(hll_estimate - CAST(n_exact AS DOUBLE))
      |    / CAST(n_exact AS DOUBLE) AS rel_err
      |FROM est""".stripMargin
  }

  // ------------------------------------ q109: incremental HLL at rest

  private val hllIndexMemo = new graft.ContextMemo[(String, String), String](identity)

  /** Build-or-open the at-rest register table at `root` (the
    * winnowIndexAt discipline: existing tables re-open as-is, so the
    * nightly loop resumes where the last process stopped). The at-rest
    * layout is EPOCH-STRIPED — (epoch, reg, mj), one stripe per ingest
    * window, the seed being stripe 0 — which is what turns retraction
    * from O(corpus) into O(affected windows) ([[retractHllEpochs]])
    * while leaving every reader untouched: reads already max-merge, so
    * multiple stripe rows per register collapse in the same aggregation
    * that merges the night's batch ([[deltaHll]] — zero plan change).
    */
  private[graft] def hllIndexAt(spark: SparkSession, root: String,
                                corpusHashes: => DataFrame): DataFrame = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    if (!wh.exists("hll_regs"))
      wh.write("hll_regs", epochRegistersOf(0L, corpusHashes))
    wh.read("hll_regs")
  }

  /** One ingest window's stripe: [[registersOf]] labeled with its
    * epoch — deterministic of (epoch, batch), which is what makes the
    * striped advance row-level idempotent.
    */
  private[graft] def epochRegistersOf(epoch: Long, h: DataFrame): DataFrame =
    registersOf(h)
      .select(lit(epoch).as("epoch"), col("reg"), col("mj"))

  /** At-rest migration for the striped ops: a register table written
    * before the epoch column existed (the flat (reg, mj) layout) is
    * rewritten ONCE as a single epoch-0 stripe. A tmp-swap rewrite,
    * not a tolerant read, on purpose: appending 3-column files beside
    * 2-column ones would leave a parquet directory whose footers
    * disagree — readers infer one schema and break. The rewrite is
    * ≤ m rows (the collapsed layout's bound), idempotent, and the
    * collapsed lane needs no such step (its own write path re-lands
    * the whole table striped on the next advance).
    */
  private def ensureStriped(wh: graft.pipelines.Warehouse): Unit =
    if (wh.exists("hll_regs")) {
      val t = wh.read("hll_regs")
      if (!t.columns.contains("epoch"))
        wh.write("hll_regs",
          t.select(lit(0L).as("epoch"), col("reg"), col("mj")))
    }

  /** Advance one ingest window's stripe into the striped at-rest table.
    * Idempotent under at-least-once delivery WITHOUT a manifest, like
    * the collapsed advance but by a different mechanism: the stripe is
    * a pure function of (epoch, batch), so a replay re-derives
    * byte-identical (epoch, reg, mj) rows and the anti-join appends
    * exactly the ones a crashed partial append is missing.
    */
  private[graft] def advanceHllEpoch(spark: SparkSession, root: String,
                                     epoch: Long, batchHashes: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    val stripe = epochRegistersOf(epoch, batchHashes)
    if (!wh.exists("hll_regs")) wh.write("hll_regs", stripe)
    else {
      ensureStriped(wh)
      wh.append("hll_regs",
        stripe.join(wh.read("hll_regs")
            .select(col("epoch"), col("reg"), col("mj")),
          Seq("epoch", "reg", "mj"), "left_anti"))
      wh.compactIfFragmented("hll_regs")
    }
  }

  /** RETRACTION for the striped layout — the amortization upgrade the
    * collapsed lane documents: drop the AFFECTED epochs' stripes and
    * re-max only their survivors. `survivors` is the surviving element
    * stream OF THE AFFECTED WINDOWS ONLY, epoch-labeled
    * ((epoch, sh_h)) so each replacement stripe lands under its
    * original epoch and later retractions keep their granularity; an
    * affected window whose survivors are empty simply contributes no
    * replacement rows. One tmp-swap: non-affected stripes are copied
    * through BYTE-IDENTICALLY and never re-scanned — the per-epoch
    * re-tokenize bill is O(affected windows), not O(corpus) (spec'd:
    * untouched stripes compare equal before/after). Idempotent by
    * determinism, atomic like every swap. The epoch → docs mapping is
    * the CALLER's ingest ledger (the corpus pipeline's night markers)
    * — the register table itself stays element-level manifest-free.
    */
  private[graft] def retractHllEpochs(spark: SparkSession, root: String,
                                      epochs: Seq[Long],
                                      survivors: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    ensureStriped(wh)
    val keep = wh.read("hll_regs").filter(!col("epoch").isin(epochs: _*))
    val rebuilt = survivors
      .filter(col("epoch").isin(epochs: _*)) // belt: affected only
      .select(col("epoch"), expr(s"sh_h % $HllM").as("reg"),
        expr(s"sh_h DIV $HllM").as("hq"))
      .select(col("epoch"), col("reg"),
        when(col("hq") > 0, lit(53) - length(bin(col("hq"))))
          .otherwise(lit(53)).as("rk"))
      .groupBy(col("epoch"), col("reg")).agg(max(col("rk")).as("mj"))
    wh.write("hll_regs", keep.unionByName(rebuilt))
  }

  /** The corpus-side register table as an at-rest parquet index,
    * memoized per (context, dir, hash mode) like the winnow index.
    * Built as TWO ingest-window stripes on purpose: the q109 driver
    * row then hash-proves the striped-layout read cross-engine — the
    * oracle recomputes the registers from the full element stream, so
    * the compare passes iff the reader's max-collapse over stripes ≡
    * a flat rebuild, bit for bit (the same plan either way: the merge
    * agg IS the collapse).
    */
  private[graft] def hllIndexAtRest(spark: SparkSession, dir: String): DataFrame = {
    val root = hllIndexMemo.getAt(spark, (dir, graft.functions.TextFns.hashMode),
        "graft_hllidx_") { fresh =>
      val corpusH = Dedup.shingleIndex(spark, dir)
        .filter(col("doc_id") % 10 < 8)
      hllIndexAt(spark, fresh,
        corpusH.filter(col("doc_id") % 2 === 0).select(col("sh_h")))
      advanceHllEpoch(spark, fresh, 1L,
        corpusH.filter(col("doc_id") % 2 === 1).select(col("sh_h")))
      fresh
    }
    // project the stripe label away: the reader's contract is "rows that
    // max-merge per reg", which striped rows satisfy — the q109 merge
    // agg is the collapse, so the striped layout costs zero plan change
    // (a pre-striping flat table projects identically — migration-free)
    new graft.pipelines.Warehouse(spark, root).read("hll_regs")
      .select(col("reg"), col("mj"))
  }

  /** Test seam — inject a register table root (the poisoned-index
    * discipline: the q109 spec proves the screen reads the table); a
    * built root it shadows is deleted.
    */
  private[graft] def installHllIndex(spark: SparkSession, dir: String,
                                     root: String): Unit =
    hllIndexMemo.install(spark, (dir, graft.functions.TextFns.hashMode), root)

  /** Drop this context's memoized HLL indexes; owned roots deleted. */
  def clearHllIndex(spark: SparkSession): Unit = hllIndexMemo.clear(spark)

  /** Advance the at-rest registers with a batch — union + element-wise
    * max through the tmp-swap write. Max-merge makes the advance
    * IDEMPOTENT with no key ledger at all: a replayed batch maxes
    * against registers that already absorbed it, so at-least-once
    * delivery gives exactly-once effect for free (the property the
    * additive q74/q88 indexes need doc-manifest anti-join guards to
    * buy; spec'd: advance-replay is bit-identical a no-op). This is
    * the COLLAPSED lane — the streamed twin's advance: the result is a
    * single epoch-0 stripe (≤ m rows forever), in the same
    * (epoch, reg, mj) schema the striped lane uses, so the two lanes
    * share one at-rest format and either retraction path can follow.
    * Collapsing any striping it finds is deliberate (stripe identity
    * is the batch lane's concern; this lane's guarantee is algebraic).
    */
  private[graft] def appendToHllIndex(spark: SparkSession, root: String,
                                      batchHashes: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    wh.write("hll_regs",
      wh.read("hll_regs").select(col("reg"), col("mj"))
        .unionByName(registersOf(batchHashes))
        .groupBy(col("reg")).agg(max(col("mj")).as("mj"))
        .select(lit(0L).as("epoch"), col("reg"), col("mj")))
  }

  /** RETRACTION for the cardinality tier: REBUILD-ON-RETRACT, and
    * honestly so — HLL registers are a MAX algebra, which is exactly
    * what makes the advance manifest-free and idempotent, and exactly
    * what makes them non-invertible: a register's max carries no
    * memory of which elements pushed it there, so no negative delta
    * or anti-join can subtract a retracted doc's contribution (the
    * additive quantile cube can cancel; the max register cannot).
    * The retraction therefore recomputes the register table from the
    * SURVIVING element stream — one tmp-swap, atomic like every
    * rebuild, idempotent by determinism, and trivially equal to
    * rebuild-without-those-docs because it IS one.
    *
    * At 100 TB this is the documented price of the max algebra: one
    * corpus-side scan per retraction epoch, amortized by BATCHING
    * retractions (takedowns queue; one rebuild clears the queue — the
    * refreshFull cadence discipline). The amortization upgrade IS now
    * built for the batch index lane: epoch-keyed stripes
    * ([[advanceHllEpoch]] / [[retractHllEpochs]]) re-scan only the
    * affected windows. This full rebuild remains the right lane when
    * the epoch → docs mapping is unknown (or the takedown spans most
    * windows), and the STREAMED twin keeps the collapsed layout plus
    * this fallback on purpose — its manifest-free algebraic replay
    * guarantee is the collapsed layout's property. The rebuild lands
    * as a single epoch-0 stripe so both lanes share one at-rest
    * schema (a striped index rebuilt here simply collapses).
    */
  private[graft] def retractHllRebuild(spark: SparkSession, root: String,
                                       survivingHashes: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    wh.write("hll_regs", epochRegistersOf(0L, survivingHashes))
  }

  /** q109 — incremental cardinality (the delta-family slot the q61/q74/
    * q84/q88/q89 screens left open): "how many distinct shingles does
    * corpus + tonight's batch hold" WITHOUT rescanning the corpus. The
    * corpus side is the at-rest (reg, mj) table — ≤ m rows, a bare
    * file scan at any corpus size (the 256-row analog of q84's 256 KB
    * bitset); the batch side is one register hash-agg over the batch's
    * shingle stream; merge = element-wise max. The HLL union algebra
    * IS the correctness proof, and the oracle makes it a checked one:
    * the DuckDB twin recomputes the registers from the FULL corpus ∪
    * batch stream from scratch, so the hash compare passes iff
    * incremental ≡ rebuild bit-for-bit. At 100 TB the nightly
    * cardinality bill drops from a corpus scan to |batch| + m rows —
    * and the advance needs no manifest: max is idempotent (see
    * [[appendToHllIndex]]).
    */
  def deltaHll(spark: SparkSession, dir: String): DataFrame = {
    val corpus = hllIndexAtRest(spark, dir)
    val batch = registersOf(Dedup.shingleIndex(spark, dir)
      .filter(col("doc_id") % 10 >= 8).select(col("sh_h")))
    hllEstimate(corpus.unionByName(batch)
      .groupBy(col("reg")).agg(max(col("mj")).as("mj")))
  }

  /** Oracle: the full-rebuild formulation over corpus ∪ batch (= every
    * document — the fixture's delta split), deliberately scanning what
    * the incremental path must never touch.
    */
  val deltaHllSql: String = {
    import graft.functions.TextFns._
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |sh AS (SELECT doc_id, unnest($shingles3AllSql) AS s FROM toks),
      |h AS (SELECT ${hash60Sql("s")} AS sh_h FROM sh),
      |r AS (
      |  SELECT sh_h % $HllM AS reg,
      |    CASE WHEN sh_h // $HllM > 0
      |         THEN 53 - length(bin(sh_h // $HllM)) ELSE 53 END AS rk
      |  FROM h),
      |regs AS (SELECT reg, max(rk) AS mj FROM r GROUP BY reg),
      |dense AS (
      |  SELECT COALESCE(regs.mj, 0) AS mj
      |  FROM range(0, $HllM) t(reg) LEFT JOIN regs ON t.reg = regs.reg)
      |SELECT CAST($HllM AS BIGINT) AS m,
      |  CAST($HllM - count(CASE WHEN mj = 0 THEN 1 END) AS BIGINT)
      |    AS n_nonzero_regs,
      |  CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mj AS INT)) AS BIGINT)
      |    AS sum_scaled,
      |  0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
      |    * 9007199254740992.0e0
      |    / CAST(CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mj AS INT))
      |           AS BIGINT) AS DOUBLE) AS hll_estimate
      |FROM dense""".stripMargin
  }

  // --------------------------------------------------- CMS heavy hitters

  /** q82's sketch geometry and the absolute hot-token cut (the fixture
    * vocabulary is ~31 near-uniform tokens around 900–980 occurrences,
    * so 950 separates a handful; production uses a relative εN cut).
    */
  val CmsD = 4
  val CmsW = 256
  val CmsHotT = 950L

  /** q82 — sketch-candidate heavy hitters: the Count-Min matrix is built
    * by the TYPED [[graft.functions.CmsSketch]] Aggregator (partial
    * aggregation, element-wise-sum merge — the production path), the
    * d×w counters come back as BOUNDED driver state (d·w longs, like the
    * k-means centroids), and candidate hot tokens are read off a scan-
    * stage projection: est(tok) = min over d rows of the literal
    * matrix at cell_j(h) — never a full-universe groupBy when only the
    * hot tail matters. Candidates are then exact-counted (the standard
    * sketch-then-verify discipline; CMS never underestimates, so no hot
    * token can be missed — machine-checked in CmsSketchSpec and by the
    * est >= exact column pair here). The oracle rebuilds the SAME
    * counters relationally (per-(row, cell) GROUP BY over the identical
    * hash family), so the query is a cross-paradigm differential:
    * typed-Aggregator matrix == relational matrix, integer-exact.
    *
    * At 100 TB this is the [[Skew]] feeder: one sketch pass finds the
    * hot join keys that need salting, at d·w memory instead of a
    * distinct-key aggregation.
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns._
    val th = graft.TransientCache.register(
      graft.Tables.spread(graft.Tables.documents(spark, dir))
        .select(explode(toks(col("text"))).as("token"))
        .select(col("token"), hash60(col("token")).as("h"))
        .cache()) // consumed by the sketch fit AND the exact counts
    import spark.implicits._
    val matrix: Array[Long] = th.select(col("h")).as[Long]
      .select(graft.functions.CmsSketch.sketch(CmsD, CmsW)).head()
    val P = Dedup.P
    val est = (0 until CmsD).map { j =>
      val cell = ((lit(Dedup.A(j)) * (col("h") % P) + lit(Dedup.B(j))) % P) % CmsW
      element_at(typedLit(matrix.toSeq), (lit(j * CmsW + 1) + cell).cast("int"))
    }.reduce(least(_, _))
    th.groupBy(col("token"), col("h"))
      .agg(count(lit(1)).as("exact"))
      .withColumn("est", est)
      .filter(col("est") >= CmsHotT)
      .select(col("token"), col("est"), col("exact"))
      .orderBy(col("token"))
  }

  val cmsHeavyHittersSql: String = {
    import graft.functions.TextFns._
    val P = Dedup.P
    def cellSql(j: Int) = s"((${Dedup.A(j)} * (h % $P) + ${Dedup.B(j)}) % $P) % $CmsW"
    val ctrSelects = (0 until CmsD).map { j =>
      s"SELECT $j AS j, ${cellSql(j)} AS cell, count(*) AS c FROM th GROUP BY 2"
    }.mkString("\n      |  UNION ALL ")
    val tcSelects = (0 until CmsD).map { j =>
      s"SELECT token, exact, $j AS j, ${cellSql(j)} AS cell FROM cnt"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT unnest(t) AS token FROM toks),
      |th AS (SELECT token, ${hash60Sql("token")} AS h FROM tok),
      |cnt AS (SELECT token, h, count(*) AS exact FROM th GROUP BY 1, 2),
      |ctr AS (
      |  $ctrSelects),
      |tc AS (
      |  $tcSelects),
      |e AS (
      |  SELECT token, exact, min(ctr.c) AS est
      |  FROM tc JOIN ctr ON ctr.j = tc.j AND ctr.cell = tc.cell
      |  GROUP BY 1, 2)
      |SELECT token, CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact
      |FROM e WHERE est >= $CmsHotT ORDER BY token""".stripMargin
  }

  // ------------------------------------- sampled quantile estimate (q90)

  /** Sample size for [[sampleQuantiles]] and the quantile probe points.
    * K = 256 gives a DKW empirical-CDF sup-norm error ≤ ~0.1 rank units
    * with probability ≥ 1 − 2e^{−2K·0.01} ≈ 0.994 — the classic
    * distribution-free bound, checked at a looser 0.15 in the spec so a
    * fixture regeneration cannot read as a code regression.
    */
  val QuantK = 256
  val QuantPs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)

  /** q90 — corpus quantile estimate from a deterministic uniform sample:
    * the engine-portable "beyond-memory" quantile path that
    * `approx_percentile`/t-digest fill engine-specifically (the gap the
    * exact-rank q41/q55 tiers documented). The sample is the bottom-
    * [[QuantK]] documents by a salted 60-bit content hash — a
    * value-carrying KMV: like q40's k-minimum pass it plans as
    * `TakeOrderedAndProject` (per-partition top-k, k rows per partition
    * move, one driver-side merge — no full sort, no full shuffle), and
    * two node-local sketches merge by keeping the k smallest of the
    * union, so the sample is identical across re-runs, partitionings and
    * cluster sizes (the q34/q39 hash-order discipline; ties broken by
    * doc_id for a total order). Quantiles then read off the sorted
    * sample with q41's exact rank formula `floor((k−1)·q)+1` — the
    * whole reduction is one bounded array, never a corpus-wide sort.
    *
    * Reference anchor: the reference's only distribution summary is
    * pandas `describe()` over the full frame
    * (`etl_inventory/seed_stock_points.py` debugging dumps) — an
    * all-in-memory quantile; this is its 100 TB-shaped replacement.
    */
  def sampleQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns._
    val sample = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("h", hash60(concat(lit("squant:"), col("doc_id").cast("string"))))
      .orderBy(col("h"), col("doc_id"))
      .limit(QuantK)
    // one row: the sorted sample + its true size (k < QuantK on a tiny
    // corpus keeps the rank formula well-defined)
    val sorted = sample.agg(
      sort_array(collect_list(col("n_chars"))).as("vals"),
      count(lit(1)).as("k"))
    sorted
      .select(explode(array(QuantPs.map(lit): _*)).as("p"), col("vals"), col("k"))
      .select(col("p"),
        element_at(col("vals"),
          (floor(col("p") * (col("k") - 1)) + 1).cast("int")).as("est_n_chars"),
        col("k"))
      .orderBy(col("p"))
  }

  val sampleQuantilesSql: String = {
    import graft.functions.TextFns._
    val ps = QuantPs.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH s AS (
      |  SELECT n_chars FROM documents
      |  ORDER BY ${hash60Sql("'squant:' || CAST(doc_id AS VARCHAR)")}, doc_id
      |  LIMIT $QuantK),
      |v AS (SELECT list_sort(list(n_chars)) AS vals, count(*) AS k FROM s),
      |p AS (SELECT unnest($ps) AS p)
      |SELECT p, vals[CAST(floor(p * (k - 1)) + 1 AS INT)] AS est_n_chars, k
      |FROM p, v ORDER BY p""".stripMargin
  }

  // ------------------------- grouped quantile sketch Aggregator (q124)

  /** Buffer bound for [[sketchQuantiles]]: exact while a group holds ≤
    * this many rows (the buffer IS the group), DKW O(1/√k) rank error
    * beyond. Deliberately small so the oracle-checkable exactness
    * regime is visible at fixture scale.
    */
  val GroupQuantK = 64

  /** q124 — GROUPED quantile estimates per source through the typed
    * [[graft.functions.QuantileSketch]] Aggregator, registered via
    * `functions.udaf` so the Aggregator itself (not a relational
    * re-derivation) rides the driver gate — completing the sketch
    * family's symmetry: HLL/KMV/CMS/Bloom each pair a driver-checked
    * query with a typed mergeable twin, and this is the quantile twin's
    * turn. One hash-agg, no per-group sort, ≤[[GroupQuantK]]·3 longs of
    * state per group at any partitioning (the `reduce`/`merge` algebra
    * is associative/commutative, so partial aggregation applies).
    *
    * Oracle trick: the output keeps only groups with n_docs ≤ k, where
    * the value-carrying KMV buffer holds the WHOLE group and the
    * estimate collapses to q41's exact rank formula
    * `vals[floor(p·(n−1))]` — so the oracle is the exact per-group-sort
    * formulation and the hash compare proves the Aggregator's sample,
    * sort and rank arithmetic end to end. (Groups past k would be
    * DKW-approximate — correct, but not oracle-equatable; the spec
    * covers that regime against q90's relational form.)
    */
  def sketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns._
    val qs = udaf(new graft.functions.QuantileSketch(GroupQuantK, Seq(0.5, 0.9)),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Long)]())
    graft.Tables.documents(spark, dir)
      .select(col("source"),
        hash60(concat(lit("gsk:"), col("doc_id").cast("string"))).as("h"),
        col("doc_id").as("id"),
        graft.functions.TextFns.tokCount(col("text")).cast("long").as("v"))
      .groupBy(col("source"))
      .agg(qs(col("h"), col("id"), col("v")).as("est"),
        count(lit(1)).as("n_docs"))
      .where(col("n_docs") <= GroupQuantK)
      .select(col("source"),
        element_at(col("est"), 1).as("p50"),
        element_at(col("est"), 2).as("p90"),
        col("n_docs"))
      .orderBy(col("source"))
  }

  /** Oracle: q41's exact per-group-sort formulation over source groups,
    * restricted to the ≤[[GroupQuantK]] groups where the sketch buffer
    * is the whole group.
    */
  val sketchQuantilesSql: String = {
    import graft.functions.TextFns._
    s"""WITH counts AS (
      |  SELECT source, CAST(len($toksSql) AS BIGINT) AS v FROM documents),
      |ranked AS (
      |  SELECT source, v,
      |    row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM counts)
      |SELECT source,
      |  max(CASE WHEN rn = CAST(floor((n-1) * 0.5e0) AS BIGINT) + 1 THEN v END) AS p50,
      |  max(CASE WHEN rn = CAST(floor((n-1) * 0.9e0) AS BIGINT) + 1 THEN v END) AS p90,
      |  CAST(max(n) AS BIGINT) AS n_docs
      |FROM ranked GROUP BY source
      |HAVING CAST(max(n) AS BIGINT) <= $GroupQuantK
      |ORDER BY source""".stripMargin
  }
}
