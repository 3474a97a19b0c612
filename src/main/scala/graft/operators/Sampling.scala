package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic EXACT-QUOTA sampling for training-data pipelines —
  * the third member of the repo's sampling family, with a contract
  * neither sibling can give:
  *
  *   - q39 `TextOps.stratifiedSample` keeps a hash BUCKET per stratum:
  *     a scan-speed filter whose kept count is whatever falls in the
  *     bucket (binomial around p·n_s, not equal to it).
  *   - q63 `TextOps.sourceCaps` keeps a FIXED small k per stratum via a
  *     per-group top-k window — right for domain caps, but k is a
  *     constant and the window puts each whole stratum in one task.
  *   - q112 keeps EXACTLY ceil(r·n_s) per stratum at ANY stratum size:
  *     the "eval set is exactly 30% of every source" carve-out
  *     contract, where a binomial miss is a broken dataset card and a
  *     fixed k is the wrong shape entirely.
  *
  * [[quotaSample]] does this with the three properties a 100 TB
  * sampler needs: reproducibility (salted hash rank, never `rand()`),
  * exactness (integer quota + unique rank key), and no global or
  * per-stratum sort: rank by a salted 60-bit hash
  * (deterministic, engine-portable in md5 mode — the [[graft.functions.TextFns.hashMode]]
  * discipline), per-stratum quota k_s = ceil(r·n_s) in pure-integer
  * arithmetic (the q111 rule), and the k_s-th smallest (h, doc_id)
  * found by the q111 two-tier rank engine in HASH space — where it is
  * at its very best, because the rank key is uniform with a KNOWN
  * range: the bucket index is `h >> 50` (1024 buckets, no min/max
  * stats pass at all) and bucket sizes are uniform by construction
  * (no skew case exists; q111's tie-collapse is unnecessary because
  * (h, doc_id) is unique). Membership is then a VALUE comparison
  * against the broadcast per-stratum threshold pair — exactly k_s
  * rows per stratum, ties impossible.
  *
  * Hash-mode contract: the SAMPLE MEMBERSHIP depends on the hash tier
  * (md5 for oracle parity, xxhash64 in production); everything
  * STRUCTURAL — per-stratum counts equal to the quota, subset-of-
  * input, determinism under partitioning — is mode-invariant
  * (spec'd). The salt ("samp|") decorrelates the sampler from every
  * other doc_id-keyed hash in the repo (split assignment q34, shard
  * packing q68), so sampling is independent of those assignments.
  */
object Sampling {

  /** Bucket fan-out for the hash-space rank (the carry ledger's
    * per-stratum row bound). 2^60 hash range / 2^50 = 1024 buckets.
    */
  val SampleBuckets = 1024
  private val BucketShift = 50

  /** Sampling rate in tenths: 3 → keep ceil(0.3·n_s) per stratum. */
  val SampleTenths = 3

  /** q112 — per-source 30% deterministic sample of `documents`, exact
    * quota per stratum.
    */
  def quotaSample(spark: SparkSession, dir: String): DataFrame =
    quotaSampleOf(Tables.documents(spark, dir), col("source"),
      SampleTenths).orderBy(col("source"), col("doc_id"))

  /** The sampled (doc_id, stratum) rows: exactly ceil(tenths/10 · n_s)
    * per stratum, smallest salted-hash first, deterministic.
    */
  private[graft] def quotaSampleOf(docs: DataFrame, stratum: Column,
                                        tenths: Int): DataFrame = {
    require(tenths >= 1 && tenths <= 10, s"tenths must be 1..10: $tenths")
    val base = saltedBase(docs, stratum, "samp|")
    val quota = base.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      .select(col("source"), expr(s"($tenths * ns + 9) DIV 10").as("ks"))
    sampleByQuota(base, quota)
  }

  /** The salted-hash rank frame the draw engine runs over: one
    * 2-column scan + the hash + the known-range bucket index, consumed
    * by the quota derivation, the bucket histogram, the threshold
    * ranking and the membership filter (all but the last are broadcast
    * builds racing inside the final job) — sibling consumers, eager
    * fill. The salt decorrelates each sampler from every other
    * doc_id-keyed hash (q34 split, q68 shards, each other).
    */
  private def saltedBase(docs: DataFrame, stratum: Column,
                         salt: String): DataFrame = {
    val base = graft.TransientCache.register(docs
      .select(stratum.as("source"), col("doc_id"))
      .withColumn("h", graft.functions.TextFns.hash60(
        concat(lit(salt), col("doc_id").cast("string"))))
      .withColumn("idx", shiftrightunsigned(col("h"), BucketShift))
      .cache())
    base.count()
    base
  }

  /** The shared draw engine: exactly `ks` rows per stratum (smallest
    * (h, doc_id) first) for ANY per-stratum quota frame — q112 passes
    * ceil(r·n_s), q114 passes the apportioned mix. A stratum with
    * ks = 0 (or absent from `quotas`) yields no candidate bucket and
    * drops out entirely; ks is assumed ≤ n_s (callers cap).
    */
  private[graft] def sampleByQuota(base: DataFrame,
                                   quotas: DataFrame): DataFrame = {
    val wB = Window.partitionBy(col("source")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the ONE bucket per stratum containing the quota boundary
    val cand = base.groupBy(col("source"), col("idx"))
      .agg(count(lit(1)).as("nb"))
      .withColumn("carry", sum(col("nb")).over(wB) - col("nb"))
      .join(broadcast(quotas), Seq("source"))
      .where(col("ks") > col("carry") && col("ks") <= col("carry") + col("nb"))
      .select(col("source"), col("idx"), col("carry"), col("ks"))
    // rank ONLY the candidate bucket's rows (≈ n_s/1024, uniform by
    // hash) and extract the k_s-th smallest (h, doc_id) as the
    // per-stratum threshold pair
    val wIn = Window.partitionBy(col("source"), col("idx"))
      .orderBy(col("h"), col("doc_id"))
    val cut = base.join(broadcast(cand), Seq("source", "idx"))
      .withColumn("rk", row_number().over(wIn) + col("carry"))
      .where(col("rk") === col("ks"))
      .select(col("source"), col("h").as("cut_h"), col("doc_id").as("cut_id"))
    // membership = lexicographic (h, doc_id) ≤ threshold — exactly k_s
    // rows per stratum because the pair is unique
    base.join(broadcast(cut), Seq("source"))
      .where(col("h") < col("cut_h") ||
        (col("h") === col("cut_h") && col("doc_id") <= col("cut_id")))
      .select(col("doc_id"), col("source"))
  }

  /** Oracle: the single-node per-stratum global sort (row_number over
    * the salted md5 hash), same integer quota arithmetic.
    */
  val quotaSampleSql: String = {
    import graft.functions.TextFns.hash60Sql
    val h = hash60Sql("('samp|' || CAST(doc_id AS VARCHAR))")
    s"""WITH b AS (
      |  SELECT doc_id, source, $h AS h FROM documents),
      |k AS (SELECT source, ($SampleTenths * count(*) + 9) // 10 AS ks
      |      FROM b GROUP BY source),
      |r AS (SELECT b.*,
      |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
      |      FROM b)
      |SELECT r.doc_id, r.source
      |FROM r JOIN k USING (source) WHERE r.rn <= k.ks
      |ORDER BY r.source, r.doc_id""".stripMargin
  }

  /** Mix budget as a fraction of the corpus: N = total DIV [[MixDiv]]. */
  val MixDiv = 5

  /** Re-apportionment round bound. The fixpoint loop saturates ≥ 1
    * source per round, so rounds-needed ≤ capped-sources + 1; real
    * mixes cap at most a couple of tiny up-weighted sources, and the
    * Spark side `require`s fixpoint within this bound (LOUD failure)
    * because the oracle unrolls exactly this many rounds — past the
    * fixpoint an apportionment round is idempotent (same unsaturated
    * set + same budget → same quotas), so the unrolled form IS the
    * fixpoint whenever the bound holds, and can never silently
    * diverge from the loop.
    */
  val MixRounds = 4

  /** q114 — the TRAINING-MIX sampler: draw a fixed budget
    * N = total/[[MixDiv]] apportioned across sources by q78's
    * temperature-scaled weights, exactly. This is the op the q78 model
    * exists FOR — turning "source s deserves weight w_s" into an
    * actual drawn document set — and it composes the repo's own
    * pieces: q78's weights (bit-identical across engines, oracle-
    * checked there), LARGEST-REMAINDER apportionment (the house-seats
    * algorithm: floor(N·w_s) each, the L = N − Σfloor leftovers go to
    * the largest fractional parts, (frac DESC, source) total order —
    * so Σ quotas = N exactly, in integer arithmetic over bit-portable
    * doubles), and the [[sampleByQuota]] draw engine with its own
    * salt ("mix|"), so the mix draw is independent of the q112
    * carve-out.
    *
    * An up-weighted tiny source can be apportioned more docs than it
    * HAS (a REAL mix oversamples by replication, q69; a without-
    * replacement draw takes all of the source). [[mixQuotasOf]] runs
    * re-apportionment to FIXPOINT: saturated sources freeze at
    * ks = n_s, their weight leaves the normalizer, and the leftover
    * budget re-apportions over the uncapped remainder — so
    * Σ ks = N exactly whenever N ≤ corpus size (always, N = total/5),
    * never a silent shortfall (spec-forced on a 1000-vs-4-doc
    * fixture). Every round rides the |sources|-row model frame (the
    * q68/q78 bounded-model discipline; the per-round 1-row
    * convergence read is the checkpoint-read precedent class).
    */
  def mixQuotaSample(spark: SparkSession, dir: String): DataFrame =
    mixQuotaSampleOf(Tables.documents(spark, dir))
      .orderBy(col("source"), col("doc_id"))

  private[graft] def mixQuotaSampleOf(docs: DataFrame): DataFrame =
    sampleByQuota(saltedBase(docs, col("source"), "mix|"),
      mixQuotasOf(docs))

  /** One largest-remainder apportionment round over the unsaturated
    * model frame `un` = (source, n_docs, weight, b): floor each
    * source's share of the budget `b`, hand the leftover to the
    * largest fractional parts under the (frac DESC, source) total
    * order. Round 1 uses q78's already-normalized `weight` DIRECTLY —
    * the normalizer over the full source set is q78's own fold, so the
    * common no-cap path pays zero extra jobs over the one-round plan.
    * Rounds ≥ 2 (`renorm`) re-fold `weight` over the unsaturated
    * subset (the q78 source-ordered fold — partition-order-free).
    * Bit-portable: the oracle runs the same ops in the same order per
    * round.
    */
  private def apportionOnce(un: DataFrame, renorm: Boolean): DataFrame = {
    val full = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wR = Window.orderBy(col("frac").desc, col("source"))
    val base =
      if (!renorm) un.withColumn("nw", col("weight"))
      else {
        val rn = un
          .agg(collect_list(struct(col("source"), col("weight"))).as("ws"))
          .select(aggregate(
            transform(array_sort(col("ws")), s => s.getField("weight")),
            lit(0.0), (acc, x) => acc + x).as("rn"))
        un.crossJoin(broadcast(rn)).withColumn("nw", col("weight") / col("rn"))
      }
    base
      .withColumn("raw", col("nw") * col("b"))
      .withColumn("fl", floor(col("raw")))
      .withColumn("frac", col("raw") - col("fl"))
      .withColumn("rk", row_number().over(wR))
      .withColumn("lv", col("b") - sum(col("fl")).over(full))
      .select(col("source"), col("n_docs"), col("weight"), col("b"),
        (col("fl") + when(col("rk") <= col("lv"), 1L).otherwise(0L)).as("q"))
  }

  /** The fixpoint quotas: apportion, freeze any source whose quota
    * exceeds its size at ks = n_s, re-apportion the remaining budget
    * over the rest; stop when no new source saturates. Terminates in
    * ≤ |sources| rounds (each non-final round saturates ≥ 1 source)
    * and the remaining budget always fits the remaining sources
    * (N ≤ Σ n_s ⇒ N − Σ_sat n_s ≤ Σ_unsat n_s), so the fixpoint draw
    * is exactly N. `require`-bounded at [[MixRounds]] — the bound the
    * oracle unrolls to.
    *
    * Job accounting (the fixture-scale bill): each round's quota frame
    * is a cached transient whose fill rides the 1-row convergence read
    * (its first consumer; the draw reads pure cache), the budget is a
    * window column (never a driver read), and round 1 skips the norm
    * fold — so the common no-cap path costs the r13 one-round plan
    * plus exactly one |sources|-frame control job.
    */
  private[graft] def mixQuotasOf(docs: DataFrame): DataFrame = {
    val full = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var un = TextOps.mixtureWeightsOf(docs)
      .select(col("source"), col("n_docs"), col("weight"))
      .withColumn("tot", sum(col("n_docs")).over(full))
      .withColumn("b", expr(s"tot DIV $MixDiv"))
      .drop("tot")
    var satParts = List.empty[DataFrame]
    var result: DataFrame = null
    var rounds = 0
    while (result == null) {
      rounds += 1
      require(rounds <= MixRounds,
        s"mix re-apportionment did not reach fixpoint in $MixRounds rounds " +
          "— raise MixRounds AND unroll the oracle to match")
      val q = graft.TransientCache.register(
        apportionOnce(un, renorm = rounds > 1).cache())
      val o = q.agg(
        count(when(col("q") > col("n_docs"), lit(1))).as("n"),
        coalesce(sum(when(col("q") > col("n_docs"), col("n_docs"))),
          lit(0L)).as("sz")).head()
      if (o.getLong(0) == 0L)
        result = satParts.foldLeft(q.select(col("source"), col("q").as("ks")))(
          _ unionByName _)
      else {
        satParts ::= q.filter(col("q") > col("n_docs"))
          .select(col("source"), col("n_docs").as("ks"))
        un = q.filter(col("q") <= col("n_docs"))
          .select(col("source"), col("n_docs"), col("weight"),
            (col("b") - lit(o.getLong(1))).as("b"))
      }
    }
    result
  }

  /** Oracle: q78's weight arithmetic verbatim, the same integer
    * largest-remainder apportionment UNROLLED to [[MixRounds]] rounds
    * (generated, one CTE block per round — apportionment is idempotent
    * past the fixpoint, so the unrolled form equals the Spark loop
    * whenever the loop's `require` bound holds; see the dialect
    * blacklist in docs/history/PLANS.md for why not a recursive CTE), and the
    * single-node per-stratum sort for the draw.
    */
  val mixQuotaSampleSql: String = {
    import graft.functions.TextFns.hash60Sql
    val h = hash60Sql("('mix|' || CAST(doc_id AS VARCHAR))")
    val rounds = (1 to MixRounds).map { k =>
      val entry =
        if (k == 1)
          s"""u1 AS (SELECT source, n_docs, w / norm AS weight,
             |    total // $MixDiv AS b
             |  FROM w CROSS JOIN nm),
             |a1 AS (SELECT source, n_docs, weight, b, weight * b AS raw,
             |    CAST(FLOOR(weight * b) AS BIGINT) AS fl
             |  FROM u1),""".stripMargin
        else
          s"""s$k AS (SELECT source, n_docs AS ks FROM q${k - 1} WHERE q > n_docs),
             |o$k AS (SELECT CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS osum
             |  FROM q${k - 1} WHERE q > n_docs),
             |u$k AS (SELECT source, n_docs, weight, CAST(b - osum AS BIGINT) AS b
             |  FROM q${k - 1} CROSS JOIN o$k WHERE q <= n_docs),
             |n$k AS (SELECT list_reduce(list_prepend(0.0, list(weight ORDER BY source)),
             |    (a, b) -> a + b) AS rn FROM u$k),
             |a$k AS (SELECT source, n_docs, weight, b, (weight / rn) * b AS raw,
             |    CAST(FLOOR((weight / rn) * b) AS BIGINT) AS fl
             |  FROM u$k CROSS JOIN n$k),""".stripMargin
      entry + "\n" +
        s"""q$k AS (SELECT source, n_docs, weight, b,
           |    fl + CASE WHEN row_number() OVER (ORDER BY raw - fl DESC, source)
           |                <= b - sum(fl) OVER () THEN 1 ELSE 0 END AS q
           |  FROM a$k),""".stripMargin
    }.mkString("\n")
    val sat = (2 to MixRounds)
      .map(k => s"SELECT source, ks FROM s$k").mkString("\n  UNION ALL ")
    s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c),
      |w AS (SELECT source, n_docs, total,
      |    sqrt(CAST(n_docs AS DOUBLE) / total) AS w
      |  FROM c CROSS JOIN tt),
      |nm AS (SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)),
      |    (a, b) -> a + b) AS norm FROM w),
      |$rounds
      |kk AS ($sat
      |  UNION ALL SELECT source, q AS ks FROM q$MixRounds),
      |b AS (SELECT doc_id, source, $h AS h FROM documents),
      |r AS (SELECT b.*,
      |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
      |      FROM b)
      |SELECT r.doc_id, r.source
      |FROM r JOIN kk USING (source) WHERE r.rn <= kk.ks
      |ORDER BY r.source, r.doc_id""".stripMargin
  }

  /** Sampling-interval divisor: m = n_docs DIV [[PpsDiv]] systematic
    * draws through the cumulative token mass.
    */
  val PpsDiv = 20

  /** q117 — PROBABILITY-PROPORTIONAL-TO-SIZE systematic sampling: m
    * draw thresholds spaced evenly through the corpus's cumulative
    * TOKEN mass, documents laid out in deterministic salted-hash order
    * — the "sample by contribution to the training token budget" op.
    * A document's expected draw count is m·w/W (a 10k-token document
    * is 100× likelier than a 100-token one), a document heavier than
    * one stride W/m is drawn MULTIPLE times (`draws` carries the
    * count), zero-token documents are structurally undrawable, and the
    * total Σ draws is EXACTLY m (telescoping: the per-doc count is a
    * difference of floor terms in the cumulative weight) — none of
    * which Poisson sampling or `TABLESAMPLE` gives. Madow's systematic
    * PPS, with the midpoint offset W/2 fixed so the whole op is
    * deterministic pure-INTEGER arithmetic (the q111 rule): doc i with
    * cumulative (c0, c1] is drawn
    * (c1·m + W/2) DIV W − (c0·m + W/2) DIV W times.
    *
    * Scale shape: the cumulative sum is the q112 two-tier discipline
    * in WEIGHT space — per-bucket totals (1024 known-range hash
    * buckets, h ≫ 50) take a ≤1024-row carry cumsum (config-bounded,
    * the q68 shard-offset shape), and the corpus-scale prefix sum runs
    * under the (idx)-PARTITIONED window; membership is pure per-row
    * arithmetic against the broadcast 1-row (W, m) model. No global
    * sort, no corpus-scale single task anywhere. Contracts: requires
    * positive total weight (W = 0 divides by zero LOUDLY under ANSI),
    * and W·m < 2^63 (ANSI overflow is equally loud); past that bound,
    * shard by a first-level stratum and apportion m per shard (the
    * q114 loop) — each shard re-enters this operator whole.
    */
  def ppsSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.toks
    ppsSampleOf(Tables.documents(spark, dir)
        .select(col("doc_id"), graft.functions.TextFns.tokCount(col("text")).cast("long").as("w")))
      .orderBy(col("doc_id"))
  }

  /** The draw engine over an explicit (doc_id, w) frame: every doc with
    * draws ≥ 1, Σ draws = count DIV [[PpsDiv]] exactly.
    *
    * Small-input edge, BY CONTRACT: n < [[PpsDiv]] ⇒ m = n DIV PpsDiv
    * = 0 ⇒ the sample is EMPTY — Σ draws = n DIV PpsDiv holds at every
    * n, including the degenerate prefix, and a 1-in-PpsDiv systematic
    * draw over fewer than PpsDiv rows genuinely rounds to zero draws.
    * This is deliberately NOT a `require` (the loud contracts here are
    * the impossible states: W = 0 divides by zero, W·m overflow fails
    * under ANSI) because an empty sample over a thin slice is a valid
    * answer a caller composing per-partition samples must be able to
    * receive; callers needing at-least-one semantics clamp m
    * themselves.
    */
  private[graft] def ppsSampleOf(docs: DataFrame): DataFrame = {
    // one narrow frame feeds the (W, m) model, the bucket totals and
    // the prefix-sum pass — sibling consumers, eager fill (house rule)
    val base = graft.TransientCache.register(docs
      .select(col("doc_id"), col("w"))
      .withColumn("h", graft.functions.TextFns.hash60(
        concat(lit("pps|"), col("doc_id").cast("string"))))
      .withColumn("idx", shiftrightunsigned(col("h"), BucketShift))
      .cache())
    base.count()
    val model = base.agg(sum(col("w")).as("bigw"), count(lit(1)).as("nd"))
      .select(col("bigw"), expr(s"nd DIV $PpsDiv").as("m"))
    // two-tier exclusive cumsum in global (h, doc_id) order: idx is a
    // monotone coarsening of h, so bucket-carry + in-bucket prefix sum
    // IS the global prefix sum
    val wIdx = Window.orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = base.groupBy(col("idx")).agg(sum(col("w")).as("bw"))
      .withColumn("carry", sum(col("bw")).over(wIdx) - col("bw"))
      .select(col("idx"), col("carry"))
    val wIn = Window.partitionBy(col("idx")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(carry), Seq("idx"))
      .withColumn("c1", col("carry") + sum(col("w")).over(wIn))
      .crossJoin(broadcast(model))
      .withColumn("draws", expr(
        "(c1 * m + bigw DIV 2) DIV bigw - ((c1 - w) * m + bigw DIV 2) DIV bigw"))
      .where(col("draws") > 0)
      .select(col("doc_id"), col("w").as("tokens"), col("draws"))
  }

  /** Oracle: the single-node global-order cumulative sum (one window,
    * deliberately not the two-tier shape), same integer threshold
    * arithmetic. HUGEINT from DuckDB's sum is cast back to BIGINT at
    * the compared surface.
    */
  val ppsSampleSql: String = {
    import graft.functions.TextFns.{hash60Sql, toksSql}
    val h = hash60Sql("('pps|' || CAST(doc_id AS VARCHAR))")
    s"""WITH b AS (
      |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS w, $h AS h
      |  FROM documents),
      |model AS (SELECT CAST(sum(w) AS BIGINT) AS bigw,
      |                 count(*) // $PpsDiv AS m FROM b),
      |c AS (SELECT doc_id, w,
      |        CAST(sum(w) OVER (ORDER BY h, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS c1
      |      FROM b),
      |d AS (SELECT doc_id, w AS tokens,
      |        (c1 * m + bigw // 2) // bigw
      |          - ((c1 - w) * m + bigw // 2) // bigw AS draws
      |      FROM c CROSS JOIN model)
      |SELECT doc_id, tokens, CAST(draws AS BIGINT) AS draws
      |FROM d WHERE draws > 0
      |ORDER BY doc_id""".stripMargin
  }
}
