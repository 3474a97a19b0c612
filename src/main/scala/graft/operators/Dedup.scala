package graft.operators

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus deduplication over `documents` — exact, n-gram-Jaccard,
  * MinHash+LSH, and SimHash near-dup detection. Training-data pipeline
  * extensions (no reference counterpart); the algorithms follow the
  * standard Broder'97 minhash / Charikar'02 simhash recipes as used in
  * LLM-corpus dedup.
  *
  * Scale design:
  *  - Pairwise similarity is NEVER computed by cross join. Exact Jaccard
  *    uses an inverted shingle index (self-equi-join on shingle hash —
  *    shuffle keyed by shingle, pair count bounded by shingle df²);
  *    MinHash/SimHash generate candidates by banding (equi-join on band
  *    signature) and only verify the candidates. That is the 100 TB path:
  *    cost scales with collisions, not corpus².
  *  - Shingles are joined on their 60-bit hash, not the string — shuffle
  *    rows are fixed-width.
  *  - Everything is built-in expressions + hash aggregations; partial aggs
  *    run map-side, and AQE handles the (power-law) shingle-frequency skew.
  */
object Dedup {

  // MinHash family h_j(x) = (a_j*x + b_j) mod P over 60-bit shingle hashes
  // reduced mod P. 16 hashes = 4 bands × 4 rows → LSH threshold s ≈
  // (1/4)^(1/4) ≈ 0.71 steepest, catches >=0.2 pairs with the verify pass.
  val P = 1000000007L
  val A: Seq[Long] = Seq(7, 13, 31, 43, 59, 73, 97, 113, 131, 151, 173, 193, 211, 233, 251, 271)
  val B: Seq[Long] = Seq(3, 17, 29, 41, 53, 71, 89, 107, 127, 149, 167, 191, 209, 229, 241, 263)
  val Bands = 4
  val Rows = 4
  val JaccardThreshold = 0.2

  /** Distinct `(doc_id, sh_h)` shingle rows computed from an explicit
    * documents frame — the generator behind [[shingleIndex]], reusable on
    * a SUBSET of the corpus (the batch side of [[deltaMinhash]] shingles
    * only the nightly batch through this, never the full corpus).
    */
  private[graft] def shingleRowsOf(docs: DataFrame): DataFrame =
    Tables.spread(docs)
      // r18: the tokenize → gram → hash chain is ONE native codegen'd
      // walk (TextFns.shingleFps — parity contract and differential
      // specs in TextExprs/VectorExprsSpec); the r17 HOF form
      // interpreted every per-gram lambda. Per-doc array_distinct stays
      // in a projection BELOW the generator (the shingles3All perf note's
      // 15× hazard was array_distinct re-evaluated per OUTPUT row
      // inside the generator child; this is the safe placement), over
      // fixed-width longs, not gram strings
      .select(col("doc_id"),
        array_distinct(graft.functions.TextFns.shingleFps(col("text"), 0)).as("hs"))
      // explode_outer: the non-outer form lets InferFiltersFromGenerate
      // push a synthesized size(hs)>0 filter into the single-task scan
      // stage (the winnowFingerprintsOf lesson); hs is provably non-null
      // and non-empty (shingles3All's ELSE branch emits one whole-doc
      // gram), so outer ≡ inner and the rule never fires
      .select(col("doc_id"), explode_outer(col("hs")).as("sh_h"))

  /** `(doc_id, sh_h)` — the distinct inverted-index rows, shingle as
    * 60-bit hash. r17: the dedup key is exactly (doc_id, sh_h), so the
    * per-doc `array_distinct` over the hashed array IS the distinct —
    * the old relational `.distinct()` after the explode paid a full
    * Exchange + two hash-aggregates over every shingle OCCURRENCE
    * (corpus-token-scale rows at 100 TB) for the same row set. The tier
    * build is now map-only: scan → spread rebalance → project →
    * generate, zero shuffles (plans/r17/q21_*.txt in git at c3f7ee6: the tier subtree
    * lost its Exchange). No consumer relied on the deleted exchange's
    * (doc_id, sh_h) partitioning: hash(doc_id, sh_h) satisfies neither
    * the doc_id clustering minhashesOf needs nor the sh_h clustering
    * the inverted-index joins need, so every consumer already
    * re-partitions for its own keys.
    *
    * Cached: this is the shared intermediate of q21 AND q22 (Spark's
    * CacheManager matches by logical plan, so both queries hit one
    * InMemoryRelation), and both consume it from several join branches
    * (self-joins recompute uncached lineage once per branch). ~16 B/row —
    * at real corpus scale this would be a persisted intermediate table,
    * which is exactly what production minhash pipelines do.
    */
  private[graft] def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    shingleRowsOf(Tables.documents(spark, dir)).cache()

  private[graft] val shCte =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |sh AS (SELECT doc_id, unnest($shingles3AllSql) AS s FROM toks),
      |shx AS (SELECT DISTINCT doc_id, ${hash60Sql("s")} AS sh_h FROM sh)""".stripMargin

  /** Exact dedup: whitespace-normalized md5 group, canonical = min doc_id.
    * The groupBy key is the hash, so the shuffle carries 32-byte keys
    * regardless of document size.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupOf(Tables.documents(spark, dir))
      .orderBy(col("canonical_id"))

  /** The q20 canonical groups over an explicit documents frame
    * (`doc_id`, `text`) — [[graft.pipelines.CorpusPipeline]]'s exact
    * stage semi-joins its at-rest table against the `canonical_id`s.
    */
  private[graft] def exactDedupOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(array_join(toks(col("text")), " ")).as("k"))
      .groupBy(col("k"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .select(col("canonical_id"), col("n_docs"), col("k"))

  val exactDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |k AS (SELECT doc_id, md5(array_to_string(t, ' ')) AS k FROM toks)
      |SELECT min(doc_id) AS canonical_id, count(*) AS n_docs, k
      |FROM k GROUP BY k ORDER BY canonical_id""".stripMargin

  /** Exact pairwise n-gram Jaccard ≥ 0.2 via inverted shingle index:
    * shared counts from a self-equi-join on shingle hash, per-doc sizes
    * joined back, |A∩B| / (|A|+|B|−|A∩B|). No cross join anywhere.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(spark, dir)
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("da"), col("sh_h"))
    val b = sh.select(col("doc_id").as("db"), col("sh_h"))
    val shared = a.join(b, Seq("sh_h")).filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("shared"))
    shared
      .join(n.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), Seq("da"))
      .join(n.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), Seq("db"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  val ngramJaccardSql: String =
    s"""WITH $shCte,
      |n AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
      |  FROM shx a JOIN shx b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db,
      |  CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
      |FROM shared JOIN n na ON na.doc_id = da JOIN n nb ON nb.doc_id = db
      |WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= $JaccardThreshold
      |ORDER BY da, db""".stripMargin

  /** Source-df ceiling for [[sourceOverlap]]: shingles present in more
    * than this many distinct sources are background phrasing (shared by
    * everyone, zero mirror signal) and — the scale point — would expand
    * the self-join by |sources|² rows EACH. The q86 global-df-guard
    * discipline applied at source granularity.
    */
  val SrcDfCap = 16

  /** q98 — cross-source syndication matrix: for every source pair, how
    * much shingled content both carry — the "which feeds mirror each
    * other" ingest diagnostic (syndicated wire copy, scraped re-posts,
    * wholesale mirrors) a corpus team consults before trusting two
    * sources as independent. Exact-key content mirrors are a subset;
    * shingle granularity also catches partial syndication.
    *
    * Plan: rides the SAME cached shingle index as q21/q22 (no new
    * corpus-scale work); doc→source is a shuffle equi-join on doc_id
    * (both sides corpus-bounded — nothing broadcasts); the per-gram
    * source-df guard is computed FROM the (source, shingle) frame (the
    * q92 single-source discipline) and drops universal background
    * phrases BEFORE the self-join, so the pair expansion is bounded by
    * [[SrcDfCap]]² per gram instead of |sources|²; pair counts and the
    * per-source gram totals aggregate from the same guarded frame, so
    * numerator and denominator can never disagree; containment =
    * n_shared / min(n_a, n_b) is the query's single float division.
    * The guarded (source, shingle) frame is transient-cached with an
    * eager fill — its three consumers (per-source totals and both
    * self-join sides) are sibling stages of one job (the q91 race).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapImpl(shingleIndex(spark, dir),
      Tables.documents(spark, dir), SrcDfCap)

  /** The q98 matrix over an explicit documents frame (shingles derived
    * fresh, cap overridable) — the spec drives the df-guard boundary
    * through this seam.
    */
  private[graft] def sourceOverlapOf(docs: DataFrame,
                                     cap: Int = SrcDfCap): DataFrame =
    sourceOverlapImpl(shingleRowsOf(docs), docs, cap)

  private def sourceOverlapImpl(sh: DataFrame, docs: DataFrame,
                                cap: Int): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    val ks = graft.TransientCache.register(
      sh.join(srcs, Seq("doc_id"))
        .select(col("source"), col("sh_h")).distinct().cache())
    // eager: the df guard's aggregation and kk's join probe are SIBLING
    // stages of the kk fill job — both would race the cold cache and
    // re-run the doc-join + distinct (the q91 race)
    ks.count()
    val keep = ks.groupBy(col("sh_h"))
      .agg(count(lit(1)).as("src_df"))
      .filter(col("src_df") <= cap).select(col("sh_h"))
    val kk = graft.TransientCache.register(ks.join(keep, Seq("sh_h")).cache())
    kk.count()
    val cnt = kk.groupBy(col("source")).agg(count(lit(1)).as("n_keys"))
    val pairs = kk.select(col("source").as("src_a"), col("sh_h"))
      .join(kk.select(col("source").as("src_b"), col("sh_h")), Seq("sh_h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
    pairs
      .join(cnt.select(col("source").as("src_a"), col("n_keys").as("na")),
        Seq("src_a"))
      .join(cnt.select(col("source").as("src_b"), col("n_keys").as("nb")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (col("n_shared").cast("double")
          / least(col("na"), col("nb")).cast("double")).as("containment"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Oracle: the q21 shingle CTE + the identical guard/count/containment
    * chain (`least` on BIGINTs is exact in both engines — the decimal
    * pitfall the verify notes record does not apply).
    */
  val sourceOverlapSql: String =
    s"""WITH $shCte,
      |ks AS (SELECT DISTINCT d.source, shx.sh_h
      |  FROM shx JOIN documents d USING (doc_id)),
      |keep AS (SELECT sh_h FROM ks GROUP BY sh_h
      |  HAVING count(*) <= $SrcDfCap),
      |kk AS (SELECT ks.source, ks.sh_h FROM ks JOIN keep USING (sh_h)),
      |cnt AS (SELECT source, count(*) AS n_keys FROM kk GROUP BY source),
      |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |  FROM kk a JOIN kk b ON a.sh_h = b.sh_h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |  CAST(n_shared AS DOUBLE) / CAST(least(ca.n_keys, cb.n_keys) AS DOUBLE)
      |    AS containment
      |FROM p
      |JOIN cnt ca ON ca.source = src_a
      |JOIN cnt cb ON cb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  /** q61 — delta-vs-corpus dedup: the nightly-ingest shape of near-dup
    * detection at corpus scale. A new batch ("incoming", role-played by
    * `doc_id % 10 >= 8`) is checked against the EXISTING corpus
    * (`doc_id % 10 < 8`) without ever re-pairing the corpus against
    * itself: incoming shingle rows equi-join the corpus side of the
    * persisted inverted index on shingle hash, shared counts aggregate
    * per (incoming, corpus) pair, and exact Jaccard verifies — identical
    * math to q21, one-sided probe. At 100 TB the corpus index is a
    * bucketed at-rest table and the nightly cost is
    * |delta shingles| × collision rate, independent of corpus pair count.
    */
  def deltaDedup(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(spark, dir)
    deltaDedupCore(sh,
      sh.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id").as("di"), col("sh_h")))
  }

  /** The q61 join/verify engine with the batch shingle stream as an
    * argument — [[deltaDedupBloomed]] feeds it the Bloom-thinned stream.
    * Per-doc sizes always come from the FULL shingle frame, so thinning
    * the probe side cannot change any jaccard value.
    */
  private def deltaDedupCore(sh: DataFrame, inc: DataFrame): DataFrame = {
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val corp = sh.filter(col("doc_id") % 10 < 8)
      .select(col("doc_id").as("dc"), col("sh_h"))
    val shared = inc.join(corp, Seq("sh_h"))
      .groupBy(col("di"), col("dc")).agg(count(lit(1)).as("shared"))
    shared
      .join(n.withColumnRenamed("doc_id", "di").withColumnRenamed("n", "ni"), Seq("di"))
      .join(n.withColumnRenamed("doc_id", "dc").withColumnRenamed("n", "nc"), Seq("dc"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("ni") + col("nc") - col("shared")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("di"), col("dc"), col("jaccard"))
      .orderBy(col("di"), col("dc"))
  }

  /** Bloom geometry for the corpus seen-set: 2²¹ bits (256 KB of driver/
    * broadcast state at any corpus size — the point) and 4 hash probes;
    * at sf0.1's ~2·10⁵ distinct corpus shingles the fill is ~0.3 →
    * fp ≈ 1%.
    */
  val BloomMBits = 1 << 21
  val BloomK = 4

  /** The memo key of every signature-bearing corpus state: signatures
    * differ between hash modes, so the mode is part of the key.
    */
  private def modeKey(dir: String): (String, String) =
    (dir, graft.functions.TextFns.hashMode)

  private val bloomMemo = new graft.ContextMemo[(String, String), Array[Long]]

  /** The corpus shingle seen-set as a Bloom bitset, built THROUGH the
    * typed [[graft.functions.BloomSketch]] Aggregator (partial
    * aggregation merges per-partition bitsets by OR — the
    * SketchAlgebraSpec-proven algebra), memoized per (context, dir,
    * hash mode). ⌈m/64⌉ longs of driver state.
    */
  private[graft] def corpusBloom(spark: SparkSession, dir: String): Array[Long] = {
    bloomMemo.get(spark, modeKey(dir)) {
      import spark.implicits._
      shingleIndex(spark, dir).filter(col("doc_id") % 10 < 8)
        .select(col("sh_h")).as[Long]
        .select(graft.functions.BloomSketch.filter(BloomMBits, BloomK))
        .head()
    }
  }

  /** Evict this context's memoized corpus Blooms. */
  def clearCorpusBloom(spark: SparkSession): Unit = bloomMemo.clear(spark)

  /** Scan-stage membership probe against the trained bitset — the
    * native [[org.apache.spark.sql.graft.BloomContains]] expression
    * (the bitset rides the plan as a reference object; a first
    * declarative form with `bit_get(element_at(typedLit(32k longs), …))`
    * chains measured ~1.2 s of filter cost at sf0.1 — the literal was
    * the problem, not the probe). Bit-for-bit the same hash family and
    * word layout as the [[graft.functions.BloomSketch]] Aggregator, so
    * "definitely absent" can never disagree with the filter's builder
    * (agreement spec'd).
    */
  private[graft] def bloomContains(x: Column, bits: Array[Long]): Column =
    org.apache.spark.sql.graft.VectorExprs.bloomContains(x, bits, BloomK)

  /** q84 — q61 with the X23c Bloom tier made real: the batch shingle
    * stream is pre-filtered by the corpus seen-set bitset BEFORE the
    * join, so only possible-duplicate shingles reach the shuffle.
    * False negatives cannot happen (Bloom's guarantee), and a false
    * positive merely lets a non-matching shingle through to the exact
    * join — so the output is IDENTICAL to q61's, which is exactly how
    * it is oracle-checked: q84 shares q61's oracle SQL, and the hash
    * compare passes iff the no-false-negative law holds on real data.
    * At 100 TB this is the reference's seen-set discipline with 256 KB
    * of broadcast state replacing a corpus-wide membership join for
    * the (dominant) fraction of never-seen shingles; the per-doc size
    * frame is untouched, so jaccard values cannot shift.
    */
  def deltaDedupBloomed(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(spark, dir)
    val bits = corpusBloom(spark, dir)
    deltaDedupCore(sh,
      sh.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id").as("di"), col("sh_h"))
        .filter(bloomContains(col("sh_h"), bits)))
  }

  val deltaDedupSql: String =
    s"""WITH $shCte,
      |n AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      |shared AS (
      |  SELECT i.doc_id AS di, c.doc_id AS dc, count(*) AS shared
      |  FROM shx i JOIN shx c ON i.sh_h = c.sh_h
      |  WHERE i.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
      |  GROUP BY 1, 2)
      |SELECT di, dc,
      |  CAST(shared AS DOUBLE) / (ni.n + nc.n - shared) AS jaccard
      |FROM shared JOIN n ni ON ni.doc_id = di JOIN n nc ON nc.doc_id = dc
      |WHERE CAST(shared AS DOUBLE) / (ni.n + nc.n - shared) >= $JaccardThreshold
      |ORDER BY di, dc""".stripMargin

  /** Ordered candidate pairs `(da < db)` from a `(doc_id, band, sig)`
    * band frame: group each (band, sig) bucket and emit the bucket's
    * pairs in ONE pass over the subtree (a bands⋈bands self-join would
    * compute the signature lineage twice — Spark self-joins duplicate
    * the subplan, no exchange reuse). Shared by q22 and q80, so the
    * slice-index-sensitive pair expansion exists exactly once.
    */
  private def candidatePairsOf(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.as("da"), b.as("db")))))).as("p"))
      .select(col("p.da"), col("p.db"))
      .distinct()

  /** MinHash signatures + LSH banding + candidate verification.
    * Pipeline: the shared cached distinct shingle index (one materialize
    * serves q21, the minhash aggregation AND the verify pass — min() per
    * se wouldn't need the distinct, but reusing the cache beats a second
    * scan+explode) → all 16 minhashes as aggregate columns
    * of ONE hash-agg (no j-index explode: that would put 16× the rows
    * through the shuffle and need a second groupBy for bands) → band
    * signatures via posexplode of 4 tiny strings → candidates via
    * [[candidatePairsOf]] → verify candidates with exact Jaccard via
    * array_intersect. Bucket skew (a bucket of c near-identical docs emits
    * c²/2 pairs) is inherent to LSH; the pair explosion happens after the
    * heavy lineage, on (band, sig, ids) rows only.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(shingleIndex(spark, dir))

  /** The q22 pipeline over an explicit `(doc_id, sh_h)` shingle frame —
    * the seam the runtime-envelope probe drives with disjoint blown-up
    * corpora (production passes the shared cached [[shingleIndex]];
    * the logical plan is identical).
    */
  private[graft] def minhashLshFrom(sh: DataFrame): DataFrame = {
    val bands = bandsOf(sh)
    val cand = graft.TransientCache.register(candidatePairsOf(bands)
      // consumed twice (candidate-doc restriction + final verify join):
      // caching a few hundred pairs skips a second minhash/bucket pass;
      // registered for post-materialization eviction (TransientCache)
      .cache())
    // Verify via per-CANDIDATE-doc shingle sets: restrict the cached index
    // to candidate docs (a broadcast semi-join — candidates are a tiny
    // fraction of the corpus), collect each doc's shingle-hash set, then
    // intersect per pair. Distributed end to end — the 13.7 s trap was
    // materializing arrays for ALL docs as a driver-built broadcast; a few
    // hundred candidate rows broadcast fine. The relational shared-count
    // alternative re-shuffles the whole index twice more; this touches it
    // once. At corpus scale candDocs stays broadcastable because LSH
    // candidates are threshold-bounded, not corpus-bounded.
    val candDocs = cand
      .select(explode(array(col("da"), col("db"))).as("doc_id")).distinct()
    val docSets = graft.TransientCache.register(sh
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("sh_h")).as("sh"))
      // consumed by both sides of the pair join (self-joins duplicate the
      // uncached subplan); a few hundred candidate rows
      .cache())
    cand
      .join(broadcast(docSets.select(col("doc_id").as("da"), col("sh").as("sha"))), Seq("da"))
      .join(broadcast(docSets.select(col("doc_id").as("db"), col("sh").as("shb"))), Seq("db"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  val minhashLshSql: String = {
    val minCols = A.indices
      .map(j => s"min((${A(j)} * x + ${B(j)}) % $P) AS v$j").mkString(",\n      |    ")
    val bandSelects = (0 until Bands).map { bd =>
      val vs = (0 until Rows).map(r => s"v${bd * Rows + r}").mkString(", ")
      s"SELECT doc_id, $bd AS band, concat_ws('-', $vs) AS sig FROM mh"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH $shCte,
      |xh AS (SELECT doc_id, sh_h % $P AS x FROM shx),
      |mh AS (
      |  SELECT doc_id,
      |    $minCols
      |  FROM xh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT ba.doc_id AS da, bb.doc_id AS db
      |  FROM bands ba JOIN bands bb
      |    ON ba.band = bb.band AND ba.sig = bb.sig AND ba.doc_id < bb.doc_id),
      |ds AS (SELECT doc_id, $shingles3Sql AS sh FROM toks),
      |v AS (
      |  SELECT da, db, len(list_intersect(sa.sh, sb.sh)) AS inter,
      |    len(sa.sh) AS na, len(sb.sh) AS nb
      |  FROM cand JOIN ds sa ON sa.doc_id = da JOIN ds sb ON sb.doc_id = db)
      |SELECT da, db, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      |FROM v WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $JaccardThreshold
      |ORDER BY da, db""".stripMargin
  }

  /** Per-doc minhash signature columns `(doc_id, v0..v15)` from a
    * `(doc_id, sh_h)` shingle frame — ONE hash-agg for all 16 hashes.
    */
  private def minhashesOf(sh: DataFrame): DataFrame = {
    val shx = sh.withColumn("x", col("sh_h") % P)
    val mins = A.indices.map(j =>
      min((lit(A(j)) * col("x") + lit(B(j))) % P).as(s"v$j"))
    shx.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Per-doc LSH band signatures `(doc_id, band, sig)` from a
    * `(doc_id, sh_h)` shingle frame — the q22 signature pipeline as a
    * reusable builder: one hash-agg for all 16 minhashes, posexplode of
    * [[Bands]] tiny strings. Feeds q22's buckets, and [[corpusIndex]]
    * persists its output as the at-rest band index q74 scans.
    */
  private[graft] def bandsOf(sh: DataFrame): DataFrame = {
    val mh = minhashesOf(sh)
    val bandSigs = array((0 until Bands).map(bd =>
      concat_ws("-", (0 until Rows).map(r => col(s"v${bd * Rows + r}")): _*)): _*)
    mh.select(col("doc_id"), posexplode(bandSigs).as(Seq("band", "sig")))
  }

  /** The at-rest index of the SEEN corpus (q61/q74's `doc_id % 10 < 8`
    * split): three parquet tables under a session-temp warehouse root —
    * `corpus_band_index(doc_id, band, sig)` for candidate generation,
    * `corpus_shingles(doc_id, sh_h)` for candidate verification, and the
    * `corpus_docs(doc_id)` seen-doc manifest (written last on every
    * build/append, so membership means "fully present in every data
    * table" — the O(|docs|) answer to "which docs exist" that the
    * nightly/streaming guards read instead of distinct-scanning the
    * data tables). All
    * [[DataFrame]]s here are plain reads of the written files, so a
    * consumer's corpus-side plan is an index SCAN — no tokenize, shingle
    * or minhash stage touches the corpus after the one-time build (at
    * 100 TB this is the bucketed warehouse table the nightly pipeline
    * appends each verified batch to; the fixture's is built once per
    * context under its [[graft.FixtureRoots]] root).
    */
  private[graft] case class CorpusIndex(bands: DataFrame, shingles: DataFrame,
                                        docs: DataFrame, root: String)

  /** The q74 fixture index: `dir`'s seen corpus at its
    * [[graft.FixtureRoots]] root, re-opened there on every call.
    */
  private[graft] def corpusIndex(spark: SparkSession, dir: String): CorpusIndex = {
    def open(root: String) = corpusIndexAt(spark, root, seenCorpus(spark, dir))
    open(graft.FixtureRoots.root(spark, "bandidx", dir)(open(_)))
  }

  /** The fixture's SEEN corpus (`doc_id % 10 < 8`, q61's convention) —
    * what every at-rest doc index of `dir` is seeded from, the fixture
    * roots and the streaming twins' warehouse indexes alike.
    */
  private[graft] def seenCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 10 < 8)

  /** The corpus index layout ([[graft.pipelines.Warehouse]]'s index
    * protocol): shingle rows, bands derived FROM the at-rest shingles
    * (so a build tokenizes the corpus once), the seen-doc manifest.
    */
  private[graft] val CorpusLayout = graft.pipelines.Warehouse.IndexLayout("doc_id",
    Seq("corpus_shingles" -> shingleRowsOf _, "corpus_band_index" -> bandsOf _),
    "corpus_docs")

  private def corpusIndexOf(root: String, reads: Seq[DataFrame]): CorpusIndex = {
    val Seq(shingles, bands, docs) = reads
    CorpusIndex(bands, shingles, docs, root)
  }

  /** Build-or-reopen the corpus index at an explicit root from an
    * explicit corpus frame — the one build body behind [[corpusIndex]],
    * [[retractedCorpusIndex]], the [[graft.streaming.StreamingDedup]]
    * warehouse index and the [[graft.pipelines.CorpusPipeline]] live
    * index. Tables already at rest are re-opened as they are, so an
    * index under a durable root survives a process restart; a partial
    * first build (shingles committed, bands not) is repaired by deriving
    * the band side from the at-rest shingles.
    */
  private[graft] def corpusIndexAt(spark: SparkSession, root: String,
                                   corpusDocs: => DataFrame): CorpusIndex =
    corpusIndexOf(root,
      new graft.pipelines.Warehouse(spark, root).openIndex(CorpusLayout, corpusDocs))

  /** q74 — fuzzy delta-dedup: the INCREMENTAL twin of q22, and the
    * near-dup analog of q61's exact delta check. A new batch (role-
    * played by `doc_id % 10 >= 8`, q61's convention) is screened for
    * near-duplicates of the SEEN corpus (`doc_id % 10 < 8`) by joining
    * the batch's band signatures against the corpus' persisted band
    * index on (band, sig) — banding collisions only, then exact-Jaccard
    * verification of the candidates, threshold [[JaccardThreshold]].
    *
    * Scale contract (the reference's whole §2.9 story, fuzzified), as
    * implemented: the corpus side of every stage is a scan of the
    * at-rest [[corpusIndex]] tables — candidate generation reads the
    * band index, verification reads the stored shingle rows restricted
    * to candidates — while tokenize/shingle/minhash work runs over the
    * BATCH documents only (the batch filter sits directly on the source
    * scan). Nightly cost therefore scales with the batch plus banding
    * collisions, not the corpus. Machine-checked in TrainingOpsSpec:
    * (1) the delta pair set equals q22's full-corpus pairs restricted
    * to batch×corpus, so the incremental path loses nothing against a
    * full recompute; (2) injecting a poisoned index changes the output,
    * so the corpus side provably comes from the at-rest table, whose
    * own plan is asserted to be a bare file scan.
    */
  def deltaMinhash(spark: SparkSession, dir: String): DataFrame =
    screenAgainstIndex(spark, dir,
      Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8))

  /** The q74 screen with the batch as an argument — the form the nightly
    * loop calls: each night's verified batch is screened against the
    * CURRENT at-rest index, then [[appendToCorpusIndexOf]] advances the
    * index (the reference's §2.9 screen-then-advance cycle,
    * update_raw_stock_movements.py:100-110, fuzzified). `batchDocs` is
    * documents-shaped (`doc_id`, `text`); all tokenize/shingle/minhash
    * work runs over it alone.
    */
  private[graft] def screenAgainstIndex(spark: SparkSession, dir: String,
                                        batchDocs: DataFrame): DataFrame =
    screenAgainstIndexOf(corpusIndex(spark, dir), batchDocs)

  /** Drop batch docs the index has ALREADY ABSORBED — the screens'
    * self-pair guard. The manifest alone is not enough: a doc caught by
    * a crash between a data append and the manifest append has its rows
    * AT REST but no manifest row, and a replayed screen would pair it
    * with its own at-rest rows (jaccard/sim 1.0) and its batch siblings
    * — novel pairs no clean run produces, which a (di, dc) pair
    * anti-join cannot absorb. So: manifest fast path first (O(|docs|)),
    * then a residual probe of the DATA table restricted to a broadcast
    * of the batch's manifest-missing ids (∅ on the no-crash path — the
    * restricted scan shuffles nothing).
    */
  private def unseenBatch(data: DataFrame, manifest: DataFrame,
                          batch: DataFrame): DataFrame = {
    val past = batch.select(col("doc_id")).distinct()
      .join(manifest, Seq("doc_id"), "left_anti")
    val residual = data.join(broadcast(past), Seq("doc_id"), "left_semi")
      .select(col("doc_id")).distinct()
    // dropDuplicates LAST: the at-rest guards only know committed rows,
    // so a doc_id redelivered WITHIN one batch would otherwise ride
    // through twice — doubled signature rows, doubled shared counts
    // (the ANN tier's vec_id lesson, applied to both doc screens)
    batch.join(manifest, Seq("doc_id"), "left_anti")
      .join(broadcast(residual), Seq("doc_id"), "left_anti")
      .dropDuplicates("doc_id")
  }

  /** The q74 screen against an EXPLICIT index — the form consumers with
    * their own at-rest index (the [[graft.pipelines.CorpusPipeline]]
    * live corpus) call; the fixture q74 path delegates here with the
    * [[corpusIndex]] at its fixture root. Contract: a doc the index has already
    * absorbed — even partially, through the append crash window — is
    * never screened, so no doc can pair with its own at-rest rows
    * ([[unseenBatch]]; what makes at-least-once redelivery safe for
    * EVERY caller, not just the streaming loop).
    */
  private[graft] def screenAgainstIndexOf(idx: CorpusIndex,
                                          batchDocs0: DataFrame): DataFrame = {
    val batchDocs = unseenBatch(idx.shingles, idx.docs, batchDocs0)
    // batch-only signature work, straight off the filtered source scan;
    // consumed twice (band build + verify sets) — cached, drained after
    val batchSh = graft.TransientCache.register(
      shingleRowsOf(batchDocs).cache())
    val inc = bandsOf(batchSh).select(col("doc_id").as("di"), col("band"), col("sig"))
    val corp = idx.bands.select(col("doc_id").as("dc"), col("band"), col("sig"))
    val cand = graft.TransientCache.register(
      inc.join(corp, Seq("band", "sig"))
        .select(col("di"), col("dc")).distinct()
        .cache()) // consumed 3x: both doc restrictions + the verify join
    // per-side candidate shingle sets: batch from the transient batch
    // shingles, corpus from the at-rest rows — each restricted by a
    // broadcast semi-join (candidates are collision-bounded, not
    // corpus-bounded) and consumed once, so neither needs a cache
    val setsI = batchSh
      .join(broadcast(cand.select(col("di").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("sh_h")).as("sha"))
      .select(col("doc_id").as("di"), col("sha"))
    val setsC = idx.shingles
      .join(broadcast(cand.select(col("dc").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("sh_h")).as("shb"))
      .select(col("doc_id").as("dc"), col("shb"))
    cand
      .join(setsI, Seq("di"))
      .join(setsC, Seq("dc"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("di"), col("dc"), col("jaccard"))
      .orderBy(col("di"), col("dc"))
  }

  /** Advance the at-rest corpus index with a verified batch — the
    * append half of the reference's §2.9 screen-then-advance cycle
    * (update_raw_stock_movements.py:100-110), through the
    * [[graft.pipelines.Warehouse]] index protocol; returns fresh reads
    * of the widened index.
    */
  private[graft] def appendToCorpusIndexOf(idx: CorpusIndex,
                                           batchDocs: DataFrame): CorpusIndex =
    corpusIndexOf(idx.root, new graft.pipelines.Warehouse(batchDocs.sparkSession,
      idx.root).appendIndex(CorpusLayout, batchDocs))

  /** The retraction against an explicit index. Every index row is
    * per-doc and content-deterministic, so the manifest-first swaps are
    * EXACTLY a rebuild without those docs (spec'd table by table in
    * RetractionSpec); a re-offer of a retracted doc counts as novel
    * again (its manifest row is gone).
    */
  private[graft] def retractFromCorpusIndexOf(idx: CorpusIndex,
                                              docIds: DataFrame): CorpusIndex =
    corpusIndexOf(idx.root, new graft.pipelines.Warehouse(docIds.sparkSession,
      idx.root).retractIndex(CorpusLayout, docIds))

  /** The q74 full-rebuild oracle with the CORPUS-side membership as a
    * parameter — shared by the standing q74 oracle (the whole `%10<8`
    * corpus) and the q127 retraction oracle (the corpus minus the
    * retracted ninth): only the candidate join's corpus side narrows;
    * the signature CTEs stay whole-table (a retracted doc's bands can
    * only matter through `c`, which the predicate excludes).
    */
  private def deltaMinhashSqlWith(corpusPred: String): String = {
    val minCols = A.indices
      .map(j => s"min((${A(j)} * x + ${B(j)}) % $P) AS v$j").mkString(",\n      |    ")
    val bandSelects = (0 until Bands).map { bd =>
      val vs = (0 until Rows).map(r => s"v${bd * Rows + r}").mkString(", ")
      s"SELECT doc_id, $bd AS band, concat_ws('-', $vs) AS sig FROM mh"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH $shCte,
      |xh AS (SELECT doc_id, sh_h % $P AS x FROM shx),
      |mh AS (
      |  SELECT doc_id,
      |    $minCols
      |  FROM xh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT i.doc_id AS di, c.doc_id AS dc
      |  FROM bands i JOIN bands c ON i.band = c.band AND i.sig = c.sig
      |  WHERE i.doc_id % 10 >= 8 AND $corpusPred),
      |ds AS (SELECT doc_id, $shingles3Sql AS sh FROM toks),
      |v AS (
      |  SELECT di, dc, len(list_intersect(sa.sh, sb.sh)) AS inter,
      |    len(sa.sh) AS na, len(sb.sh) AS nb
      |  FROM cand JOIN ds sa ON sa.doc_id = di JOIN ds sb ON sb.doc_id = dc)
      |SELECT di, dc, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      |FROM v WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $JaccardThreshold
      |ORDER BY di, dc""".stripMargin
  }

  val deltaMinhashSql: String = deltaMinhashSqlWith("c.doc_id % 10 < 8")

  /** q80 — signature-space similarity estimate (Broder '97's estimator):
    * for every LSH candidate pair, the fraction of MATCHING minhash
    * components — an unbiased Jaccard estimate computed from the 16-long
    * signatures alone, never touching shingle sets. This is the tier
    * real pipelines insert between banding and exact verification at
    * 100 TB: signatures are fixed-width (16 longs/doc), so the estimate
    * join moves constant-size rows where q22's exact verify moves whole
    * shingle sets; pairs failing a signature cut never reach the
    * expensive verify. `est = n_match/16` is a BINARY fraction — every
    * value is an exact double, so the output hash-matches with no
    * ordered-fold machinery at all.
    *
    * Plan: the shared shingle index → one hash-agg for all signatures
    * (transient-cached: consumed by banding AND both pair sides) →
    * banding candidates exactly as q22 → join the signature arrays back
    * to both pair sides, `zip_with` equality sum in the scan stage.
    * Structural invariant (spec'd): banding guarantees every candidate
    * shares ≥ one full band = [[Rows]] consecutive components, so
    * n_match >= 4 always.
    */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val mh = graft.TransientCache.register(
      minhashesOf(shingleIndex(spark, dir))
        .select(col("doc_id"), array(A.indices.map(j => col(s"v$j")): _*).as("mhsig"))
        .cache()) // consumed by banding + both sides of the pair join
    val bands = mh.select(col("doc_id"), posexplode(
      array((0 until Bands).map(bd =>
        concat_ws("-", (0 until Rows).map(r =>
          col("mhsig").getItem(bd * Rows + r)): _*)): _*)).as(Seq("band", "sig")))
    val cand = candidatePairsOf(bands)
    cand
      .join(mh.select(col("doc_id").as("da"), col("mhsig").as("sa")), Seq("da"))
      .join(mh.select(col("doc_id").as("db"), col("mhsig").as("sb")), Seq("db"))
      .withColumn("n_match", aggregate(
        zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, m) => acc + m))
      .select(col("da"), col("db"), col("n_match").cast("int").as("n_match"),
        (col("n_match").cast("double") / A.size).as("est"))
      .orderBy(col("da"), col("db"))
  }

  val minhashEstimateSql: String = {
    val minCols = A.indices
      .map(j => s"min((${A(j)} * x + ${B(j)}) % $P) AS v$j").mkString(",\n      |    ")
    val bandSelects = (0 until Bands).map { bd =>
      val vs = (0 until Rows).map(r => s"v${bd * Rows + r}").mkString(", ")
      s"SELECT doc_id, $bd AS band, concat_ws('-', $vs) AS sig FROM mh"
    }.mkString("\n      |  UNION ALL ")
    val matchSum = A.indices
      .map(j => s"(CASE WHEN a.v$j = b.v$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $shCte,
      |xh AS (SELECT doc_id, sh_h % $P AS x FROM shx),
      |mh AS (
      |  SELECT doc_id,
      |    $minCols
      |  FROM xh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT ba.doc_id AS da, bb.doc_id AS db
      |  FROM bands ba JOIN bands bb
      |    ON ba.band = bb.band AND ba.sig = bb.sig AND ba.doc_id < bb.doc_id)
      |SELECT da, db, CAST(($matchSum) AS INT) AS n_match,
      |  CAST(($matchSum) AS DOUBLE) / ${A.size} AS est
      |FROM cand JOIN mh a ON a.doc_id = da JOIN mh b ON b.doc_id = db
      |ORDER BY da, db""".stripMargin
  }

  /** 32-bit SimHash signature per document: frequency-weighted bit votes
    * over token hashes. The vote is linear in token frequency, so summing
    * ±1 per OCCURRENCE equals the cnt-weighted sum per distinct token —
    * no (doc, token) pre-aggregation needed — and the 32 bit-votes are 32
    * aggregate columns of ONE hash-agg rather than a ×32 row explode:
    * a single shuffle of |docs| rows with map-side partials, where the
    * exploded shape pushed tokens×32 rows into two aggregations.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir).orderBy(col("doc_id"))

  private[graft] def simhashSig(spark: SparkSession, dir: String): DataFrame = {
    val votes = (0 until 32).map(b =>
      sum((shiftright(col("h"), b).bitwiseAND(lit(1L))) * 2 - 1).as(s"v$b"))
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .select(col("doc_id"), hash60(col("token")).as("h"))
      .groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      // one row per doc; cached so the band self-join in simhashPairs does
      // not recompute the token-vote lineage for both sides
      .cache()
  }

  private val simhashCte: String =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
      |tc AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |th AS (SELECT doc_id, cnt, ${hash60Sql("token")} AS h FROM tc),
      |votes AS (
      |  SELECT doc_id, b, sum(cnt * (((h >> CAST(b AS INT)) & 1) * 2 - 1)) AS vote
      |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bs
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashCte
      |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM sig ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: candidates from 8-bit band collisions (any of
    * the 4 bytes equal — by pigeonhole, hamming ≤ 3 over 4 bytes leaves at
    * least one byte untouched, so banding has perfect recall at this
    * threshold), verified by exact Hamming distance ≤ 3.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsUnsorted(spark, dir).orderBy(col("da"), col("db"))

  /** The verified pair set without the presentation sort — downstream
    * consumers (q45 clustering) feed it straight into a join, where a
    * sort would be a wasted exchange.
    */
  private[operators] def simhashPairsUnsorted(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashSig(spark, dir)
    val banded = sig.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("byte", expr("shiftright(simhash, k * 8) & 255"))
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.k") === col("y.k") && col("x.byte") === col("y.byte") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("x.simhash").as("ha"),
        col("y.doc_id").as("db"), col("y.simhash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 3)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** The CTE chain up to `cand` (candidate simhash pairs), shared with
    * the q45 cluster oracle in [[Graph]].
    */
  val simhashPairsCtes: String =
    s"""$simhashCte,
      |banded AS (
      |  SELECT doc_id, CAST(simhash AS BIGINT) AS simhash, k,
      |    (CAST(simhash AS BIGINT) >> (CAST(k AS INT) * 8)) & 255 AS byte
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS da, x.simhash AS ha, y.doc_id AS db, y.simhash AS hb
      |  FROM banded x JOIN banded y
      |    ON x.k = y.k AND x.byte = y.byte AND x.doc_id < y.doc_id)""".stripMargin

  val simhashPairsSql: String =
    s"""WITH $simhashPairsCtes
      |SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
      |ORDER BY da, db""".stripMargin

  /** Mega-block ceiling for [[fuzzyTitlePairs]]: blocks above this size
    * (~8M metric calls at 4096²/2) get their prefix key refined — the
    * point where one Zipf-skewed block would dominate a single task.
    */
  val FuzzyMaxBlock = 4096

  /** Title + blocking-key projection shared by the exact and guarded
    * fuzzy-match paths.
    *
    * Portability: Spark's levenshtein counts CHARACTERS, DuckDB's counts
    * BYTES (probed: levenshtein('é','e') = 1 vs 2), so the title is
    * projected to printable ASCII first — after that, bytes ≡ chars and
    * the engines agree by construction, not by fixture accident.
    */
  private[graft] def titleBlocks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^ -~]", ""), 1, 24)
          .as("title"))
      .withColumn("blk_p", substring(col("title"), 1, 2))
      .withColumn("blk_l", (length(col("title")) / 8).cast("int"))

  /** Mega-block guard: blocks whose row count exceeds `maxBlock` get
    * their join key refined from the 2-char prefix to a 6-char prefix
    * (marked so refined keys can never collide with unrefined ones).
    * The oversized-block set is found with one hash-agg and broadcast —
    * it is bounded by the distinct block count, not the corpus.
    *
    * Recall trade-off (deliberate, documented): inside an oversized
    * block, pairs that differ within their first 6 characters are no
    * longer compared. Blocks at or under the ceiling are byte-identical
    * to the unguarded path. The refined key can itself still be skewed
    * by an adversary (≥ maxBlock titles sharing 6 chars AND a length
    * bucket); that residue is the plain AQE skew-join case — the key is
    * still an equi-join key, and cost is bounded by (refined block)².
    */
  private[graft] def withEffectiveBlock(titled: DataFrame, maxBlock: Int): DataFrame = {
    val big = titled.groupBy(col("blk_p"), col("blk_l")).count()
      .filter(col("count") > maxBlock)
      .select(col("blk_p"), col("blk_l"), lit(true).as("__big"))
    titled.join(broadcast(big), Seq("blk_p", "blk_l"), "left")
      .withColumn("blk_eff",
        when(col("__big"), concat(lit("B:"), substring(col("title"), 1, 6)))
          .otherwise(col("blk_p")))
      .drop("__big")
  }

  /** q51 — blocked edit-distance matching: document "titles" (normalized
    * 24-char prefixes) within the same block are paired when their
    * Levenshtein distance is ≤ 3. Blocking on (2-char prefix, length
    * bucket) bounds the quadratic comparison to block-local pairs — the
    * standard record-linkage shape: an O(n²·d²) metric is only ever
    * evaluated inside blocks, never across the corpus, and the block key
    * is a plain equi-join key (shuffle on it). Blocks above `maxBlock`
    * rows are refined by [[withEffectiveBlock]] before pairing, so a
    * Zipf-skewed prefix cannot produce an unbounded block² task at
    * corpus scale.
    */
  def fuzzyTitlePairs(docs: DataFrame, maxBlock: Int = FuzzyMaxBlock): DataFrame = {
    // the titles projection (regex normalize over every document) is
    // consumed THREE times — the guard's block-count agg plus both sides
    // of the pairing self-join (Spark self-joins duplicate the uncached
    // subplan). Caching it makes the guard's extra scan a cache read:
    // r5 measured the uncached form at 3.5 s vs 2.4 s unguarded, almost
    // all of it the repeated document scans. ~30 B/row, transient,
    // evicted after the query's own job (TransientCache).
    val titled = graft.TransientCache.register(titleBlocks(docs).cache())
    val eff = withEffectiveBlock(titled, maxBlock)
    val a = eff.select(col("doc_id").as("da"), col("title").as("ta"),
      col("blk_eff"), col("blk_l"))
    val b = eff.select(col("doc_id").as("db"), col("title").as("tb"),
      col("blk_eff"), col("blk_l"))
    a.join(b, Seq("blk_eff", "blk_l"))
      .filter(col("da") < col("db"))
      // |len(a)-len(b)| > 3 ⇒ dist > 3: an O(1) guard that skips the
      // metric for most cross-length pairs the 8-wide length bucket lets
      // through (pure pruning — cannot change the output set)
      .filter(abs(length(col("ta")) - length(col("tb"))) <= 3)
      // threshold form: banded O(n·k) DP with early exit (returns -1 when
      // the distance exceeds 3) instead of the full O(n²) table — same
      // dist values for every surviving pair, so the oracle is untouched
      .withColumn("dist", levenshtein(col("ta"), col("tb"), 3))
      .filter(col("dist").between(0, 3))
      .select(col("da"), col("db"), col("dist").cast("long").as("dist"))
      .orderBy(col("da"), col("db"))
  }

  /** q51 front door: guarded pairing at the default ceiling. No sf-scale
    * block comes near [[FuzzyMaxBlock]], so the oracle sees exactly the
    * unguarded output; at 100 TB the guard is live on the same code path
    * (not a prose-only production variant).
    */
  def fuzzyTitles(spark: SparkSession, dir: String): DataFrame =
    fuzzyTitlePairs(Tables.documents(spark, dir))

  val fuzzyTitlesSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(lower(text), '[^ -~]', '', 'g'), 1, 24) AS title
      |  FROM documents),
      |blk AS (
      |  SELECT doc_id, title, substr(title, 1, 2) AS blk_p,
      |    CAST(len(title) // 8 AS INTEGER) AS blk_l
      |  FROM t)
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
      |FROM blk a JOIN blk b
      |  ON a.blk_p = b.blk_p AND a.blk_l = b.blk_l AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.title, b.title) <= 3
      |ORDER BY da, db""".stripMargin

  // ————————————————— Winnowing (Schleimer et al. 2003) —————————————————

  /** Winnowing window width, in grams. With [[WinnowK]]-gram shingles the
    * detection guarantee is: any shared token run of length ≥ w + k − 1
    * (= 10 tokens) yields at least one full gram window common to both
    * docs, whose minimum hash is therefore selected by both — a shared
    * fingerprint is certain, not probabilistic (unlike MinHash banding).
    * Expected fingerprint density is 2/(w+1) of the grams.
    */
  val WinnowW = 8
  val WinnowK = 3 // gram length — reuses the shared 3-gram generator

  /** Mega-bucket guard for the pair join: fingerprints present in more
    * than this many docs are boilerplate (a globally small hash value
    * gets selected by every doc containing its gram) and are dropped
    * before pair expansion — MOSS's "ignore overly common fingerprints"
    * rule, and this suite's q51/q73 bounded-block discipline. Dormant at
    * fixture scale (max observed df 23 at sf0.1); the oracle applies the
    * same rule, so the guard is exercised structurally, not silently.
    */
  val WinnowMaxDf = 1000

  /** Pair-report floor: ≥ 2 shared fingerprints. */
  val WinnowMinShared = 2

  /** Per-doc winnowed fingerprint set over an explicit documents frame:
    * positional 3-gram hashes, per-window minima (window = [[WinnowW]]
    * consecutive grams), distinct selected values. Docs with fewer than
    * w grams get one global-min fingerprint (the pos ≤ max(m−w+1, 1)
    * clamp keeps exactly the first — frame-clipped — window for them).
    * Null-text docs are dropped up front (parquet-pushed predicate; the
    * oracle CTE carries the same WHERE, so the semantics are pinned).
    *
    * Scale (r17 rewrite): the per-window minima are computed INSIDE the
    * per-doc hash array (`transform(sequence(1, max(m−w+1, 1)), p →
    * array_min(slice(hs, p, w)))`) — pure codegen'd array expressions in
    * the same map stage as tokenize/gram/hash — and only the SELECTED
    * fingerprints are exploded into the relational distinct. The
    * previous formulation exploded every gram occurrence and ran a
    * doc-partitioned sliding `min().over(window)`: semantically
    * identical (the window frame `[current, +w−1]` clipped at the
    * partition end ≡ the NULL-ignoring `least` over `get`s clipped at
    * the array end; the pos filter becomes the sequence bound), but it
    * paid one extra Exchange (hashpartitioning(doc_id) for the window)
    * + a sort over every gram OCCURRENCE + non-codegen WindowExec frame
    * re-evaluation. Plan at sf0.1: 2 Exchanges → 1 (the spread
    * rebalance + ONE distinct exchange; the window exchange+sort are
    * gone — plans/r17/q85_*.txt, in git at c3f7ee6). Wall at sf0.1 is NEUTRAL (min-of-3
    * back-to-back 0.47–0.67 s both ways: tokenize+gram+hash dominates
    * and the deleted shuffle is ~260 k fixed-width rows here); the win
    * is the SCALE shape — at 100 TB the deleted Exchange is a full
    * shuffle of the gram stream (~gram-count × 28 B rows), the
    * doc-partitioned sort is gone with it, and the explode now carries
    * ~2/(w+1) of the rows into the distinct instead of every gram.
    * q85/q86/q88, the winnow/winidx tiers, the streamed twin and the
    * retraction fixture all ride this one body.
    *
    * Plan-shape rules kept from the previous formulation:
    *
    *   - grams are hashed INSIDE the array (`transform(gs, hash60)`)
    *     before the generator, so the explode carries fixed-width
    *     longs, never gram strings;
    *   - the generator is `explode_outer`, NOT `explode`: for the
    *     non-outer form over a plain attribute, InferFiltersFromGenerate
    *     synthesizes `size(fps) > 0 AND isnotnull(fps)`, and predicate
    *     pushdown rewrites that through the projections and the spread
    *     exchange into the SCAN stage — re-running the entire
    *     tokenize+gram build serially in the (single-file ⇒ single-task)
    *     scan. Measured at sf0.1: 11.5 s of the tier's ~20 s sat in that
    *     one-task stage. `fps` is provably non-null and non-empty given
    *     text IS NOT NULL (shingles3All's ELSE branch emits one
    *     whole-doc gram, so m ≥ 1 and the position sequence is ≥ 1
    *     long), so outer ≡ inner here and the rule (which skips outer
    *     generates) never fires.
    */
  private[graft] def winnowFingerprintsOf(docs: DataFrame): DataFrame = {
    Tables.spread(docs.filter(col("text").isNotNull))
      // r18: the whole tokenize → gram → hash → window-min chain is ONE
      // native codegen'd walk (TextFns.shingleFps with w = WinnowW —
      // parity contract and differential specs in TextExprs /
      // VectorExprsSpec, including the short-doc frame clip the r17
      // least(get...) form encoded). Still a projection BELOW the
      // generator (the shingleRowsOf discipline — the generator child
      // must be a plain column reference).
      .select(col("doc_id"),
        graft.functions.TextFns.shingleFps(col("text"), WinnowW).as("fps"))
      .select(col("doc_id"), explode_outer(col("fps")).as("fp_h"))
      .distinct()
  }

  /** The shared winnowed-fingerprint index — the cached intermediate of
    * q85 (the at-rest artifact) and q86 (the pair detector), same
    * role/lifecycle as [[shingleIndex]]. ~16 B/row, ~2/(w+1) the gram
    * count; at real corpus scale this is a persisted table.
    */
  private[graft] def winnowIndex(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsOf(Tables.documents(spark, dir)).cache()

  /** q85 — winnowed document fingerprints (the MOSS selection): the
    * deterministic-guarantee counterpart of minhash sketching. q19's
    * fingerprints identify DOCUMENTS (whole-text hashes); these identify
    * CONTENT RUNS — any ≥ w+k−1-token overlap between two docs is
    * certain to surface as a shared row here.
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowIndex(spark, dir).orderBy(col("doc_id"), col("fp_h"))

  private val winnowCte: String =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents
      |  WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, $shingles3AllSql AS gs FROM toks),
      |p AS (SELECT doc_id, len(gs) AS m,
      |  CAST(unnest(range(1, len(gs)+1)) AS INT) AS pos, gs FROM g),
      |grams AS (SELECT doc_id, m, pos, ${hash60Sql("gs[pos]")} AS h FROM p),
      |wmin AS (SELECT doc_id, m, pos,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp_h
      |  FROM grams),
      |fp AS (SELECT DISTINCT doc_id, fp_h FROM wmin
      |  WHERE pos <= greatest(m - $WinnowW + 1, 1))""".stripMargin

  val winnowFingerprintsSql: String =
    s"""WITH $winnowCte
      |SELECT doc_id, fp_h FROM fp ORDER BY doc_id, fp_h""".stripMargin

  /** q86 — overlap pairs from the winnowed fingerprints: inverted-index
    * self-equi-join on fp_h (the q21 discipline — cost ∝ fingerprint
    * collisions, never corpus²), df ≤ [[WinnowMaxDf]] boilerplate guard
    * before expansion, pairs with ≥ [[WinnowMinShared]] shared
    * fingerprints, similarity = shared / min(|fpa|, |fpb|) (the MOSS
    * report metric; an exact integer ratio, so the double division is
    * bit-identical cross-engine). Because winnowing's guarantee is
    * deterministic, a pair sharing any ≥ w+k−1-token run with two
    * distinct window minima CANNOT be missed — machine-checked in
    * WinnowSpec by injected-span detection.
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOf(winnowIndex(spark, dir))

  /** The q86 pair detector over an explicit fingerprint frame — shared
    * by [[winnowPairs]] and the incremental-vs-rebuild differential
    * specs (which run it over night-restricted universes).
    */
  private[graft] def winnowPairsOf(fp: DataFrame): DataFrame = {
    // consumed 3× (nf + both sides of the pair self-join) — self-joins
    // duplicate the uncached subplan (the q22 lesson), so the df-guarded
    // projection is materialized once (fixed-width rows, transient)
    val keep = graft.TransientCache.register(fp.join(
      fp.groupBy(col("fp_h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= WinnowMaxDf),
      Seq("fp_h"))
      .select(col("doc_id"), col("fp_h"))
      .cache())
    // nf is consumed by BOTH report joins (da and db side): aggregate it
    // once and cache, so the per-doc counts are one exchange, not two —
    // before r17 the two nf subtrees happened to collapse via exchange
    // reuse only while the df guard was broadcast-shaped (fixture-size
    // artifact); the cache makes the single build unconditional
    val nf = graft.TransientCache.register(
      keep.groupBy(col("doc_id")).agg(count(lit(1)).as("nf")).cache())
    val shared = keep.select(col("doc_id").as("da"), col("fp_h"))
      .join(keep.select(col("doc_id").as("db"), col("fp_h")), Seq("fp_h"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
    shared
      .join(nf.withColumnRenamed("doc_id", "da").withColumnRenamed("nf", "nfa"), Seq("da"))
      .join(nf.withColumnRenamed("doc_id", "db").withColumnRenamed("nf", "nfb"), Seq("db"))
      .withColumn("sim", col("shared").cast("double") / least(col("nfa"), col("nfb")))
      .select(col("da"), col("db"), col("shared"), col("sim"))
      .orderBy(col("da"), col("db"))
  }

  val winnowPairsSql: String =
    s"""WITH $winnowCte,
      |df AS (SELECT fp_h, count(*) AS df FROM fp GROUP BY 1),
      |keep AS (SELECT doc_id, f.fp_h FROM fp f JOIN df USING (fp_h)
      |  WHERE df <= $WinnowMaxDf),
      |nf AS (SELECT doc_id, count(*) AS nf FROM keep GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
      |  FROM keep a JOIN keep b ON a.fp_h = b.fp_h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
      |SELECT da, db, shared,
      |  CAST(shared AS DOUBLE) / least(na.nf, nb.nf) AS sim
      |FROM shared JOIN nf na ON na.doc_id = da JOIN nf nb ON nb.doc_id = db
      |ORDER BY da, db""".stripMargin

  // ——————————— At-rest winnow index + nightly append (q88) ———————————

  /** The winnow tier's at-rest twin of [[CorpusIndex]] — what the q85
    * scaladoc promised ("at real corpus scale this is a persisted
    * table"), now the same §2.9 closed loop the fuzzy tier has:
    * `corpus_winnow(doc_id, fp_h)` holds the SEEN corpus' winnowed
    * fingerprints, `corpus_winnow_docs(doc_id)` is the seen-doc
    * manifest (written LAST on every build/append, so membership means
    * "fingerprints fully at rest"). Both frames are plain reads of the
    * written files — a consumer's corpus-side plan is an index scan;
    * no tokenize/gram/window stage touches the corpus after the
    * one-time build.
    */
  private[graft] case class WinnowIndex(fingerprints: DataFrame,
                                        docs: DataFrame, root: String)

  private[graft] val WinnowLayout = graft.pipelines.Warehouse.IndexLayout("doc_id",
    Seq("corpus_winnow" -> winnowFingerprintsOf _), "corpus_winnow_docs")

  private def winnowIndexOf(root: String, reads: Seq[DataFrame]): WinnowIndex = {
    val Seq(fingerprints, docs) = reads
    WinnowIndex(fingerprints, docs, root)
  }

  /** Build-or-reopen the winnow index at an explicit root — the one
    * build body behind [[winnowIndexAtRest]], the
    * [[graft.streaming.StreamingWinnow]] warehouse index and the
    * pipeline's live winnow index.
    */
  private[graft] def winnowIndexAt(spark: SparkSession, root: String,
                                   corpusDocs: => DataFrame): WinnowIndex =
    winnowIndexOf(root,
      new graft.pipelines.Warehouse(spark, root).openIndex(WinnowLayout, corpusDocs))

  /** The q88 fixture index, re-opened at its [[graft.FixtureRoots]] root
    * ([[corpusIndex]]'s discipline).
    */
  private[graft] def winnowIndexAtRest(spark: SparkSession, dir: String): WinnowIndex = {
    def open(root: String) = winnowIndexAt(spark, root, seenCorpus(spark, dir))
    open(graft.FixtureRoots.root(spark, "winidx", dir)(open(_)))
  }

  private[graft] def appendToWinnowIndexOf(idx: WinnowIndex,
                                           batchDocs: DataFrame): WinnowIndex =
    winnowIndexOf(idx.root, new graft.pipelines.Warehouse(batchDocs.sparkSession,
      idx.root).appendIndex(WinnowLayout, batchDocs))

  private[graft] def retractFromWinnowIndexOf(idx: WinnowIndex,
                                              docIds: DataFrame): WinnowIndex =
    winnowIndexOf(idx.root, new graft.pipelines.Warehouse(docIds.sparkSession,
      idx.root).retractIndex(WinnowLayout, docIds))

  // ---------- q127: the retraction lane on the gate, per-row-store flavor

  /** The q127 fixture: the q74 at-rest band index built through the
    * normal path, then [[retractFromCorpusIndexOf]]-ed of the shared
    * retraction predicate ([[QuantileIndex.RetractPredSql]] — the same
    * ninth of the corpus q126 retracts). Its OWN fixture root: the
    * shared q74 index must never see the retraction.
    */
  private[graft] def retractedCorpusIndex(spark: SparkSession,
                                          dir: String): CorpusIndex = {
    def open(root: String) = corpusIndexAt(spark, root,
      seenCorpus(spark, dir).select(col("doc_id"), col("text")))
    open(graft.FixtureRoots.root(spark, "rbandidx", dir) { root =>
      retractFromCorpusIndexOf(open(root), Tables.documents(spark, dir)
        .filter(expr(QuantileIndex.RetractPredSql)).select(col("doc_id")))
    })
  }

  /** q127 — the retraction lane on the driver gate for the PER-ROW-STORE
    * flavor (q126 proves the additive flavor): q74's screen, plan
    * VERBATIM, against an at-rest band index that has RETRACTED a ninth
    * of the corpus via the manifest-first anti-join swaps. The oracle
    * narrows ONLY the candidate join's corpus side to the survivors, so
    * the driver hash compare passes iff the three-table swap left the
    * screen behaving exactly like an index that never ingested the
    * retracted docs — no ghost candidate pairs, no lost survivor rows,
    * bit for bit (the swap ≡ rebuild equivalence of RetractionSpec,
    * now hash-proved cross-engine).
    */
  def retractMinhash(spark: SparkSession, dir: String): DataFrame =
    screenAgainstIndexOf(retractedCorpusIndex(spark, dir),
      Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8))

  /** Oracle: the q74 full-rebuild formulation restricted to the
    * surviving corpus docs.
    */
  val retractMinhashSql: String =
    deltaMinhashSqlWith("c.doc_id % 10 < 8 AND c.doc_id % 9 <> 4")

  /** q88 — winnow delta-screen: the INCREMENTAL twin of q86, and the
    * deterministic-guarantee analog of q74. The batch (q61's
    * `doc_id % 10 >= 8` convention) is screened for content-run overlap
    * with the SEEN corpus by joining its winnowed fingerprints against
    * the persisted [[winnowIndexAtRest]] — fingerprint collisions only,
    * then the q86 report (df ≤ [[WinnowMaxDf]] boilerplate guard,
    * shared ≥ [[WinnowMinShared]], sim = shared/min(nf)).
    */
  def deltaWinnow(spark: SparkSession, dir: String): DataFrame =
    screenWinnowAgainstIndex(spark, dir,
      Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8))

  /** The q88 screen with the batch as an argument — the nightly-loop
    * form (screen, then [[appendToWinnowIndexOf]] advances the index).
    *
    * Scale contract, mirroring [[screenAgainstIndex]]: all tokenize/
    * gram/window work runs over the BATCH alone; the corpus side is
    * only ever scans of the at-rest fingerprint table. The q86 df
    * guard needs GLOBAL df (corpus ∪ batch occurrences per
    * fingerprint — the delta output must equal the full-rebuild pairs
    * restricted to batch × corpus, spec'd in WinnowSpec), but it is
    * never computed corpus-wide: both df aggregations are restricted
    * by a broadcast of the fingerprint hashes that can actually matter
    * (the batch's own, then the collision-bounded candidate docs'), so
    * the index scan feeds a collision-bounded shuffle, not an
    * index-sized one. Per-night cost ∝ batch + fingerprint collisions.
    */
  private[graft] def screenWinnowAgainstIndex(spark: SparkSession, dir: String,
                                              batchDocs0: DataFrame): DataFrame =
    screenWinnowAgainstIndexOf(winnowIndexAtRest(spark, dir), batchDocs0)

  /** The q88 screen with the index as an argument — the
    * [[screenAgainstIndexOf]] twin for callers that own their index.
    */
  private[graft] def screenWinnowAgainstIndexOf(idx: WinnowIndex,
                                                batchDocs0: DataFrame): DataFrame = {
    // the [[unseenBatch]] self-pair guard, winnow edition: a doc whose
    // fingerprints landed but whose manifest row did not (the append
    // crash window) must not re-screen against its own at-rest rows
    val batchDocs = unseenBatch(idx.fingerprints, idx.docs, batchDocs0)
    // batch-only fingerprint work; consumed 2x (df probe + keep join)
    val batchFp = graft.TransientCache.register(
      winnowFingerprintsOf(batchDocs).cache())
    // NO eager fill, deliberately (r17 probe): unlike q91/q99's sibling
    // map stages, the concurrent readers here (dfB's broadcast probe
    // build + the unionFp agg) hit the same cached blocks and the block
    // manager serializes the fill — adding a count() measured +0.4 s
    // solo (5.81/6.06 → 6.28/6.36), a pure extra-job cost
    // the df universe: every fingerprint occurrence, corpus ∪ batch —
    // scan-only on the corpus side
    val unionFp = idx.fingerprints.select(col("fp_h"))
      .unionByName(batchFp.select(col("fp_h")))
    // global df for the BATCH's fingerprints (restricted aggregation)
    val dfB = unionFp
      .join(broadcast(batchFp.select(col("fp_h")).distinct()), Seq("fp_h"), "left_semi")
      .groupBy(col("fp_h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf)
      .select(col("fp_h"))
    // df-guarded batch fingerprints; consumed 2x (collision join + nfi)
    val keepB = graft.TransientCache.register(
      batchFp.join(dfB, Seq("fp_h")).cache())
    // fingerprint collisions against the at-rest corpus index — the
    // corpus side of every pair; guarded fp_h only, so mega-buckets
    // never expand
    val shared = graft.TransientCache.register(
      idx.fingerprints.select(col("doc_id").as("dc"), col("fp_h"))
        .join(keepB.select(col("doc_id").as("di"), col("fp_h")), Seq("fp_h"))
        .groupBy(col("di"), col("dc")).agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= WinnowMinShared)
        .cache()) // consumed 2x: candidate docs + the final report
    val candDocs = shared.select(col("dc").as("doc_id")).distinct()
    // candidate corpus docs' full fingerprint rows (broadcast semi —
    // collision-bounded, the q74 setsC pattern); consumed 2x
    val candFp = graft.TransientCache.register(
      idx.fingerprints.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .cache())
    // global df for the candidate docs' fingerprints (nfc needs the df
    // guard applied to ALL their fingerprints, shared or not)
    val dfC = unionFp
      .join(broadcast(candFp.select(col("fp_h")).distinct()), Seq("fp_h"), "left_semi")
      .groupBy(col("fp_h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf)
      .select(col("fp_h"))
    val nfi = keepB.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val nfc = candFp.join(dfC, Seq("fp_h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    shared
      .join(nfi.select(col("doc_id").as("di"), col("nf").as("nfi")), Seq("di"))
      .join(nfc.select(col("doc_id").as("dc"), col("nf").as("nfc")), Seq("dc"))
      .withColumn("sim", col("shared").cast("double") / least(col("nfi"), col("nfc")))
      .select(col("di"), col("dc"), col("shared"), col("sim"))
      .orderBy(col("di"), col("dc"))
  }

  val deltaWinnowSql: String =
    s"""WITH $winnowCte,
      |df AS (SELECT fp_h, count(*) AS df FROM fp GROUP BY 1),
      |keep AS (SELECT doc_id, f.fp_h FROM fp f JOIN df USING (fp_h)
      |  WHERE df <= $WinnowMaxDf),
      |nf AS (SELECT doc_id, count(*) AS nf FROM keep GROUP BY 1),
      |shared AS (
      |  SELECT i.doc_id AS di, c.doc_id AS dc, count(*) AS shared
      |  FROM keep i JOIN keep c ON i.fp_h = c.fp_h
      |  WHERE i.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
      |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
      |SELECT di, dc, shared,
      |  CAST(shared AS DOUBLE) / least(ni.nf, nc.nf) AS sim
      |FROM shared JOIN nf ni ON ni.doc_id = di JOIN nf nc ON nc.doc_id = dc
      |ORDER BY di, dc""".stripMargin
}
